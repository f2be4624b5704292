"""Pure-Python conversion core: greedy longest-match + auxiliary passes.

This is the engine's *payload operator* (SURVEY.md §2.1). It reproduces the
reference's conversion semantics exactly, in code points:

* O5 ``ConvertByUnion`` (``OpenccNetLib/Opencc.cs:1325-1499``): greedy
  longest-match; within a length, first dictionary in round order wins;
  no match -> copy one code point. Python code points subsume the
  reference's surrogate-pair bookkeeping (a non-BMP char is one unit here).
* O3 round pipeline (``DictRefs.cs:137-147``): output of round N feeds N+1.
* O4/O7/O8 segmentation & chunking (``Opencc.cs:1181-1274,1674-1796``) are
  *physical* concerns in the reference (thread scheduling). Dictionary keys
  never contain delimiter characters (audited at dictgen time,
  ``bundle.meta['delimiter_free_keys']``), so whole-string matching is
  byte-identical to split-then-convert; Spark partitions replace
  ``Parallel.For``. A splitter is still provided for parity tests.
* O10 ``St``/``Ts`` char-only conversion (``Opencc.cs:2159-2176``).
* O11 ``ZhoCheck`` script detection (``Opencc.cs:2184-2265``).
* O12 ``NormalizeCompat`` (``Opencc.cs:2314-2317``, CompatIdeographs.cs).
* O13 ``DeTofu`` (``Opencc.cs:2350-2451``, DeTofu.cs).
* O14 IDS preservation (``Opencc.cs:504-535,1338-1368``, IdsHelper.cs).

The greedy round has two implementations that are byte-identical by
test: ``run_round_scalar``, a per-position Python loop over the merged
table (the semantic ground truth, and the path short texts take), and
``run_round_vectorized``, a trie walk over every position at once in
numpy. ``run_round`` picks between them by text length. numpy is imported
only when the vectorized path first runs. Spark integration wraps these in
vectorized pandas UDFs (``openccnet_spark.functions``).
"""

from __future__ import annotations

import codecs
import re

from .dictionary import DictionaryBundle, RoundIndex, load_bundle
from .plans import CONFIGS, get_plan

#: Delimiter set (reference Opencc.cs:705-706); used by the parity splitter
#: and by dictgen's barrier audit.
FULL_DELIMITERS = frozenset(
    " \t\n\r!\"#$%&'()*+,-./:;<=>?@[\\]^_{}|~＝、。﹁﹂—－（）《》〈〉？！…／＼"
    "︒︑︔︓︿﹀︹︺︙︐［﹇］﹈︕︖︰︳︴︽︾︵︶｛︷｝︸﹃﹄【︻】︼　～．，；："
)

# --- O14: Ideographic Description Sequences (IdsHelper.cs:14-20) -----------

_IDS_ARITY = (2, 2, 3, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1)
_IDS_LO, _IDS_HI = 0x2FF0, 0x2FFF
_MAX_IDS_DEPTH = 16


def contains_ids_operator(text: str) -> bool:
    return any(_IDS_LO <= ord(c) <= _IDS_HI for c in text)


def _consume_ids(s: str, pos: int, depth: int) -> int:
    """Return end position of one IDS operand starting at pos, or -1."""
    if pos >= len(s) or depth > _MAX_IDS_DEPTH:
        return -1
    cp = ord(s[pos])
    pos += 1
    if not (_IDS_LO <= cp <= _IDS_HI):
        return pos  # single character operand
    for _ in range(_IDS_ARITY[cp - _IDS_LO]):
        pos = _consume_ids(s, pos, depth + 1)
        if pos < 0:
            return -1
    return pos


def ids_range_at(s: str, start: int) -> int:
    """End of the complete IDS expression starting at ``start``, or -1.

    Mirrors ``IdsHelper.IdsRangeAt`` (operands are code points here; the
    reference consumes UTF-16 units, which differs only for astral operands
    inside an IDS — the code-point reading is strictly more correct).
    """
    if start >= len(s) or not (_IDS_LO <= ord(s[start]) <= _IDS_HI):
        return -1
    return _consume_ids(s, start, 0)


def is_complete_ids(s: str) -> bool:
    return bool(s) and ids_range_at(s, 0) == len(s)


# --- O5: the greedy longest-match round --------------------------------------


#: Texts shorter than this many code points take the scalar matcher: below
#: it the fixed cost of the vectorized walk's numpy calls (a few hundred
#: microseconds per round) loses. Measured crossover on a 4-vCPU x86 box:
#: about 600 chars on dense Simplified text (s2t round), about 1000 on
#: mostly-English agent turns (t2s).
VECTOR_MIN_CHARS = 800

#: The vectorized round works through the text in segments of this many
#: start positions, which bounds its working arrays (a peak of about 3 MB
#: on dense text). Python workers keep their heap's high-water mark, so
#: this counts against their RSS.
_SEGMENT = 1 << 15

#: The greedy pass walks every 2**k-th chosen match in Python and fills in
#: the steps between with vectorized gathers; k grows with the candidate
#: count up to this cap (each step of k costs one gather over all
#: candidates and halves the Python walk).
_MAX_STRIDE_LOG2 = 5


def run_round(text: str, rnd: RoundIndex, preserve_ids: bool = False) -> str:
    """One conversion round over the whole string.

    Texts of ``VECTOR_MIN_CHARS`` code points or more take the vectorized
    trie walk (``run_round_vectorized``); shorter ones, and IDS
    preservation when the text holds an IDS operator (rare; gated by a
    cheap operator scan, the analog of Opencc.cs:1194-1200), take the
    scalar matcher ``run_round_scalar`` — the semantic ground truth the
    vectorized path is tested byte-equal against.
    """
    if len(text) < VECTOR_MIN_CHARS or (preserve_ids and contains_ids_operator(text)):
        return run_round_scalar(text, rnd, preserve_ids)  # gates itself
    if not rnd.convertible(text):
        return text
    return run_round_vectorized(text, rnd)


def run_round_vectorized(text: str, rnd: RoundIndex) -> str:
    """Greedy longest-match round as whole-array numpy passes.

    1. Candidates: every position whose character starts a key walks the
       trie (``RoundIndex.fast``) one level per step, all positions at
       once; each records its deepest key node. The live set shrinks
       geometrically with depth.
    2. Greedy selection: from a candidate at ``s`` with key length ``L``
       the scan resumes at the first candidate at or after ``s + L`` — a
       successor function ``nxt``; the chosen matches are its orbit from
       the first candidate, collected by pointer jumping (``nxt`` squared
       up to ``_MAX_STRIDE_LOG2`` times) without a per-match Python step.
    3. Output: single-character keys are translated everywhere through
       the code table, then the chosen spans are overwritten with their
       values (ragged gather from the value pool); when a value differs in
       length from its key the unmatched characters are first shifted to
       their output offsets.

    The text is processed in segments of ``_SEGMENT`` start positions, so
    the working arrays stay a few MB however long the text is; a segment
    ends where its last chosen match ends, and the next resumes there.
    """
    ix = rnd.fast
    if ix is None:
        return run_round_scalar(text, rnd)
    pieces = []
    at, n = 0, len(text)
    while at < n:
        piece, at = _round_segment(ix, text, at, min(n, at + _SEGMENT))
        pieces.append(piece)
    return "".join(pieces)


def _round_segment(ix, text: str, lo: int, hi: int) -> tuple:
    """Convert the matches starting in ``text[lo:hi]``, given that the
    greedy scan is at ``lo``. Returns the converted piece and the position
    it covers up to (``hi``, or the end of a last match that runs past)."""
    import numpy as np

    seg = text[lo : hi + ix.max_depth - 1]  # lookahead for matches at hi - 1
    cps = np.frombuffer(seg.encode("utf-32-le", "surrogatepass"), dtype=np.int32)
    codes = np.zeros(len(seg) + ix.max_depth, dtype=ix.code_of.dtype)  # zero-padded
    np.take(ix.code_of, cps, mode="clip", out=codes[: len(seg)])
    width = hi - lo

    # 1. candidates: the deepest key node of every start position
    head = codes[:width]
    nxt = np.arange(1, width + 1, dtype=np.int32)[(head != 0) & (head <= ix.n_first)]
    node = head[nxt - 1].astype(np.uint32)  # nxt: the next character of each walk
    best = np.zeros(width, dtype=np.uint32)
    for depth in range(1, ix.max_depth + 1):
        term = ix.val_len[node] >= 0
        best[nxt[term] - depth] = node[term]
        more = ix.kids[node]
        nxt, node = nxt[more], node[more]
        if not len(nxt):
            break
        node = ix.lookup(node, codes[nxt])
        more = node != 0
        nxt, node = nxt[more] + 1, node[more]
    start = np.arange(width, dtype=np.int32)[best != 0]
    node = best[start]
    del head, best, nxt

    # 2. greedy selection, 3. output
    end = width
    if len(start):
        start, node = _greedy(ix, start, node, width)
        end = max(width, int(start[-1] + ix.depth[node[-1]]))
    out = ix.delta[codes[:end]]
    out += cps[:end]
    if len(start):
        out = _write_values(ix, out, start, node)
    return codecs.utf_32_le_decode(out, "surrogatepass")[0], lo + end


def _greedy(ix, start, node, width: int) -> tuple:
    """The greedy leftmost-longest matches among the candidates (``start``
    ascending, each with its deepest key ``node``)."""
    import numpy as np

    m = len(start)
    length = ix.depth[node]
    # nxt[i]: the first candidate at or after the end of candidate i's key
    # (m = none; absorbing), read off the running count of candidates
    rank = np.zeros(width + ix.max_depth, dtype=np.int32)
    rank[start + 1] = 1
    np.cumsum(rank, out=rank)
    nxt = np.empty(m + 1, dtype=np.int32)
    nxt[:m] = rank[start + length]
    nxt[m] = m
    del rank
    stride_log2 = min(_MAX_STRIDE_LOG2, m.bit_length() // 3)
    jump = nxt
    for _ in range(stride_log2):
        jump = jump[jump]
    heads = []
    i = 0
    while i < m:
        heads.append(i)
        i = jump.item(i)
    steps = np.empty((1 << stride_log2, len(heads)), dtype=np.int32)
    steps[0] = heads
    for r in range(1, len(steps)):
        steps[r] = nxt[steps[r - 1]]
    chosen = np.zeros(m + 1, dtype=bool)
    chosen[steps] = True
    (k,) = np.nonzero(chosen[:m])
    return start[k], node[k]


def _write_values(ix, out, start, node):
    """Overwrite the chosen key spans of ``out`` with their values."""
    import numpy as np

    length = ix.depth[node]
    vlen = ix.val_len[node]
    dst = start
    if (vlen != length).any():
        # shift the unmatched characters to their output offsets first
        n = len(out)
        cover = np.zeros(n + 1, dtype=np.int8)
        cover[start] = 1
        cover[start + length] -= 1
        free = np.cumsum(cover[:n], dtype=np.int8) == 0
        size = free.astype(np.int32)
        size[start] = vlen
        offset = np.cumsum(size, dtype=np.int32)
        offset -= size
        shifted = np.empty(int(offset[-1] + size[-1]), dtype=np.int32)
        shifted[offset[free]] = out[free]
        out, dst = shifted, offset[start]
    before = np.cumsum(vlen, dtype=np.int32) - vlen
    rel = np.arange(int(before[-1] + vlen[-1]), dtype=np.int32) - np.repeat(before, vlen)
    out[np.repeat(dst, vlen) + rel] = ix.pool[np.repeat(ix.val_off[node], vlen) + rel]
    return out


def run_round_scalar(text: str, rnd: RoundIndex, preserve_ids: bool = False) -> str:
    """One conversion round over the whole string (ConvertByUnionInto).

    Semantics preserved exactly (Opencc.cs:1346-1499): longest match wins;
    merged-table precedence encodes first-dict-wins; no match -> copy one
    code point; complete IDS copied verbatim when ``preserve_ids``.
    """
    if not text or not rnd.convertible(text):
        return text
    starters = rnd.starters
    table = rnd.table
    n = len(text)
    out = []
    append = out.append
    i = 0
    check_ids = preserve_ids and contains_ids_operator(text)
    while i < n:
        c = text[i]
        if check_ids and _IDS_LO <= ord(c) <= _IDS_HI:
            end = ids_range_at(text, i)
            if end > 0:
                append(text[i:end])
                i = end
                continue
        meta = starters.get(c)
        if meta is None:
            append(c)
            i += 1
            continue
        cap, min_len, mask = meta
        lim = n - i
        if cap > lim:
            cap = lim
        if cap == 1:
            # single-code-point fast path (Opencc.cs:1400-1439)
            append(table.get(c, c))
            i += 1
            continue
        for length in range(cap, min_len - 1, -1):
            if (mask >> length) & 1:
                v = table.get(text[i : i + length])
                if v is not None:
                    append(v)
                    i += length
                    break
        else:
            append(c)
            i += 1
    return "".join(out)


class Converter:
    """The user-facing conversion API (analog of ``Opencc`` the class).

    >>> cc = Converter()            # default bundled dictionaries
    >>> cc.convert("软件", "s2twp")
    '軟體'

    An unknown config falls back to ``s2t`` and records the error on
    ``last_error`` (reference ``SetConfigInternal``, Opencc.cs:650-695;
    test ``OpenccNetTests.cs:186-194``); a valid config clears it. With
    ``strict=True`` an unknown config raises instead.
    """

    def __init__(
        self,
        bundle: DictionaryBundle | None = None,
        strict: bool = False,
        config: str | None = None,
    ):
        self.bundle = bundle or load_bundle()
        self.strict = strict
        self.last_error: str | None = None
        # instance-held config, like `new Opencc("s2t")` (Opencc.cs:598-632):
        # an invalid name falls back to s2t and records the error now
        self.config = "s2t"
        if config is not None:
            self.config = self._resolve_config(config)

    def _resolve_config(self, config: str) -> str:
        if config in CONFIGS:
            self.last_error = None
            return config
        if self.strict:
            raise ValueError(f"invalid conversion config: {config!r}")
        self.last_error = (
            f'Invalid config provided: "{config}". Using default \'s2t\'.'
        )
        return "s2t"

    def convert(
        self,
        text: str,
        config: str | None = None,
        punct: bool = False,
        preserve_ids: bool = False,
    ) -> str:
        """O1/O2/O3: resolve plan, apply rounds sequentially.

        ``config=None`` uses the instance config (reference
        ``Opencc.Convert`` dispatching on the instance's ``_configId``,
        Opencc.cs:2087-2148)."""
        config = self.config if config is None else self._resolve_config(config)
        if not text:
            return ""
        plan = get_plan(self.bundle, config, punct)
        for rnd in plan.rounds:
            text = run_round(text, rnd, preserve_ids)
        return text

    def get_last_error(self) -> str | None:
        """Reference ``Opencc.GetLastError()``."""
        return self.last_error

    #: batch separator: not a dictionary key/value character and not
    #: produced by any conversion (values come from tab-separated lexicon
    #: lines, which cannot contain NUL)
    _SEP = "\x00"

    def convert_many(
        self,
        texts: list,
        config: str | None = None,
        punct: bool = False,
        preserve_ids: bool = False,
    ) -> list:
        """Batch conversion of many strings in ONE matcher pass.

        The whole batch is joined with a NUL separator and each round runs
        once over the megastring — dictionary keys contain no NUL (keys
        are delimiter-free by dictgen audit and NUL-free by the lexicon
        line format), so no match can span the boundary and the split-back
        is exact. A batch of short texts thus takes the vectorized round
        (``run_round_vectorized``) once instead of the scalar matcher per
        text, and pays the per-call overhead once.

        Falls back to per-text conversion when ``preserve_ids`` (an IDS
        expression could otherwise consume the separator as an operand),
        when any input contains NUL, or — belt and braces — if the split
        count comes back wrong (e.g. a custom dictionary value injected a
        NUL).
        """
        if not texts:
            return []
        config = self.config if config is None else self._resolve_config(config)
        if preserve_ids:
            return [self.convert(t, config, punct, True) for t in texts]
        mega = self._SEP.join(texts)
        if mega.count(self._SEP) != len(texts) - 1:  # an input contains NUL
            return [self.convert(t, config, punct) for t in texts]
        plan = get_plan(self.bundle, config, punct)
        for rnd in plan.rounds:
            mega = run_round(mega, rnd)
        out = mega.split(self._SEP)
        if len(out) != len(texts):  # a custom value injected a separator
            return [self.convert(t, config, punct) for t in texts]
        return out

    # --- O10: char-only conversion (Opencc.cs:2159-2176) ---

    def st(self, text: str) -> str:
        return run_round(text, self.bundle.round_index(("st_characters",)))

    def ts(self, text: str) -> str:
        return run_round(text, self.bundle.round_index(("ts_characters",)))

    # --- O11: script detection (Opencc.cs:2184-2200) ---

    _STRIP_RE = re.compile(r"[!-/:-@\[-`{-~\t\n\x0b\f\r 0-9A-Za-z_著]")

    def zho_check(self, text: str) -> int:
        """1 = Traditional, 2 = Simplified, 0 = neither.

        Samples the first <=500 UTF-16 units (clamped to a full code point),
        strips ASCII/digits/punct/著 (StripRegex, Opencc.cs:179-181), keeps
        <=100 elements, then asks whether ts_characters (then st_characters)
        conversion would change the sample (Opencc.cs:2188-2199).
        """
        if not text:
            return 0
        sample = _clamp_utf16(text, 500)
        stripped = self._STRIP_RE.sub("", sample)
        if not stripped:
            return 0
        probe = _first_text_elements(stripped, 100)
        if _char_conversion_changes(probe, self.bundle["ts_characters"]):
            return 1
        if _char_conversion_changes(probe, self.bundle["st_characters"]):
            return 2
        return 0

    # --- O12: CJK compatibility ideograph normalization ---

    #: compat-block gate as a compiled regex — a C-speed scan (a Python
    #: any(ord(c) ...) generator here measured 54% of the whole fused
    #: pipeline batch; this search is ~100x cheaper)
    _COMPAT_RE = re.compile("[\uf900-\ufaff\U0002f800-\U0002fa1f]")

    def normalize_compat(self, text: str) -> str:
        if not text:
            return ""
        if self._COMPAT_RE.search(text) is None:
            return text
        return text.translate(self.bundle.compat_table)

    # --- O13: DeTofu display fallback ---

    def detofu(self, text: str, level: int = 0) -> str:
        """Map rare CJK extension chars to BMP fallbacks; unmapped preserved.

        ``level``: 0=ExtB (all extensions) .. 7=ExtI only (DeTofu.cs:23-64).
        """
        if not text:
            return ""
        return text.translate(self.bundle.detofu_table(level))

    def detofu_with_custom_file(self, text: str, level: int, path) -> str:
        """Built-in mappings + a custom fallback file; custom wins on clash
        (reference ``Opencc.DeTofuWithCustomFile``, Opencc.cs:2373-2406)."""
        from .detofu import DeTofuMap

        return DeTofuMap.builtin(self.bundle, level).with_custom_file(path).convert(text)

    def detofu_with_custom_pairs(self, text: str, level: int, pairs) -> str:
        """Built-in mappings + in-memory pairs; pairs always apply
        (reference ``Opencc.DeTofuWithCustomPairs``, Opencc.cs:2408-2451)."""
        from .detofu import DeTofuMap

        return DeTofuMap.builtin(self.bundle, level).with_custom_pairs(pairs).convert(text)


def _first_text_elements(text: str, n: int) -> str:
    """Prefix containing the first ``n`` text elements.

    The reference samples 100 .NET ``StringInfo`` text elements (grapheme
    clusters, Opencc.cs:2194-2196), not code points. Approximated here as
    base code point + any following combining marks (Mn/Mc/Me) or
    variation selectors — identical to ``text[:n]`` on mark-free text,
    and matching the reference's window on combining-mark inputs.
    """
    import unicodedata

    count = 0
    for idx, ch in enumerate(text):
        if idx and (
            unicodedata.category(ch) in ("Mn", "Mc", "Me")
            or 0xFE00 <= ord(ch) <= 0xFE0F
        ):
            continue
        count += 1
        if count > n:
            return text[:idx]
    return text


def _clamp_utf16(text: str, max_units: int) -> str:
    """First <= max_units UTF-16 code units, never splitting a pair."""
    units = 0
    for idx, ch in enumerate(text):
        w = 2 if ord(ch) > 0xFFFF else 1
        if units + w > max_units:
            return text[:idx]
        units += w
    return text


def _char_conversion_changes(text: str, char_dict: dict) -> bool:
    """Would per-character conversion change ``text``?

    Equivalent of ``ConversionChangesText`` (Opencc.cs:2212-2265) for
    character dictionaries (all keys are single code points — asserted by
    tests), without building the output.
    """
    get = char_dict.get
    for c in text:
        v = get(c)
        if v is not None and v != c:
            return True
    return False


def get_split_ranges(text: str, inclusive: bool = True, preserve_ids: bool = False) -> list:
    """O7 parity splitter (Opencc.cs:1674-1796): half-open [start, end) ranges.

    ``inclusive`` attaches each delimiter to the preceding segment. With
    ``preserve_ids``, complete IDS expressions become their own ranges so
    they survive conversion untouched. The conversion path does not need
    this (see module docstring); provided for differential tests against
    the reference's splitter semantics.
    """
    ranges = []
    n = len(text)
    start = 0
    i = 0
    while i < n:
        c = text[i]
        if preserve_ids and _IDS_LO <= ord(c) <= _IDS_HI:
            end = ids_range_at(text, i)
            if end > 0:
                if i > start:
                    ranges.append((start, i))
                ranges.append((i, end))
                start = end
                i = end
                continue
        if c in FULL_DELIMITERS:
            if inclusive:
                ranges.append((start, i + 1))
            else:
                if i > start:
                    ranges.append((start, i))
                ranges.append((i, i + 1))
            start = i + 1
        i += 1
    if start < n:
        ranges.append((start, n))
    return ranges


# Convenience module-level default converter (plan/bundle cached once per
# process — on executors this means once per Python worker, the analog of
# the reference's lazy static init, Opencc.cs:781-830).
_DEFAULT: Converter | None = None


def default_converter() -> Converter:
    global _DEFAULT
    if _DEFAULT is None:
        _DEFAULT = Converter()
    return _DEFAULT


def convert(text: str, config: str = "s2t", punct: bool = False, preserve_ids: bool = False) -> str:
    return default_converter().convert(text, config, punct, preserve_ids)


__all__ = [
    "CONFIGS",
    "Converter",
    "FULL_DELIMITERS",
    "contains_ids_operator",
    "convert",
    "default_converter",
    "get_split_ranges",
    "ids_range_at",
    "is_complete_ids",
    "run_round",
]
