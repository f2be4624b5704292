"""Dictionary bundle loading and per-round match indexes.

The reference models each lexicon as ``DictWithMaxLength`` (a hash map plus
length/starter metadata, ``OpenccNetLib/DictionaryLib.cs:20-139``) and unions
1-3 of them per conversion round behind a ``StarterUnion`` acceleration index
(``OpenccNetLib/StarterUnion.cs:11-25``).

The Spark engine collapses each round's dictionary list into ONE merged
``dict[str, str]``: the reference probes candidate lengths longest-first and,
within a length, the round's dictionaries in declaration order with the first
hit winning (``OpenccNetLib/Opencc.cs:1449-1475``) — so merging with
first-dict-wins-per-key precedence is semantically identical and roughly
halves Python-side probe cost. The ``StarterUnion`` equivalent is a per-first-
code-point ``(cap, min_len, length_bitmask)`` index, recomputed here in *code
points* (never copied from the reference's UTF-16-unit metadata; Python
strings are code-point sequences, see SURVEY.md §7).

Nothing is broadcast: the bundle ships inside the package, and each Python
worker loads it lazily, once per process, through
``functions._worker_converter`` (an ``lru_cache``), then builds each round's
match index on first use; every stage in that worker shares them.
"""

from __future__ import annotations

import gzip
import json
from dataclasses import dataclass
from functools import lru_cache
from pathlib import Path

_BUNDLE_PATH = Path(__file__).resolve().parent / "data" / "dictionary_bundle.json.gz"

#: The 21 active dictionary slots (reference DictSlotExtensions.cs:20-43).
SLOTS = (
    "st_characters", "st_phrases", "st_punctuations",
    "ts_characters", "ts_phrases", "ts_punctuations",
    "tw_phrases", "tw_phrases_rev", "tw_variants", "tw_variants_phrases",
    "tw_variants_rev", "tw_variants_rev_phrases",
    "hk_phrases", "hk_phrases_rev", "hk_variants", "hk_variants_phrases",
    "hk_variants_rev", "hk_variants_rev_phrases",
    "jps_characters", "jps_characters_rev", "jps_phrases",
)


@dataclass(frozen=True)
class RoundIndex:
    """One conversion round: merged lookup table + starter acceleration.

    ``starters[first_char] = (cap, min_len, mask)`` where ``mask`` has bit L
    set iff some key of code-point length L starts with ``first_char``
    (reference StarterUnion.cs:196-305, recomputed in code points).
    ``starter_set`` backs an O(len) C-speed disjointness fast path for text
    containing no convertible characters at all.

    Two execution paths share this index:
    * the reference scalar matcher (``convert.run_round_scalar``) over
      ``table`` and ``starters`` — the semantic ground truth, and the path
      short texts take;
    * the vectorized trie walk (``convert.run_round_vectorized``) over
      ``fast``, a flat-array trie of the same keys (``TrieIndex``). Built
      lazily and cached per process, i.e. once per Spark Python worker.
    """

    table: dict
    starters: dict
    starter_set: frozenset

    def convertible(self, text: str) -> bool:
        return not self.starter_set.isdisjoint(text)

    @property
    def fast(self) -> "TrieIndex | None":
        if "_fast" not in self.__dict__:
            object.__setattr__(self, "_fast", _build_fast_round(self.table))
        return self.__dict__["_fast"]


#: the two multiplicative hashes of the cuckoo edge table (the odd 32-bit
#: primes of xxHash32)
_HASH = (0x9E3779B1, 0x85EBCA77)
#: placement rounds before the edge table is rebuilt one size larger
_CUCKOO_ROUNDS = 500
#: one edge-table slot: the child node and the edge key (0 = empty)
_SLOT = [("child", "<u4"), ("key", "<u4")]


@dataclass(frozen=True)
class TrieIndex:
    """A round's keys as a trie in flat numpy arrays.

    Every character that occurs in a key gets a dense *code* (0 = in no
    key); characters that start a key get codes ``1..n_first`` and the
    depth-1 trie node of such a character is its code. Deeper nodes are
    numbered level by level. An edge ``parent -> child`` on the character
    with code ``c`` has the 32-bit key ``parent * n_codes + c``; ``edges``
    is a two-choice cuckoo hash table of ``(child, key)`` slots, so a
    lookup is two gathers and no probe loop.

    Single-character keys whose value is one code point are not in the
    trie: ``delta[code]`` adds them as a code-point offset. Every other key
    (multi-character, or a single character mapped to 0 or 2+ code points)
    is a trie node with ``val_len >= 0``; its value is
    ``pool[val_off : val_off + val_len]``.
    """

    code_of: object  # cp -> code; the last entry (0) absorbs larger cps
    n_first: int
    n_codes: int
    delta: object  # code -> single-char replacement minus the code point
    kids: object  # node -> has children
    val_len: object  # node -> value length, -1 if not a key
    val_off: object  # node -> offset of the value in pool
    pool: object  # every value's code points, int32
    depth: object  # node -> depth, i.e. the length of its key
    edges: object
    hash_shift: object
    max_depth: int

    def lookup(self, parent, code):
        """Child node of every ``(parent, code)`` pair (uint32); 0 where none."""
        import numpy as np

        q = parent.astype(np.uint32) * np.uint32(self.n_codes)
        q += code
        s0 = self.edges[(q * np.uint32(_HASH[0])) >> self.hash_shift]
        s1 = self.edges[(q * np.uint32(_HASH[1])) >> self.hash_shift]
        return np.where(s0["key"] == q, s0["child"], np.where(s1["key"] == q, s1["child"], 0))


def _utf32(text: str):
    """Code points of ``text`` as a uint32 view over its UTF-32 encoding."""
    import numpy as np

    return np.frombuffer(text.encode("utf-32-le", "surrogatepass"), dtype=np.uint32)


def _build_fast_round(table: dict) -> TrieIndex | None:
    """Number the trie of ``table``'s keys level by level with ``np.unique``
    over the edge keys and lay it out as a ``TrieIndex``; None if the edge
    keys do not fit 32 bits (the round then runs the scalar matcher).

    Transients stay int32/uint16 where they can: the worker heap keeps
    the build's peak, so it counts against the Python workers' RSS."""
    import numpy as np

    klen = np.fromiter(map(len, table), dtype=np.int32, count=len(table))
    vlen = np.fromiter(map(len, table.values()), dtype=np.int32, count=len(table))
    kcp = _utf32("".join(table))
    pool = _utf32("".join(table.values())).view(np.int32)
    kstart = np.cumsum(klen, dtype=np.int32) - klen
    vstart = np.cumsum(vlen, dtype=np.int32) - vlen
    single = (klen == 1) & (vlen == 1)
    (one,) = np.nonzero(single)
    (trie,) = np.nonzero(~single)

    first = np.unique(kcp[kstart[trie]])
    rest = np.setdiff1d(kcp, first)
    n_first, n_codes = len(first), len(first) + len(rest) + 1
    code_of = np.zeros(int(kcp.max(initial=0)) + 2, dtype=np.uint16 if n_codes <= 1 << 16 else np.uint32)
    code_of[first] = np.arange(1, n_first + 1)
    code_of[rest] = np.arange(n_first + 1, n_codes)
    del first, rest
    delta = np.zeros(n_codes, dtype=np.int32)
    src = kcp[kstart[one]].astype(np.int32)
    delta[code_of[src]] = pool[vstart[one]] - src
    del one, src, single

    klen, kstart, vlen, vstart = klen[trie], kstart[trie], vlen[trie], vstart[trie]
    codes = code_of[kcp]
    del kcp, trie
    node = codes[kstart].astype(np.int32)  # depth-1 node id == code of the first char
    level_start = [1, n_first + 1]
    edges = []
    live = np.arange(len(node), dtype=np.int32)
    for depth in range(2, int(klen.max(initial=1)) + 1):
        live = live[klen[live] >= depth]
        edge = node[live].astype(np.int64) * n_codes + codes[kstart[live] + depth - 1]
        uniq, inv = np.unique(edge, return_inverse=True)
        node[live] = level_start[-1] + inv
        edges.append(uniq)
        level_start.append(level_start[-1] + len(uniq))
    del codes, live
    n_nodes = level_start[-1]
    if n_nodes * n_codes >= 1 << 32:
        return None  # edge keys need more than 32 bits: scalar matcher only
    # edges in node order: the child of edges[i] is node n_first + 1 + i
    edges = np.concatenate([np.zeros(0, np.int64), *edges])

    kids = np.zeros(n_nodes, dtype=bool)
    kids[edges // n_codes] = True
    val_len = np.full(n_nodes, -1, dtype=np.int8 if vlen.max(initial=0) < 128 else np.int32)
    val_len[node] = vlen
    val_off = np.zeros(n_nodes, dtype=np.int32)
    val_off[node] = vstart
    depth = np.repeat(np.arange(len(level_start)), np.diff(level_start, prepend=0))
    depth = depth.astype(np.min_scalar_type(len(level_start)))
    del node, klen, kstart, vlen, vstart

    edges = edges.astype(np.uint32)
    bits = max(4, (2 * len(edges)).bit_length())
    while (owner := _cuckoo(edges, bits)) is None:
        bits += 1
    # slots from a list of the edges' slots whose last item, picked by the
    # empty slots' owner -1, is empty
    slots = np.zeros(len(edges) + 1, dtype=_SLOT)
    slots["key"][:-1] = edges
    slots["child"][:-1] = np.arange(n_first + 1, n_nodes)
    del edges
    table = slots[owner]
    del slots, owner

    return TrieIndex(
        code_of=code_of, n_first=n_first, n_codes=n_codes, delta=delta,
        kids=kids, val_len=val_len, val_off=val_off, pool=pool, depth=depth,
        edges=table, hash_shift=np.uint32(32 - bits),
        max_depth=len(level_start) - 1,
    )


def _cuckoo(keys, bits: int):
    """Slot -> index into ``keys`` (-1 = empty) of a two-choice cuckoo
    table with ``2**bits`` slots, or None if placement does not settle.

    All homeless keys move at once: each claims its current choice of
    slot, one claimant per slot wins and evicts the occupant, and the
    losers and the evicted switch to their other choice. Which claimant
    wins does not matter, so the winner is whichever write numpy makes
    last, read back from the table (no sort)."""
    import numpy as np

    hashes = np.array(_HASH, dtype=np.uint32)
    shift = np.uint32(32 - bits)
    owner = np.full(1 << bits, -1, dtype=np.int32)
    side = np.zeros(len(keys), dtype=np.intp)
    pending = np.arange(len(keys), dtype=np.int32)
    for _ in range(_CUCKOO_ROUNDS):
        if not len(pending):
            return owner
        slot = (keys[pending] * hashes[side[pending]]) >> shift
        previous = owner[slot]
        owner[slot] = pending
        won = owner[slot] == pending
        evicted = previous[won]
        pending = np.concatenate([pending[~won], evicted[evicted >= 0]])
        side[pending] ^= 1
    return None


def build_round_index(dicts: list[dict]) -> RoundIndex:
    """Merge a round's dictionaries (first dict wins per key) and index it."""
    merged: dict[str, str] = {}
    for d in reversed(dicts):
        merged.update(d)  # earlier dicts overwrite later ones => first wins
    starters: dict[str, tuple[int, int, int]] = {}
    for key in merged:
        c = key[0]
        n = len(key)
        prev = starters.get(c)
        if prev is None:
            starters[c] = (n, n, 1 << n)
        else:
            cap, mn, mask = prev
            starters[c] = (max(cap, n), min(mn, n), mask | (1 << n))
    return RoundIndex(merged, starters, frozenset(starters))


class DictionaryBundle:
    """All 21 slots + compat-ideograph and DeTofu tables, parsed and typed.

    One instance is built on the driver and broadcast; ``RoundIndex`` objects
    are built lazily per (config, punct) plan and cached (the analog of the
    reference's ``ConversionPlanCache`` UnionKey cache,
    ``ConversionPlanCache.cs:57-147``).
    """

    def __init__(self, slots: dict, compat_ideographs: dict, detofu: dict, meta: dict | None = None):
        self.slots = slots
        self.meta = meta or {}
        # int code point -> replacement string, for str.translate (O12)
        self.compat_table = {ord(k): v for k, v in compat_ideographs.items() if len(k) == 1}
        # char -> (fallback, ext_level 0..7) (O13)
        self.detofu = {k: (v[0], int(v[1])) for k, v in detofu.items()}
        self._round_cache: dict = {}
        self._detofu_tables: dict = {}

    def __getitem__(self, slot: str) -> dict:
        return self.slots[slot]

    def round_index(self, slot_names: tuple) -> RoundIndex:
        ri = self._round_cache.get(slot_names)
        if ri is None:
            ri = build_round_index([self.slots[s] for s in slot_names])
            self._round_cache[slot_names] = ri
        return ri

    def detofu_table(self, level: int) -> dict:
        """``str.translate`` table for DeTofu at the given level.

        Level semantics (reference DeTofu.cs:23-64): selecting ExtX enables
        mappings tagged ExtX *and every later extension* — i.e. an entry is
        active iff its ext level >= selected level... inverted: ExtB(0)
        enables everything, ExtI(7) only ExtI entries.
        """
        t = self._detofu_tables.get(level)
        if t is None:
            t = {ord(k): v for k, (v, ext) in self.detofu.items() if ext >= level and len(k) == 1}
            self._detofu_tables[level] = t
        return t

    def with_custom(self, overrides: dict | None = None, appends: dict | None = None) -> "DictionaryBundle":
        """Custom-dictionary support (reference O15, DictionaryLib.cs:1399-1516).

        ``overrides[slot]`` replaces the slot wholesale; ``appends[slot]``
        merges on top with late-comer-wins. Returns a NEW bundle (the analog
        of the reference's atomic provider swap, DictionaryLib.cs:464-477);
        callers re-broadcast it.
        """
        slots = {s: dict(t) for s, t in self.slots.items()}
        for slot, table in (overrides or {}).items():
            if slot not in slots:
                raise KeyError(f"unknown dictionary slot: {slot}")
            slots[slot] = dict(table)
        for slot, table in (appends or {}).items():
            if slot not in slots:
                raise KeyError(f"unknown dictionary slot: {slot}")
            slots[slot].update(table)
        return DictionaryBundle(
            slots,
            {chr(k): v for k, v in self.compat_table.items()},
            {k: [v, e] for k, (v, e) in self.detofu.items()},
            dict(self.meta),
        )

    def with_custom_specs(self, specs) -> "DictionaryBundle":
        """``with_custom`` over ``[(slot, 'append'|'override', dict_text), ...]``
        (the ``load_custom_specs`` form). Repeated specs for one slot and
        mode merge, a later spec's entry winning per key."""
        overrides: dict = {}
        appends: dict = {}
        for slot, mode, text in specs:
            target = overrides if mode == "override" else appends
            target.setdefault(slot, {}).update(parse_dict_text(text))
        return self.with_custom(overrides, appends)


@lru_cache(maxsize=1)
def load_bundle(path: str | None = None) -> DictionaryBundle:
    """Load the compiled bundle (built by ``tools/dictgen.py``).

    Reads via importlib.resources so it works when the package ships as a
    ``--py-files`` zip on executors (a plain open() of the module-relative
    path fails with NotADirectoryError inside a zipimport)."""
    if path:
        with gzip.open(Path(path), "rb") as f:
            raw = json.loads(f.read().decode("utf-8"))
    else:
        from importlib import resources

        blob = (
            resources.files("openccnet_spark")
            .joinpath("data/dictionary_bundle.json.gz")
            .read_bytes()
        )
        raw = json.loads(gzip.decompress(blob).decode("utf-8"))
    missing = [s for s in SLOTS if s not in raw["slots"]]
    if missing:
        raise ValueError(f"bundle missing slots: {missing}")
    return DictionaryBundle(raw["slots"], raw["compat_ideographs"], raw["detofu"], raw.get("meta"))


def parse_custom_spec(spec: str) -> tuple:
    """Parse a ``<slot>:<append|override>:<path>`` custom-dictionary spec
    (reference ``CustomDictSpec.cs:33-140`` / dictgen ``-D`` flag).

    Returns (slot, mode, path). Path may contain ':' (split limited)."""
    parts = spec.split(":", 2)
    if len(parts) != 3:
        raise ValueError(f"bad custom dict spec (want slot:mode:path): {spec!r}")
    slot, mode, path = parts[0].strip(), parts[1].strip().lower(), parts[2].strip()
    if slot not in SLOTS:
        raise ValueError(f"unknown dictionary slot: {slot!r}")
    if mode not in ("append", "override"):
        raise ValueError(f"mode must be append|override: {mode!r}")
    if not path:
        raise ValueError(f"empty path in spec: {spec!r}")
    return slot, mode, path


def load_custom_specs(specs) -> list:
    """Read spec files into the [(slot, mode, dict_text), ...] form used by
    ``functions.convert_udf(custom=...)`` (text is shipped in the closure so
    executors never need driver-local paths)."""
    out = []
    for spec in specs:
        slot, mode, path = parse_custom_spec(spec)
        with open(path, encoding="utf-8") as f:
            out.append((slot, mode, f.read()))
    return out


def parse_dict_text(text: str) -> dict:
    """Parse lexicon text per the reference contract (DictionaryLib.cs:1232-1325).

    Exposed for custom-dictionary files (O15) and tests: ``key<TAB>value
    [ aliases...]``; first value token wins; ``#``/blank skipped; duplicate
    key -> last wins.
    """
    out: dict[str, str] = {}
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        tab = line.find("\t")
        if tab < 0:
            continue
        key = line[:tab]
        rest = line[tab + 1 :]
        sp = rest.find(" ")
        value = rest if sp < 0 else rest[:sp]
        if key and value:
            out[key] = value
    return out
