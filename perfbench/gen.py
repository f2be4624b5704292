"""Seeded workload generator for the benchmark.

Every workload's inputs come from ``generate(workload, seed, out_dir)``:
the same seed gives byte-identical tables (checked through a content
digest), and the engine only ever sees the parquet files written here.
The generator is plain Python + numpy + pyarrow and runs before any
Spark session exists, outside every timed region.

Knobs (``Knobs``):

* script/language mix of turns (``mix``)
* turn-length distribution, including the too-long and too-short tails
* exact-repeat share (turns copied from a seeded boilerplate pool)
* conversation-length skew (Zipf exponent, capped)
* planted near-duplicate conversations: skewed star-cluster sizes and
  edit chains, edits per member

Row schema of every turn table: ``conv_id long, turn_idx int, role string,
text string`` (the transcript shape the operators consume).

The CJK token tables come from ``tokens.txt`` beside this file, not from the
program's dictionary, so a change to the dictionary under test does not
change the inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("convert_dense", "agent_incremental")
HERE = os.path.dirname(os.path.abspath(__file__))
TOKENS = os.path.join(HERE, "tokens.txt")

SCHEMA = pa.schema(
    [("conv_id", pa.int64()), ("turn_idx", pa.int32()), ("role", pa.string()), ("text", pa.string())]
)

# Common Simplified characters that mostly sit outside the conversion
# tables (the "plain" share of a dense Simplified turn).
_COMMON_ZH = (
    "的一是在不了有和人这中大为上个我以要他时来用们生到作地于出就分对成会可主年动同工也能下"
    "过子说产种面而方后多定行学法所民得十三之进着等部度家力如水化高自二理起小物现实加量都两"
    "体制机当使点从业本去把性好应开它合还因由其些然前外天政四日那社义事平形相全表间样与关各重"
    "新线内数正心反你明看原又么利比或但质气第向道命此变条只没结解问意建月公无系军很情者最立代"
)
_PUNCT_ZH = "，。、；：？！"

_EN_WORDS = (
    "the of and to in is for that with on as by this be are from at or an it not have which "
    "data model text table query user system value file time code result test build run job "
    "stage task batch stream window shard index cache merge join group sort filter map reduce "
    "score rank token train eval loss step layer block node edge graph path cluster worker "
    "driver memory disk network latency request response client server config option default "
    "error retry commit write read scan plan cost rate limit queue backlog schema column row "
    "record field partition bucket hash key range split chunk buffer page offset length size "
    "count total average median tail peak spread bound check verify pass fail ok done start "
    "stop open close load save print parse format encode decode compress expand convert "
    "please thanks sure here there what when where why how can could would should will may "
    "might must need want like make take give find show tell ask use try call send get set "
    "new old big small fast slow high low good bad first last next same other each every all "
    "some many much more most few less least only also just still even then now today later"
).split()

_TOOLS = ("search", "python", "browser", "sql", "shell", "fetch")
_CODE_LINES = (
    "def {w}_{v}(x):", "    return x.{w}({n})", "for i in range({n}):", "    {w} = {v}[i] + {n}",
    "if {w} is None:", "    raise ValueError('{w} {v}')", "import {w}", "print({w}, {n})",
    "{w}_{v} = [{n}, {n}, {n}]", "with open('{w}.txt') as f:", "    data = f.read()",
)


@dataclass(frozen=True)
class Knobs:
    """Every input property the generated workload varies."""

    #: share of each turn kind; kinds: zh_s (Simplified), zh_t
    #: (Traditional), en (English prose), json (tool call), code, pii
    mix: dict = field(default_factory=dict)
    #: log-normal turn length in chars: median, sigma, clip
    len_median: float = 400.0
    len_sigma: float = 0.6
    len_min: int = 100
    len_max: int = 1500
    #: pre-gated tails: share of turns longer than MAX_CHARS / shorter
    #: than MIN_CHARS (quality.MAX_CHARS = 5000, MIN_CHARS = 5)
    too_long_share: float = 0.01
    too_short_share: float = 0.01
    #: share of turns that are exact copies from a seeded boilerplate pool
    repeat_share: float = 0.0
    boilerplate_pool: int = 40
    #: turns per conversation ~ Zipf(turns_zipf) capped at turns_max
    turns_zipf: float = 2.0
    turns_max: int = 200
    #: planted near-duplicate conversations per slice: skewed star-cluster
    #: sizes and edit-chain lengths (members), word edits per member, and
    #: the turn-count range of a planted conversation
    star_sizes: tuple = ()
    chain_lengths: tuple = ()
    star_edits: int = 3
    chain_edits: int = 6
    planted_turns: tuple = (4, 8)
    #: slices and their size (one slice == one timed job / batch / corpus);
    #: each slice is written as ``files_per_slice`` parquet files, one
    #: input split each
    n_slices: int = 12
    rows_per_slice: int = 1600
    setup_rows: int = 64
    files_per_slice: int = 4


def knobs_for(workload: str) -> Knobs:
    if workload == "convert_dense":
        return Knobs(
            mix={"zh_s": 1.0}, len_median=500, len_sigma=0.7, len_min=100, len_max=1500,
            too_long_share=0.01, too_short_share=0.01, turns_zipf=2.0, turns_max=40,
            n_slices=20, rows_per_slice=1600, files_per_slice=8,
        )
    if workload == "agent_incremental":
        return Knobs(
            mix={"en": 0.45, "json": 0.2, "code": 0.2, "pii": 0.08, "zh_t": 0.07},
            len_median=160, len_sigma=0.8, len_min=5, len_max=2000,
            too_long_share=0.05, too_short_share=0.10, repeat_share=0.30,
            turns_zipf=1.7, turns_max=200,
            star_sizes=(2, 2, 2, 3, 3, 4, 6), chain_lengths=(5,), star_edits=1, chain_edits=2,
            n_slices=12, rows_per_slice=1600, setup_rows=48,
        )
    raise ValueError(f"unknown workload {workload!r} (one of {', '.join(WORKLOADS)})")


def load_tokens(path: str = TOKENS) -> dict:
    """``tokens.txt`` -> {table name: [token, ...]}."""
    out: dict = {}
    with open(path, encoding="utf-8") as f:
        for line in f.read().splitlines():
            if line.startswith("## "):
                cur = out.setdefault(line[3:], [])
            elif line and not line.startswith("#"):
                cur.append(line)
    return out


class _Text:
    """Seeded turn-text sampler over the frozen conversion-key tables."""

    def __init__(self, rng: np.random.Generator):
        t = load_tokens()
        self.rng = rng
        st_phr, st_chr = t["st_phrases"], t["st_characters"]
        ts_phr, ts_chr = t["ts_phrases"], t["ts_characters"]
        # Simplified-dense token table: phrase keys, char keys, common
        # plain chars, punctuation
        self.zh_s = np.array(st_phr + st_chr + list(_COMMON_ZH) + list(_PUNCT_ZH), dtype=object)
        n1, n2, n3 = len(st_phr), len(st_chr), len(_COMMON_ZH)
        p = np.concatenate([
            np.full(n1, 0.55 / n1), np.full(n2, 0.25 / n2),
            np.full(n3, 0.15 / n3), np.full(len(_PUNCT_ZH), 0.05 / len(_PUNCT_ZH)),
        ])
        self.zh_s_cdf = np.cumsum(p / p.sum())
        # Simplified-dense turns are concatenations of seeded fragments of
        # that token stream: as dense and as distinct, at a fraction of
        # the generation cost of drawing every token per turn
        self.zh_s_frags = np.array(
            [self.zh(int(n), self.zh_s, self.zh_s_cdf) for n in rng.integers(8, 48, size=20_000)],
            dtype=object,
        )
        self.zh_t = np.array(ts_phr + ts_chr + list(_COMMON_ZH) + list(_PUNCT_ZH), dtype=object)
        self.en = np.array(_EN_WORDS, dtype=object)

    def _draw(self, table, cdf, k: int) -> np.ndarray:
        if cdf is None:
            return table[self.rng.integers(0, len(table), size=k)]
        return table[np.minimum(np.searchsorted(cdf, self.rng.random(k)), len(table) - 1)]

    def zh(self, n_chars: int, table, cdf=None, token_chars: float = 2.0) -> str:
        k = max(4, int(n_chars / token_chars) + 8)
        s = "".join(self._draw(table, cdf, k))
        while len(s) < n_chars:
            s += "".join(self._draw(table, cdf, k))
        return s[:n_chars]

    def words(self, n_words: int) -> list:
        return list(self.en[self.rng.integers(0, len(self.en), size=max(n_words, 1))])

    def en_text(self, n_chars: int) -> str:
        s = " ".join(self.words(n_chars // 5 + 2))
        while len(s) < n_chars:
            s += " " + " ".join(self.words(n_chars // 5 + 2))
        return s[:n_chars].rstrip() or "ok ok"

    def json_call(self, n_chars: int) -> str:
        r = self.rng
        args = {
            "query": " ".join(self.words(int(r.integers(2, 8)))),
            "top_k": int(r.integers(1, 50)),
            "filters": {w: int(r.integers(0, 1000)) for w in self.words(int(r.integers(0, 4)))},
        }
        s = json.dumps({"name": _TOOLS[int(r.integers(0, len(_TOOLS)))], "arguments": args})
        while len(s) < n_chars:
            s += "\n" + json.dumps({"result": " ".join(self.words(12)), "rows": int(r.integers(0, 9999))})
        return s

    def code(self, n_chars: int) -> str:
        r = self.rng
        lines = []
        total = 0
        while total < n_chars:
            w, v = self.words(2)
            line = _CODE_LINES[int(r.integers(0, len(_CODE_LINES)))].format(w=w, v=v, n=int(r.integers(0, 100)))
            lines.append(line)
            total += len(line) + 1
        return "```python\n" + "\n".join(lines) + "\n```"

    def pii(self, n_chars: int) -> str:
        r = self.rng
        user = "".join(self.words(1)) + str(int(r.integers(0, 999)))
        bits = [
            self.en_text(max(n_chars // 3, 10)),
            f"{user}@example.{['com', 'org', 'net'][int(r.integers(0, 3))]}",
            "+" + str(int(r.integers(1, 99))) + " " + " ".join(str(int(r.integers(100, 999))) for _ in range(3)),
            "id " + "".join(str(int(d)) for d in r.integers(0, 10, size=18)),
        ]
        return " ".join(bits)

    def turn(self, kind: str, n_chars: int) -> str:
        if kind == "zh_s":
            return self.zh(n_chars, self.zh_s_frags, token_chars=27.0)
        if kind == "zh_t":
            return self.zh(n_chars, self.zh_t)
        if kind == "json":
            return self.json_call(n_chars)
        if kind == "code":
            return self.code(n_chars)
        if kind == "pii":
            return self.pii(n_chars)
        return self.en_text(n_chars)


def _lengths(rng, k: Knobs, n: int) -> np.ndarray:
    raw = rng.lognormal(np.log(k.len_median), k.len_sigma, size=n)
    return np.clip(raw, k.len_min, k.len_max).astype(np.int64)


def _conv_turns(rng, k: Knobs) -> int:
    return int(min(rng.zipf(k.turns_zipf), k.turns_max))


def _turn(rng, k: Knobs, gen: _Text, kinds: list, kp: np.ndarray, pool: list) -> str:
    """One turn: pre-gated (too short / too long), a boilerplate repeat,
    or fresh text of the knobs' length distribution."""
    u = rng.random()
    if u < k.too_short_share:
        return ["", "ok", "yes", "好", "thx"][int(rng.integers(0, 5))]
    if u < k.too_short_share + k.too_long_share:
        return gen.turn(kinds[int(rng.choice(len(kinds), p=kp))], int(rng.integers(5001, 9000)))
    if pool and u < k.too_short_share + k.too_long_share + k.repeat_share:
        return pool[int(rng.integers(0, len(pool)))]
    return gen.turn(kinds[int(rng.choice(len(kinds), p=kp))], int(_lengths(rng, k, 1)[0]))


def _edit(rng, turns: list, n_edits: int, gen: _Text) -> list:
    """Replace ``n_edits`` random words across a conversation's turns."""
    words = [t.split(" ") for t in turns]
    sizes = np.array([len(w) for w in words])
    for _ in range(n_edits):
        i = int(rng.choice(len(words), p=sizes / sizes.sum()))
        words[i][int(rng.integers(0, len(words[i])))] = gen.words(1)[0]
    return [" ".join(w) for w in words]


def _turn_rows(rng, k: Knobs, gen: _Text, n_rows: int, conv_base: int, pool: list,
               plant: bool) -> tuple[list, list]:
    """(conv_id, turn_idx, role, text) rows of ``n_rows`` turns, and the
    planted near-duplicate clusters (lists of conv_ids).

    With ``plant``, every slice plants the same cluster shapes
    (``star_sizes`` and ``chain_lengths``), so the dedup work does not swing
    with the seed; the seed draws the texts, the edits and the ids. A
    star's members each edit its base; a chain's members each edit the
    previous member, so far ends can fall below the Jaccard threshold and
    only the chain connects them. Conversations of Zipf-skewed length fill
    the slice up to ``n_rows`` turns."""
    kinds = list(k.mix)
    kp = np.array([k.mix[x] for x in kinds], dtype=np.float64)
    kp /= kp.sum()
    convs = []  # list of turn-text lists
    clusters = []
    shapes = [(n, False) for n in k.star_sizes] + [(n, True) for n in k.chain_lengths]
    for size, chain in shapes if plant else ():
        lo, hi = k.planted_turns
        base = [_turn(rng, k, gen, kinds, kp, pool) for _ in range(int(rng.integers(lo, hi + 1)))]
        members = [base]
        for _ in range(size - 1):
            src = members[-1] if chain else base
            members.append(_edit(rng, src, k.chain_edits if chain else k.star_edits, gen))
        clusters.append(list(range(len(convs), len(convs) + len(members))))
        convs.extend(members)
    n_turns = sum(len(c) for c in convs)
    while n_turns < n_rows:
        n = min(_conv_turns(rng, k), n_rows - n_turns)
        convs.append([_turn(rng, k, gen, kinds, kp, pool) for _ in range(n)])
        n_turns += n
    # ids are a seeded permutation, so planted conversations are spread
    # over the slice and a cluster's minimum id (its canonical document)
    # is not always its base
    ids = conv_base + rng.permutation(len(convs)).astype(np.int64)
    order = np.argsort(ids, kind="stable")
    rows = [
        (int(ids[c]), t, ("user", "assistant", "tool")[t % 3], text)
        for c in order
        for t, text in enumerate(convs[c])
    ]
    return rows, [[int(ids[c]) for c in cl] for cl in clusters]


def _table(rows: list) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[], [], [], []]
    return pa.table(
        [pa.array(cols[0], pa.int64()), pa.array(cols[1], pa.int32()),
         pa.array(cols[2], pa.string()), pa.array(cols[3], pa.string())],
        schema=SCHEMA,
    )


def _digest_rows(h, rows: list) -> None:
    for conv, t, role, text in rows:
        h.update(f"{conv}\x1f{t}\x1f{role}\x1f".encode())
        h.update(text.encode("utf-8", "surrogatepass"))
        h.update(b"\x1e")


def build(workload: str, seed: int, knobs: Knobs | None = None) -> dict:
    """Generate a workload in memory: {"setup": rows, "slices": [rows...],
    "clusters": [[conv_id...] per planted cluster] per slice, "digest": hex}."""
    k = knobs or knobs_for(workload)
    code = WORKLOADS.index(workload)
    rng = np.random.default_rng([int(seed), code])
    gen = _Text(rng)
    pool = []
    if k.repeat_share > 0:
        pool = [
            gen.turn(kind, int(n))
            for kind, n in zip(rng.choice(list(k.mix), size=k.boilerplate_pool), _lengths(rng, k, k.boilerplate_pool))
        ]
    out = {"setup": _turn_rows(rng, k, gen, k.setup_rows, 0, pool, plant=False)[0], "slices": [], "clusters": []}
    for i in range(k.n_slices):
        rows, clusters = _turn_rows(rng, k, gen, k.rows_per_slice, (i + 1) * 10_000_000, pool, plant=True)
        out["slices"].append(rows)
        out["clusters"].append(clusters)
    h = hashlib.sha256(json.dumps(asdict(k), sort_keys=True).encode())
    for rows in [out["setup"], *out["slices"]]:
        _digest_rows(h, rows)
    h.update(json.dumps(out["clusters"]).encode())
    out["digest"] = h.hexdigest()
    return out


def recipe(workload: str) -> str:
    """Hash of everything the inputs are made from besides the seed: the
    generator's source, the token tables and the workload's knobs."""
    h = hashlib.sha256()
    for path in (os.path.abspath(__file__), TOKENS):
        with open(path, "rb") as f:
            h.update(f.read())
    h.update(json.dumps(asdict(knobs_for(workload)), sort_keys=True).encode())
    return h.hexdigest()


def _write_slice(rows: list, path: str, files: int) -> None:
    os.makedirs(path, exist_ok=True)
    table = _table(rows)
    per = -(-table.num_rows // files) or 1
    for i in range(files):
        part = table.slice(i * per, per)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write the workload's inputs under ``out_dir`` once per seed and
    return its manifest (paths, row counts, digest, planted clusters).
    A directory already holding this seed's manifest is reused if the
    manifest was made from the same ``recipe``; otherwise it is rebuilt."""
    manifest_path = os.path.join(out_dir, "manifest.json")
    made_by = recipe(workload)
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        if manifest.get("recipe") == made_by:
            return manifest
        shutil.rmtree(out_dir)
    k = knobs_for(workload)
    data = build(workload, seed, k)
    _write_slice(data["setup"], os.path.join(out_dir, "setup"), k.files_per_slice)
    slices = []
    for i, rows in enumerate(data["slices"]):
        p = os.path.join(out_dir, f"slice-{i:03d}")
        _write_slice(rows, p, k.files_per_slice)
        slices.append({
            "path": p, "rows": len(rows), "chars": sum(len(r[3]) for r in rows),
            "bytes": sum(os.path.getsize(os.path.join(p, f)) for f in os.listdir(p)),
        })
    manifest = {
        "workload": workload, "seed": seed, "digest": data["digest"], "recipe": made_by,
        "setup": {"path": os.path.join(out_dir, "setup"), "rows": len(data["setup"])},
        "slices": slices, "clusters": data["clusters"],
    }
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, manifest_path)
    return manifest
