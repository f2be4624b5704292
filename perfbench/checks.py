"""Output checks that feed ``error_rate``. Each returns
``(rows_checked, rows_incorrect, notes)``; they run once per run, outside
the timed region, and read the program's outputs from outside (collected
rows or the files the sink wrote)."""

from __future__ import annotations

import os

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

LABEL_FIELDS = ("text_converted", "lang", "ppl", "drop_reason", "keep", "text_scrubbed")


def sample_keys(rows: list, n: int, seed: int) -> set:
    """A seeded sample of (conv_id, turn_idx) keys from generated rows."""
    rng = np.random.default_rng([int(seed), 7])
    idx = rng.choice(len(rows), size=min(n, len(rows)), replace=False)
    return {(rows[i][0], rows[i][1]) for i in idx}


def read_rows(path: str) -> list:
    """Generated turn rows back from a slice directory (sorted file order)."""
    out = []
    for name in sorted(os.listdir(path)):
        t = pq.read_table(os.path.join(path, name))
        out.extend(zip(*(t.column(c).to_pylist() for c in ("conv_id", "turn_idx", "role", "text"))))
    return out


def read_parts(path: str) -> list:
    """Texts per input file (== per Spark input split)."""
    return [pq.read_table(os.path.join(path, n), columns=["text"]).column("text").to_pylist()
            for n in sorted(os.listdir(path))]


def compare_labels(out_rows: dict, inputs: dict, config: str) -> tuple[int, int, list]:
    """Byte-for-byte comparison of pipeline output rows against
    ``operators.pipeline.reference_label``. ``out_rows`` and ``inputs``
    map (conv_id, turn_idx) -> output dict / input text."""
    from openccnet_spark.convert import Converter
    from openccnet_spark.operators.pipeline import reference_label

    cc = Converter()
    bad, notes = 0, []
    for key, text in inputs.items():
        got = out_rows.get(key)
        want = reference_label(text, config=config, converter=cc)
        if got is None or any(got[f] != want[f] for f in LABEL_FIELDS):
            bad += 1
            if len(notes) < 3:
                diff = "missing" if got is None else [f for f in LABEL_FIELDS if got[f] != want[f]]
                notes.append(f"row {key}: {diff}")
    return len(inputs), bad, notes


def check_pipeline_sample(spark, path: str, config: str, n: int, seed: int) -> tuple[int, int, list]:
    """Run ``quality_filter`` over one whole slice, collect every output
    row (so the UDF sees the same full Arrow batches as a timed job), and
    compare a seeded sample of them against the reference path."""
    from openccnet_spark.operators.pipeline import quality_filter

    rows = read_rows(path)
    keys = sample_keys(rows, n, seed)
    inputs = {(r[0], r[1]): r[3] for r in rows if (r[0], r[1]) in keys}
    out = quality_filter(spark.read.parquet(path), config=config).collect()
    notes = [] if len(out) == len(rows) else [f"{len(out)} output rows for {len(rows)} input rows"]
    got = {(r["conv_id"], r["turn_idx"]): r.asDict() for r in out if (r["conv_id"], r["turn_idx"]) in keys}
    checked, bad, more = compare_labels(got, inputs, config)
    return checked + 1, bad + abs(len(out) - len(rows)), notes + more


def check_sink_batch(in_path: str, out_dir: str, config: str, n: int, seed: int) -> tuple[int, int, list]:
    """One checkpointed batch: the metrics table's turns_seen sums to the
    input row count, and a seeded sample of the written rows matches the
    reference path. Reads the parquet the sink wrote, with pyarrow."""
    rows = read_rows(in_path)
    notes = []
    bad = 0
    metrics = pq.read_table(os.path.join(out_dir, "metrics")).to_pylist()
    seen = sum(m["turns_seen"] for m in metrics)
    if seen != len(rows):
        bad += abs(len(rows) - seen)
        notes.append(f"metrics turns_seen {seen} != input rows {len(rows)}")
    keys = sample_keys(rows, n, seed)
    inputs = {(r[0], r[1]): r[3] for r in rows if (r[0], r[1]) in keys}
    table = ds.dataset(os.path.join(out_dir, "turns"), format="parquet", partitioning="hive").to_table()
    got = {(r["conv_id"], r["turn_idx"]): r for r in table.to_pylist() if (r["conv_id"], r["turn_idx"]) in keys}
    checked, wrong, more = compare_labels(got, inputs, config)
    return checked + 1, bad + wrong, notes + more


def render_py(rows: list) -> dict:
    """conv_id -> the ``render_chat_template`` serialization, in Python."""
    convs: dict = {}
    for conv, t, role, text in rows:
        convs.setdefault(conv, []).append((t, role, text))
    return {
        c: "".join(f"<|{role}|>\n{text}<|end|>\n" for _, role, text in sorted(turns))
        for c, turns in convs.items()
    }


def shingles(text: str) -> set:
    w = text.split(" ")
    return {" ".join(w[i:i + 3]) for i in range(max(len(w) - 2, 0))}


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / max(len(a) + len(b) - inter, 1)


def components_py(nodes, pairs) -> dict:
    """Union-find over ``pairs``: node -> smallest node of its set."""
    parent = {v: v for v in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in nodes}


def check_dedup(docs_rows: dict, pair_rows: list, canon_rows: list, rendered: dict,
                threshold: float) -> tuple[int, int, list]:
    """Every emitted pair's exact Jaccard (recomputed from the generated
    input) is at least ``threshold`` and its jaccard_milli is exact; the
    rendered documents equal the Python rendering; the components equal a
    union-find over the emitted pairs."""
    bad, notes = 0, []
    for conv, text in docs_rows.items():
        if rendered.get(conv) != text:
            bad += 1
            if len(notes) < 3:
                notes.append(f"render mismatch for conv {conv}")
    sh = {c: shingles(t) for c, t in rendered.items()}
    for a, b, milli in pair_rows:
        j = jaccard(sh[a], sh[b]) if a in sh and b in sh else -1.0
        if j < threshold or int(np.floor(j * 1000)) != milli:
            bad += 1
            if len(notes) < 6:
                notes.append(f"pair ({a},{b}) jaccard {j:.4f} milli {milli}")
    comp = components_py(list(rendered), [(a, b) for a, b, _ in pair_rows])
    sizes: dict = {}
    for v, c in comp.items():
        sizes[c] = sizes.get(c, 0) + 1
    for doc, component, is_canonical, n_members in canon_rows:
        want = comp.get(doc)
        if want != component or is_canonical != (doc == want) or n_members != sizes.get(want):
            bad += 1
            if len(notes) < 9:
                notes.append(f"doc {doc}: component {component} want {want}")
    missing = len(rendered) - len(canon_rows)
    if missing:
        bad += abs(missing)
        notes.append(f"{missing} documents missing from canonical_documents")
    return len(docs_rows) + len(pair_rows) + len(rendered), bad, notes


def planted_recall(clusters: list, pair_rows: list, rendered: dict, threshold: float) -> tuple[int, float]:
    """(planted pairs at or above the threshold, share of them emitted;
    1 when no such pair was planted)."""
    sh = {c: shingles(t) for c, t in rendered.items()}
    emitted = {(a, b) for a, b, _ in pair_rows}
    planted = hits = 0
    for members in clusters:
        ms = sorted(members)
        for i, a in enumerate(ms):
            for b in ms[i + 1:]:
                if jaccard(sh[a], sh[b]) >= threshold:
                    planted += 1
                    hits += (a, b) in emitted
    return planted, hits / planted if planted else 1.0
