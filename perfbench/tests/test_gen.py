"""The workload generator is a pure function of (workload, seed, knobs)."""

import dataclasses

import pytest

from perfbench import checks, gen


def _small(workload: str) -> gen.Knobs:
    k = gen.knobs_for(workload)
    return dataclasses.replace(k, n_slices=2, rows_per_slice=min(k.rows_per_slice, 300))


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_same_seed_same_digest_other_seed_other_digest(workload):
    a = gen.build(workload, 7, _small(workload))
    b = gen.build(workload, 7, _small(workload))
    c = gen.build(workload, 8, _small(workload))
    assert a["digest"] == b["digest"]
    assert a["slices"] == b["slices"]
    assert a["digest"] != c["digest"]


def test_written_inputs_read_back_identically(tmp_path):
    m1 = gen.generate("agent_incremental", 11, str(tmp_path / "a"))
    m2 = gen.generate("agent_incremental", 11, str(tmp_path / "b"))
    assert m1["digest"] == m2["digest"]
    for s1, s2 in zip(m1["slices"], m2["slices"]):
        assert checks.read_rows(s1["path"]) == checks.read_rows(s2["path"])
    assert gen.generate("agent_incremental", 11, str(tmp_path / "a")) == m1  # reused, not rebuilt


def test_knobs_shape_the_inputs():
    rows = gen.build("agent_incremental", 3)["slices"][0]
    texts = [r[3] for r in rows]
    pre_gated = sum(1 for t in texts if len(t) < 5 or len(t) > 5000) / len(texts)
    repeated = 1 - len(set(texts)) / len(texts)
    assert 0.08 < pre_gated < 0.25
    assert 0.2 < repeated < 0.45
    d = gen.build("agent_incremental", 3)
    k = gen.knobs_for("agent_incremental")
    assert sorted(len(c) for c in d["clusters"][0]) == sorted(k.star_sizes + k.chain_lengths)
    assert {r[0] for r in rows} >= {c for cl in d["clusters"][0] for c in cl}


def test_stale_inputs_are_rebuilt(tmp_path):
    out = str(tmp_path / "a")
    m = gen.generate("convert_dense", 5, out)
    m["recipe"] = "made by an older generator"
    with open(f"{out}/manifest.json", "w") as f:
        gen.json.dump(m, f)
    assert gen.generate("convert_dense", 5, out)["recipe"] == gen.recipe("convert_dense")
