"""Property-based tests (hypothesis) for the conversion core.

Mirrors the reference's randomized splitter strategy (SplitterTests.cs:
500 seeded random strings incl. surrogate-adjacent cases) with stronger
guarantees: the vectorized trie-walk matcher must be byte-equal to the
scalar ground-truth matcher on arbitrary unicode and on arbitrary small
tables, and conversion must be total (never throws, never changes length
class unexpectedly)."""

from __future__ import annotations

import importlib
import random

from hypothesis import given, settings, strategies as st

# derandomize: the suite must be reproducible across rounds/machines
settings.register_profile("repo", settings(derandomize=True, deadline=None))
settings.load_profile("repo")

from openccnet_spark import Converter
from openccnet_spark.convert import (
    VECTOR_MIN_CHARS,
    get_split_ranges,
    run_round,
    run_round_scalar,
    run_round_vectorized,
)
from openccnet_spark.dictionary import build_round_index
from openccnet_spark.plans import CONFIGS, get_plan

# the module itself: the package also exports a function named ``convert``
convert_module = importlib.import_module("openccnet_spark.convert")
CC = Converter()
_PLANS = [get_plan(CC.bundle, c, p) for c in CONFIGS for p in (False, True)]

# text alphabet: CJK blocks that actually hit the lexicons, ASCII, punct,
# astral chars, and arbitrary unicode noise
_alphabet = st.one_of(
    st.characters(min_codepoint=0x4E00, max_codepoint=0x4E6F),
    st.characters(min_codepoint=0x9F00, max_codepoint=0x9FAF),
    st.sampled_from("软件龙马精神几千只隐私权資訊軟體裡面发髮着著的了吗"),
    st.sampled_from("abz019 ,.!“”「」，。！？"),
    st.sampled_from("😀𬴂𱁬⿰⿳氵口馬"),
    st.characters(min_codepoint=0x20, max_codepoint=0x2FFFF),
)
_text = st.text(alphabet=_alphabet, max_size=80)


def _keys_text(rnd, n_chars: int, seed: int) -> str:
    """Seeded text dense in ``rnd``'s keys: whole keys, key prefixes and
    key characters glued together, so that matches overlap and chain."""
    rng = random.Random(seed)
    keys = sorted(rnd.table)
    parts, size = [], 0
    while size < n_chars:
        k = rng.choice(keys)
        part = (k, k[: rng.randint(1, len(k))], rng.choice(k), "，")[rng.randrange(4)]
        parts.append(part)
        size += len(part)
    return "".join(parts)[:n_chars]


def _assert_round_equal(text, rnd):
    assert run_round_vectorized(text, rnd) == run_round_scalar(text, rnd)


@given(_text, st.integers(min_value=0, max_value=len(_PLANS) - 1))
@settings(max_examples=400)
def test_fast_matcher_equals_scalar(text, plan_idx):
    # short texts: call the vectorized walk directly (run_round would route
    # them to the scalar matcher)
    for rnd in _PLANS[plan_idx].rounds:
        _assert_round_equal(text, rnd)
        assert run_round(text, rnd) == run_round_scalar(text, rnd)


@given(
    st.lists(st.text(alphabet=_alphabet, min_size=1, max_size=80), min_size=1, max_size=60),
    st.integers(min_value=0, max_value=len(_PLANS) - 1),
)
@settings(max_examples=60)
def test_fast_matcher_equals_scalar_long(texts, plan_idx):
    """Texts above the crossover, through run_round itself."""
    text = "".join(texts)
    text *= VECTOR_MIN_CHARS // len(text) + 1
    for rnd in _PLANS[plan_idx].rounds:
        assert run_round(text, rnd) == run_round_scalar(text, rnd)


def test_fast_matcher_equals_scalar_on_dense_key_text():
    """Every round of every plan, over long text made of its own keys."""
    seen = set()
    for plan in _PLANS:
        for i, rnd in enumerate(plan.rounds):
            if id(rnd) in seen:
                continue
            seen.add(id(rnd))
            text = _keys_text(rnd, 6000, seed=i)
            _assert_round_equal(text, rnd)
            assert run_round(text, rnd) == run_round_scalar(text, rnd)


# small alphabets make keys overlap, chain and nest
_small_table = st.dictionaries(
    st.text(alphabet="abcd", min_size=1, max_size=6),
    st.text(alphabet="xyzé😀", min_size=0, max_size=4),
    min_size=1,
    max_size=30,
)


@given(_small_table, st.text(alphabet="abcde\x00", max_size=3000))
@settings(max_examples=300)
def test_vectorized_equals_scalar_on_synthetic_tables(table, text):
    """Arbitrary tables: keys of any length sharing prefixes, values that
    are longer, shorter or empty, single characters mapped to 0 or 2+
    code points, and NUL separators in the text."""
    _assert_round_equal(text, build_round_index([table]))


@given(_small_table, st.text(alphabet="abcde", max_size=400), st.integers(min_value=1, max_value=40))
@settings(max_examples=200)
def test_vectorized_segments_resume_exactly(table, text, segment):
    """Tiny segments: matches run across segment ends and the next segment
    resumes where the last match ended."""
    rnd = build_round_index([table])
    saved = convert_module._SEGMENT
    convert_module._SEGMENT = segment
    try:
        _assert_round_equal(text, rnd)
    finally:
        convert_module._SEGMENT = saved


def test_greedy_chain_longer_than_stride():
    # every position is a candidate and the greedy orbit runs 25k matches,
    # far past the 32-step pointer-jumping stride
    rnd = build_round_index([{"ab": "X", "ba": "Y", "abab": "Z"}])
    for text in ("ab" * 50000, "b" + "ab" * 50000, "ab" * 50000 + "a"):
        _assert_round_equal(text, rnd)
    rnd = build_round_index([{"aa": "X", "aaa": "YY"}])
    for n in (1, 2, 3, 4, 999, 1000, 4097):
        _assert_round_equal("a" * n, rnd)


def test_values_that_change_length():
    rnd = build_round_index([{"ab": "xyz", "bc": "", "abc": "q", "c": "ww", "d": "e"}])
    _assert_round_equal("abcabdcbcd" * 300 + "ab", rnd)
    assert run_round_vectorized("abcab bcd", rnd) == "qxyz e"


def test_single_char_mapped_to_two_chars():
    # tw_phrases_rev maps exactly one single character to two
    singles = {k: v for k, v in CC.bundle["tw_phrases_rev"].items() if len(k) == 1 and len(v) != 1}
    assert len(singles) == 1
    rnd = get_plan(CC.bundle, "tw2sp").rounds[0]
    (k,) = singles
    text = (k + "軟體" + k + k + "資訊") * 100
    _assert_round_equal(text, rnd)
    assert run_round(text, rnd) == run_round_scalar(text, rnd)


def test_astral_keys():
    rnd = get_plan(CC.bundle, "s2t").rounds[0]
    astral = sorted(k for k in rnd.table if any(ord(c) > 0xFFFF for c in k))
    assert len(astral) > 1000
    text = "软".join(astral) + "𠀀😀"
    _assert_round_equal(text, rnd)


def test_lone_surrogates_and_nul():
    rnd = get_plan(CC.bundle, "s2t").rounds[0]
    text = ("软\ud800件\x00资讯\udfff\ud83d\ude00" * 200) + "\ud800"
    _assert_round_equal(text, rnd)
    assert run_round(text, rnd) == run_round_scalar(text, rnd)


def test_key_ending_at_last_char_and_empty_text():
    rnd = get_plan(CC.bundle, "s2twp").rounds[0]
    text = "的" * VECTOR_MIN_CHARS + "软件"
    assert run_round(text, rnd).endswith("軟件")
    _assert_round_equal(text, rnd)
    _assert_round_equal("软件", rnd)
    assert run_round_vectorized("", rnd) == ""
    assert run_round("", rnd) == ""


def test_edge_keys_past_32_bits_fall_back_to_scalar():
    # 100 first characters x 66k second characters: trie nodes x character
    # codes exceeds 2**32, so the round has no vectorized index
    table = {chr(0x4E00 + i % 100) + chr(0x20000 + i): "X" for i in range(66000)}
    rnd = build_round_index([table])
    assert rnd.fast is None
    text = "".join(list(table)[::97]) * 2
    assert len(text) >= VECTOR_MIN_CHARS
    assert run_round(text, rnd) == run_round_scalar(text, rnd) == "X" * (len(text) // 2)
    assert run_round_vectorized(text, rnd) == "X" * (len(text) // 2)


@given(_text)
@settings(max_examples=200)
def test_conversion_total_and_stable(text):
    out = CC.convert(text, "t2s")
    assert isinstance(out, str)
    # idempotence: converting Simplified output again is a no-op
    assert CC.convert(out, "t2s") == out


@given(_text)
@settings(max_examples=200)
def test_split_ranges_tile_exactly(text):
    pos = 0
    for a, b in get_split_ranges(text, inclusive=True):
        assert a == pos and b > a
        pos = b
    assert pos == len(text)


@given(_text)
@settings(max_examples=200)
def test_preserve_ids_never_throws(text):
    out = CC.convert(text, "t2s", preserve_ids=True)
    assert isinstance(out, str)


@given(st.lists(_text, max_size=10), st.integers(min_value=0, max_value=len(CONFIGS) - 1))
@settings(max_examples=300)
def test_convert_many_equals_per_text(texts, cfg_idx):
    """The NUL-megastring batch path must be byte-identical to per-text
    conversion on arbitrary unicode (incl. astral chars, NULs via the
    fallback, and delimiter-dense text)."""
    cfg = CONFIGS[cfg_idx]
    assert CC.convert_many(texts, cfg) == [CC.convert(t, cfg) for t in texts]


@given(st.lists(st.text(alphabet=st.sampled_from("软\x00件资\x00讯"), max_size=8), max_size=5))
@settings(max_examples=100)
def test_convert_many_nul_inputs_fall_back(texts):
    assert CC.convert_many(texts, "s2t") == [CC.convert(t, "s2t") for t in texts]


def test_convert_many_dense_batches_equal_scalar():
    """200-row batches of long, key-dense turns through convert_many equal
    per-text conversion with the scalar matcher, round by round."""
    for cfg in ("s2twp", "t2s"):
        plan = get_plan(CC.bundle, cfg)
        rng = random.Random(cfg)
        turns = [_keys_text(plan.rounds[0], rng.randint(1, 1500), seed=i) for i in range(200)]
        expected = []
        for t in turns:
            for rnd in plan.rounds:
                t = run_round_scalar(t, rnd)
            expected.append(t)
        assert CC.convert_many(turns, cfg) == expected
