"""BPE trainer tests (operators/bpe.py): the in-process merge learner
against the sequential reference on seeded random vocabularies (no
Spark session), the vocabulary-collect invariants, the no-pinned-RDD
contract of training, and q152/q156 outputs recorded at sf0.001."""

from __future__ import annotations

import random

import pytest
from test_operators import _bpe_reference

from rds_glue_s3_etl_pipeline_spark.operators.bpe import _learn_merges, bpe_train

_ALPHABETS = (
    "ab",
    "abc",
    "aab",
    "éßж",
    "aéßжz",
    "lowernst",
)


def _check(vocab: list[tuple[str, ...]], freqs: list[int], n_merges: int):
    ref_vocab: dict[tuple, int] = {}
    for w, f in zip(vocab, freqs):
        ref_vocab[w] = ref_vocab.get(w, 0) + f
    want = _bpe_reference(ref_vocab, n_merges)
    got = _learn_merges([list(w) for w in vocab], freqs, n_merges)
    assert got == want, (vocab, freqs, n_merges)


def test_learner_matches_reference_on_random_vocabularies():
    rng = random.Random(20161)
    for _ in range(1500):
        alphabet = rng.choice(_ALPHABETS)
        n_words = rng.randint(0, 12)
        vocab = [
            tuple(rng.choice(alphabet) for _ in range(rng.randint(1, 9)))
            for _ in range(n_words)
        ]
        # a narrow frequency range makes tied pair counts common
        freqs = [rng.randint(1, rng.choice((2, 5, 50))) for _ in vocab]
        _check(vocab, freqs, rng.randint(0, 20))


@pytest.mark.parametrize(
    "vocab, freqs, n_merges",
    [
        ([], [], 5),  # empty vocabulary
        ([("a",), ("ж",)], [3, 1], 4),  # single-symbol words only
        ([tuple("aaaa"), tuple("aaa")], [4, 2], 6),  # overlapping runs
        ([tuple("ab"), tuple("ba"), tuple("cd")], [2, 2, 2], 3),  # ties
        ([tuple("éßжé"), tuple("ßж")], [1, 7], 10),  # non-ASCII BMP
        ([tuple("low"), tuple("low")], [2, 3], 1),  # duplicate words add
    ],
)
def test_learner_edge_cases(vocab, freqs, n_merges):
    _check(vocab, freqs, n_merges)


def test_learner_stops_when_pairs_run_out():
    # "abc" has exactly two merges; asking for more returns two
    assert _learn_merges([list("abc")], [1], 10) == [("a", "b", 1), ("ab", "c", 1)]
    assert _learn_merges([list("abc")], [1], 0) == []


@pytest.mark.parametrize(
    "rows, match",
    [
        ([(["a", "b"], 2), (["c", "d"], 0)], "'cd' has frequency 0"),
        ([(["a", "b"], None)], "'ab' has frequency None"),
        ([(["a", "b"], 1), (None, 1)], r"None \(frequency 1\) is null"),
        ([(["x", None], 3)], r"\['x', None\] \(frequency 3\)"),
    ],
)
def test_bpe_train_rejects_invalid_vocabulary(spark, rows, match):
    words = spark.createDataFrame(rows, "syms array<string>, f long")
    with pytest.raises(ValueError, match=match):
        bpe_train(words, n_merges=2)


def _pinned(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_bpe_train_pins_no_rdd(spark):
    from rds_glue_s3_etl_pipeline_spark.operators.bpe import words_to_symbols

    toks = spark.createDataFrame([("lower", 2), ("newest", 6)], "tok string, f long")
    before = _pinned(spark)
    assert bpe_train(words_to_symbols(toks), n_merges=4)
    assert _pinned(spark) == before


def test_q152_merge_table_at_sf0001(spark, sf_dir):
    """The merge table the per-round distributed trainer learned on the
    sf0.001 fixture, learned again without leaving an RDD pinned."""
    from rds_glue_s3_etl_pipeline_spark.queries.text4 import q152_bpe_train

    before = _pinned(spark)
    got = [tuple(r) for r in q152_bpe_train(spark, sf_dir).collect()]
    assert _pinned(spark) == before
    assert got == [
        (1, "e", "r", 4650),
        (2, "o", "r", 2880),
        (3, "i", "n", 2858),
        (4, "o", "w", 2763),
        (5, "s", "t", 2721),
        (6, "l", "u", 1928),
        (7, "a", "r", 1873),
        (8, "p", "ar", 1873),
    ]


def test_q156_row_at_sf0001(spark, sf_dir):
    """q156's report row on the sf0.001 fixture, as recorded when the
    encoded vocabulary still came out of the per-round trainer."""
    from rds_glue_s3_etl_pipeline_spark.queries.text4 import q156_bpe_compression

    got = [r.asDict() for r in q156_bpe_compression(spark, sf_dir).collect()]
    assert got == [
        {
            "n_word_occurrences": 27939,
            "symbols_before": 125717,
            "symbols_after": 104171,
            "compression": 0.828615,
            "n_merges": 8,
        }
    ]
