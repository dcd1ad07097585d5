"""Distributed BPE trainer: bit-equality vs the sequential reference
(functions/bpe.train_bpe), partitioning invariance of the tie rule, the
sequential-scan merge semantics, and checkpoint hygiene."""
from __future__ import annotations

import pytest

from ocr_spark.functions.bpe import train_bpe
from ocr_spark.operators.tokenizer import (
    _merge_expr,
    train_bpe_distributed,
    word_type_vocab,
)

CORPUS = [
    "the quick brown fox jumps over the lazy dog",
    "the lazy dog sleeps while the quick fox runs",
    "pack my box with five dozen liquor jugs",
    "sphinx of black quartz judge my vow",
    "the dog and the fox and the sphinx",
    None,
    "  leading and   trailing   whitespace  ",
]


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )


def test_matches_sequential_reference(corpus_df):
    got = train_bpe_distributed(corpus_df, n_merges=25)
    exp = train_bpe([t for t in CORPUS if t], n_merges=25)
    assert got == exp


def test_partitioning_invariant(spark, corpus_df):
    one = train_bpe_distributed(corpus_df.coalesce(1), n_merges=10)
    many = train_bpe_distributed(corpus_df.repartition(7), n_merges=10)
    assert one == many


def test_merge_is_sequential_left_to_right(spark):
    # 'aaa' + EOW with pair (a, a): the published scan merges the first
    # two and cannot chain into the third -> ['aa', 'a', '</w>']
    df = spark.createDataFrame(
        [(["a", "a", "a", "</w>"],), (["b", "a", "a", "</w>"],)],
        "symbols array<string>",
    )
    got = sorted(
        r["m"] for r in df.select(_merge_expr("a", "a").alias("m")).collect()
    )
    assert got == [["aa", "a", "</w>"], ["b", "aa", "</w>"]]


def test_word_type_vocab_counts(spark):
    df = spark.createDataFrame(
        [(1, "aa bb aa"), (2, "bb  cc"), (3, None)], "doc_id long, text string"
    )
    rows = {
        tuple(r["symbols"]): r["n"]
        for r in word_type_vocab(df).collect()
    }
    assert rows == {
        ("a", "a", "</w>"): 2,
        ("b", "b", "</w>"): 2,
        ("c", "c", "</w>"): 1,
    }


def test_training_exhausts_small_vocab(spark):
    # a vocabulary with few distinct pairs runs out of merges early
    df = spark.createDataFrame([(1, "ab ab ab")], "doc_id long, text string")
    merges = train_bpe_distributed(df, n_merges=50)
    exp = train_bpe(["ab ab ab"], n_merges=50)
    assert merges == exp
    assert len(merges) < 50


def test_no_leaked_checkpoints(spark, corpus_df):
    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    train_bpe_distributed(corpus_df, n_merges=5)
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert after == before


def test_n_merges_validation(corpus_df):
    with pytest.raises(ValueError):
        train_bpe_distributed(corpus_df, n_merges=0)


def test_reproduces_shipped_merges_prefix(spark):
    # greedy BPE is prefix-stable, so a 20-merge distributed run over the
    # sf0.01 corpus must reproduce the first 20 lines of the SHIPPED
    # 200-merge table tools/train_bpe.py trained on the same corpus —
    # tying the distributed trainer to the vendored artifact
    import importlib.resources as res

    df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    got = train_bpe_distributed(df.select("text"), n_merges=20)
    data = (
        res.files("ocr_spark.data").joinpath("bpe_merges.txt").read_text()
    )
    shipped = [
        tuple(line.split("\t"))
        for line in data.splitlines()
        if line and not line.startswith("#")
    ]
    assert got == shipped[:20]
