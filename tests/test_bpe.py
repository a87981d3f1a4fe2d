"""BPE train/apply: exact semantics on a hand-checkable corpus."""

import pytest
from pyspark.sql import functions as F

from nypd_arrest_etl_spark.operators import bpe as B


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [(1, "low lower lowest"), (2, "low low new")],
        "doc_id long, text string",
    )


def test_train_order_and_tiebreak(docs):
    merges = B.bpe_train(docs, num_merges=2)
    # corpus words: low x3, lower, lowest, new
    # char pairs: (l,o)=5, (o,w</w>)=3, (o,w)=2, ... -> first merge (l,o)
    assert merges[0] == ("l", "o")
    # then (lo,w</w>)=3 dominates
    assert merges[1] == ("lo", "w</w>")


def test_train_partitioning_invariant(docs):
    a = B.bpe_train(docs, num_merges=4)
    b = B.bpe_train(docs.repartition(13), num_merges=4)
    assert a == b


def test_train_driver_and_distributed_paths_agree(docs):
    """The in-memory and per-iteration-distributed merge loops learn
    byte-identical merge lists (canonical sequential BPE both ways)."""
    fast = B.bpe_train(docs, num_merges=6)  # vocab under threshold
    slow = B.bpe_train(docs, num_merges=6, driver_vocab_threshold=0)
    assert fast == slow


def test_tokenize_roundtrip_and_counts(docs):
    merges = B.bpe_train(docs, num_merges=6)
    out = {r["doc_id"]: r for r in B.bpe_tokenize(docs, merges).collect()}
    for doc_id, text in [(1, "low lower lowest"), (2, "low low new")]:
        toks = out[doc_id]["tokens"]
        assert out[doc_id]["n_tokens"] == len(toks)
        # tokens concatenate back to the exact words (EOW marks ends)
        rebuilt = "".join(toks).replace(B.EOW, " ").strip()
        assert rebuilt == text
    # with (l,o) and (lo,w</w>) learned, the word "low" is ONE token
    assert "low" + B.EOW in out[2]["tokens"]


def test_tokenize_unseen_chars_fall_back_to_chars(spark, docs):
    merges = B.bpe_train(docs, num_merges=4)
    novel = spark.createDataFrame([(9, "xyz")], "doc_id long, text string")
    (row,) = B.bpe_tokenize(novel, merges).collect()
    assert row["tokens"] == ["x", "y", "z" + B.EOW]


def test_train_stops_when_no_repeating_pair(spark):
    singleton = spark.createDataFrame([(1, "ab cd")], "doc_id long, text string")
    merges = B.bpe_train(singleton, num_merges=10)
    # every pair occurs once -> nothing reaches the cnt>=2 floor
    assert merges == []


def test_train_in_memory_path_frees_its_vocab_checkpoint(spark, docs):
    """The in-memory path trains on the fetched vocab, so the eager
    word-frequency checkpoint it fetched from must not stay in
    storage after the call."""
    jsc = spark.sparkContext._jsc

    def census() -> set:
        return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}

    before = census()
    assert B.bpe_train(docs, num_merges=2)[0] == ("l", "o")
    assert not (census() - before), "bpe_train left checkpoint blocks behind"
