"""Text column functions on short inputs: fewer tokens or characters than
the shingle size give an empty array, never a crash or a repeated text."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gdal_spark.functions import text as TX


@pytest.mark.parametrize("toks,want", [
    ([], []),
    (["a"], []),
    (["a", "b"], []),
    (["a", "b", "c"], ["a b c"]),
    (["a", "b", "c", "d"], ["a b c", "b c d"]),
])
def test_shingle_array_short_docs(spark, toks, want):
    df = spark.createDataFrame([(toks,)], "toks array<string>")
    got = df.select(TX.shingle_array(F.col("toks"), 3).alias("s")).first()["s"]
    assert got == want


@pytest.mark.parametrize("text,want", [
    ("", []),
    ("a", []),
    ("ab", []),
    ("abc", ["abc"]),
    ("abcd", ["abc", "bcd"]),
])
def test_char_ngrams_short_text(spark, text, want):
    df = spark.createDataFrame([(text,)], "t string")
    got = df.select(TX.char_ngrams(F.col("t"), 3).alias("g")).first()["g"]
    assert got == want


def test_word_shingles_two_token_doc(spark):
    df = spark.createDataFrame([("too short",)], "t string")
    assert df.select(TX.word_shingles(F.col("t"), 3).alias("s")).first()["s"] == []


def test_minhash_and_winnow_on_short_docs(spark):
    """Docs shorter than the shingle size: null MinHash signatures and no
    winnowing fingerprints, instead of a failed job."""
    from gdal_spark.operators import dedup as DD
    df = spark.createDataFrame([(1, "a b c d e f"), (2, "too short"), (3, "")],
                               "doc_id long, text string")
    sigs = {r["doc_id"]: r["sig_0"] for r in
            DD.minhash_signatures(df, n_hashes=2).collect()}
    assert sigs[1] is not None and sigs[2] is None and sigs[3] is None
    fps = {r["doc_id"] for r in DD.winnow_fingerprints(df).collect()}
    assert fps == {1}
