"""Relational operators: joins, dedup, aggregates, set ops (SURVEY §2.3–2.8)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from uofi_payroll_etl_main_demo_spark.operators import (
    FanOutError,
    FanOutWarning,
    anti_join,
    dedup_keep_first,
    distinct_rows,
    mode_by_group,
    mode_lookup_map,
    null_count,
    safe_left_join,
    semi_join,
    union_by_name,
)
from uofi_payroll_etl_main_demo_spark.operators.aggregates import min_max


@pytest.fixture()
def fact(spark):
    return spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "z")], "id int, k string"
    )


def test_safe_left_join_basic(spark, fact):
    dim = spark.createDataFrame(
        [("a", "Alpha"), ("b", "Beta")], "k string, title string"
    )
    out = safe_left_join(fact, dim, ["k"], payload=["title"])
    rows = {r["id"]: r["title"] for r in out.collect()}
    assert rows == {1: "Alpha", 2: "Alpha", 3: "Beta", 4: None}


def test_safe_left_join_renamed_key_drops_dim_key(spark, fact):
    dim = spark.createDataFrame(
        [("a", "Alpha")], "code string, title string"
    )
    out = safe_left_join(fact, dim, {"k": "code"}, payload=["title"])
    assert "code" not in out.columns
    assert out.filter(F.col("id") == 1).collect()[0]["title"] == "Alpha"


def test_safe_left_join_dedups_dim_deterministically(spark, fact):
    # two payload variants for key 'a': dedup keeps MIN payload, row
    # count must be preserved (the reference's fan-out guard).
    dim = spark.createDataFrame(
        [("a", "Z-title"), ("a", "A-title")], "k string, title string"
    )
    out = safe_left_join(fact, dim, ["k"], payload=["title"])
    assert out.count() == fact.count()
    assert out.filter(F.col("id") == 1).collect()[0]["title"] == "A-title"


def test_fanout_check_raises(spark, fact):
    dim = spark.createDataFrame(
        [("a", "t1"), ("a", "t2")], "k string, title string"
    )
    with pytest.raises(FanOutError):
        safe_left_join(
            fact, dim, ["k"], payload=["title"], dedup_dim=False, check_fanout=True
        )


def test_fanout_check_warn_mode_proceeds(spark, fact):
    # reference safe_merge_left WARNS on fan-out and returns the
    # multiplied frame (etl_payroll_pipeline_demo.py:233-240)
    dim = spark.createDataFrame(
        [("a", "t1"), ("a", "t2")], "k string, title string"
    )
    with pytest.warns(FanOutWarning, match="4 -> 6"):
        out = safe_left_join(
            fact, dim, ["k"], payload=["title"],
            dedup_dim=False, check_fanout=True, on_fanout="warn",
        )
    assert out.count() == 6


def test_prepare_dim_payload_survivor_is_one_real_row(spark, fact):
    # the surviving payload must be a complete input row, never a
    # per-column mix of values from different dimension rows
    dim = spark.createDataFrame(
        [("a", "B-method", "A-type"), ("a", "A-method", "Z-type")],
        "k string, method string, typ string",
    )
    out = safe_left_join(fact, dim, ["k"], payload=["method", "typ"])
    r = out.filter(F.col("id") == 1).collect()[0]
    # struct-min keeps the row ("A-method", "Z-type"); the old
    # per-column min would have fabricated ("A-method", "A-type")
    assert (r["method"], r["typ"]) == ("A-method", "Z-type")


def test_semi_and_anti_join_partition(spark, fact):
    right = spark.createDataFrame([("a",), ("b",)], "k string")
    have = {r["id"] for r in semi_join(fact, right, ["k"]).collect()}
    miss = {r["id"] for r in anti_join(fact, right, ["k"]).collect()}
    assert have == {1, 2, 3}
    assert miss == {4}
    assert have | miss == {1, 2, 3, 4}


def test_mode_by_group_deterministic_tiebreak(spark):
    df = spark.createDataFrame(
        [("k1", "x"), ("k1", "x"), ("k1", "y"),
         ("k2", "b"), ("k2", "a")],  # tie: a vs b -> smallest value wins
        "k string, v string",
    )
    got = {r["k"]: r["mode_v"] for r in mode_by_group(df, "k", "v").collect()}
    assert got == {"k1": "x", "k2": "a"}


def test_mode_by_group_null_is_a_value(spark):
    # NULL counts like any value and sorts first on ties; a plain
    # F.mode(v) skips NULLs and would answer 'y' / 'a' for k1 / k2
    df = spark.createDataFrame(
        [("k1", None), ("k1", None), ("k1", "y"),  # NULL most frequent
         ("k2", None), ("k2", "a"),  # NULL ties with 'a'
         ("k3", None), ("k3", None),  # all NULL
         ("k4", "b"), ("k4", "a"), ("k4", "b"), ("k4", "a"), ("k4", "c")],
        "k string, v string",
    )
    got = {r["k"]: r["mode_v"] for r in mode_by_group(df, "k", "v").collect()}
    assert got == {"k1": None, "k2": None, "k3": None, "k4": "a"}


def test_mode_lookup_map(spark):
    df = spark.createDataFrame(
        [("k1", "x"), ("k1", "x"), ("k1", "y")], "k string, v string"
    )
    assert mode_lookup_map(df, "k", "v") == {"k1": "x"}


def test_dedup_keep_first_explicit_order(spark):
    df = spark.createDataFrame(
        [(1, 2, "late"), (1, 1, "early"), (2, 5, "only")],
        "k int, seq int, tag string",
    )
    out = dedup_keep_first(df, ["k"], [F.asc("seq")])
    got = {r["k"]: r["tag"] for r in out.collect()}
    assert got == {1: "early", 2: "only"}
    assert "__rn" not in out.columns


def test_distinct_rows_full_and_subset(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b")], "k int, v string"
    )
    assert distinct_rows(df).count() == 2
    assert distinct_rows(df, subset=["k"]).count() == 1


def test_union_by_name_fills_missing(spark):
    a = spark.createDataFrame([(1, "x")], "id int, extra string")
    b = spark.createDataFrame([(2,)], "id int")
    out = union_by_name(a, b)
    rows = {r["id"]: r["extra"] for r in out.collect()}
    assert rows == {1: "x", 2: None}


def test_null_count_and_min_max(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "x"), (None, None)], "a int, b string"
    )
    r = null_count(df, "a", "b").collect()[0]
    assert (r["nulls_a"], r["nulls_b"]) == (1, 2)
    assert min_max(df, "a") == (1, 2)
