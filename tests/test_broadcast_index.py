"""The shared broadcast interval index behind every ``index`` algorithm.

Pins the index paths against the Catalyst plans (``naive`` / ``binning``) on
the shapes the one Arrow build and probe must get right: several equi-keys
with null key values, equi-keys whose types differ in family (``int`` on one
side, ``string`` on the other), and the nearest join's null-left padding."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sequila_native_spark import count_overlaps, coverage, nearest_join, overlap_join
from tests.conftest import rows_set

BOUNDS = dict(
    left_start="t_start", left_end="t_end",
    right_start="r_start", right_end="r_end",
)
OPS = {
    "count_overlaps": count_overlaps,
    "coverage": coverage,
    "overlap_join": overlap_join,
    "nearest_join": nearest_join,
}


def _rows(op, build, probe, on, algorithm):
    return rows_set(OPS[op](build, probe, on, algorithm=algorithm, **BOUNDS))


@pytest.fixture()
def stranded(spark):
    targets = spark.createDataFrame(
        [("a", "+", 1, 10), ("a", "-", 5, 8), ("a", "+", 40, 50),
         ("b", "+", 1, 4), ("b", None, 2, 2), ("c", "-", 100, 200),
         ("a", "+", None, 9), (None, "+", 1, 9), ("a", None, 3, 7)],
        "contig string, strand string, t_start int, t_end int",
    )
    reads = spark.createDataFrame(
        [(1, "a", "+", 3, 6), (2, "a", "-", 9, 41), (3, "a", "+", 60, 70),
         (4, "b", None, 2, 2), (5, "b", "+", 4, 4), (6, "c", "-", 1, 99),
         (7, "b", "+", None, 5), (8, None, "+", 2, 3), (9, "a", "-", 6, 6),
         (10, "a", "+", 5, 45)],
        "rid int, contig string, strand string, r_start int, r_end int",
    )
    return targets, reads


@pytest.mark.parametrize("op", sorted(OPS))
def test_index_matches_catalyst_multi_key(spark, stranded, op):
    """Two equi-keys, null values in each: rows with a null key never
    match, yet count/coverage/nearest still emit them. The nearest join is
    checked against its cogroup path, which pads null-bound probes like the
    index does (its naive plan reads a null bound as distance 0)."""
    on = ["contig", "strand"]
    reference = "partitioned" if op == "nearest_join" else "binning"
    assert _rows(op, *stranded, on, "index") == _rows(op, *stranded, on, reference)


@pytest.fixture()
def mixed_keys(spark):
    """An ``int`` key on the build side against a ``string`` key on the
    probe side: Catalyst's coerced equi-join matches ``1`` to ``'1'`` (and
    to ``'01'``)."""
    targets = spark.createDataFrame(
        [(1, 1, 10), (1, 5, 8), (2, 40, 50), (10, 1, 4), (None, 1, 9)],
        "k int, t_start int, t_end int",
    )
    reads = spark.createDataFrame(
        [("1", 3, 6), ("01", 9, 41), ("2", 45, 46), ("2", 1, 2),
         ("10", 2, 2), ("3", 1, 99), (None, 2, 3)],
        "k string, r_start int, r_end int",
    )
    return targets, reads


@pytest.mark.parametrize("op", sorted(OPS))
def test_index_matches_naive_on_int_vs_string_keys(spark, mixed_keys, op):
    got = _rows(op, *mixed_keys, "k", "index")
    assert got == _rows(op, *mixed_keys, "k", "naive")
    if op == "overlap_join":
        assert sum(got.values()) == 5  # '1'x2, '01'x1, '2'x1, '10'x1


def test_nearest_index_null_left_padding(spark):
    """Probes whose key group has no build rows, probes with a null key, and
    every probe of an empty build side get one all-null left row, int and
    string payload columns included."""
    build = spark.createDataFrame(
        [("a", 1, 10, 7, "x"), ("a", 20, 30, None, "y"), ("c", 5, 5, 9, None)],
        "contig string, t_start int, t_end int, score int, name string",
    )
    probe = spark.createDataFrame(
        [("a", 12, 13), ("a", 26, 27), ("b", 1, 2), (None, 1, 2)],
        "contig string, r_start int, r_end int",
    )

    def run(b):
        out = nearest_join(b, probe, "contig", algorithm="index", **BOUNDS)
        return {
            (r["contig_r"], r["r_start"]): (
                r["contig"], r["t_start"], r["t_end"], r["score"], r["name"]
            )
            for r in out.collect()
        }

    pad = (None, None, None, None, None)
    assert run(build) == {
        ("a", 12): ("a", 1, 10, 7, "x"),
        ("a", 26): ("a", 20, 30, None, "y"),
        ("b", 1): pad,
        (None, 1): pad,
    }
    assert run(build.where(F.lit(False))) == {
        ("a", 12): pad, ("a", 26): pad, ("b", 1): pad, (None, 1): pad,
    }
