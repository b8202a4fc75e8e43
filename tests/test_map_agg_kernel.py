"""map_intervals ``index`` kernel (r13 optimization).

Pins the broadcast-index map kernel bit-identical to the binned pair-join
plan across the shapes that matter: keyed/keyless, strict, fraction flags,
null keys/bounds/values, several equi-keys, randomized inputs, and the
guarded fallback (over-budget build, non-decomposable aggs, non-integral
values)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from sequila_native_spark import map_intervals
from sequila_native_spark.session import MAX_BROADCAST_BUILD_ROWS
from tests.conftest import rows_set

AGGS = {
    "n_r": ("count", None),
    "sum_v": ("sum", "val"),
    "min_s": ("min", "r_start"),
    "max_e": ("max", "r_end"),
}


def _both(left, right, on, **kw):
    a = map_intervals(
        left, right, on=on,
        left_start="t_start", left_end="t_end",
        right_start="r_start", right_end="r_end",
        aggs=AGGS, algorithm="index", **kw,
    )
    b = map_intervals(
        left, right, on=on,
        left_start="t_start", left_end="t_end",
        right_start="r_start", right_end="r_end",
        aggs=AGGS, algorithm="binning", **kw,
    )
    return rows_set(a), rows_set(b)


@pytest.fixture()
def sides(spark):
    targets = spark.createDataFrame(
        [("a", 1, 10), ("a", 5, 8), ("a", 40, 50), ("b", 1, 4),
         ("b", 2, 2), ("c", 100, 200), ("a", None, 9), (None, 1, 9)],
        "contig string, t_start int, t_end int",
    )
    reads = spark.createDataFrame(
        [("a", 3, 6, 7), ("a", 9, 41, None), ("a", 60, 70, 2),
         ("b", 2, 2, -5), ("b", 4, 4, 0), ("c", 1, 99, 11),
         ("b", None, 5, 3), (None, 2, 3, 4)],
        "contig string, r_start int, r_end int, val long",
    )
    return targets, reads


@pytest.mark.parametrize("strict", [False, True])
def test_kernel_matches_binning_keyed(spark, sides, strict):
    got, want = _both(*sides, "contig", strict=strict)
    assert got == want


def test_kernel_matches_binning_keyless(spark, sides):
    targets, reads = sides
    got, want = _both(targets.drop("contig"), reads.drop("contig"), None)
    assert got == want


@pytest.mark.parametrize(
    "kw",
    [
        {"min_frac_right": 0.5},
        {"min_frac_left": 0.4},
        {"min_frac_left": 0.6, "reciprocal": True},
        {"min_frac_left": 0.9, "min_frac_right": 0.3, "either": True},
    ],
)
def test_kernel_matches_binning_fractions(spark, sides, kw):
    got, want = _both(*sides, "contig", **kw)
    assert got == want


def test_kernel_matches_binning_randomized(spark):
    rng = random.Random(1307)

    def mk(n, val=False):
        rows = []
        for i in range(n):
            k = rng.choice(["a", "b", "c", None])
            s = rng.randint(0, 300)
            e = s + rng.randint(0, 40)
            if rng.random() < 0.05:
                s = None
            row = [k, s, e]
            if val:
                row.append(
                    None if rng.random() < 0.1 else rng.randint(-100, 100)
                )
            rows.append(tuple(row))
        return rows

    targets = spark.createDataFrame(
        mk(120), "contig string, t_start int, t_end int"
    )
    reads = spark.createDataFrame(
        mk(300, val=True), "contig string, r_start int, r_end int, val long"
    )
    got, want = _both(targets, reads, "contig", min_frac_right=0.5)
    assert got == want
    got, want = _both(targets, reads, "contig", strict=True)
    assert got == want


def test_kernel_fallback_past_broadcast_guard(spark, sides):
    targets, reads = sides
    _, want = _both(*sides, "contig")
    spark.conf.set(MAX_BROADCAST_BUILD_ROWS, "3")
    try:
        got = rows_set(map_intervals(
            targets, reads, on="contig",
            left_start="t_start", left_end="t_end",
            right_start="r_start", right_end="r_end",
            aggs=AGGS, algorithm="index",
        ))
    finally:
        spark.conf.unset(MAX_BROADCAST_BUILD_ROWS)
    assert got == want


def test_non_decomposable_aggs_route_to_binning(spark, sides):
    """mean/collect keep the pair join (value-identical by definition —
    just pin the call works and matches binning)."""
    targets, reads = sides
    aggs = {"m": ("mean", "val"), "c": ("collect", "val")}

    def run(algo):
        df = map_intervals(
            targets, reads, on="contig",
            left_start="t_start", left_end="t_end",
            right_start="r_start", right_end="r_end",
            aggs=aggs, algorithm=algo,
        )
        return rows_set(df.withColumn("c", F.col("c").cast("string")))

    assert run("index") == run("binning")


def test_kernel_matches_binning_multi_key(spark, sides):
    """Several equi-keys take the kernel too (one Arrow key grouping for
    any number of keys)."""
    targets, reads = sides
    # k is null on every third row: a null in any key never matches
    t2 = targets.withColumn("k", F.expr("nullif(t_start % 3, 0)").cast("long"))
    r2 = reads.withColumn("k", F.expr("nullif(r_start % 3, 0)").cast("long"))
    got, want = _both(t2, r2, ["contig", "k"])
    assert got == want
