"""Build-side memory guard: the broadcast-index collect is never unbounded.

Reference behavior is *accounted* build memory (``interval_join.rs:624-660``)
— an over-cap build errors early or falls back to a distributed plan instead
of OOMing the driver.
"""

from __future__ import annotations

import pytest

from sequila_native_spark import count_overlaps, nearest_join, overlap_join
from sequila_native_spark.operators.index import (
    _LE,
    _LS,
    BuildSideTooLargeError,
    collect_index,
)
from sequila_native_spark.operators.interval_join import _with_bounds
from sequila_native_spark.session import MAX_BROADCAST_BUILD_ROWS
from tests.conftest import rows_set


@pytest.fixture
def tiny_cap(spark):
    spark.conf.set(MAX_BROADCAST_BUILD_ROWS, "2")
    yield
    spark.conf.unset(MAX_BROADCAST_BUILD_ROWS)


def _collect(df):
    lb = _with_bounds(df, "pos_start", "pos_end", _LS, _LE, False, True)
    return collect_index(
        lb, ["contig"], lambda s, e, rows: rows, payload_cols=["pos_start"]
    )


def test_guarded_collect_raises(spark, tiny_cap, reads):
    with pytest.raises(BuildSideTooLargeError, match="maxBroadcastBuildRows"):
        _collect(reads)


def test_guarded_collect_passes_under_cap(spark, tiny_cap, reads):
    index, payload = _collect(reads.limit(2))
    assert payload.num_rows == 2
    assert sum(len(rows) for rows in index.values()) == 2


def test_overlap_index_falls_back_to_partitioned(spark, tiny_cap, reads, targets):
    got = overlap_join(reads, targets, on="contig", algorithm="index")
    want = overlap_join(reads, targets, on="contig", algorithm="naive")
    assert rows_set(got) == rows_set(want)


def test_keyless_overlap_index_falls_back_to_binning(spark, tiny_cap, reads, targets):
    got = overlap_join(reads.drop("contig"), targets.drop("contig"),
                       on=None, algorithm="index")
    want = overlap_join(reads.drop("contig"), targets.drop("contig"),
                        on=None, algorithm="naive")
    assert rows_set(got) == rows_set(want)


def test_nearest_index_falls_back_to_partitioned(spark, tiny_cap, reads, targets):
    got = nearest_join(reads, targets, on="contig", algorithm="index")
    want = nearest_join(reads, targets, on="contig", algorithm="naive")
    assert rows_set(got) == rows_set(want)


def test_keyless_nearest_index_raises(spark, tiny_cap, reads, targets):
    with pytest.raises(BuildSideTooLargeError):
        nearest_join(reads.drop("contig"), targets.drop("contig"),
                     on=None, algorithm="index").collect()


def test_count_overlaps_index_falls_back_to_binning(spark, tiny_cap, reads, targets):
    got = count_overlaps(reads, targets, on="contig", algorithm="index")
    want = count_overlaps(reads, targets, on="contig", algorithm="binning")
    assert rows_set(got) == rows_set(want)
