"""The benchmark workloads: inputs, the operator calls of one op, and checks.

An op is a list of :class:`Call` s. Each call names the layer it enters and
splits into ``plan`` (the package's public entry point, which returns a lazy
DataFrame but may run eager Spark jobs inside) and ``execute`` (the action
on the result); ``check`` compares the action's result with the numpy
oracle. The package only ever sees the generated parquet.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Any, Callable

from benchmark import datagen, oracle

# The reference's databio benchmark query, verbatim.
DATABIO_QUERY = """
            SELECT
                count(*)
            FROM
                s1 a, s2 b
            WHERE
                a.contig=b.contig
            AND
                a.pos_end>=b.pos_start
            AND
                a.pos_start<=b.pos_end
"""


class Mismatch(Exception):
    """An operator result disagrees with the oracle."""


def expect(what: str, got, want) -> None:
    got = tuple(int(v) if v is not None else None for v in got)
    want = tuple(int(v) for v in want)
    if got != want:
        raise Mismatch(f"{what}: got {got}, expected {want}")


@dataclass
class Call:
    """One operator call of an op. ``rows_in`` counts the input rows it
    reads; ``metrics`` is the ``IntervalJoinMetrics`` passed to it, if any."""

    layer: str
    plan: Callable[[], Any]
    execute: Callable[[Any], Any]
    check: Callable[[Any], None]
    rows_in: int
    metrics: Any = None


class Workload:
    name = ""
    scale = 1
    # Untimed ops before the timed loop. Op latency keeps falling over the
    # first ops of a fresh JVM while the JIT compiles Spark's planning,
    # scheduling and codegen paths; the count trades run length for that.
    warmup_ops = 16

    def __init__(self, seed: int):
        self.seed = seed

    def generate(self, data_dir: str) -> None:
        """Write the inputs under ``data_dir`` and derive the oracle's
        expectations."""
        raise NotImplementedError

    def register(self, spark, data_dir: str) -> None:
        raise NotImplementedError

    def calls(self, spark, sq) -> list[Call]:
        raise NotImplementedError


class DatabioSql(Workload):
    """The reference's ``count(*)`` range join through ``sequila_sql``."""

    name = "databio_sql"
    scale = 8

    def generate(self, data_dir):
        self.s1, self.s2 = datagen.databio_tables(self.seed, self.scale)
        datagen.write_table(self.s1, os.path.join(data_dir, "s1"), "id")
        datagen.write_table(self.s2, os.path.join(data_dir, "s2"), "id")
        self.pairs = oracle.pair_count(self.s1, self.s2)

    def register(self, spark, data_dir):
        for t in ("s1", "s2"):
            spark.read.parquet(os.path.join(data_dir, t)).createOrReplaceTempView(t)

    def calls(self, spark, sq):
        return [Call(
            "sql",
            plan=lambda: sq.sequila_sql(spark, DATABIO_QUERY),
            execute=lambda df: df.collect()[0][0],
            check=lambda n: expect("databio pairs", (n,), (self.pairs,)),
            rows_in=len(self.s1) + len(self.s2),
        )]


class AnnotatePanel(Workload):
    """One bedtools-style annotation pass of reads against a target panel."""

    name = "annotate_panel"
    scale = 32
    # The first op takes ~4x a warm one and the next ones sit within ~20% of
    # where latency settles after 15 (curve in WORKLOADS.md); a longer
    # warm-up would not fit the run time a benchmark round allows.
    warmup_ops = 6

    def generate(self, data_dir):
        reads, targets = datagen.panel_tables(self.seed, self.scale)
        datagen.write_table(reads, os.path.join(data_dir, "reads"), "read_id", int32=True)
        datagen.write_table(targets, os.path.join(data_dir, "targets"), "target_id", int32=True)
        rid, tid = reads.ids, targets.ids
        per_read = oracle.overlap_counts(targets, reads)
        per_target = oracle.overlap_counts(reads, targets)
        bases = oracle.covered_bases(reads, targets)
        dist = oracle.nearest_distances(targets, reads)
        self.n_reads, self.n_targets = len(reads), len(targets)
        self.want = {
            "count_overlaps": (len(reads), per_read.sum(), (per_read * rid).sum()),
            "coverage": (len(targets), per_target.sum(), bases.sum(), (bases * tid).sum()),
            "nearest_join": (len(reads), rid.sum(), (rid * rid).sum(), dist[dist >= 0].sum()),
            "interval_join": (per_read.sum(), (per_read * rid).sum(), (per_target * tid).sum()),
        }

    def register(self, spark, data_dir):
        self.reads = spark.read.parquet(os.path.join(data_dir, "reads"))
        self.targets = spark.read.parquet(os.path.join(data_dir, "targets"))

    def calls(self, spark, sq):
        from pyspark.sql import functions as F

        from sequila_native_spark.metrics import IntervalJoinMetrics

        reads, targets = self.reads, self.targets
        rows_in = self.n_reads + self.n_targets
        col = F.col

        def agg(*exprs):
            return lambda df: tuple(df.agg(F.count(F.lit(1)), *exprs).first())

        def checker(layer):
            return lambda got: expect(layer, got, self.want[layer])

        metrics = IntervalJoinMetrics(spark)
        return [
            Call(
                "count_overlaps",
                plan=lambda: sq.count_overlaps(targets, reads, "contig", algorithm="index"),
                execute=agg(F.sum("count"), F.sum(col("count") * col("read_id"))),
                check=checker("count_overlaps"), rows_in=rows_in,
            ),
            Call(
                "coverage",
                plan=lambda: sq.coverage(reads, targets, "contig", algorithm="index"),
                execute=agg(
                    F.sum("n_overlaps"), F.sum("bases_covered"),
                    F.sum(col("bases_covered") * col("target_id")),
                ),
                check=checker("coverage"), rows_in=rows_in,
            ),
            Call(
                "nearest_join",
                plan=lambda: sq.nearest_join(
                    targets, reads, "contig", algorithm="index", distance_col="dist"
                ),
                execute=agg(
                    F.sum("read_id"), F.sum(col("read_id") * col("read_id")), F.sum("dist")
                ),
                check=checker("nearest_join"), rows_in=rows_in,
            ),
            Call(
                "interval_join",
                plan=lambda: sq.overlap_join(
                    targets, reads, "contig", algorithm="index", metrics=metrics
                ),
                execute=lambda df: tuple(
                    df.agg(F.count(F.lit(1)), F.sum("read_id"), F.sum("target_id")).first()
                ),
                check=checker("interval_join"), rows_in=rows_in, metrics=metrics,
            ),
        ]


WORKLOADS = {w.name: w for w in (DatabioSql, AnnotatePanel)}
