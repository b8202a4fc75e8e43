"""Seeded input generators for the benchmark workloads (numpy + pyarrow only).

Every table is a function of ``(seed, scale)`` alone: the same arguments give
byte-identical parquet files. Coordinates are closed intervals
``[pos_start, pos_end]``, 1-based, and every table is stored sorted by
``(contig, pos_start)`` the way BED/BAM-derived tables usually are.

``scale`` divides both the row counts and the contig lengths of the
full-size workloads described in ``WORKLOADS.md``, so interval density, and
therefore output rows per input row, stays that of the full-size inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# GRCh38 primary assembly: chr1..chr22, chrX
HUMAN_CONTIGS = (
    ("chr1", 248_956_422), ("chr2", 242_193_529), ("chr3", 198_295_559),
    ("chr4", 190_214_555), ("chr5", 181_538_259), ("chr6", 170_805_979),
    ("chr7", 159_345_973), ("chr8", 145_138_636), ("chr9", 138_394_717),
    ("chr10", 133_797_422), ("chr11", 135_086_622), ("chr12", 133_275_309),
    ("chr13", 114_364_328), ("chr14", 107_043_718), ("chr15", 101_991_189),
    ("chr16", 90_338_345), ("chr17", 83_257_441), ("chr18", 80_373_285),
    ("chr19", 58_617_616), ("chr20", 64_444_167), ("chr21", 46_709_983),
    ("chr22", 50_818_468), ("chrX", 156_040_895),
)
CONTIG_NAMES = tuple(name for name, _ in HUMAN_CONTIGS)

# Full-size row counts (divided by ``scale``).
DATABIO_ROWS = 2_000_000
PANEL_READS = 4_000_000
PANEL_TARGETS = 200_000

READ_LEN = 150
ON_TARGET = 0.70
MAX_INTERVAL_LEN = 1_000_000

FILES_PER_TABLE = 8


@dataclass(frozen=True)
class Intervals:
    """One interval table, sorted by ``(contig, start)``; ``contig`` holds
    indexes into :data:`CONTIG_NAMES` and ``ids`` the table's id column."""

    contig: np.ndarray
    start: np.ndarray
    end: np.ndarray
    ids: np.ndarray

    def __len__(self) -> int:
        return len(self.start)


def contig_lengths(scale: int) -> np.ndarray:
    return np.array([n for _, n in HUMAN_CONTIGS], dtype=np.int64) // scale


def _sorted(contig, start, end) -> Intervals:
    order = np.lexsort((end, start, contig))
    n = len(order)
    return Intervals(contig[order], start[order], end[order], np.arange(n, dtype=np.int64))


def _pick_contigs(rng, n: int, lens: np.ndarray) -> np.ndarray:
    return rng.choice(len(lens), size=n, p=lens / lens.sum()).astype(np.int64)


def _uniform_starts(rng, contig, length, lens) -> np.ndarray:
    room = lens[contig] - length + 1
    return 1 + np.floor(rng.random(len(contig)) * room).astype(np.int64)


def databio_side(rng, n: int, scale: int, median_len: float, sigma: float = 1.5) -> Intervals:
    """Uniform starts, lognormal lengths (``sigma=1.5`` puts p99 at about
    33x the median), contigs drawn in proportion to their length."""
    lens = contig_lengths(scale)
    contig = _pick_contigs(rng, n, lens)
    length = np.rint(median_len * np.exp(sigma * rng.standard_normal(n))).astype(np.int64)
    length = np.clip(length, 1, np.minimum(MAX_INTERVAL_LEN, lens[contig] // 4))
    start = _uniform_starts(rng, contig, length, lens)
    return _sorted(contig, start, start + length - 1)


def databio_tables(seed: int, scale: int) -> tuple[Intervals, Intervals]:
    """``s1`` (median 300 bp) and ``s2`` (median 2 kb), BIGINT bounds."""
    rng = np.random.default_rng([seed, 1])
    n = DATABIO_ROWS // scale
    return databio_side(rng, n, scale, 300.0), databio_side(rng, n, scale, 2000.0)


def panel_tables(seed: int, scale: int) -> tuple[Intervals, Intervals]:
    """``(reads, targets)``: targets of 100-400 bp; 150 bp reads of which
    ``ON_TARGET`` start inside ``[target_start - 149, target_end]`` of a
    uniformly chosen target and the rest are uniform over the genome."""
    rng = np.random.default_rng([seed, 2])
    lens = contig_lengths(scale)
    n_t = PANEL_TARGETS // scale
    t_contig = _pick_contigs(rng, n_t, lens)
    t_len = rng.integers(100, 401, size=n_t, dtype=np.int64)
    t_start = _uniform_starts(rng, t_contig, t_len, lens)
    targets = _sorted(t_contig, t_start, t_start + t_len - 1)

    n_r = PANEL_READS // scale
    n_on = int(round(n_r * ON_TARGET))
    pick = rng.integers(0, n_t, size=n_on)
    lo = targets.start[pick] - (READ_LEN - 1)
    on_start = lo + np.floor(rng.random(n_on) * (targets.end[pick] - lo + 1)).astype(np.int64)
    on_contig = targets.contig[pick]
    on_start = np.clip(on_start, 1, lens[on_contig] - READ_LEN + 1)
    off_contig = _pick_contigs(rng, n_r - n_on, lens)
    off_start = _uniform_starts(rng, off_contig, np.full(n_r - n_on, READ_LEN), lens)
    r_contig = np.concatenate([on_contig, off_contig])
    r_start = np.concatenate([on_start, off_start])
    reads = _sorted(r_contig, r_start, r_start + READ_LEN - 1)
    return reads, targets


def write_table(iv: Intervals, path: str, id_col: str, *, int32: bool = False) -> None:
    """Write ``iv`` as ``FILES_PER_TABLE`` parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    bound = pa.int32() if int32 else pa.int64()
    names = pa.array(CONTIG_NAMES, pa.string())
    table = pa.table({
        "contig": names.take(pa.array(iv.contig)),
        "pos_start": pa.array(iv.start, bound),
        "pos_end": pa.array(iv.end, bound),
        id_col: pa.array(iv.ids, pa.int64()),
    })
    step = -(-len(iv) // FILES_PER_TABLE)
    for i in range(FILES_PER_TABLE):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:02d}.parquet"),
            compression="snappy",
        )
