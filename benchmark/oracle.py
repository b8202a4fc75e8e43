"""Independent numpy oracle for the benchmark's checks.

It never imports the package under test. Everything is computed per contig
on sorted coordinate arrays with ``np.searchsorted``; the closed-interval
overlap rule is ``a.start <= b.end and a.end >= b.start``.

- pair counts: ``#{b: b.start <= q.end} - #{b: b.end < q.start}`` per probe
  (every build interval ending before the probe also starts before it);
- covered bases: the build depth integrated over the probe's bases,
  ``D(q.end) - D(q.start - 1)`` with ``D(y) = sum over b of
  |[b.start, b.end] & (-inf, y]|`` from prefix sums, which equals the sum of
  the clipped overlap lengths without ever enumerating a pair;
- nearest distance: 0 when a build interval overlaps, else the smaller gap
  to the closest build end on the left or build start on the right.
"""

from __future__ import annotations

import numpy as np


def _groups(contig: np.ndarray) -> dict[int, slice]:
    """Row ranges of each contig in a contig-sorted table."""
    if len(contig) == 0:
        return {}
    cut = np.flatnonzero(np.diff(contig)) + 1
    bounds = np.concatenate([[0], cut, [len(contig)]])
    return {int(contig[lo]): slice(int(lo), int(hi)) for lo, hi in zip(bounds[:-1], bounds[1:])}


class _ContigIndex:
    """Sorted build coordinates of one contig plus the prefix sums the
    depth integral needs."""

    def __init__(self, start: np.ndarray, end: np.ndarray):
        by_start = np.argsort(start, kind="stable")
        self.starts = start[by_start]
        self.ends = np.sort(end, kind="stable")
        zero = np.zeros(1, dtype=np.int64)
        self.len_by_start = np.concatenate([zero, np.cumsum(end[by_start] - start[by_start] + 1)])
        self.end_by_start = np.concatenate([zero, np.cumsum(end[by_start])])
        self.end_sorted = np.concatenate([zero, np.cumsum(self.ends)])

    def counts(self, qs: np.ndarray, qe: np.ndarray) -> np.ndarray:
        return (
            np.searchsorted(self.starts, qe, side="right")
            - np.searchsorted(self.ends, qs, side="left")
        )

    def depth_integral(self, y: np.ndarray) -> np.ndarray:
        n = len(self.starts)
        k_start = np.searchsorted(self.starts, y, side="right")  # builds with start <= y
        k_end = np.searchsorted(self.ends, y, side="right")      # builds with end <= y
        tail_end = (self.end_sorted[n] - self.end_sorted[k_end]) - y * (n - k_end)
        tail_start = (self.end_by_start[n] - self.end_by_start[k_start]) - y * (n - k_start)
        return self.len_by_start[k_start] - tail_end + tail_start

    def nearest_distance(self, qs: np.ndarray, qe: np.ndarray) -> np.ndarray:
        big = np.iinfo(np.int64).max
        i = np.searchsorted(self.ends, qs, side="left") - 1   # last end < qs
        left = np.where(i >= 0, qs - self.ends[np.maximum(i, 0)], big)
        j = np.searchsorted(self.starts, qe, side="right")    # first start > qe
        right = np.where(
            j < len(self.starts), self.starts[np.minimum(j, len(self.starts) - 1)] - qe, big
        )
        return np.where(self.counts(qs, qe) > 0, 0, np.minimum(left, right))


def _per_probe(build, probe, fn, fill):
    out = np.full(len(probe.start), fill, dtype=np.int64)
    b_groups = _groups(build.contig)
    for c, sl in _groups(probe.contig).items():
        if c in b_groups:
            bs = b_groups[c]
            index = _ContigIndex(build.start[bs], build.end[bs])
            out[sl] = fn(index, probe.start[sl], probe.end[sl])
    return out


def overlap_counts(build, probe) -> np.ndarray:
    """Number of ``build`` intervals overlapping each ``probe`` row."""
    return _per_probe(build, probe, lambda ix, qs, qe: ix.counts(qs, qe), 0)


def covered_bases(build, probe) -> np.ndarray:
    """Sum over overlapping ``build`` intervals of the clipped overlap length,
    per ``probe`` row."""
    return _per_probe(
        build, probe, lambda ix, qs, qe: ix.depth_integral(qe) - ix.depth_integral(qs - 1), 0
    )


def nearest_distances(build, probe) -> np.ndarray:
    """Gap to the nearest ``build`` interval per ``probe`` row (0 on overlap);
    -1 where the probe's contig has no build rows."""
    return _per_probe(build, probe, lambda ix, qs, qe: ix.nearest_distance(qs, qe), -1)


def pair_count(a, b) -> int:
    return int(overlap_counts(a, b).sum())
