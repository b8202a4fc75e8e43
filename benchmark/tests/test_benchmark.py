"""Tests of the benchmark itself: seeded inputs, the oracle, and the names
the runner prints. None of them starts Spark.

    python3 -m pytest benchmark/tests -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

from benchmark import datagen, oracle, run
from benchmark.workloads import WORKLOADS

ROOT = Path(__file__).resolve().parents[2]
TINY = 20_000  # scale: ~100 databio rows per side, 200 reads, 10 targets


def _files(d: Path) -> dict[str, bytes]:
    return {p.relative_to(d).as_posix(): p.read_bytes() for p in sorted(d.rglob("*.parquet"))}


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_same_files(tmp_path, name, monkeypatch):
    cls = WORKLOADS[name]
    monkeypatch.setattr(cls, "scale", 4_000)
    for run_dir in ("a", "b"):
        cls(7).generate(str(tmp_path / run_dir))
    cls(8).generate(str(tmp_path / "c"))
    a, b, c = (_files(tmp_path / d) for d in "abc")
    assert a and a == b
    assert a != c


def _brute(build, probe):
    counts, bases, dist = [], [], []
    for pc, ps, pe in zip(probe.contig, probe.start, probe.end):
        n = cov = 0
        best = -1
        for bc, bs, be in zip(build.contig, build.start, build.end):
            if bc != pc:
                continue
            if bs <= pe and be >= ps:
                n += 1
                cov += min(be, pe) - max(bs, ps) + 1
                d = 0
            else:
                d = ps - be if be < ps else bs - pe
            best = d if best < 0 else min(best, d)
        counts.append(n)
        bases.append(cov)
        dist.append(best)
    return counts, bases, dist


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_oracle_matches_brute_force(seed):
    reads, targets = datagen.panel_tables(seed, TINY)
    s1, s2 = datagen.databio_tables(seed, TINY)
    for build, probe in ((targets, reads), (reads, targets), (s1, s2), (s2, s1)):
        counts, bases, dist = _brute(build, probe)
        assert oracle.overlap_counts(build, probe).tolist() == counts
        assert oracle.covered_bases(build, probe).tolist() == bases
        assert oracle.nearest_distances(build, probe).tolist() == dist
    assert oracle.pair_count(s1, s2) == sum(_brute(s1, s2)[0])
    assert -1 in oracle.nearest_distances(targets, reads)  # a contig without targets


def test_panel_shape():
    reads, targets = datagen.panel_tables(5, 400)
    assert len(reads) == datagen.PANEL_READS // 400
    assert np.all(reads.end - reads.start + 1 == datagen.READ_LEN)
    t_len = targets.end - targets.start + 1
    assert t_len.min() >= 100 and t_len.max() <= 400
    lens = datagen.contig_lengths(400)
    for iv in (reads, targets):
        assert np.all(iv.start >= 1) and np.all(iv.end <= lens[iv.contig])
    on_target = (oracle.overlap_counts(targets, reads) > 0).mean()
    assert datagen.ON_TARGET <= on_target < datagen.ON_TARGET + 0.1


def test_names_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for key, table in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        assert [(m["name"], m["unit"], m["better"]) for m in spec[key]] == list(table)
    assert set(run.layer_metrics(None, [], [])) == {name for name, _, _ in run.PER_LAYER}


def test_fails_without_the_package(tmp_path):
    shutil.copytree(ROOT / "benchmark", tmp_path / "benchmark")
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    out = subprocess.run(
        [sys.executable, *spec["command"][1:], "--workload", spec["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
