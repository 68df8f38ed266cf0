"""The thread-scaling probe: its least-squares fit, its valid and invalid
results, and one probe run in a fresh process started outside the repo."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from ai_knowledge_graph_builder_spark import bench_scaling as bs
from ai_knowledge_graph_builder_spark.driver_queries import FLAGSHIP_REGISTRY


@pytest.fixture()
def sf_dir(tmp_path):
    """A 20-document corpus in the sf layout, every text naming registry
    entities so the probe's linking has mentions to resolve."""
    names = [name for _eid, _type, name in FLAGSHIP_REGISTRY]
    docs = pd.DataFrame({
        "doc_id": range(20),
        "text": [f"doc {i} " + " ".join(names[i % 5:i % 5 + 4]) for i in range(20)],
    })
    d = tmp_path / "sf"
    d.mkdir()
    docs.to_parquet(d / "documents.parquet")
    return str(d)


def test_fit_recovers_exact_line():
    # T = 12 + docs / 2500
    fixed, rate = bs.fit_rate([(d, 12.0 + d / 2500) for d in (2_000, 8_000, 16_000)])
    assert fixed == pytest.approx(12.0)
    assert rate == pytest.approx(2500.0)


@pytest.mark.parametrize("secs", [(20.0, 20.0, 20.0), (30.0, 25.0, 18.0), (20.0, 31.0, 19.0)])
def test_fit_rejects_non_increasing_series(secs):
    assert bs.fit_rate(list(zip((2_000, 8_000, 16_000), secs))) is None


def test_guarded_run_never_publishes_a_dirty_try_over_a_clean_one(monkeypatch):
    """A fast try under heavy steal, then slower clean tries: the published
    point is a clean one, with its own steal fraction."""
    tries = iter([(1.0, 0.5), (2.0, 0.0), (2.1, 0.0), (2.2, 0.0), (2.3, 0.0)])
    ticks = [0, 0]  # (steal, total), as /proc/stat counts them

    def fake_fn():
        sec, frac = next(tries)
        ticks[0] += int(1000 * frac)
        ticks[1] += 1000
        return sec

    monkeypatch.setattr(bs, "_steal_snapshot", lambda: tuple(ticks))
    monkeypatch.setattr(bs.time, "sleep", lambda s: None)
    sec, frac = bs._guarded_run(fake_fn)
    assert (sec, frac) == (2.0, 0.0)


@pytest.mark.parametrize("inverted", [False, True])
def test_run_reports_efficiency_or_invalid(monkeypatch, sf_dir, inverted):
    """Fake probe timings through ``run_thread_scaling``: a linear series
    gives a finite efficiency, a noise-inverted one an explicit invalid."""

    def fake_probe(cpus, reps, sf_dir):
        return 10.0 - reps if inverted else 10.0 + reps / cpus

    monkeypatch.setattr(bs, "probe_once", fake_probe)
    monkeypatch.setattr(bs, "_guarded_run", lambda fn: (fn(), 0.0))
    res = bs.run_thread_scaling(sf_dir)
    n = max(1, len(os.sched_getaffinity(0)) // 4)
    assert res["nproc"] == len(os.sched_getaffinity(0))
    assert f"cores_{n}" in res
    if inverted:
        assert res["value"] is None and "invalid" in res
    else:
        assert res["value"] == pytest.approx(1.0) and "invalid" not in res


def test_probe_runs_from_any_directory(tmp_path, monkeypatch, sf_dir):
    """local[1], one replica: the child finds the package without the
    caller's working directory or PYTHONPATH, and leaves no scratch."""
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.setenv("TMPDIR", str(scratch))
    assert bs.probe_once(1, 1, sf_dir) > 0
    assert not list(scratch.glob("kg-probe-*"))
