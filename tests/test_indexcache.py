"""A query's build() is the one declaration of the serving indexes it
reads: `index_path` records every kind it actually builds, and a bench
child fails if that record is non-empty after its timed reps."""

from __future__ import annotations

import json

import pytest

import bench
from aws_data_pipeline_ads_spark.queries import REGISTRY, indexcache


@pytest.fixture
def fresh_cache(monkeypatch):
    monkeypatch.setattr(indexcache, "_MEMO", {})
    monkeypatch.setattr(indexcache, "BUILT", [])


def test_index_path_records_only_real_builds(fresh_cache, monkeypatch, tmp_path):
    calls: list[str] = []
    monkeypatch.setenv("SPARK_GRAFT_IDX_ROOT", str(tmp_path))
    path = indexcache.index_path("k", "/data/sf1", calls.append)
    assert indexcache.BUILT == ["k"] and calls == [path]

    # served from the per-process memo: nothing built, nothing recorded
    assert indexcache.index_path("k", "/data/sf1", calls.append) == path
    # served from the on-disk _BUILT marker (a fresh process's view)
    indexcache._MEMO.clear()
    assert indexcache.index_path("k", "/data/sf1", calls.append) == path
    assert indexcache.BUILT == ["k"] and calls == [path]

    # the per-process tmpdir mode records its one build the same way
    monkeypatch.delenv("SPARK_GRAFT_IDX_ROOT")
    indexcache.index_path("k", "/data/sf2", calls.append)
    indexcache.index_path("k", "/data/sf2", calls.append)
    assert indexcache.BUILT == ["k", "k"] and len(calls) == 2


def test_bench_child_fails_on_index_built_while_timed(
        spark, sf_dir, fresh_cache, monkeypatch, tmp_path, capsys):
    name = "q_lake_pruned_scan"
    monkeypatch.setenv("SPARK_GRAFT_IDX_ROOT", str(tmp_path / "cold"))
    with pytest.raises(RuntimeError, match=rf"{name}.*'lakescan'"):
        bench.child(name, sf_dir)

    # a fresh index root, built by one untimed build(): the child serves
    monkeypatch.setenv("SPARK_GRAFT_IDX_ROOT", str(tmp_path / "warm"))
    indexcache._MEMO.clear()
    REGISTRY[name].build(spark, sf_dir)
    assert "lakescan" in indexcache.BUILT
    indexcache._MEMO.clear()  # serve from the marker, as a child JVM does
    capsys.readouterr()
    bench.child(name, sf_dir)
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec["name"] == name and len(rec["reps"]) >= bench._STEADY_REPS
