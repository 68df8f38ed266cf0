"""M6: committed-stage checkpoint + lineage + resume semantics.

Simulates the kill/resume scenario: a first run is interrupted after the
mentions stage committed (later stages' manifests removed = never written);
the restarted run must skip every committed stage (build functions not
re-invoked — observed via unchanged manifests) and produce the identical
final triple set."""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pytest

from ai_knowledge_graph_builder_spark.plans.checkpoint import (
    COMMIT_FILE,
    read_manifest,
    run_stage,
)
from ai_knowledge_graph_builder_spark.plans.pipeline import run_kg_pipeline_checkpointed


@pytest.fixture()
def spark_dfs(spark, corpus):
    return {k: spark.createDataFrame(corpus[k]) for k in
            ["pages", "doc_meta", "registry", "employees", "assignments", "policies"]}


def _run(spark, dfs, base):
    return run_kg_pipeline_checkpointed(
        spark, str(base), dfs["pages"], dfs["registry"], corpus_fingerprint="test-v1",
        doc_meta=dfs["doc_meta"], employees=dfs["employees"],
        assignments=dfs["assignments"], policies=dfs["policies"],
    )


def test_graph_is_planned_once(spark, spark_dfs, tmp_path, monkeypatch):
    """``nodes`` and ``edges`` share one graph plan; a resumed run plans none."""
    from ai_knowledge_graph_builder_spark.plans import pipeline

    calls = []
    real = pipeline._assemble_graph

    def counted(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(pipeline, "_assemble_graph", counted)
    _, resumed = _run(spark, spark_dfs, tmp_path)
    assert not any(resumed.values()) and len(calls) == 1
    _, resumed = _run(spark, spark_dfs, tmp_path)
    assert all(resumed.values()) and len(calls) == 1


def test_stage_commit_and_skip(spark, tmp_path):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10).withColumnRenamed("id", "k")

    d = tmp_path / "stage"
    df1, resumed1 = run_stage(spark, d, "s1", "fp-a", build, key_col="k")
    assert not resumed1 and calls["n"] == 1 and df1.count() == 10
    df2, resumed2 = run_stage(spark, d, "s1", "fp-a", build, key_col="k")
    assert resumed2 and calls["n"] == 1 and df2.count() == 10
    # input changed → rebuild
    _, resumed3 = run_stage(spark, d, "s1", "fp-b", build, key_col="k")
    assert not resumed3 and calls["n"] == 2

    m = read_manifest(d)
    assert m["row_count"] == 10
    assert all({"split", "row_count", "checksum"} <= set(r) for r in m["lineage"])


def test_kill_resume_identical_triples(spark, spark_dfs, tmp_path):
    full = tmp_path / "full"
    out_full, resumed_full = _run(spark, spark_dfs, full)
    assert not any(resumed_full.values())
    want = {tuple(r) for r in out_full["triples"].collect()}

    # "killed" run: copy only the stages that had committed before the kill
    killed = tmp_path / "killed"
    killed.mkdir()
    for stage in ["documents", "mentions_raw", "mentions"]:
        shutil.copytree(full / stage, killed / stage)

    out2, resumed2 = _run(spark, spark_dfs, killed)
    assert resumed2["documents"] and resumed2["mentions_raw"] and resumed2["mentions"]
    assert not resumed2["edges"] and not resumed2["triples"]
    got = {tuple(r) for r in out2["triples"].collect()}
    assert got == want

    # committed manifests untouched by the resume (not rebuilt)
    m1 = json.loads((full / "mentions" / COMMIT_FILE).read_text())
    m2 = json.loads((killed / "mentions" / COMMIT_FILE).read_text())
    assert m1["lineage"] == m2["lineage"] and m1["committed_at"] == m2["committed_at"]


def test_checkpointed_matches_in_memory(spark, spark_dfs, corpus, tmp_path):
    """The committed-stage plan and the lazy in-memory plan agree with the
    pandas oracle triple set."""
    from ai_knowledge_graph_builder_spark.functions.ner import RuleNER
    from ai_knowledge_graph_builder_spark.plans.oracle import run_oracle

    out, _ = _run(spark, spark_dfs, tmp_path / "ck")
    got = {(r["subject_name"], r["predicate"], r["object_name"])
           for r in out["triples"].collect()}
    want = {(r["subject_name"], r["predicate"], r["object_name"])
            for r in run_oracle(corpus, RuleNER())["triples"].to_dict("records")}
    assert got == want


def test_integrity_check_detects_corruption(spark, tmp_path):
    from ai_knowledge_graph_builder_spark.plans.checkpoint import verify_stage_integrity

    d = tmp_path / "s"
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(1000).withColumnRenamed("id", "k")

    run_stage(spark, d, "s", "fp", build, key_col="k")
    assert verify_stage_integrity(spark, d)

    # corrupt: drop one data file (simulates partial loss after commit)
    victim = sorted(d.glob("*.parquet"))[0]
    victim.unlink()
    assert not verify_stage_integrity(spark, d)

    # plain resume would trust the snapshot; verify_integrity rebuilds
    _, resumed = run_stage(spark, d, "s", "fp", build, key_col="k")
    assert resumed and calls["n"] == 1
    df, resumed2 = run_stage(spark, d, "s", "fp", build, key_col="k", verify_integrity=True)
    assert not resumed2 and calls["n"] == 2 and df.count() == 1000
    assert verify_stage_integrity(spark, d)


@pytest.fixture(scope="module")
def committed(spark, corpus, tmp_path_factory):
    """One full checkpointed build, shared by the manifest and resume tests."""
    dfs = {k: spark.createDataFrame(corpus[k]) for k in
           ["pages", "doc_meta", "registry", "employees", "assignments", "policies", "emails"]}
    base = tmp_path_factory.mktemp("committed")
    out, resumed = run_kg_pipeline_checkpointed(
        spark, str(base), dfs["pages"], dfs["registry"], corpus_fingerprint="test-v1",
        doc_meta=dfs["doc_meta"], employees=dfs["employees"], assignments=dfs["assignments"],
        policies=dfs["policies"], emails=dfs["emails"],
    )
    assert not any(resumed.values())
    return dfs, base, sorted(resumed)


def test_manifest_schema_is_the_readback_schema(spark, committed):
    """Each stage's stored schema equals what a schemaless read infers, so
    reading with it changes nothing but the skipped inference job."""
    from pyspark.sql.types import MapType, StructType

    _, base, stages = committed
    assert {"edges", "triples", "nodes"} <= set(stages)
    map_cols = 0
    for stage in stages:
        stored = StructType.fromJson(read_manifest(base / stage)["schema"])
        assert stored == spark.read.parquet(str(base / stage)).schema, stage
        map_cols += sum(isinstance(f.dataType, MapType) for f in stored.fields)
    assert map_cols >= 2  # the props columns of nodes and edges
    for stage in ("edges", "triples"):  # partitionBy(predicate): read back last
        fields = read_manifest(base / stage)["schema"]["fields"]
        assert fields[-1]["name"] == "predicate"


def test_partitioned_stages_write_one_file_per_value(committed):
    _, base, _ = committed
    for stage in ("edges", "triples"):
        dirs = sorted((base / stage).glob("predicate=*"))
        assert len(dirs) >= 5, stage
        for d in dirs:
            assert len(list(d.glob("*.parquet"))) == 1, d


def test_manifest_records_build_time_and_bytes(committed):
    _, base, stages = committed
    for stage in stages:
        m = read_manifest(base / stage)
        assert m["bytes"] == sum(r["byte_size"] for r in m["lineage"]) > 0
        assert m["build_s"] > 0


def test_committed_resume_launches_at_most_two_jobs(spark, committed):
    """Fingerprints take one aggregation; reads carry their schema and the
    integrity check reads footers in Python, so no other job runs before
    the caller's first action."""
    import uuid

    dfs, base, _ = committed
    sc = spark.sparkContext
    group = f"resume-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out, resumed = run_kg_pipeline_checkpointed(
            spark, str(base), dfs["pages"], dfs["registry"], corpus_fingerprint="test-v1",
            doc_meta=dfs["doc_meta"], employees=dfs["employees"], assignments=dfs["assignments"],
            policies=dfs["policies"], emails=dfs["emails"], verify_integrity=True,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    assert all(resumed.values())
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
    assert out["triples"].count() > 0


def test_batched_fingerprints_equal_per_table_query(spark, corpus):
    from pyspark.sql import functions as F

    from ai_knowledge_graph_builder_spark.plans.checkpoint import table_fingerprints

    def one(df):
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(F.to_json(F.struct(*sorted(df.columns))))).alias("h"),
        ).first()
        return f"{row['n']}:{row['h']}"

    registry = spark.createDataFrame(corpus["registry"])
    props = spark.createDataFrame([("a", {"k": "v"}), ("b", {})], "id string, props map<string,string>")
    empty = registry.limit(0)
    got = table_fingerprints({"registry": registry, "props": props, "empty": empty, "missing": None})
    assert got == {"registry": one(registry), "props": one(props), "empty": one(empty),
                   "missing": "none"}
    assert got["empty"] == "0:None" and not got["registry"].startswith("0:")
