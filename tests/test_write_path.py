"""The medallion write path computes each thing once: TableStore reuses a
version's inferred schema, a checked runner model is computed once, a
run's audit rows land in one commit, and the streaming upsert writes
without a pre-write checkpoint. Each test pins that the shortcut changes
no committed row."""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from logistics_data_pipeline_project_spark.operators.merge import (
    dedup_latest,
    merge_upsert,
)
from logistics_data_pipeline_project_spark.plans import quality
from logistics_data_pipeline_project_spark.plans.materialize import TableStore
from logistics_data_pipeline_project_spark.plans.runner import (
    AUDIT_TABLE,
    DataQualityError,
    Model,
    ModelRunner,
)
from logistics_data_pipeline_project_spark.streaming.upsert import (
    stream_merge_upsert,
)


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _jobs_during(spark, fn):
    """(fn's result, number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_read_matches(spark, store, name):
    """A repeat read hits the schema cache (no Spark job) and equals a
    plain inferred read of the same directory."""
    store.read(name)
    cached, jobs = _jobs_during(spark, lambda: store.read(name))
    assert jobs == 0
    plain = spark.read.parquet(store.path(name))
    assert cached.schema == plain.schema
    assert _rows(cached) == _rows(plain)


def test_cached_read_matches_plain_read(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"), retain_versions=4)
    store.overwrite("t", spark.createDataFrame([(1, "a"), (2, None)], "k int, s string"))
    _assert_read_matches(spark, store, "t")
    v1 = store.current_version("t")

    # exact append: hardlinked files plus the new part files
    store.append("t", spark.createDataFrame([(3, "c")], "k int, s string"))
    _assert_read_matches(spark, store, "t")
    assert store.read("t").count() == 3

    # drifting append: a new column forces the unionByName rewrite
    store.append("t", spark.createDataFrame([(4, "d", 1.5)], "k int, s string, x double"))
    _assert_read_matches(spark, store, "t")
    assert store.read("t").columns == ["k", "s", "x"]

    store.rollback("t", v1)
    _assert_read_matches(spark, store, "t")
    assert store.read("t").columns == ["k", "s"]

    store.compact("t")
    _assert_read_matches(spark, store, "t")
    assert _rows(store.read("t")) == [(1, "a"), (2, None)]


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"))
    store.overwrite("t", spark.createDataFrame([(1, "a")], "k int, s string"))
    _assert_read_matches(spark, store, "t")
    shutil.rmtree(os.path.join(store.warehouse_dir, "t"))
    store.overwrite("t", spark.createDataFrame([(2.5, 7)], "s double, n long"))
    assert store.path("t").endswith("v_000001")
    got = store.read("t")
    assert [(f.name, f.dataType.simpleString()) for f in got.schema] == [
        ("s", "double"),
        ("n", "bigint"),
    ]
    assert _rows(got) == [(2.5, 7)]


def test_overwrite_of_a_legacy_table_may_read_it(spark, tmp_path):
    """A flat pre-versioning table can be merged into itself: the
    overwrite migrates the flat files only after its own write."""
    wh = tmp_path / "wh"
    spark.createDataFrame([(1,)], "id long").write.parquet(str(wh / "t"))
    store = TableStore(spark, str(wh))
    store.overwrite("t", store.read("t").union(spark.createDataFrame([(2,)], "id long")))
    assert store.versions("t") == [1, 2]
    assert _rows(store.read("t", version=1)) == [(1,)]
    assert _rows(store.read("t")) == [(1,), (2,)]


def test_gc_drops_cached_schemas_of_deleted_versions(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"), retain_versions=1)
    for i in range(3):
        store.overwrite("t", spark.range(i + 1))
        store.read("t")
    assert set(store._schemas) == {store.path("t")}


def test_checked_model_commits_the_rows_its_checks_saw(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"))
    runner = ModelRunner(spark, store)
    seen = {}
    # a Python uuid differs on every evaluation, so a second computation
    # of the model would commit rows the checks never saw
    py_uuid = F.udf(lambda: uuid.uuid4().hex, "string").asNondeterministic()

    def model(s, ref):
        return s.range(40).select(
            "id", F.expr("uuid()").alias("u"), py_uuid().alias("p")
        )

    def checks(df):
        seen["rows"] = _rows(df)
        n = quality.unique(df, ["u"])
        return [quality.CheckResult("unique_u", "t", n == 0, n)]

    runner.register(Model("t", model, checks=checks))
    runner.register(
        Model(
            "v",
            lambda s, ref: ref("t").filter("id < 10"),
            deps=("t",),
            materialization="view",
            checks=lambda df: [quality.CheckResult("rows", "v", df.count() == 10, 0)],
        )
    )
    runner.run()
    assert _rows(store.read("t")) == seen["rows"]
    # the checked view keeps its lineage and stays readable after run()
    assert spark.table("v").count() == 10


def test_run_commits_its_audit_rows_once(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"), retain_versions=10)
    runner = ModelRunner(spark, store, threads=2)
    runner.register(Model("a", lambda s, ref: s.range(3)))
    runner.register(Model("b", lambda s, ref: ref("a"), deps=("a",)))
    runner.register(Model("c", lambda s, ref: ref("a"), deps=("a",)))
    for _ in range(2):
        before = store.versions(AUDIT_TABLE)
        run_id = runner.run()
        after = store.versions(AUDIT_TABLE)
        assert len(after) == len(before) + 1
        rows = runner.audit_log().filter(F.col("run_id") == run_id).collect()
        assert sorted((r.job_name, r.status, r.rows_processed) for r in rows) == [
            ("a", "SUCCESS", 3),
            ("b", "SUCCESS", 3),
            ("c", "SUCCESS", 3),
        ]


def test_on_failure_reads_the_failed_row(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"))
    seen = []

    def on_failure(model, run_id, exc):
        log = store.read(AUDIT_TABLE).filter(F.col("run_id") == run_id)
        seen.append(sorted((r.job_name, r.status) for r in log.collect()))

    runner = ModelRunner(spark, store, on_failure=on_failure)
    runner.register(Model("ok", lambda s, ref: s.range(2)))
    runner.register(
        Model(
            "bad",
            lambda s, ref: ref("ok"),
            deps=("ok",),
            checks=lambda df: [quality.CheckResult("never", "bad", False, 1)],
        )
    )
    with pytest.raises(DataQualityError):
        runner.run()
    assert seen == [[("bad", "FAILED"), ("ok", "SUCCESS")]]
    assert not store.exists("bad")


SCHEMA = "k long, v string, ts timestamp, seq long"


def test_stream_upsert_without_checkpoint_equals_batch_merge(spark, tmp_path):
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    batches = [
        [(1, "a", "2024-01-01 00:00:00", 1), (2, "b", "2024-01-01 00:00:00", 2),
         (1, "a2", "2024-01-01 01:00:00", 3)],
        [(2, "b2", "2024-01-02 00:00:00", 4), (3, "c", "2024-01-02 00:00:00", 5)],
        [(1, "a3", "2024-01-03 00:00:00", 6), (4, "d", "2024-01-03 00:00:00", 7),
         (4, "d2", "2024-01-03 00:00:00", 8)],
    ]
    for i, rows in enumerate(batches):
        path = os.path.join(landing, f"b{i}.json")
        with open(path, "w") as f:
            for k, v, ts, seq in rows:
                f.write(json.dumps({"k": k, "v": v, "ts": ts, "seq": seq}) + "\n")
        # the file source orders a trigger's files by modification time
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

    store = TableStore(spark, str(tmp_path / "wh"), retain_versions=1)
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(landing)
    )
    q = stream_merge_upsert(
        stream, store, "t", keys=["k"], cursor_col="ts", tiebreak_col="seq",
        checkpoint_dir=str(tmp_path / "chk"),
    )
    try:
        q.awaitTermination(180)
    finally:
        if q.isActive:
            q.stop()
    assert q.exception() is None
    assert sum(1 for p in q.recentProgress if p.numInputRows) == 3
    assert len(store.versions("t")) == 1

    want = None
    for i in range(3):
        batch = spark.read.schema(SCHEMA).json(os.path.join(landing, f"b{i}.json"))
        latest = dedup_latest(batch, ["k"], [F.desc("ts"), F.desc("seq")])
        want = latest if want is None else merge_upsert(
            want, latest, ["k"],
            update_set={c: F.col(f"s.{c}") for c in latest.columns if c != "k"},
        )
    assert _rows(store.read("t")) == _rows(want)
