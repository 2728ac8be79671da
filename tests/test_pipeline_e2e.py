"""Full-pipeline orchestration: checkpoints, resume, export, audit."""

import json
import os

import pytest

from pyspark.sql import functions as F

from netascore_spark.pipeline.checkpoint import Checkpointer
from netascore_spark.pipeline.export import null_column_audit, run_pipeline
from netascore_spark.plans.profile import Profile
from netascore_spark.sources import fixtures


def test_run_pipeline_with_checkpoints(spark, tmp_path):
    osm = fixtures.osm_lines(spark, scale=1)
    layers = {
        "facility": fixtures.layer_points(spark, "facility"),
        "building": fixtures.layer_polygons(spark, "building"),
        "dem": fixtures.dem_grid(spark),
    }
    profiles = [Profile.from_yaml("profiles/profile_bike.yml", "bike")]
    ckdir = str(tmp_path / "snapshots")
    out = run_pipeline(spark, osm, layers, profiles, checkpoint_dir=ckdir)

    n_edges = out["export_edge"].count()
    assert n_edges > 0
    assert out["export_node"].count() > 0
    assert "index_bike_ft" in out["network_edge_index"].columns
    # the CLI's run_pipeline path numbers edges and nodes with assign_ids
    for table, id_col in (("network_edge", "edge_id"), ("network_node", "node_id")):
        df = out[table]
        assert df.select(id_col).distinct().count() == df.count()

    # manifest entries record per-partition rows
    ck = Checkpointer(spark, ckdir)
    meta = ck.lineage("network_edge")
    assert meta["rows"] == n_edges
    assert sum(meta["partition_rows"]) == meta["rows"]
    assert meta["upstream"] == ["osm_line"]

    # resume: second run must reuse snapshots (no new version committed)
    assert [s["version"] for s in ck.snapshots("network_edge")] == [1]
    out2 = run_pipeline(spark, osm, layers, profiles, checkpoint_dir=ckdir)
    assert [s["version"] for s in ck.snapshots("network_edge")] == [1]
    assert out2["export_edge"].count() == n_edges


def test_checkpoint_abort_mode(spark, tmp_path):
    ck = Checkpointer(spark, str(tmp_path), on_existing="abort")
    df = spark.range(5)
    ck.materialize(df, "t")
    with pytest.raises(RuntimeError, match="abort"):
        ck.materialize(df, "t")


def test_checkpoint_time_travel(spark, tmp_path):
    """on_existing=delete commits NEW versions; old snapshots stay readable
    by version and by as_of epoch; expire_snapshots prunes them."""
    ck = Checkpointer(spark, str(tmp_path), on_existing="delete")
    ck.materialize(spark.range(3), "t")
    epoch_v1 = ck.snapshots("t")[-1]["committed_at_epoch"]
    ck.materialize(spark.range(7), "t")

    assert [s["version"] for s in ck.snapshots("t")] == [1, 2]
    assert ck.read("t").count() == 7            # current
    assert ck.read("t", version=1).count() == 3  # explicit version
    assert ck.read("t", as_of=epoch_v1).count() == 3  # time travel
    assert ck.lineage("t")["version"] == 2

    dropped = ck.expire_snapshots("t", keep_last=1)
    assert dropped == [1]
    assert ck.read("t").count() == 7
    with pytest.raises(RuntimeError, match="does not exist"):
        ck.read("t", version=1)


def test_checkpoint_runs_no_job_after_write(spark, tmp_path):
    """A commit is the write job and nothing else: row counts come from the
    footers just written, and the returned reader needs no schema job."""
    sc = spark.sparkContext
    df = spark.range(0, 1000, numPartitions=3).withColumn("k", F.col("id") % 7)
    try:
        sc.setJobGroup("ckpt_commit", "materialize")
        Checkpointer(spark, str(tmp_path / "ck")).materialize(df, "t")
        sc.setJobGroup("ckpt_plain", "plain write")
        df.write.parquet(str(tmp_path / "plain"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    commit = tracker.getJobIdsForGroup("ckpt_commit")
    plain = tracker.getJobIdsForGroup("ckpt_plain")
    assert plain and len(commit) == len(plain)

    meta = Checkpointer(spark, str(tmp_path / "ck")).lineage("t")
    assert meta["rows"] == 1000 == sum(meta["partition_rows"])
    assert meta["partitions"] == 3


def test_checkpoint_empty_frame(spark, tmp_path):
    ck = Checkpointer(spark, str(tmp_path))
    out = ck.materialize(spark.range(10).where("id < 0"), "t")
    assert out.count() == 0
    meta = ck.lineage("t")
    assert meta["rows"] == 0 == sum(meta["partition_rows"])
    assert meta["max_partition_skew"] is None
    assert not os.path.exists(os.path.join(str(tmp_path), "_lineage", "t.json"))


def test_null_column_audit(spark):
    df = spark.createDataFrame(
        [(1, None, "a"), (2, None, None)], "id long, dead string, half string"
    )
    assert null_column_audit(df) == ["dead"]


def test_checkpoint_iceberg_backend_selection_is_config_only(spark, tmp_path):
    """Backend choice follows spark.sql.catalog.* configuration — no code
    change for users with a real catalog; no catalog -> parquet emulation.
    (The container has no Iceberg runtime, so only selection + fallback are
    exercised here; the write path maps 1:1 onto writeTo().createOrReplace.)
    """
    base = str(tmp_path)
    assert Checkpointer(spark, base).backend == "parquet"

    spark.conf.set("spark.sql.catalog.lake", "org.apache.iceberg.spark.SparkCatalog")
    try:
        ck = Checkpointer(spark, base)
        assert ck.backend == "iceberg" and ck.catalog == "lake"
        # explicit overrides
        assert Checkpointer(spark, base, catalog=None).backend == "parquet"
        assert Checkpointer(spark, base, catalog="other").catalog == "other"
        # without the Iceberg runtime the write degrades to the parquet
        # emulation with a warning instead of aborting the pipeline
        import warnings

        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            out = ck.materialize(spark.range(4), "t")
        assert out.count() == 4
        assert ck.backend == "parquet"
        assert any("falling back" in str(x.message) for x in w)
        assert ck.read("t").count() == 4
    finally:
        spark.conf.unset("spark.sql.catalog.lake")


def test_checkpoint_ignores_non_iceberg_catalog(spark, tmp_path):
    """Auto-detection only picks catalogs whose class is an Iceberg one: a
    JDBC (or Delta session) catalog cannot hold the snapshots."""
    spark.conf.set(
        "spark.sql.catalog.jdbc_tmp",
        "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog",
    )
    try:
        assert Checkpointer(spark, str(tmp_path)).backend == "parquet"
    finally:
        spark.conf.unset("spark.sql.catalog.jdbc_tmp")
