"""Stage-level timeline of the network build from the Spark event log.

Usage: python tools/profile_stages.py [cpus] [scale] [job]
  job: "network" (default) or "pages" (bench.py's run_pages path,
  [scale] then reads as n_pages, e.g. 2400000)

Runs the job exactly as bench.py does (cached parquet fixture,
localCheckpoint'ed outputs) with the event log enabled, then prints every
stage's wall window, task count and task-time sum — the data needed to
attribute Amdahl serial residue to specific stages (1-2 task stages, gaps
between stages = driver planning).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    cpus = sys.argv[1] if len(sys.argv) > 1 else "2"
    scale = int(sys.argv[2]) if len(sys.argv) > 2 else 56
    job = sys.argv[3] if len(sys.argv) > 3 else "network"

    evdir = "/tmp/spark_events_profile"
    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir, exist_ok=True)

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    from netascore_spark.session import build_session
    from netascore_spark.pipeline import network as N

    spark = build_session(
        app_name="profile-stages",
        master=f"local[{cpus}]",
        shuffle_partitions=64,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            # mirror bench.py's scan parallelism
            "spark.sql.files.maxPartitionBytes": str(16 << 20),
            "spark.sql.files.openCostInBytes": str(1 << 20),
            # A/B knob: SPARK_GRAFT_AQE=0 disables adaptive execution to
            # measure the per-shuffle-stage barrier + driver replanning cost
            # on pipelines whose widths/strategies are already explicitly
            # pinned (pages kNN/PIP)
            "spark.sql.adaptive.enabled": os.environ.get("SPARK_GRAFT_AQE", "1")
            .replace("0", "false").replace("1", "true"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # same input path as bench.py: cached fixture parquet
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    fixcache = bench.fixture_cache_dir()
    osm_scale = 56 if job == "pages" else scale
    path = os.path.join(fixcache, f"osm_scale{osm_scale}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        osm = spark.read.parquet(path)
        if osm.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
            osm = osm.repartition(spark.sparkContext.defaultParallelism)
    else:
        from netascore_spark.sources import fixtures

        osm = fixtures.osm_lines(spark, scale=osm_scale)

    if job == "pages":
        from pyspark.sql import functions as F

        from netascore_spark.pipeline import pages as PG
        from netascore_spark.sources import fixtures

        e, _ = N.build_network(osm)
        edges = e.localCheckpoint()
        edges.count()
        n_pages = scale if scale > 1000 else 2_400_000
        pg_raw = spark.read.parquet(os.path.join(fixcache, f"pages_{n_pages}"))
        pg_raw.count()
        t0 = time.time()
        pg = (
            PG.extract_pages(pg_raw)
            .withColumn("__ok", F.col("extracted_text").eqNullSafe(F.col("text")))
            .select("url", "warc_ts", "lang", "x", "y", "cell", "__ok")
            .persist()
        )
        assert pg.filter(~F.col("__ok")).count() == 0
        pip = PG.join_polygons(pg, fixtures.admin_polygons(spark))
        n_pip = pip.count()
        nn = PG.nearest_edges(pg, edges, k=1, radius=500.0, carry=("lang",))
        agg = PG.page_edge_attributes(nn, pg)
        n_agg = agg.count()
        pg.unpersist()
        wall = time.time() - t0
        print(f"pages wall: {wall:.1f}s pip={n_pip} agg={n_agg}", flush=True)
    else:
        t0 = time.time()
        e, n = N.build_network(osm)
        e = e.localCheckpoint()
        n = n.localCheckpoint()
        ne = e.count()
        wall = time.time() - t0
        print(f"network_build wall: {wall:.1f}s edges={ne}", flush=True)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    app_id = spark.sparkContext.applicationId
    spark.stop()

    # parse the event log (Spark 4 writes rolling dirs: eventlog_v2_<app>/
    # events_*.zstd)
    import glob
    import subprocess

    def iter_lines():
        ev = os.path.join(evdir, app_id)
        if os.path.isfile(ev):
            yield from open(ev)
            return
        for f in sorted(glob.glob(os.path.join(evdir, f"*{app_id}*", "events*"))):
            if f.endswith(".zstd"):
                out = subprocess.run(
                    ["zstd", "-d", "-c", f], capture_output=True, text=True
                ).stdout
                yield from out.splitlines()
            else:
                yield from open(f)

    stages = []
    for line in iter_lines():
        try:
            rec = json.loads(line)
        except json.JSONDecodeError:
            continue
        if rec.get("Event") == "SparkListenerStageCompleted":
            si = rec["Stage Info"]
            sub = si.get("Submission Time")
            com = si.get("Completion Time")
            if sub is None or com is None:
                continue
            stages.append(
                {
                    "id": si["Stage ID"],
                    "name": si["Stage Name"].split("\n")[0][:60],
                    "tasks": si["Number of Tasks"],
                    "t0": sub / 1000.0,
                    "t1": com / 1000.0,
                    "sec": round((com - sub) / 1000.0, 2),
                }
            )
    # drop setup stages (network build / cache warm) that precede the
    # measured window in pages mode
    stages = [s for s in stages if s["t1"] >= t0]
    stages.sort(key=lambda s: s["t0"])
    if not stages:
        print("no stages parsed")
        return
    base = stages[0]["t0"]
    prev_end = stages[0]["t0"]
    gap_total = 0.0
    narrow_total = 0.0
    print(f"{'id':>4} {'start':>7} {'end':>7} {'sec':>7} {'gap':>6} {'tasks':>5}  name")
    for s in stages:
        gap = s["t0"] - prev_end
        if gap > 0:
            gap_total += gap
        prev_end = max(prev_end, s["t1"])
        if s["tasks"] <= 2:
            narrow_total += s["sec"]
        print(
            f"{s['id']:>4} {s['t0']-base:>7.1f} {s['t1']-base:>7.1f} "
            f"{s['sec']:>7.2f} {max(gap,0):>6.2f} {s['tasks']:>5}  {s['name']}"
        )
    span = prev_end - base
    print(
        json.dumps(
            {
                "cpus": cpus,
                "scale": scale,
                "wall_s": round(wall, 1),
                "stage_span_s": round(span, 1),
                "inter_stage_gap_s": round(gap_total, 1),
                "narrow_stage_s": round(narrow_total, 1),
                "n_stages": len(stages),
            }
        )
    )


if __name__ == "__main__":
    main()
