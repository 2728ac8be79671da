"""SparkSession factory tuned for the engine.

Scale notes (100 TB target):
- AQE on: runtime coalescing, skew-join splitting (hot H3 cells in dense
  urban tiles get split automatically; we additionally salt known-hot cells,
  see operators/spatial.py).
- Arrow on: every geometry/text UDF in this package is an Arrow-batched
  pandas UDF / mapInPandas — never row-at-a-time Python.
- shuffle.partitions is a local-mode default; on a real cluster this is
  overridden by spark-submit conf (AQE coalescing makes the initial number
  less critical).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_dir() -> str:
    """Scratch dir for shuffle files / spill / checkpoint blocks.

    Default is DISK (/tmp): on this host, RAM is the scarce resource — the
    hypervisor overcommits it, and first-touch page faults intermittently
    crawl at 0.01-0.08 GB/s (measured on an idle box; nominal is >1 GB/s).
    A tmpfs scratch dir pins exactly the kind of fresh pages that trigger
    that reclaim, so shuffle-on-tmpfs makes the whole job hostage to host
    memory pressure; disk page cache is reclaimable.  Set
    ``SPARK_GRAFT_LOCAL_DIR=/dev/shm/spark-scratch`` only when the block
    device itself is the throttled resource (also observed on this host,
    as low as ~20 MB/s writes).
    """
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override:
        os.makedirs(override, exist_ok=True)
        return override
    return "/tmp"


def build_session(
    app_name: str = "netascore_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    # executor python workers must be able to import this package: in
    # local-cluster / standalone mode they run in separate JVM work dirs
    # (a real deployment ships a wheel via --py-files; here PYTHONPATH)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    exec_pythonpath = ":".join(
        p for p in [repo_root, os.environ.get("PYTHONPATH", "")] if p
    )
    raw_width = shuffle_partitions or os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
    )
    # reject here, not mid-job: a zero width fails the first shuffle, and
    # "auto" is no Spark value for this conf
    try:
        shuffle_partitions = int(raw_width)
    except ValueError:
        shuffle_partitions = 0
    if shuffle_partitions < 1:
        raise ValueError(
            "SPARK_GRAFT_SHUFFLE_PARTITIONS (or shuffle_partitions) must be a "
            f"positive integer, got {raw_width!r}"
        )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-plan the output partitioning of persisted plans: a
        # cached table otherwise pins its pre-AQE shuffle layout, so every
        # downstream pandas-UDF pass over a small cache pays full
        # shuffle.partitions x per-task Python overhead (size-based
        # coalescing keeps big caches many-partitioned at scale)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # SIZE-based shuffle coalescing (not parallelism-first): tiny
        # shuffles collapse to one task instead of shuffle.partitions
        # Python-UDF launches; big shuffles keep 16 MB partitions.
        # (parallelism-first was tried in round 4 and REVERTED: it removes
        # the byte cap, so a multi-GB url-join shuffle coalesced to
        # total/parallelism ≈ 500 MB partitions and spilled — pages stage
        # 47.8 s -> 86.6 s at 8 cores.  The one place size-based coalescing
        # under-provisions — a small shuffle INPUT fanning out 30x in the
        # kNN cell join — is pinned locally with an explicit repartition in
        # pipeline/pages.nearest_edges instead.)
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.local.dir", _local_dir())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.executorEnv.PYTHONPATH", exec_pythonpath)
    )
    # Python-worker allocators must RETAIN freed memory: Arrow batches and
    # numpy temporaries are multi-MB blocks that glibc would otherwise
    # mmap/munmap per batch, so every batch re-faults fresh pages — on a
    # memory-overcommitted host those faults stall 30-100x (measured), and
    # the python-heavy stages degrade while pure-JVM stages stay nominal.
    # Raising the mmap/trim thresholds keeps the blocks in the arena
    # (faulted once, reused forever); the "system" Arrow pool routes Arrow
    # allocations through that same retained arena instead of jemalloc's
    # aggressively-returned pages.  Real clusters set exactly these knobs
    # on memory-dense executor nodes.
    for env_k, env_v in (
        ("MALLOC_MMAP_THRESHOLD_", "268435456"),
        ("MALLOC_TRIM_THRESHOLD_", "268435456"),
        ("ARROW_DEFAULT_MEMORY_POOL", "system"),
    ):
        b = b.config(f"spark.executorEnv.{env_k}", env_v)
        os.environ.setdefault(env_k, env_v)
    # The JVM-side twin of the malloc knobs above: G1 UNCOMMITS free heap
    # regions after a concurrent cycle / full GC (Min/MaxHeapFreeRatio), so
    # a stage running after a bigger predecessor re-faults the returned
    # pages — on this memory-overcommitted host those first-touch faults
    # stall 30-100x, and the A/B on the bench pipeline measured the pages
    # extract stage at 22.4 s baseline vs 13.5 s with shrink disabled
    # (stage executorRunTime 632 s -> 390 s, jvmGcTime 159 s -> 30 s;
    # network/attributes unchanged).  MaxHeapFreeRatio=100 = "never shrink
    # below -Xmx once grown": pages are faulted once and reused.  On
    # memory-dense cluster executors the equivalent practice is
    # -Xms=-Xmx (+AlwaysPreTouch); that variant measured even faster on
    # the later stages here (extract 8.4 s) but pushed the fault-in cost
    # into the first heavy stage, so the growth-retention form is the
    # default.  Applied to executors too for local-cluster / standalone
    # runs.  A value for either key in extra_conf is kept: the flag goes in
    # front of it, so the user's options survive and, the JVM taking the
    # last occurrence of a flag, a user MaxHeapFreeRatio still wins.
    extra_conf = dict(extra_conf or {})
    for jvm_k in ("spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions"):
        user_opts = extra_conf.pop(jvm_k, "")
        b = b.config(jvm_k, f"-XX:MaxHeapFreeRatio=100 {user_opts}".strip())
    for k, v in extra_conf.items():
        b = b.config(k, v)
    return b.getOrCreate()
