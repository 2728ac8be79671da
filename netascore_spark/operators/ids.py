"""Deterministic, scalable global id assignment (W1-W4 in SURVEY §2.5).

The reference assigns identity with ``row_number() OVER (ORDER BY ...)``
(osm_network.sql.j2:133,268,312,342).  A naive Spark ``Window.orderBy``
without partitioning funnels everything through ONE task, so
``assign_ids`` is the package's only id path, at every input size.

It is one lazy plan over one persisted range partition (no collect, no
Python): range-repartition by the order key and persist that exchange,
sort within partitions, read (partition id, local index) off
``monotonically_increasing_id`` (pid in the upper bits, the within-
partition row index in the lower 33 — deterministic once partitioning and
intra-partition order are pinned, which the persisted range exchange +
sort do), aggregate per-partition counts on a second branch over the SAME
persisted partition, turn them into cumulative offsets with a tiny
single-partition window (one row per partition), and broadcast-join the
offsets back: ``id = offset[pid] + local``.  The persist is what makes
both branches read one set of range boundaries (see the comment in
``assign_ids``); it is registered with ``pipeline.cache``.

Identical to a global row_number as long as the order key is a total order
(ties across partition boundaries would otherwise make ids depend on range
sampling); callers must pass a tie-free key, matching the SURVEY W3 note
that edge identity needs a defined total order (osm_id, seg_seq).

No driver barrier: the network build calls this twice (edges, nodes), and
a lazy composition lets the caller pay one materialization for the whole
finalize stage.  Raw ``monotonically_increasing_id`` alone would be
partitioning-dependent and non-reproducible; here it is only a
(pid, local_index) reader over an explicitly pinned partitioning + order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# monotonically_increasing_id packs the within-partition row index into the
# low 33 bits (partition id above them)
_MONO_LOCAL_BITS = 33
_MONO_LOCAL_MASK = (1 << _MONO_LOCAL_BITS) - 1


def assign_ids(
    df: DataFrame,
    order_cols: list[str],
    id_col: str = "id",
    start: int = 1,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``id_col`` = deterministic 1-based rank of ``order_cols``."""
    cols = [F.col(c) for c in order_cols]
    if not num_partitions:
        # explicit width: without it AQE coalesces the range exchange by
        # BYTES, and the per-partition sort + id pass lands on 1-2 tasks
        # for slim-row tables regardless of core count
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    base = df.repartitionByRange(num_partitions, *cols)
    # CORRECTNESS (found round 6): the counts branch and the id branch MUST
    # read the SAME physical range exchange.  Without a pin, column pruning
    # rewrites the counts branch's subtree (it needs only the order cols),
    # the two exchanges no longer canonicalize equal, ReusedExchange does
    # NOT fire, and each exchange instance SAMPLES ITS OWN range boundaries
    # — rows then land in different partitions in the two branches, the
    # offsets misalign, and ids silently duplicate (measured at the 400k-
    # edge bench scale: 400,566 edge rows / 388,288 distinct edge_ids, and
    # the duplication count varied run to run with the sampling).  The
    # persist pins ONE InMemoryRelation — both subplans share one physical
    # exchange, one partitioner, one set of shuffle files; the plan is
    # still a single lazy action (cache fills on first materialization).
    # MEMORY_AND_DISK (the default), registered with the pipeline cache
    # registry so orchestrators can release it after materialization.
    from netascore_spark.pipeline import cache as _cache

    base = _cache.track(base.persist())
    # counts branch: no sort needed (a partition's size is order-free); the
    # nondeterministic spark_partition_id is projected before the groupBy
    # (grouping directly on a nondeterministic expression is rejected)
    counts = (
        base.select(F.spark_partition_id().alias("__pid"))
        .groupBy("__pid")
        .agg(F.count("*").alias("__cnt"))
    )
    # one row per partition: the global window is a single tiny task
    w = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__pid",
        (F.lit(start) + F.coalesce(F.sum("__cnt").over(w), F.lit(0))).alias("__off"),
    )
    parted = base.sortWithinPartitions(*cols).withColumn(
        "__m", F.monotonically_increasing_id()
    )
    keyed = parted.select(
        "*", F.shiftright(F.col("__m"), _MONO_LOCAL_BITS).alias("__pid")
    )
    out = keyed.join(F.broadcast(offsets), "__pid")
    return out.select(
        *df.columns,
        (
            F.col("__off")
            + F.col("__m").bitwiseAND(F.lit(_MONO_LOCAL_MASK))
        ).cast("long").alias(id_col),
    )

