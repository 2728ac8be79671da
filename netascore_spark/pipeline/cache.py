"""Materialization lifecycle: the registry for the pipeline's internal
.persist() caches, and :func:`lineage_cut` for plans that must be cut.

build_network / build_attributes cache intermediates that several of their
own stages re-scan (exploded cell covers, split edges, water buffers).
Those caches are dead weight once the stage OUTPUT is durably materialized
(checkpoint parquet / localCheckpoint) — but the builder functions return
lazy DataFrames, so they cannot unpersist eagerly themselves.

Contract: builders register caches via :func:`track`; an orchestrator that
has materialized the downstream results calls :func:`release_all`.
run_pipeline does this automatically after its checkpoint snapshots.  A
caller composing builders directly on a long-lived session should either
call release_all() after its own materialization, or accept LRU eviction
of executor storage (the caches are MEMORY_AND_DISK, never correctness-
relevant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_live: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Register an already-persisted DataFrame for later release."""
    _live.append(df)
    return df


def release_all() -> int:
    """Unpersist every tracked cache (non-blocking); returns the count."""
    n = len(_live)
    for df in _live:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped
    _live.clear()
    return n


def lineage_cut(df: DataFrame) -> DataFrame:
    """EAGER LINEAGE CUT, not a persist: replaces the plan with a flat scan,
    so every downstream job plans in O(columns).  With a plain persist()
    each job launched over a deep plan re-ANALYZES the whole tree on the
    driver first (cache substitution happens after analysis).  In
    build_network's split result that per-job serial planning cost —
    independent of core count — was the dominant term in the network
    stage's N->4N scaling deficit (~52 s fixed at scale 56); in an
    iterative operator (connected components) the cut keeps the plan O(1)
    deep instead of growing two joins per round.

    Durability: when ``spark.sparkContext.setCheckpointDir`` is configured
    (any cluster deployment should set it), use RELIABLE ``checkpoint()`` —
    recomputable from the checkpoint files after executor loss.  Without a
    checkpoint dir fall back to ``localCheckpoint()``: executor-local
    storage, which is free in local mode but UNRECOVERABLE on a real
    cluster — losing an executor fails the job (there is no lineage left to
    recompute from).  Lifecycle: both variants bypass the track /
    release_all bookkeeping used for persist(); their storage is
    freed when the checkpointed RDD is GC'd on the driver (ContextCleaner),
    i.e. when the returned DataFrame goes out of scope — long sessions
    calling build_network repeatedly rely on driver GC, not release_all."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint()
