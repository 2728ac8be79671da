"""Export stage + pipeline orchestration (generate_index.py / export.sql.j2).

``run_pipeline`` is the ``python generate_index.py settings.yml`` equivalent:
the linear six-stage flow with per-stage snapshot checkpoints
(resume-from-latest via Checkpointer, replacing ``on_existing`` gates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from netascore_spark.pipeline import attributes as ATTR
from netascore_spark.pipeline import cache as CACHE
from netascore_spark.pipeline import network as NET
from netascore_spark.pipeline.checkpoint import Checkpointer
from netascore_spark.plans.profile import Profile, attach_index


def export_edge(
    edges: DataFrame, attrs: DataFrame, index: DataFrame | None = None
) -> DataFrame:
    """export.sql.j2:13-24 — edge_export ⋈ attributes ⟕ index."""
    out = ATTR.edge_export(edges).join(attrs, "edge_id")
    if index is not None:
        out = out.join(index, "edge_id", "left")
    return out


def export_node(nodes: DataFrame, node_attrs: DataFrame) -> DataFrame:
    """export.sql.j2:28-36 — node ⋈ node_attributes."""
    return nodes.join(node_attrs, "node_id")


def null_column_audit(df: DataFrame) -> list[str]:
    """core/index_step.py:252-254 — warn on all-NULL columns (A11)."""
    counts = df.agg(
        *[F.count(F.col(c)).alias(c) for c in df.columns]
    ).collect()[0]
    return [c for c in df.columns if counts[c] == 0]


def run_pipeline(
    spark: SparkSession,
    osm_line: DataFrame,
    layers: dict[str, DataFrame],
    profiles: list[Profile],
    checkpoint_dir: str | None = None,
    compute_explanation: bool = False,
    include_rail: bool = False,
    include_aerialway: bool = False,
    cell_size: float = 200.0,
    skip: list[str] | None = None,
) -> dict[str, DataFrame]:
    """The full netascore flow: network -> attributes -> index -> export.

    ``skip`` (generate_index.py:20-21 semantics): ``"network"`` /
    ``"attributes"`` resume those stages from the checkpoint snapshots
    instead of recomputing — requires ``checkpoint_dir`` with the stage
    already materialized by a prior run.  ``osm_line=None`` (import
    skipped) implies skipping both.
    """
    skip = set(skip or [])
    ckpt = Checkpointer(spark, checkpoint_dir) if checkpoint_dir else None
    if osm_line is None:
        skip |= {"network", "attributes"}
    if skip & {"network", "attributes"} and ckpt is None:
        raise RuntimeError(
            "--skip network/attributes (or a skipped import) needs "
            "global.checkpoint_dir pointing at a prior run's snapshots"
        )

    def snap(df: DataFrame, name: str, upstream: list[str]) -> DataFrame:
        return ckpt.materialize(df, name, upstream) if ckpt else df

    if "network" in skip:
        edges = ckpt.read("network_edge")
        nodes = ckpt.read("network_node")
    else:
        edges, nodes = NET.build_network(
            osm_line, include_rail, include_aerialway, cell_size
        )
        edges = snap(edges, "network_edge", ["osm_line"])
        nodes = snap(nodes, "network_node", ["osm_line"])

    if "attributes" in skip:
        attrs = ckpt.read("network_edge_attributes")
        node_attrs = ckpt.read("network_node_attributes")
    else:
        attrs, node_attrs = ATTR.build_attributes(edges, nodes, osm_line, layers, cell_size)
        attrs = snap(attrs, "network_edge_attributes", ["network_edge"])
        node_attrs = snap(node_attrs, "network_node_attributes", ["network_node"])

    scored = attrs
    for p in profiles:
        scored = attach_index(scored, p, compute_explanation)
    index_cols = ["edge_id"] + [c for c in scored.columns if c.startswith("index_")]
    index = snap(scored.select(*index_cols), "network_edge_index",
                 ["network_edge_attributes"])

    exp_e = snap(export_edge(edges, attrs, index), "export_edge",
                 ["network_edge", "network_edge_attributes", "network_edge_index"])
    exp_n = snap(export_node(nodes, node_attrs), "export_node",
                 ["network_node", "network_node_attributes"])

    if ckpt is not None:
        # every returned frame now reads from checkpoint parquet — the
        # builders' internal caches (cell covers, split edges, buffers) are
        # dead weight for the rest of the session
        CACHE.release_all()

    return {
        "network_edge": edges,
        "network_node": nodes,
        "network_edge_attributes": attrs,
        "network_node_attributes": node_attrs,
        "network_edge_index": index,
        "export_edge": exp_e,
        "export_node": exp_n,
    }
