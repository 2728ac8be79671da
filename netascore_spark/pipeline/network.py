"""Network construction stage: osm_line -> network_edge / network_node.

Spark re-realization of ``sql/templates/osm_network.sql.j2`` — the
intersection-discovery spatial self-join (J2), the five correction deletes
(U4), ST_Split-equivalent edge splitting, the indoor dangling-edge fixpoint
(F5), and deterministic edge/node id assignment (W3/W4).

Scale shape: one cell-grid self-join (shuffle on cell id), one groupBy
(split targets per osm_id), one join (split application), two id
assignments.  Everything else is map-side.  The eager
``CREATE TABLE``-per-step of the reference collapses into one lazy plan.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from netascore_spark.functions import attributes as A
from netascore_spark.functions import vocab
from netascore_spark.geometry import ops, wkb
from netascore_spark.operators import ids as ids_op
from netascore_spark.operators import spatial
from netascore_spark.pipeline import cache

_EPS_PT = 1e-7  # point-equality tolerance for constructed intersections
NODE_DECIMALS = 6  # node-identity coordinate rounding (µm-scale in meters)


# ---------------------------------------------------------------------------
# stage 1: network_init (osm_network.sql.j2:14-54)
# ---------------------------------------------------------------------------

def network_init(
    osm_line: DataFrame,
    include_rail: bool = False,
    include_aerialway: bool = False,
) -> DataFrame:
    cond = F.col("highway").isin(vocab.NETWORK_HIGHWAY)
    if include_rail:
        cond = cond | F.col("railway").isin(vocab.NETWORK_RAILWAY)
    if include_aerialway:
        cond = cond | F.col("aerialway").isin(vocab.NETWORK_AERIALWAY)
    out = (
        osm_line.filter((F.col("osm_id") >= 0) & cond)
        .withColumn("bridge", A.bridge_normalized())
        .withColumn("tunnel", A.tunnel_normalized())
    )
    if "way" in out.columns:
        out = out.withColumnRenamed("way", "geom")
    return out


# ---------------------------------------------------------------------------
# stage 2: link_points (osm_network.sql.j2:61-75)
# ---------------------------------------------------------------------------

def link_points(net_init: DataFrame) -> DataFrame:
    ends = spatial.endpoints_udf()(F.col("geom"))
    return net_init.select(
        "osm_id",
        "geom",
        "bridge",
        "tunnel",
        A.escalator().alias("escalator"),
        A.indoor().alias("indoor"),
        A.layer_array().alias("layer_arr"),
        F.col("layer").alias("raw_layer"),
        ends.alias("ends"),
    ).select("*", "ends.*").drop("ends")


# ---------------------------------------------------------------------------
# stage 3: intersection discovery (osm_network.sql.j2:78-127) — J2
# ---------------------------------------------------------------------------

_PAIR_POINTS_TYPE = T.ArrayType(
    T.StructType([T.StructField("px", T.DoubleType()), T.StructField("py", T.DoubleType())])
)


@F.pandas_udf(_PAIR_POINTS_TYPE)
def _intersection_points(a: pd.Series, b: pd.Series) -> pd.Series:
    """Point components of ST_Intersection(lineA, lineB).

    Reproduces the reference's post-processing (osm_network.sql.j2:108-127):
    points of GeometryCollections/MultiPoints are kept, pure line/multiline
    results contribute nothing.

    Fast path: pairs where BOTH lines are single segments (the bulk of a
    split urban grid) intersect with one vectorized numpy pass over the
    whole Arrow batch — same formulas and EPS scaling as
    ops._seg_intersection; parallel/collinear rows and multi-segment lines
    fall back to the exact general kernel.
    """
    n = len(a)
    # memoize decodes within the batch: each way appears in ~(its number of
    # crossing partners) pairs, so the same WKB bytes recur heavily
    memo: dict = {}

    def dec(g):
        b = bytes(g)
        c = memo.get(b)
        if c is None:
            c = memo[b] = wkb.decode(b)[1]
        return c

    ca = [dec(g) for g in a]
    cb = [dec(g) for g in b]
    out: list = [None] * n
    simple = [i for i in range(n) if len(ca[i]) == 2 and len(cb[i]) == 2]
    other = [i for i in range(n) if len(ca[i]) != 2 or len(cb[i]) != 2]
    if simple:
        idx = np.array(simple)
        P1 = np.array([ca[i][0] for i in simple])
        P2 = np.array([ca[i][1] for i in simple])
        P3 = np.array([cb[i][0] for i in simple])
        P4 = np.array([cb[i][1] for i in simple])
        r = P2 - P1
        s = P4 - P3
        denom = r[:, 0] * s[:, 1] - r[:, 1] * s[:, 0]
        qp = P3 - P1
        qpxr = qp[:, 0] * r[:, 1] - qp[:, 1] * r[:, 0]
        rlen = np.hypot(r[:, 0], r[:, 1])
        slen = np.hypot(s[:, 0], s[:, 1])
        scale = np.maximum(np.where(rlen == 0, 1.0, rlen), np.where(slen == 0, 1.0, slen))
        par = np.abs(denom) <= ops.EPS * scale * scale
        safe = np.where(par, 1.0, denom)
        t = (qp[:, 0] * s[:, 1] - qp[:, 1] * s[:, 0]) / safe
        u = qpxr / safe
        tol = ops.EPS / scale
        hit = ~par & (t >= -tol) & (t <= 1 + tol) & (u >= -tol) & (u <= 1 + tol)
        tc = np.clip(t, 0.0, 1.0)
        px = P1[:, 0] + tc * r[:, 0]
        py = P1[:, 1] + tc * r[:, 1]
        for k, i in enumerate(idx):
            if par[k]:
                other.append(int(i))  # parallel/collinear: exact kernel
            elif hit[k]:
                out[i] = [(float(px[k]), float(py[k]))]
            else:
                out[i] = []
    for i in other:
        pts, _overlaps = ops.line_line_intersection(ca[i], cb[i])
        out[i] = [(float(p[0]), float(p[1])) for p in pts]
    return pd.Series(out)


def intersections(lp: DataFrame, cell_size: float) -> DataFrame:
    """Candidate pairs -> exact intersection points with pair attributes."""
    attrs = [
        "osm_id", "bridge", "tunnel", "escalator", "indoor", "layer_arr",
        "raw_layer", "x0", "y0", "x1", "y1",
    ]
    # persist the exploded cover: both join sides project from it, and
    # without a materialization the cover UDF would run twice over every way
    # (aliased projections defeat ReuseExchange)
    lc = cache.track(
        spatial.with_cells(lp.select(*attrs, "geom"), "geom", cell_size).persist()
    )
    # pin the self-join width: the cover is slim in BYTES (AQE's coalescing
    # cost model) but the join fans out ~6x per cell and every output row
    # carries two WKB geoms into CPU-heavy filters — byte-based coalescing
    # runs all of it in 1-2 tasks (measured: 64 s single-task at 400k edges).
    # Same disease/pin as the kNN fan-out join in pipeline/pages.py.
    # materialize the cover ONCE before the self-join: its two exchange
    # sides (and the split join's re-read of init) otherwise race to fill
    # the cache inside one job and each recompute the python cover UDF
    lc.count()
    lc_rep = spatial.spread(lc, "cell")
    a = lc_rep.select(
        F.col("cell"), *[F.col(c).alias(f"{c}_1") for c in attrs], F.col("geom").alias("geom_1")
    )
    b = lc_rep.select(
        F.col("cell"), *[F.col(c).alias(f"{c}_2") for c in attrs], F.col("geom").alias("geom_2")
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("osm_id_1") < F.col("osm_id_2"))
        .drop("cell")
    )
    # NOT ST_Equals on the four endpoint combinations (osm_network.sql.j2:100-103)
    # — applied BEFORE the pair-dedup shuffle: it's a map-side row filter, and
    # the rows it kills carry two WKB geoms each (cheapest place to drop them)
    for s1 in ("0", "1"):
        for s2 in ("0", "1"):
            pairs = pairs.filter(
                ~(
                    (F.col(f"x{s1}_1") == F.col(f"x{s2}_2"))
                    & (F.col(f"y{s1}_1") == F.col(f"y{s2}_2"))
                )
            )
    # explicit width for the dedup's final aggregate as well: the partial
    # agg's output is still a few hundred thousand wide rows (two WKBs
    # each), and the sub-advisory shuffle otherwise lands on ONE task
    pairs = spatial.spread(pairs, "osm_id_1", "osm_id_2").dropDuplicates(
        ["osm_id_1", "osm_id_2"]
    )
    # spread: exact line-x-line intersection is python CPU; byte-based AQE
    # coalescing would run it on 1-2 tasks (see operators.spatial.spread)
    pts = spatial.spread(pairs).withColumn(
        "ipoints", _intersection_points(F.col("geom_1"), F.col("geom_2"))
    ).drop("geom_1", "geom_2")
    exploded = pts.select("*", F.explode("ipoints").alias("ipt")).drop("ipoints")
    return exploded.select("*", "ipt.px", "ipt.py").drop("ipt")


def dedup_intersections(inter: DataFrame) -> DataFrame:
    """DISTINCT ON (geom) with the reference's deterministic ORDER BY
    (osm_network.sql.j2:131-135, A6/W1)."""
    order_cols = [
        "osm_id_1", "bridge_1", "tunnel_1", "escalator_1", "indoor_1",
        F.array_join(F.col("layer_arr_1"), ";").asc_nulls_first(),
        "x0_1", "y0_1", "x1_1", "y1_1",
        "osm_id_2", "bridge_2", "tunnel_2", "escalator_2", "indoor_2",
        F.array_join(F.col("layer_arr_2"), ";").asc_nulls_first(),
        "x0_2", "y0_2", "x1_2", "y1_2",
    ]
    key = [F.round(F.col("px"), 7), F.round(F.col("py"), 7)]
    w = Window.partitionBy(*key).orderBy(*order_cols)
    # pin the window exchange width (wide rows, tiny bytes — see
    # intersections(); the explicit repartition satisfies the window's
    # clustered-distribution requirement so no second shuffle is added)
    inter = spatial.spread(inter, *key)
    return (
        inter.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _not_near_endpoints(tol: float) -> F.Column:
    """NOT ST_Intersects(pt, endpoint_i) for all four endpoints."""
    cond = F.lit(True)
    for side in ("1", "2"):
        for e in ("0", "1"):
            d2 = (F.col("px") - F.col(f"x{e}_{side}")) ** 2 + (
                F.col("py") - F.col(f"y{e}_{side}")
            ) ** 2
            cond = cond & (d2 > F.lit(tol * tol))
    return cond


def apply_correction_deletes(inter: DataFrame) -> DataFrame:
    """The five correction DELETEs (osm_network.sql.j2:138-210) as negated
    filters (U4)."""
    away = _not_near_endpoints(_EPS_PT)
    away_buffered = _not_near_endpoints(0.01)  # ST_Buffer(geom, 0.01) variant

    d_bridge = (
        (
            F.col("bridge_1").isNotNull() | F.col("bridge_2").isNotNull()
            | F.col("escalator_1").isNotNull() | F.col("escalator_2").isNotNull()
        )
        & away
    )
    layers_disjoint = (
        (F.col("layer_arr_1").isNull() & F.col("layer_arr_2").isNotNull())
        | (F.col("layer_arr_1").isNotNull() & F.col("layer_arr_2").isNull())
        | (F.arrays_overlap(F.col("layer_arr_1"), F.col("layer_arr_2")) == F.lit(False))
    )
    d_layer = layers_disjoint & away
    d_tunnel = (
        F.col("layer_arr_1").isNull()
        & F.col("layer_arr_2").isNull()
        & (
            (
                F.col("tunnel_1").isNotNull()
                & F.col("tunnel_2").isNull()
                & F.col("indoor_2").isNull()
            )
            | (
                F.col("tunnel_2").isNotNull()
                & F.col("tunnel_1").isNull()
                & F.col("indoor_1").isNull()
            )
        )
        & away
    )
    # fifth delete: raw `layer` string mismatch, 0.01-buffered endpoint test
    d_rawlayer = (F.col("raw_layer_1") != F.col("raw_layer_2")) & away_buffered

    keep = (
        ~F.coalesce(d_bridge, F.lit(False))
        & ~F.coalesce(d_layer, F.lit(False))
        & ~F.coalesce(d_tunnel, F.lit(False))
        & ~F.coalesce(d_rawlayer, F.lit(False))
    )
    return inter.filter(keep)


# ---------------------------------------------------------------------------
# stage 4: split (osm_network.sql.j2:213-250) — A1 + ST_Split
# ---------------------------------------------------------------------------

def split_targets(inter: DataFrame) -> DataFrame:
    """intersecting_links: per osm_id, the set of split points (A1)."""
    pts = inter.select(F.col("osm_id_1").alias("osm_id"), "px", "py").unionByName(
        inter.select(F.col("osm_id_2").alias("osm_id"), "px", "py")
    )
    # pin the distinct's final-aggregate width (see intersections());
    # UNION dedup semantics (osm_network.sql.j2:215-221)
    pts = spatial.spread(pts, "osm_id", "px", "py").distinct()
    # repartition by osm_id ahead of the groupBy: collect_list's merge work
    # is O(|points|), not O(|groups|) — the sub-advisory exchange otherwise
    # merges every split point in one task
    return (
        spatial.spread(pts, "osm_id")
        .groupBy("osm_id")
        .agg(F.collect_list(F.struct("px", "py")).alias("split_points"))
    )


_SPLIT_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("geom", T.BinaryType()),
            T.StructField("gx0", T.DoubleType()),
            T.StructField("gy0", T.DoubleType()),
            T.StructField("gx1", T.DoubleType()),
            T.StructField("gy1", T.DoubleType()),
            T.StructField("glen", T.DoubleType()),
        ]
    )
)


def _piece_row(geom_bytes: bytes, coords: np.ndarray) -> tuple:
    """(wkb, x0, y0, x1, y1, length) — ONE decode serves endpoints and
    length too, so finalize/fixpoint need no further python passes over the
    edge table (each was a full WKB-decode stage of its own)."""
    return (
        geom_bytes,
        float(coords[0, 0]), float(coords[0, 1]),
        float(coords[-1, 0]), float(coords[-1, 1]),
        float(ops.length(coords)),
    )


@F.pandas_udf(_SPLIT_TYPE)
def _split_pieces(geom: pd.Series, points: pd.Series) -> pd.Series:
    out = []
    for g, pts in zip(geom, points):
        if pts is None or len(pts) == 0:
            # untouched edge: pass the original bytes through UNCHANGED (no
            # encode round-trip — byte identity is load-bearing for the
            # UNION-dedup and golden hashes); decode only for ends/length
            b = bytes(g)
            out.append([_piece_row(b, wkb.decode(b)[1])])
            continue
        coords = wkb.decode(bytes(g))[1]
        cut_pts = [np.array([p["px"], p["py"]]) for p in pts]
        pieces = ops.split_line(coords, cut_pts)
        out.append([_piece_row(wkb.encode(("LineString", p)), p) for p in pieces])
    return pd.Series(out)


def split_edges(net_init: DataFrame, targets: DataFrame) -> DataFrame:
    """network_corrected: split touched edges, pass the rest through.

    ONE left join (split targets attached where present; the UDF passes
    untouched geometry through byte-identically) instead of the join +
    anti-join pair — halves the probe passes over the (big) edge side.
    """
    passthrough = [c for c in net_init.columns if c != "geom"]
    # pin the JOIN width too: both osm_id shuffles are sub-advisory in
    # bytes, so AQE's size-based coalescing read them as ONE task
    # (measured: 9.7 s single-task stage at 400k edges — the whole join +
    # probe serialized regardless of core count).  Explicit same-key
    # same-count repartitions co-partition the join (no extra shuffle) and
    # are exempt from coalescing.
    joined = spatial.spread(
        spatial.spread(net_init, "osm_id").join(
            spatial.spread(targets, "osm_id"), "osm_id", "left"
        )
    )
    split = joined.withColumn(
        "pieces", _split_pieces(F.col("geom"), F.col("split_points"))
    ).drop("geom", "split_points")
    split = (
        split.select("*", F.posexplode("pieces").alias("seg_seq", "p"))
        .drop("pieces")
    )
    out = split.select(
        *passthrough, "seg_seq",
        F.col("p.geom").alias("geom"),
        F.col("p.gx0").alias("gx0"), F.col("p.gy0").alias("gy0"),
        F.col("p.gx1").alias("gx1"), F.col("p.gy1").alias("gy1"),
        F.col("p.glen").alias("glen"),
    )
    # UNION (dedup) semantics of osm_network.sql.j2:241; width pinned (the
    # post-split rows are sub-advisory in bytes but number |edges| — the
    # coalesced single-task final agg measured 25 s at 400k edges)
    return spatial.spread(out, "osm_id", "seg_seq", "geom").dropDuplicates(
        ["osm_id", "seg_seq", "geom"]
    )


# ---------------------------------------------------------------------------
# stage 5: indoor dangling-edge fixpoint (F5)
# ---------------------------------------------------------------------------

def drop_dangling_indoor(corrected: DataFrame, cell_size: float = 200.0) -> DataFrame:
    """osm_delete_dangling_edges.sql: iteratively drop indoor edges with <2
    well-connected endpoints.

    Indoor edges are a vanishing fraction (14,181 points at Austria scale,
    osm_network.sql.j2:277), so the fixpoint runs on the driver over the
    collected indoor subgraph.  Candidate endpoints are restricted by a
    distributed CELL join against the indoor-edge cell cover (NOT one global
    bbox — indoor edges scattered across a country would make that bbox the
    whole AOI and collect every endpoint); only rows landing in an indoor
    cell reach the driver, bounding the collect by |indoor cells| x density.
    """
    indoor_edges = corrected.filter(
        F.element_at(F.col("tags"), "indoor") == "yes"
    ).select("osm_id", "seg_seq", "geom")
    # one job: collect the (tiny) indoor subgraph; empty -> no-op
    ind = [
        (r["osm_id"], r["seg_seq"], wkb.decode(bytes(r["geom"]))[1])
        for r in indoor_edges.collect()
    ]
    if not ind:
        return corrected

    # endpoints of ALL edges whose point lies on some indoor edge: the
    # candidate set is bounded by a cell join against the indoor SEGMENT
    # cover, and the exact point-on-indoor-edge refine runs DISTRIBUTED
    # (native point_segment_dist_expr, bit-identical to
    # ops.point_line_dist) so only true on-edge endpoints reach the driver
    # — no O(|pts| x |indoor|) python scan.
    # endpoint coords were emitted by the split UDF (gx0..gy1) — no python
    # decode pass over the full edge table here.  Standalone callers passing
    # a raw (osm_id, seg_seq, geom) table fall back to the endpoint UDF.
    if "gx0" in corrected.columns:
        with_ends = corrected.select(
            "osm_id", "seg_seq",
            F.col("gx0").alias("x0"), F.col("gy0").alias("y0"),
            F.col("gx1").alias("x1"), F.col("gy1").alias("y1"),
        )
    else:
        with_ends = corrected.select(
            "osm_id", "seg_seq", spatial.endpoints_udf()(F.col("geom")).alias("e")
        ).select("osm_id", "seg_seq", "e.x0", "e.y0", "e.x1", "e.y1")
    all_pts = with_ends.select(
        "osm_id", "seg_seq",
        F.posexplode(
            F.array(
                F.struct(F.col("x0").alias("px"), F.col("y0").alias("py")),
                F.struct(F.col("x1").alias("px"), F.col("y1").alias("py")),
            )
        ).alias("ei", "p"),
    ).select("osm_id", "seg_seq", "ei", "p.px", "p.py")

    # broadcast indoor SEGMENT table with its cell cover (driver-built;
    # |indoor| is tiny by definition of this fixpoint)
    from netascore_spark import grid as _grid

    seg_rows = []
    for li, (_, _, coords) in enumerate(ind):
        for i in range(len(coords) - 1):
            a, b = coords[i], coords[i + 1]
            for c in _grid.cover_line(
                np.array([a, b]), cell_size, pad=1e-6
            ):
                seg_rows.append(
                    (li, float(a[0]), float(a[1]), float(b[0]), float(b[1]), int(c))
                )
    segs_df = corrected.sparkSession.createDataFrame(
        seg_rows, "li int, sx1 double, sy1 double, sx2 double, sy2 double, cell long"
    )
    pts = (
        all_pts.withColumn(
            "cell", spatial.point_cell_expr(F.col("px"), F.col("py"), cell_size)
        )
        .join(F.broadcast(segs_df), "cell")
        .withColumn("d", spatial.point_segment_dist_expr())
        .filter(F.col("d") <= _EPS_PT)
        # one row per ORIGINAL endpoint row (several segments may match)
        .groupBy("osm_id", "seg_seq", "ei", "px", "py")
        .count()
        .collect()
    )

    # indoor_points: endpoint rows intersecting an indoor edge
    indoor_pts = [
        {"key": (round(r["px"], 7), round(r["py"], 7)),
         "link": (r["osm_id"], r["seg_seq"])}
        for r in pts
    ]

    indoor_links = {(o, s): c for o, s, c in ind}
    deleted: set[tuple] = set()
    pts_alive = list(indoor_pts)
    while True:
        from collections import Counter

        cnt = Counter(p["key"] for p in pts_alive)
        dangling = []
        for link, coords in indoor_links.items():
            if link in deleted:
                continue
            good = {
                p["key"]
                for p in pts_alive
                if cnt[p["key"]] > 1
                and ops.point_line_dist(np.array(p["key"]), coords) <= 1e-6
            }
            if len(good) < 2:
                dangling.append(link)
        if not dangling:
            break
        deleted.update(dangling)
        pts_alive = [p for p in pts_alive if p["link"] not in deleted]

    if not deleted:
        return corrected
    del_df = corrected.sparkSession.createDataFrame(
        [(o, s) for o, s in deleted], "osm_id long, seg_seq int"
    )
    return corrected.join(del_df, ["osm_id", "seg_seq"], "left_anti")


# ---------------------------------------------------------------------------
# stage 6: ids, nodes, edges (osm_network.sql.j2:308-364) — W3/W4, J3
# ---------------------------------------------------------------------------

def finalize_network(corrected: DataFrame) -> tuple[DataFrame, DataFrame]:
    """edge_id/node_id assignment + from/to node joins + length.

    ``corrected`` is ``split_edges`` output: endpoints and length come from
    the split UDF's columns (gx0..gy1, glen), so this stage runs no python.
    Both id columns are ``assign_ids`` ranks of a total order key —
    (osm_id, seg_seq) for edges, (x, y) for nodes — equal to the
    reference's ``row_number() OVER (ORDER BY ...)`` at any input size.
    """
    edges = ids_op.assign_ids(corrected, ["osm_id", "seg_seq"], "edge_id")

    edges = edges.select(
        "*",
        F.round(F.col("gx0"), NODE_DECIMALS).alias("fx"),
        F.round(F.col("gy0"), NODE_DECIMALS).alias("fy"),
        F.round(F.col("gx1"), NODE_DECIMALS).alias("tx"),
        F.round(F.col("gy1"), NODE_DECIMALS).alias("ty"),
    )
    # persist: the node-dedup, the node id sampling and the final from/to
    # joins each scan this
    edges = cache.track(edges.persist())

    nodes = edges.select(F.col("fx").alias("x"), F.col("fy").alias("y")).unionByName(
        edges.select(F.col("tx").alias("x"), F.col("ty").alias("y"))
    )
    # pin the distinct width: 2x|edges| slim rows, sub-advisory bytes
    nodes = spatial.spread(nodes, "x", "y").distinct()
    nodes = ids_op.assign_ids(nodes, ["x", "y"], "node_id")
    # EAGER cut, nodes-first: the from/to joins below embed the whole node
    # derivation (endpoint union + distinct + id sampling) inside the edges
    # plan, so a caller that materializes edges and THEN nodes (the normal
    # build_network consumer) would compute the node table twice — once
    # inside the edges join, once for nodes itself — plus re-analyze the
    # deep plan on every downstream job.  Cutting here materializes nodes
    # exactly once (through the edges persist above, which the later edges
    # materialization reuses) and the joins plan over a flat scan.
    nodes = cache.lineage_cut(nodes)

    from_n = nodes.select(
        F.col("node_id").alias("from_node"), F.col("x").alias("fx"), F.col("y").alias("fy")
    )
    to_n = nodes.select(
        F.col("node_id").alias("to_node"), F.col("x").alias("tx"), F.col("y").alias("ty")
    )
    joined = edges.join(from_n, ["fx", "fy"]).join(to_n, ["tx", "ty"])
    # length was computed by the split UDF in the same decode pass; keep the
    # historical column order (…, edge_id, from_node, to_node, length)
    keep = [
        c for c in joined.columns
        if c not in ("fx", "fy", "tx", "ty", "gx0", "gy0", "gx1", "gy1",
                     "glen", "edge_id", "from_node", "to_node")
    ]
    edges = joined.select(
        *keep, "edge_id", "from_node", "to_node", F.col("glen").alias("length")
    )
    # OUTPUT WIDTH (measured, round 6): AQE's size-based coalescing shrinks
    # the final join's output to 1-2 partitions (a few hundred MB of slim
    # rows), and the caller's localCheckpoint freezes that width — every
    # downstream consumer that does per-row work BEFORE its first exchange
    # (base_attributes' 33-column CASE cascade, the buffer/endpoint/segment
    # Arrow passes of the attributes and pages stages) then runs 2-wide
    # regardless of cluster size (12.6 s for the base projection at 32
    # cores; 1.1 s after).  Re-spread to the session's shuffle width —
    # scale-adaptive (conf), one extra exchange of slim rows, row content
    # unchanged.  Same AQE-byte-proxy rationale as operators.spatial.spread.
    edges = spatial.spread(edges)
    return edges, nodes


# ---------------------------------------------------------------------------
# orchestration
# ---------------------------------------------------------------------------

def build_network(
    osm_line: DataFrame,
    include_rail: bool = False,
    include_aerialway: bool = False,
    cell_size: float = 200.0,
) -> tuple[DataFrame, DataFrame]:
    """Full network stage; returns (network_edge, network_node), numbered
    by ``finalize_network``."""
    # persist init: the cover build, the split join, and (for driver-local
    # fixture inputs) every exchange that re-reads the source would each
    # re-scan/re-serialize it otherwise — measured as 4-5 repeated full
    # scans inside the first job
    init = cache.track(network_init(osm_line, include_rail, include_aerialway).persist())
    lp = link_points(init)
    inter = apply_correction_deletes(dedup_intersections(intersections(lp, cell_size)))
    targets = split_targets(inter)
    corrected = cache.lineage_cut(split_edges(init, targets))
    # the split is materialized now — the source/init cache is dead weight
    # for the rest of this builder (finalize works off `corrected` only)
    init.unpersist()
    corrected = drop_dangling_indoor(corrected, cell_size)
    return finalize_network(corrected)
