"""Web-scale pages graft (north rule / BASELINE.json input_hint).

Input: an Iceberg/Parquet table ``pages(url, warc_ts, html, text, lang)`` at
Common-Crawl scale.  Stages:

1. ``extract_page``   — byte-identical HTML -> text extraction + geo meta
   parsing, ONE fused Arrow pass (no per-row Python): the per-row invariant
   of the north rule.
2. ``encode_cells``   — native cell encoding (H3-res-9-analog planar grid,
   netascore_spark.grid) inside whole-stage codegen.
4. ``join_polygons``  — point-in-polygon against land-use/admin polygons
   (cell equi-join + exact PIP refine; polygons broadcast).
5. ``nearest_edges``  — cell-ring kNN to the nearest road segment(s):
   expand the page's cell by rings covering the search radius, equi-join to
   edge cells, exact distance refine, rank per page.
6. ``page_edge_attributes`` — aggregate page-derived mass onto edges.

Skew: ~30% of pages land in a handful of hot urban cells.  The kNN join
pre-salts hot cells (operators.spatial.salt_cells) and AQE skew-join splits
the rest at runtime.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from netascore_spark import grid
from netascore_spark.operators import spatial
from netascore_spark.pipeline import cache

# The fixture/Common-Crawl-style extraction target: the <main id="content">
# element.  Vectorized regex via pandas .str — one Arrow batch at a time.
_TEXT_PATTERN = r'<main id="content">(.*?)</main>'
_GEO_PATTERN = r'<meta name="geo\.position" content="(-?[0-9.]+);(-?[0-9.]+)">'


@F.pandas_udf(
    T.StructType(
        [
            T.StructField("extracted_text", T.StringType()),
            T.StructField("x", T.DoubleType()),
            T.StructField("y", T.DoubleType()),
        ]
    )
)
def extract_page_udf(html: pd.Series) -> pd.DataFrame:
    """Fused extract_text + parse_geo: ONE utf-8 decode of the html bytes
    (the dominant python-side cost — html is the fat column) feeds both
    regexes.  Semantics identical to running the two single-purpose UDFs."""
    decoded = pd.Series(
        [None if h is None else bytes(h).decode("utf-8", errors="strict") for h in html]
    )
    text = decoded.str.extract(_TEXT_PATTERN, expand=False)
    m = decoded.str.extract(_GEO_PATTERN)
    return pd.DataFrame(
        {
            "extracted_text": text,
            "x": pd.to_numeric(m[1], errors="coerce"),
            "y": pd.to_numeric(m[0], errors="coerce"),
        }
    )


def extract_pages(pages: DataFrame, cell_size: float = grid.DEFAULT_CELL_SIZE) -> DataFrame:
    """pages -> url, warc_ts, lang, extracted_text, x, y, cell.

    One fused Arrow pass over ``html`` (extract_page_udf) — the html bytes
    cross the Arrow boundary once and are utf-8-decoded once; the cell
    encode is a native Column expression (no python stage at all)."""
    out = (
        pages.withColumn("__e", extract_page_udf(F.col("html")))
        .select(
            "url", "warc_ts", "lang", "text",
            F.col("__e.extracted_text").alias("extracted_text"),
            F.col("__e.x").alias("x"), F.col("__e.y").alias("y"),
        )
        .withColumn(
            "cell",
            F.when(
                F.col("x").isNotNull(),
                spatial.point_cell_expr(F.col("x"), F.col("y"), cell_size),
            ),
        )
    )
    return out


def verify_extraction(pages_extracted: DataFrame) -> int:
    """Count of pages whose extracted text is NOT byte-identical to `text`
    (north-rule invariant; must be 0)."""
    return pages_extracted.filter(
        ~F.col("extracted_text").eqNullSafe(F.col("text"))
    ).count()


# ---------------------------------------------------------------------------
# point-in-polygon join (pages x admin/landuse polygons)
# ---------------------------------------------------------------------------

def join_polygons(
    pages_geo: DataFrame,
    polygons: DataFrame,
    cell_size: float = grid.DEFAULT_CELL_SIZE,
    strategy: str = "native",
) -> DataFrame:
    """All (url, polygon_id, kind) containments.  Polygons broadcast (the
    admin/landuse layer is tiny next to 10^12 pages).

    ``strategy="native"`` (default, the 100 TB path): zero python in the
    hot path AND every per-edge term inside whole-stage codegen.  One Arrow
    pass flattens each polygon to (ring, x1, y1, x2, y2) edges
    (spatial.polygon_edges_udf); the cell cover is broadcast-joined (a page
    holds exactly ONE cell, so a (url, polygon) pair meets at most once);
    a native ``explode`` fans the candidate pair out to its ring edges; and
    ONE map-side-combined aggregation folds the exploded rows back to a
    verdict: ``bit_xor(1L << ring)`` per crossing edge accumulates the
    ray-cast parity of every ring in one long, ``bit_or`` the boundary
    flags (spatial.pip_edge_flags / pip_mask_verdict — term-for-term
    ops.point_in_polygon).  The partial aggregation collapses each pair's
    edges inside the join task, so the one exchange carries a single slim
    row per candidate pair.

    ``strategy="hof"``: the previous zero-shuffle form — the exact PIP
    refine as a higher-order-function expression (spatial.pip_expr).  HOFs
    are CodegenFallback (interpreted per-row, measured ~4x slower at 2.4M
    pages) but have no ring-count bound: use for polygon layers with more
    than spatial.MAX_NATIVE_RINGS (64) rings."""
    pg = pages_geo.filter(F.col("cell").isNotNull()).select("url", "x", "y", "cell")
    if strategy == "hof":
        pr = polygons.select(
            "polygon_id", "kind", "geom",
            spatial.polygon_rings_udf()(F.col("geom")).alias("rings"),
        )
        poly_cells = spatial.with_cells(pr, "geom", cell_size).drop("geom")
        cand = pg.join(F.broadcast(poly_cells), "cell")
        return cand.filter(
            spatial.pip_expr(F.col("x"), F.col("y"), F.col("rings"))
        ).select("url", "polygon_id", "kind")
    if strategy != "native":
        raise ValueError(f"unknown strategy {strategy!r}")
    # grid-clipped ray cast (spatial.polygon_cell_edges_udf): the broadcast
    # side holds, per (polygon, cell), a constant base parity mask (edges
    # provably crossing for EVERY point of the cell) plus only the edges
    # local to that cell — interior cells carry an EMPTY list and resolve
    # from base alone, so the explode fans each candidate to O(perimeter
    # through its cell) rows instead of the polygon's full edge list (the
    # dominant DRAM traffic of this stage at 2.4M pages).
    ce = spatial.polygon_cell_edges_udf(cell_size)
    poly_cells = polygons.select(
        "polygon_id", "kind", F.explode(ce(F.col("geom"))).alias("__ce")
    ).select(
        "polygon_id", "kind",
        F.col("__ce.cell").alias("cell"),
        F.col("__ce.base").alias("base"),
        F.col("__ce.edges").alias("edges"),
    )
    cand = pg.join(F.broadcast(poly_cells), "cell")
    # explode_outer: an empty kept list (interior cell) must keep its
    # candidate row — its verdict is the base mask
    per_edge = cand.select(
        "url", "polygon_id", "kind", "x", "y", "base",
        F.explode_outer("edges").alias("e"),
    )
    crossing, boundary = spatial.pip_edge_flags(F.col("x"), F.col("y"), F.col("e"))
    bit = spatial.ring_bit(F.col("e.ring"))
    zero = F.lit(0).cast("long")
    # null-edge rows (empty list) contribute zero to both masks: a NULL
    # crossing/boundary takes the otherwise(zero) branch
    masks = per_edge.groupBy("url", "polygon_id", "kind").agg(
        F.bit_xor(F.when(crossing, bit).otherwise(zero)).alias("xm"),
        F.bit_or(F.when(boundary, bit).otherwise(zero)).alias("bm"),
        F.min("base").alias("base"),
    )
    return masks.filter(
        spatial.pip_mask_verdict(
            F.col("xm").bitwiseXOR(F.col("base")), F.col("bm")
        )
    ).select("url", "polygon_id", "kind")


# ---------------------------------------------------------------------------
# cell-ring kNN to nearest road segment
# ---------------------------------------------------------------------------

def _knn_join_width(pg: DataFrame) -> int:
    """Partition count for the kNN cell join — the one exchange AQE cannot
    size (size-based coalescing sees only the slim shuffle INPUT bytes, not
    the ~30-50x candidate fan-out plus the SortAggregate computed inside
    the join stage; at small inputs it coalesced the join to 1-2 tasks —
    16M candidate rows in ONE partition at 600k pages).

    The width must scale with DATA, not cores: a fixed 2x-parallelism pin
    put ~30M candidate rows (~2 GB of sort buffer) in each task at 9.6M
    pages — the per-task external sort spilled and the join stage went
    superlinear (24x wall for 4x rows, measured round 5).  The page side's
    CURRENT partition count is a free byte-proxy (file splits and upstream
    shuffles are both size-capped), so: one join partition per input
    partition, floored at 2x cores for small inputs (full CPU with
    straggler headroom), matching the candidate volume per task to the
    input split size at every scale."""
    sc = pg.sparkSession.sparkContext
    return max(2 * sc.defaultParallelism, pg.rdd.getNumPartitions())


def _phase1_topk(
    pages_geo: DataFrame,
    k: int,
    p1: float,
    cell_size: float,
    segs_base: DataFrame,
    hot: list,
    carry_cols: tuple = (),
) -> DataFrame:
    """Fused phase 1 of the progressive kNN: LEFT candidate join at the
    small pad + ONE aggregation returning per url

      (url, top: array<struct<dist, edge_id>> | NULL, px, py, cell, *carry)

    ``top`` is the phase-1 top-k (NULL when no candidate within ``p1``);
    the page coords (and any ``carry_cols``) ride through the aggregate
    (min over a per-url constant), so the caller can split resolved/
    unresolved and feed phase 2 WITHOUT any join back to the pages table.
    Same candidate machinery as the flat search (cover, salting, shuffle
    join, explicit join width)."""
    pg = pages_geo.filter(F.col("x").isNotNull()).select(
        "url", F.col("x").alias("px"), F.col("y").alias("py"), "cell",
        *carry_cols,
    )
    segs = spatial.segment_cover(segs_base, p1, cell_size)
    join_key = "cell"
    cell_col = "cell"
    if hot:
        pg, segs = spatial.salt_cells(pg, segs, hot)
        join_key = "cell_salt"
        # both sides keep a `cell` column when joining on cell_salt; the
        # carry-through below must reference the PAGE side unambiguously
        pg = pg.withColumnRenamed("cell", "__pcell")
        cell_col = "__pcell"
    segs = segs.hint("shuffle_hash")
    pg = pg.repartition(_knn_join_width(pg), join_key)
    cand = pg.join(segs, join_key, "left")
    scored = cand.withColumn("dist", spatial.point_segment_dist_expr())
    valid = F.col("dist").isNotNull() & (F.col("dist") <= F.lit(p1))
    # NOTE (measured, round 5): min(struct)/min(string) buffers are
    # immutable types, so these aggregates run as SortAggregate — and that
    # is the FASTER form here.  The hash-friendly alternative (constants
    # as group keys, per-edge hash-min, collect_list top-k) was tried and
    # reverted: the composite var-length key (url + lang strings) pushed
    # the candidate-stage hash map into the BytesToBytesMap slow path and
    # spill (pages stage 29.7 -> 103.9 s at 8 cores).  Sorting slim rows
    # sequentially beats hashing them with fat keys.
    carry = [
        F.min("px").alias("px"), F.min("py").alias("py"),
        F.min(cell_col).alias("cell"),
        *[F.min(c).alias(c) for c in carry_cols],
    ]
    if k == 1:
        # constant-state partial aggregation (same min(struct) as the flat
        # k=1 path); nulls (invalid / no-candidate rows) are ignored by min
        aggd = scored.groupBy("url").agg(
            F.min(F.when(valid, F.struct("dist", "edge_id"))).alias("m"),
            *carry,
        )
        return aggd.select(
            "url",
            F.when(F.col("m").isNotNull(), F.array("m")).alias("top"),
            "px", "py", "cell", *carry_cols,
        )
    # k >= 2: per-(url, edge) line distance first (an edge's segments must
    # fold into ONE top-k slot), then the array_sort+slice aggregation,
    # whose collected array is bounded by the p1-candidate count, not by k
    per_edge = scored.groupBy("url", "edge_id").agg(
        F.min(F.when(valid, F.col("dist"))).alias("dist"), *carry
    )
    topk = per_edge.groupBy("url").agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("dist").isNotNull(),
                        F.struct("dist", "edge_id"),
                    )
                )
            ),
            1, k,
        ).alias("top"),
        # per_edge already re-aliased the carry columns to px/py/cell
        F.min("px").alias("px"), F.min("py").alias("py"),
        F.min("cell").alias("cell"),
        *[F.min(c).alias(c) for c in carry_cols],
    )
    # collect_list over an all-null group yields [] — normalize to NULL so
    # the caller's size()/element_at() verdict treats both alike
    return topk.select(
        "url",
        F.when(F.size("top") > 0, F.col("top")).alias("top"),
        "px", "py", "cell", *carry_cols,
    )


# "auto" salting: cells holding more pages than this are pre-split across
# salt buckets.  Absolute (not total-relative) on purpose — a 50k-page cell
# is a straggler on any cluster size, and an absolute bound costs exactly
# one histogram aggregation, no total count.
AUTO_SALT_THRESHOLD = 50_000


def nearest_edges(
    pages_geo: DataFrame,
    edges: DataFrame,
    k: int = 1,
    radius: float = 500.0,
    cell_size: float = grid.DEFAULT_CELL_SIZE,
    salt_threshold: int | str | None = "auto",
    progressive: bool = True,
    carry: tuple = (),
    _segs: DataFrame | None = None,
    _hot: list | None = None,
    _cells: DataFrame | None = None,
) -> DataFrame:
    """(url, edge_id, dist, rank<=k, *carry) for edges within ``radius``.

    ``carry``: names of extra ``pages_geo`` columns (per-url constants,
    e.g. ``("lang",)``) to thread through the search and return alongside
    each (url, edge) row.  They ride the existing aggregations as
    ``min()`` over a constant — a few bytes per page in the slim cell
    shuffle — so downstream per-edge aggregations (page_edge_attributes)
    need NO url-join back to the pages table (measured: that join
    shuffled ~320 MB at 2.4M pages, the single largest shuffle of the
    pages stage).

    Pages meet edge segments in a distributed cell equi-join: pages
    shuffle (url, px, py, cell) only; segments are plain numeric rows
    (never WKB), no driver collect.  The page side is always repartitioned
    to an explicit width (``_knn_join_width``), because AQE cannot size
    the candidate fan-out inside the join stage.

    ``salt_threshold``: ``"auto"`` (default) pre-splits cells holding more
    than ``AUTO_SALT_THRESHOLD`` pages via one histogram pass; an int is an
    explicit threshold; ``None`` disables salting (AQE skew-join only).

    ``progressive=True`` (the DEFAULT) is two-phase cell-ring expansion:
    phase 1 searches a small padded cover, p1 = ``cell_size/2``, and
    computes every page's top-k in one aggregation (for any k); a page is
    FINAL when its k-th best distance <= p1 (its cell is inside every
    nearer edge's padded cover, so no closer edge can exist outside).  Only
    unresolved pages rejoin against the full ``radius`` cover.  Pinned
    result-identical to the flat search (tests/test_pages.py); at realistic
    urban edge density the flat plan explodes to ~400 candidates per page
    (radius 500 m) while phase 1 needs ~50 — measured 7x faster at 100k
    edges / 600k pages.
    """
    if progressive and radius > cell_size:
        p1 = cell_size / 2
        # hoist the shared work above both phases: ONE segment-explode Arrow
        # pass (the covers differ by radius pad, but the segments don't) and
        # ONE hot-cell histogram (phase 2's unresolved subset can only be
        # less skewed; salting extra cells is result-identical)
        segs_base = cache.track(
            spatial.explode_segments(edges, "edge_id").persist()
        )
        hot: list = []
        if salt_threshold:
            thr = AUTO_SALT_THRESHOLD if salt_threshold == "auto" else salt_threshold
            hot = spatial.hot_cells(
                pages_geo.filter(F.col("x").isNotNull()), "cell", thr
            )
        # FUSED phase 1: a LEFT candidate join + ONE aggregation computes
        # the per-url top-k, the resolution verdict AND carries the page
        # coords, so no kth shuffle, no final-url table and no url-join
        # over the full pages table (that stage chain left ~19 s of serial
        # residue in the round-4 profile).  Every page keeps a row (left
        # join), so "no candidate in the p1 cover" and "kth > p1" both fall
        # out of the same aggregate.
        agg = cache.track(
            _phase1_topk(
                pages_geo, k, p1, cell_size, segs_base, hot, carry,
            ).persist()
        )
        # EAGER: the resolved branch, the unresolved branch and the phase-2
        # cell-prune all scan this cache as three CONCURRENT subplans of the
        # caller's one action — submitted before the cache is populated,
        # each recomputed the final top-k aggregation from the shuffle
        # (three identical 8-task stages in the round-5 profile).  One count
        # materializes it once.
        agg.count()
        # resolution on the ROUNDED kth distance — identical to the flat
        # search's output rounding.  coalesce: a page with NO phase-1
        # candidate has a NULL top (size/element_at propagate NULL) and
        # must land in the UNRESOLVED branch, not vanish from both filters.
        kth_dist = F.round(F.element_at(F.col("top"), k)["dist"], 6)
        is_final = F.coalesce(
            (F.size("top") >= k) & (kth_dist <= F.lit(p1)), F.lit(False)
        )
        resolved = agg.filter(is_final).select(
            "url", F.posexplode("top").alias("pos", "t"), *carry
        ).select(
            "url",
            F.col("t.edge_id").alias("edge_id"),
            F.round(F.col("t.dist"), 6).alias("dist"),
            (F.col("pos") + 1).cast("int").alias("rank"),
            *carry,
        )
        unresolved_pages = agg.filter(~is_final).select(
            "url", F.col("px").alias("x"), F.col("py").alias("y"), "cell",
            *carry,
        )
        rest = nearest_edges(
            unresolved_pages, edges, k, radius, cell_size, salt_threshold,
            progressive=False, carry=carry,
            _segs=segs_base, _hot=hot,
            _cells=unresolved_pages.select("cell").distinct(),
        )
        return resolved.unionByName(rest)
    # pad the EDGE side (the far smaller cover): each page keeps its single
    # cell; edge SEGMENTS explode to cells within `radius` of their bbox —
    # the same cell-ring guarantee at a fraction of the shuffled rows (pages
    # are the 10^12 side at scale).  ZERO python in the hot path: the one
    # Arrow pass extracts segments per edge (O(|edges|)); the cover explode,
    # the cell join, the exact point-segment distance, and the k=1 min all
    # run native inside whole-stage codegen (point_segment_dist_expr is
    # term-for-term ops.points_line_dist, so distances are bit-identical to
    # the former pandas refine).
    pg = pages_geo.filter(F.col("x").isNotNull()).select(
        "url", F.col("x").alias("px"), F.col("y").alias("py"), "cell", *carry
    )
    segs = spatial.segment_cover(
        _segs if _segs is not None else spatial.explode_segments(edges, "edge_id"),
        radius, cell_size,
    )
    if _cells is not None:
        # phase-2 'rest' search: the full-radius cover explodes EVERY edge
        # segment to ~(2r/cell+1)^2 cells, but only the (typically few)
        # unresolved pages' cells can ever match the equi-join — a
        # broadcast semi-join on the page cells drops the irrelevant cover
        # rows map-side, before the shuffle-hash build (measured: the rest
        # stage was dominated by the 400k-edge x 36-cell cover, not by the
        # unresolved pages).  Exactly result-preserving: an equi-join row
        # needs a page with that cell.  Applied pre-salting (page cells are
        # raw cells; salt replication happens after).
        segs = segs.join(F.broadcast(_cells), "cell", "left_semi")

    # "auto" (the default): one map-side-combined histogram pass finds cells
    # whose page count exceeds the absolute straggler bound — a cell holding
    # more rows than that dominates its task on any cluster size, so the
    # threshold needs no total count.  When no cell is hot, the salting
    # machinery (string keys, edge-side replication) is skipped entirely.
    # (the progressive wrapper precomputes the histogram once via _hot)
    join_key = "cell"
    if salt_threshold:
        if _hot is not None:
            hot = _hot
        else:
            thr = AUTO_SALT_THRESHOLD if salt_threshold == "auto" else salt_threshold
            hot = spatial.hot_cells(pg, "cell", thr)
        if hot:
            pg, segs = spatial.salt_cells(pg, segs, hot)
            join_key = "cell_salt"

    # force the shuffle join: Catalyst's size estimate does not survive the
    # sequence/explode cover (it sized a ~16M-row cover under the 64 MB
    # broadcast threshold at 400k edges and OOM'd the driver building the
    # broadcast).
    segs = segs.hint("shuffle_hash")

    # each page carries exactly ONE cell and each segment covers a cell at
    # most once, so a (url, segment) pair meets exactly once — no pair-dedup
    # shuffle; multiple segments of one edge fold into the min aggregation.
    # The page side is repartitioned with an EXPLICIT partition count: AQE's
    # size-based coalescing sees only the slim shuffle INPUT (bytes), not
    # the ~30x candidate fan-out and native distance refine computed in the
    # join stage — at small inputs it would coalesce this join onto 1-2
    # tasks (measured: 16M candidate rows in ONE partition at 600k pages).
    # An explicit count is exempt from coalescing, so the compute keeps
    # shuffle.partitions-wide parallelism at every input size.
    pg = pg.repartition(_knn_join_width(pg), join_key)
    cand = pg.join(segs, join_key)
    scored = cand.withColumn("dist", spatial.point_segment_dist_expr()).filter(
        F.col("dist") <= radius
    )
    if k == 1:
        # nearest-only: min(struct(dist, edge_id)) aggregates map-side
        # (partial combine) — no full window shuffle+sort.  struct ordering
        # matches the window tie-break (dist asc, edge_id asc).
        best = scored.groupBy("url").agg(
            F.min(F.struct("dist", "edge_id")).alias("m"),
            *[F.min(c).alias(c) for c in carry],
        )
        return best.select(
            "url",
            F.col("m.edge_id").alias("edge_id"),
            F.round(F.col("m.dist"), 6).alias("dist"),
            F.lit(1).alias("rank"),
            *carry,
        )
    # k>1: collapse segments to per-(url, edge) line distance, then rank
    per_edge = scored.groupBy("url", "edge_id").agg(
        F.min("dist").alias("dist"), *[F.min(c).alias(c) for c in carry]
    )
    if k <= 8:
        # small-k: array_sort(collect_list)+slice aggregation instead of a
        # per-url window — partial (map-side) aggregation, no full
        # shuffle+sort per key; the collected array is bounded by the
        # radius-candidate count, not the table.  struct field order
        # (dist, edge_id) reproduces the window ordering exactly.
        topk = per_edge.groupBy("url").agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("dist", "edge_id"))), 1, k
            ).alias("top"),
            *[F.min(c).alias(c) for c in carry],
        )
        return topk.select(
            "url", F.posexplode("top").alias("pos", "t"), *carry
        ).select(
            "url",
            F.col("t.edge_id").alias("edge_id"),
            F.round(F.col("t.dist"), 6).alias("dist"),
            (F.col("pos") + 1).cast("int").alias("rank"),
            *carry,
        )
    w = Window.partitionBy("url").orderBy(F.col("dist").asc(), F.col("edge_id").asc())
    return (
        per_edge.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "url", "edge_id", F.round(F.col("dist"), 6).alias("dist"), "rank",
            *carry,
        )
    )


# ---------------------------------------------------------------------------
# page-derived edge attributes
# ---------------------------------------------------------------------------

def page_edge_attributes(page_edges: DataFrame, pages_geo: DataFrame) -> DataFrame:
    """Aggregate page mass per edge: count + language histogram (the grafted
    'attribute mass' the north star attaches to segments).

    When ``page_edges`` already carries ``lang`` (nearest_edges called with
    ``carry=("lang",)``), the url-join back to the pages table is skipped —
    at 2.4M pages that join shuffled ~320 MB (both sides keyed on url); the
    carried column rides the existing aggregations for a few bytes/page."""
    nearest = page_edges.filter(F.col("rank") == 1)
    if "lang" in page_edges.columns:
        joined = nearest
    else:
        joined = nearest.join(pages_geo.select("url", "lang"), "url")
    return joined.groupBy("edge_id").agg(
        F.count("*").alias("page_count"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("pages_en"),
        F.sum(F.when(F.col("lang") == "de", 1).otherwise(0)).alias("pages_de"),
        F.sum(F.when(F.col("lang") == "fr", 1).otherwise(0)).alias("pages_fr"),
        F.round(F.avg("dist"), 2).alias("avg_page_dist"),
    )
