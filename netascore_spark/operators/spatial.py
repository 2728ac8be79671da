"""Distributed spatial-join framework: cell-grid equi-join + exact refine.

This is the engine's replacement for every GiST-indexed spatial join in the
reference (SURVEY.md §2.3 J2-J9).  Pattern:

1. **cover** — explode each geometry to its covering grid cells (Arrow
   pandas UDF over WKB, `netascore_spark.grid`), radius queries pad the
   cover by ``r`` (cell-ring expansion);
2. **equi-join on cell** — Catalyst picks shuffle-hash/sort-merge/broadcast;
   AQE splits skewed (hot urban) cells, and :func:`salt_cells` pre-salts
   known-hot cells on top;
3. **dedup pairs** — a pair can meet in several cells; ``dropDuplicates``
   on the id pair;
4. **refine** — exact geometry predicate via an Arrow pandas UDF using
   :mod:`netascore_spark.geometry.ops`.

At 100 TB the cover explode is a map-side operation; only (cell, id, wkb)
tuples shuffle.  Small layers (routes, admin polygons) should be broadcast
by the caller via ``F.broadcast``.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from netascore_spark import grid
from netascore_spark.geometry import ops, wkb


# ---------------------------------------------------------------------------
# cover UDFs
# ---------------------------------------------------------------------------

def cover_cells_udf(cell_size: float = grid.DEFAULT_CELL_SIZE, pad: float = 0.0):
    """pandas UDF: WKB binary -> array<long> of covering cells."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _cover(geoms: pd.Series) -> pd.Series:
        out = []
        for data in geoms:
            if data is None:
                out.append(None)
                continue
            kind, body = wkb.decode(bytes(data))
            if kind == "Point":
                cells = grid.cover_point(body[0], body[1], cell_size, pad)
            elif kind == "LineString":
                cells = grid.cover_line(body, cell_size, pad)
            elif kind == "Polygon":
                cells = grid.cover_polygon(body, cell_size, pad)
            else:  # multi/collection: bbox cover
                bb = wkb.bbox((kind, body))
                cells = grid.cover_bbox(*bb, cell_size, pad)
            out.append(cells.tolist())
        return pd.Series(out)

    return _cover


_COVER_BBOX_TYPE = T.StructType(
    [
        T.StructField("cells", T.ArrayType(T.LongType())),
        T.StructField("x0", T.DoubleType()),
        T.StructField("y0", T.DoubleType()),
        T.StructField("x1", T.DoubleType()),
        T.StructField("y1", T.DoubleType()),
    ]
)


def cover_cells_bbox_udf(cell_size: float = grid.DEFAULT_CELL_SIZE, pad: float = 0.0):
    """Like :func:`cover_cells_udf` but also emits the geometry bbox —
    computed from the SAME decode the cover already pays for.  Lets
    candidate_pairs bbox-prefilter candidates natively: at 200 m cells over
    10-50 m features ~88% of cell-coincident pairs are bbox-disjoint
    (measured on the building overlay), and every refine this engine runs
    (intersects, contains, intersection length, union area, DWithin<=pad)
    is provably false/zero for pairs whose pad-expanded bboxes are
    disjoint."""

    @F.pandas_udf(_COVER_BBOX_TYPE)
    def _cover(geoms: pd.Series) -> pd.DataFrame:
        cells_o: list = []
        bb_o: list = []
        for data in geoms:
            if data is None:
                cells_o.append(None)
                bb_o.append((None, None, None, None))
                continue
            kind, body = wkb.decode(bytes(data))
            if kind == "Point":
                cells = grid.cover_point(body[0], body[1], cell_size, pad)
                bb = (float(body[0]), float(body[1]), float(body[0]), float(body[1]))
            elif kind == "LineString":
                cells = grid.cover_line(body, cell_size, pad)
                bb = (
                    float(body[:, 0].min()), float(body[:, 1].min()),
                    float(body[:, 0].max()), float(body[:, 1].max()),
                )
            elif kind == "Polygon":
                cells = grid.cover_polygon(body, cell_size, pad)
                r = body[0]
                bb = (
                    float(r[:, 0].min()), float(r[:, 1].min()),
                    float(r[:, 0].max()), float(r[:, 1].max()),
                )
            else:  # multi/collection: bbox cover
                b = wkb.bbox((kind, body))
                cells = grid.cover_bbox(*b, cell_size, pad)
                bb = (float(b[0]), float(b[1]), float(b[2]), float(b[3]))
            cells_o.append(cells.tolist())
            bb_o.append(bb)
        return pd.DataFrame(
            {
                "cells": cells_o,
                "x0": [b[0] for b in bb_o],
                "y0": [b[1] for b in bb_o],
                "x1": [b[2] for b in bb_o],
                "y1": [b[3] for b in bb_o],
            }
        )

    return _cover


def point_cell_expr(
    x: Column, y: Column, cell_size: float = grid.DEFAULT_CELL_SIZE
) -> Column:
    """Native Column form of :func:`netascore_spark.grid.cell` — the single
    cell id for a point, entirely inside whole-stage codegen (no python).
    Bit-identical to the numpy path for the valid coordinate domain
    (|index| < 2^20)."""
    ix = F.floor(x / F.lit(float(cell_size))).cast("long")
    iy = F.floor(y / F.lit(float(cell_size))).cast("long")
    return F.shiftleft(ix + F.lit(grid._B), grid._SHIFT).bitwiseOR(iy + F.lit(grid._B))


def with_cells(
    df: DataFrame,
    geom_col: str = "geom",
    cell_size: float = grid.DEFAULT_CELL_SIZE,
    pad: float = 0.0,
    cell_col: str = "cell",
) -> DataFrame:
    """Explode df to one row per (row, covering cell)."""
    return df.withColumn(
        cell_col, F.explode(cover_cells_udf(cell_size, pad)(F.col(geom_col)))
    )


# ---------------------------------------------------------------------------
# candidate generation
# ---------------------------------------------------------------------------

def cover_with_cells_bbox(
    df: DataFrame,
    geom_col: str,
    cell_size: float,
    pad: float = 0.0,
    prefix: str = "l",
) -> DataFrame:
    """One row per (input row, covering cell) with the geometry bbox as
    ``__<prefix>x0..__<prefix>y1`` columns — the left-side candidate cover
    of :func:`candidate_pairs`, exposed so callers joining the SAME
    geometry table against several layers can compute (and persist) the
    cover once and pass it via ``left_cov``."""
    cb = cover_cells_bbox_udf(cell_size, pad)(F.col(geom_col))
    # materialize the struct before the explode references its field
    # (ExtractGenerator inlining — see operators/dedup.py)
    df = df.withColumn("__cb", cb)
    return df.select(
        "*",
        F.col("__cb.x0").alias(f"__{prefix}x0"),
        F.col("__cb.y0").alias(f"__{prefix}y0"),
        F.col("__cb.x1").alias(f"__{prefix}x1"),
        F.col("__cb.y1").alias(f"__{prefix}y1"),
        F.explode("__cb.cells").alias("cell"),
    ).drop("__cb")


def candidate_pairs(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_geom: str = "geom",
    right_geom: str = "geom",
    cell_size: float = grid.DEFAULT_CELL_SIZE,
    pad: float = 0.0,
    pad_side: str = "left",
    extra_left: list[str] | None = None,
    extra_right: list[str] | None = None,
    broadcast_right: bool = False,
    left_cov: DataFrame | None = None,
    dedup: bool = True,
) -> DataFrame:
    """Distinct candidate (left, right) pairs meeting in >=1 grid cell.

    ``pad`` expands the cover of ``pad_side`` — used for ST_DWithin(r) and
    buffer joins, where only one side needs the ring expansion.

    ``dedup=False`` skips the pair-dedup exchange: a pair meeting in k>1
    cells is then emitted k times.  Correct ONLY for consumers whose
    downstream fold is duplicate-insensitive — a boolean flag with a final
    ``distinct()`` (water), or a union-area kernel that dedups repeated
    geometry within each group (buffer overlays).  A SUM-style consumer
    (noise) MUST keep the dedup.  The win is structural: without the
    dedup's exchange the refine UDF runs inside the cell-join stage
    itself, so the whole candidate path is cover -> join -> refine with
    no intermediate shuffle of fat WKB rows (measured round 6: the dedup
    + re-spread exchanges carried 100-300 MB per overlay op).

    ``left_cov``: a PRE-COMPUTED (and typically persisted) cover of the
    left side, as produced by :func:`cover_with_cells_bbox` with the same
    geometry column and pad.  The attributes stage joins the SAME 30 m
    edge-buffer table against three different layers (water lines, water
    polygons, greenness); without sharing, each join re-runs the
    WKB-decode cover UDF over every buffer polygon (~3 s per pass at 400k
    edges, measured round 6) — one persisted cover amortizes it to one
    pass.  Callers own the persist lifecycle (pipeline.cache.track).
    """
    lcols = [left_id, left_geom] + (extra_left or [])
    rcols = [right_id, right_geom] + (extra_right or [])
    lpad = pad if pad_side == "left" else 0.0
    rpad = pad if pad_side == "right" else 0.0

    # spread the cover inputs: the WKB-decode cover UDF is python CPU, and
    # its source is often a byte-coalesced cache (a 50 MB edge table reads
    # as ~3 partitions).  Slim (id, geom) rows make the extra exchange cheap;
    # the broadcast side skips it (a repartition below a broadcast exchange
    # is pure waste).
    def _cells_bbox(df, geom_col, cpad, px):
        return cover_with_cells_bbox(df, geom_col, cell_size, cpad, px)

    if left_cov is not None:
        lc = left_cov
    else:
        lc = _cells_bbox(spread(left.select(*lcols)), left_geom, lpad, "l")
    right_sel = right.select(*rcols)
    if not broadcast_right:
        right_sel = spread(right_sel)
    rc = _cells_bbox(right_sel, right_geom, rpad, "r")
    rc = rc.withColumnsRenamed(
        {c: f"__r_{c}" for c in rcols if c in lcols}
    )
    r_id = f"__r_{right_id}" if right_id in lcols else right_id
    r_geom = f"__r_{right_geom}" if right_geom in lcols else right_geom
    if broadcast_right:
        rc = F.broadcast(rc)
    if not dedup and not broadcast_right:
        # the refine UDF will run INSIDE the join stage (no dedup exchange
        # above it), so pin the join width explicitly: the cell exchange
        # below is the join's own left input (no extra shuffle), and an
        # explicit repartition is exempt from AQE's byte-based coalescing
        # — same rationale as spread()
        lc = spread(lc, "cell")
    pairs = lc.join(rc, "cell").drop("cell")
    # NATIVE bbox prefilter (measured: 88% of cell-coincident building-
    # overlay candidates are bbox-disjoint): every refine downstream of
    # candidate_pairs — intersects, contains, intersection length, union
    # area, DWithin<=pad — is false/zero when the pad-expanded bboxes are
    # disjoint, so dropping those rows BEFORE the pair dedup, the spread
    # exchange and the Arrow boundary is exact.  Touching bboxes are kept
    # (strict inequalities): ST_Intersects of touching geometries is true.
    p = float(pad)
    disjoint = (
        (F.col("__lx0") > F.col("__rx1") + p)
        | (F.col("__lx1") < F.col("__rx0") - p)
        | (F.col("__ly0") > F.col("__ry1") + p)
        | (F.col("__ly1") < F.col("__ry0") - p)
    )
    pairs = pairs.filter(~disjoint).drop(
        "__lx0", "__ly0", "__lx1", "__ly1", "__rx0", "__ry0", "__rx1", "__ry1"
    )
    if dedup:
        # pin the dedup's final-aggregate width (explicit same-key
        # repartition = the dedup's own exchange, exempt from AQE byte
        # coalescing): candidate rows are few MB of WKB but minutes of
        # refine CPU downstream, and without the pin the consumer needed a
        # SECOND full exchange (spread) just to restore parallelism after
        # the coalesced dedup — the refine now runs in the dedup stage
        pairs = spread(pairs, left_id, r_id)
        pairs = pairs.dropDuplicates([left_id, r_id])
    renames = {}
    if r_id != right_id:
        renames[r_id] = f"r_{right_id}"
    if r_geom != right_geom:
        renames[r_geom] = f"r_{right_geom}"
    return pairs.withColumnsRenamed(renames)


def dwithin_points_native(
    pts: DataFrame,
    radius: float,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    cell_size: float | None = None,
) -> DataFrame:
    """Distributed DWithin SELF-join for point tables with ZERO python:
    the cell-grid candidate join expressed entirely in native Columns.

    The pattern is the same as candidate_pairs (cover -> cell equi-join ->
    refine), specialised to points so every step stays in whole-stage
    codegen: the left side keeps its single cell, the right side explodes
    to the 3x3 neighbourhood (cell_size >= radius makes one ring
    sufficient), and the exact distance refine is plain arithmetic.

    Returns (id_a, id_b, dist) with id_a < id_b and dist <= radius — the
    SQL-oracle-checkable proof of the engine's cell-join strategy.
    """
    cell_size = cell_size or max(radius, 1e-9)
    k = int(np.ceil(radius / cell_size))
    from netascore_spark import grid

    def cell_expr(x, y):
        ix = F.floor(x / F.lit(cell_size)).cast("long")
        iy = F.floor(y / F.lit(cell_size)).cast("long")
        return F.shiftleft(ix + F.lit(grid._B), grid._SHIFT).bitwiseOR(iy + F.lit(grid._B))

    a = pts.select(
        F.col(id_col).alias("id_a"), F.col(x_col).alias("xa"), F.col(y_col).alias("ya")
    ).withColumn("cell", cell_expr(F.col("xa"), F.col("ya")))
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in range(-k, k + 1)
            for dy in range(-k, k + 1)
        ]
    )
    b = (
        pts.select(
            F.col(id_col).alias("id_b"), F.col(x_col).alias("xb"), F.col(y_col).alias("yb")
        )
        .withColumn("__o", F.explode(offs))
        .withColumn(
            "cell",
            F.shiftleft(
                F.floor(F.col("xb") / F.lit(cell_size)).cast("long")
                + F.col("__o.dx") + F.lit(grid._B),
                grid._SHIFT,
            ).bitwiseOR(
                F.floor(F.col("yb") / F.lit(cell_size)).cast("long")
                + F.col("__o.dy") + F.lit(grid._B)
            ),
        )
        .drop("__o")
    )
    # each (a, b) pair meets in exactly ONE cell (a keeps its single cell;
    # b's ring covers it at most once) — no pair-dedup shuffle needed
    d2 = (F.col("xa") - F.col("xb")) ** 2 + (F.col("ya") - F.col("yb")) ** 2
    return (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(d2 <= F.lit(float(radius) * float(radius)))
        .select("id_a", "id_b", F.round(F.sqrt(d2), 6).alias("dist"))
    )


def spread(df: DataFrame, *cols: str | Column) -> DataFrame:
    """Explicit repartition to ``spark.sql.shuffle.partitions`` ahead of a
    Python-heavy (pandas UDF / applyInPandas) stage, or of any join,
    distinct or window whose input is slim in bytes but heavy in rows —
    the package's one width pin.

    AQE's size-based coalescing uses BYTES as the cost proxy; a candidate
    set that is 30 MB of slim rows but minutes of geometry CPU collapses to
    1-2 tasks under it.  An explicit repartition node is exempt from AQE
    coalescing, so the python work keeps full parallelism (and round-robin
    rebalances skew).  With key columns (names or expressions) the
    repartition doubles as the groupBy/join/window exchange (no extra
    shuffle)."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *cols)


# ---------------------------------------------------------------------------
# refine UDFs (exact predicates over WKB pairs)
# ---------------------------------------------------------------------------

def _binary_pair_udf(fn: Callable, rettype):
    @F.pandas_udf(rettype)
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        # memoize WKB decodes within the batch: candidate streams repeat
        # both sides heavily (one edge buffer meets many water/noise
        # features and vice versa), and the decode was pure per-row
        # overhead on repeats — same trick as osmxml._intersection_points
        memo: dict[bytes, tuple] = {}

        def dec(g):
            k = bytes(g)
            c = memo.get(k)
            if c is None:
                c = memo[k] = wkb.decode(k)
            return c

        out = []
        for ga, gb in zip(a, b):
            if ga is None or gb is None:
                out.append(None)
            else:
                out.append(fn(dec(ga), dec(gb)))
        return pd.Series(out)

    # asNondeterministic: these refines ARE deterministic, but flagging them
    # stops Catalyst pushing UDF-derived filter predicates below the spread()
    # repartition — the pushdown DUPLICATES the UDF evaluation below the
    # exchange, where byte-based AQE coalescing runs it on 1-2 tasks (the
    # expensive eval then happens twice, once serially).
    return _udf.asNondeterministic()


def intersects_udf():
    """ST_Intersects for any geometry pair (line/line, line/poly, pt/poly)."""

    def fn(a, b):
        ka, kb = a[0], b[0]
        if ka == "LineString" and kb == "LineString":
            return ops.lines_intersect(a[1], b[1])
        if ka == "LineString" and kb == "Polygon":
            return ops.line_intersects_polygon(a[1], b[1])
        if ka == "Polygon" and kb == "LineString":
            return ops.line_intersects_polygon(b[1], a[1])
        if ka == "Point" and kb == "Polygon":
            return bool(ops.point_in_polygon(a[1], b[1]))
        if ka == "Polygon" and kb == "Point":
            return bool(ops.point_in_polygon(b[1], a[1]))
        if ka == "Polygon" and kb == "Polygon":
            return ops.polygons_intersect(a[1], b[1])
        if ka == "Point" and kb == "LineString":
            return ops.point_on_line(a[1], b[1], 1e-7)
        if ka == "LineString" and kb == "Point":
            return ops.point_on_line(b[1], a[1], 1e-7)
        raise ValueError(f"intersects: unsupported pair {ka}/{kb}")

    return _binary_pair_udf(fn, T.BooleanType())


def contains_line_udf():
    """ST_Contains(a linestring, b linestring) — route containment (J4)."""
    return _binary_pair_udf(
        lambda a, b: ops.line_contains_line(a[1], b[1]), T.BooleanType()
    )


def dwithin_udf(radius: float):
    """ST_DWithin(point a, line/point b, radius) (J5) — batch-vectorized:
    candidates are grouped by the (repeated) right-hand geometry within each
    Arrow batch, decoded once, and all its points measured in one numpy
    pass.  ~50x the row-at-a-time refine on dense candidate sets."""

    @F.pandas_udf(T.BooleanType())
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        pts = np.empty((len(a), 2))
        valid = np.ones(len(a), dtype=bool)
        for i, g in enumerate(a):
            if g is None:
                valid[i] = False
                continue
            kind, body = wkb.decode(bytes(g))
            if kind != "Point":
                raise ValueError("dwithin: left side must be Point")
            pts[i] = body
        out = np.zeros(len(a), dtype=bool)
        order: dict[bytes, list[int]] = {}
        for i, g in enumerate(b):
            if g is None:
                valid[i] = False
            elif valid[i]:
                order.setdefault(bytes(g), []).append(i)
        for gb, idx in order.items():
            kind, body = wkb.decode(gb)
            ix = np.array(idx)
            if kind == "LineString":
                out[ix] = ops.points_line_dist(pts[ix], body) <= radius
            elif kind == "Point":
                d = pts[ix] - body
                out[ix] = (d[:, 0] ** 2 + d[:, 1] ** 2) <= radius * radius
            else:
                raise ValueError(f"dwithin: unsupported right {kind}")
        res = pd.Series(out).astype(object)
        res[~valid] = None
        return res

    # see _binary_pair_udf: prevents filter-pushdown duplication below spread
    return _udf.asNondeterministic()


def intersection_area_udf():
    """ST_Area(ST_Intersection(poly a, poly b)) (J6 buffers x buildings)."""
    return _binary_pair_udf(
        lambda a, b: float(ops.intersection_area(a[1], b[1])), T.DoubleType()
    )


def intersection_length_udf():
    """ST_Length(ST_Intersection(line a, poly b)) (J7 water, J8 noise)."""

    def fn(a, b):
        if a[0] == "LineString" and b[0] == "Polygon":
            return float(ops.line_polygon_intersection_length(a[1], b[1]))
        if a[0] == "Polygon" and b[0] == "LineString":
            return float(ops.line_polygon_intersection_length(b[1], a[1]))
        raise ValueError(f"intersection_length: unsupported {a[0]}/{b[0]}")

    return _binary_pair_udf(fn, T.DoubleType())


def point_in_polygon_udf():
    return _binary_pair_udf(
        lambda a, b: bool(ops.point_in_polygon(a[1], b[1])), T.BooleanType()
    )


def buffer_udf(radius: float, cap: str = "flat", quad_segs: int = 8):
    """WKB linestring -> WKB polygon buffer (ST_Buffer ... 'endcap=flat')."""

    @F.pandas_udf(T.BinaryType())
    def _buf(geoms: pd.Series) -> pd.Series:
        out = []
        for data in geoms:
            if data is None:
                out.append(None)
                continue
            kind, body = wkb.decode(bytes(data))
            if kind == "LineString":
                ring = ops.buffer_line(body, radius, cap, quad_segs)
            elif kind == "Point":
                ring = ops.buffer_point(body, radius, quad_segs)
            else:
                raise ValueError(f"buffer: unsupported {kind}")
            out.append(wkb.encode(("Polygon", [ring])))
        return pd.Series(out)

    return _buf


def geom_area_udf():
    """ST_Area over WKB polygons."""

    @F.pandas_udf(T.DoubleType())
    def _area(geoms: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if g is None else float(ops.polygon_area(wkb.decode(bytes(g))[1]))
                for g in geoms
            ]
        )

    return _area


def endpoints_udf():
    """ST_StartPoint/ST_EndPoint: WKB line -> struct(x0,y0,x1,y1)."""

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("x0", T.DoubleType()),
                T.StructField("y0", T.DoubleType()),
                T.StructField("x1", T.DoubleType()),
                T.StructField("y1", T.DoubleType()),
            ]
        )
    )
    def _ends(geoms: pd.Series) -> pd.DataFrame:
        rows = []
        for g in geoms:
            if g is None:
                rows.append((None, None, None, None))
            else:
                c = wkb.decode(bytes(g))[1]
                rows.append((float(c[0, 0]), float(c[0, 1]), float(c[-1, 0]), float(c[-1, 1])))
        return pd.DataFrame(rows, columns=["x0", "y0", "x1", "y1"])

    return _ends


def point_xy_udf():
    """ST_X/ST_Y: WKB point -> struct(x, y).  One O(|points|) Arrow pass —
    run once per point table, never per candidate pair."""

    @F.pandas_udf(
        T.StructType([T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())])
    )
    def _xy(geoms: pd.Series) -> pd.DataFrame:
        rows = []
        for g in geoms:
            if g is None:
                rows.append((None, None))
            else:
                c = wkb.decode(bytes(g))[1]
                rows.append((float(c[0]), float(c[1])))
        return pd.DataFrame(rows, columns=["x", "y"])

    return _xy


def line_segments_udf():
    """ST_DumpSegments: WKB linestring -> array<struct(sx1,sy1,sx2,sy2)>.
    One O(|edges|) Arrow pass; the explode to segment rows is native."""

    @F.pandas_udf(
        T.ArrayType(
            T.StructType(
                [
                    T.StructField("sx1", T.DoubleType()),
                    T.StructField("sy1", T.DoubleType()),
                    T.StructField("sx2", T.DoubleType()),
                    T.StructField("sy2", T.DoubleType()),
                ]
            )
        )
    )
    def _segs(geoms: pd.Series) -> pd.Series:
        out = []
        for g in geoms:
            if g is None:
                out.append(None)
                continue
            c = wkb.decode(bytes(g))[1]
            out.append(
                [
                    (float(c[i, 0]), float(c[i, 1]), float(c[i + 1, 0]), float(c[i + 1, 1]))
                    for i in range(len(c) - 1)
                ]
            )
        return pd.Series(out)

    return _segs


def explode_segments(lines: DataFrame, line_id: str) -> DataFrame:
    """lines(line_id, geom WKB) -> one row per segment (sx1,sy1,sx2,sy2).
    The single python pass of the native point-vs-line joins — O(|lines|),
    never per candidate."""
    return (
        spread(lines.select(line_id, "geom"))
        .select(line_id, F.explode(line_segments_udf()(F.col("geom"))).alias("__s"))
        .select(line_id, "__s.sx1", "__s.sy1", "__s.sx2", "__s.sy2")
    )


def segment_cover(segs: DataFrame, radius: float, cell_size: float) -> DataFrame:
    """Explode segment rows to their radius-padded bbox cell cover — native
    sequence+explode, no python.  A (point, segment) pair meets in exactly
    one cell (points keep their single cell), so no pair-dedup is needed."""
    r = F.lit(float(radius))
    return (
        segs.withColumn(
            "__ix",
            F.explode(
                F.sequence(
                    F.floor((F.least("sx1", "sx2") - r) / F.lit(cell_size)).cast("long"),
                    F.floor((F.greatest("sx1", "sx2") + r) / F.lit(cell_size)).cast("long"),
                )
            ),
        )
        .withColumn(
            "__iy",
            F.explode(
                F.sequence(
                    F.floor((F.least("sy1", "sy2") - r) / F.lit(cell_size)).cast("long"),
                    F.floor((F.greatest("sy1", "sy2") + r) / F.lit(cell_size)).cast("long"),
                )
            ),
        )
        .withColumn(
            "cell",
            F.shiftleft(F.col("__ix") + F.lit(grid._B), grid._SHIFT).bitwiseOR(
                F.col("__iy") + F.lit(grid._B)
            ),
        )
        .drop("__ix", "__iy")
    )


def point_segment_dist_expr() -> Column:
    """Exact point-to-segment distance as a native Column over columns
    (px, py, sx1, sy1, sx2, sy2) — term-for-term ops.points_line_dist
    (t = clip(ap.ab/den), den substituted 1.0 for degenerate segments,
    EPS^2 = 1e-18), so results are bit-identical to the pandas refine."""
    dx = F.col("sx2") - F.col("sx1")
    dy = F.col("sy2") - F.col("sy1")
    den = dx * dx + dy * dy
    den = F.when(den <= F.lit(1e-18), F.lit(1.0)).otherwise(den)
    t = F.least(
        F.greatest(
            ((F.col("px") - F.col("sx1")) * dx + (F.col("py") - F.col("sy1")) * dy) / den,
            F.lit(0.0),
        ),
        F.lit(1.0),
    )
    ddx = F.col("px") - (F.col("sx1") + t * dx)
    ddy = F.col("py") - (F.col("sy1") + t * dy)
    return F.sqrt(ddx * ddx + ddy * ddy)


_RING_EDGE_TYPE = T.ArrayType(
    T.ArrayType(
        T.StructType(
            [
                T.StructField("x1", T.DoubleType()),
                T.StructField("y1", T.DoubleType()),
                T.StructField("x2", T.DoubleType()),
                T.StructField("y2", T.DoubleType()),
            ]
        )
    )
)


def polygon_rings_udf():
    """WKB polygon -> array (per ring) of arrays of edges (x1,y1,x2,y2).
    One O(|polygons|) Arrow pass; downstream PIP is pure native HOFs."""

    @F.pandas_udf(_RING_EDGE_TYPE)
    def _rings(geoms: pd.Series) -> pd.Series:
        out = []
        for g in geoms:
            if g is None:
                out.append(None)
                continue
            kind, rings = wkb.decode(bytes(g))
            if kind != "Polygon":
                raise ValueError(f"polygon_rings_udf: expected Polygon, got {kind}")
            out.append(
                [
                    [
                        (float(r[i, 0]), float(r[i, 1]), float(r[i + 1, 0]), float(r[i + 1, 1]))
                        for i in range(len(r) - 1)
                    ]
                    for r in rings
                ]
            )
        return pd.Series(out)

    return _rings


def pip_expr(px: Column, py: Column, rings: Column) -> Column:
    """ST_Contains(point) as a pure native expression over the ring-edge
    arrays (polygon_rings_udf) — term-for-term ops.point_in_polygon /
    point_in_ring: ray-cast parity with the half-open rule, boundary within
    EPS counts inside (exterior) / not-excluded (holes).  Runs entirely
    JVM-side per candidate row: no python, no shuffle."""
    eps = F.lit(ops.EPS)

    def seg_dist(e):
        dx = e["x2"] - e["x1"]
        dy = e["y2"] - e["y1"]
        den = dx * dx + dy * dy
        den = F.when(den <= F.lit(1e-18), F.lit(1.0)).otherwise(den)
        t = F.least(
            F.greatest(((px - e["x1"]) * dx + (py - e["y1"]) * dy) / den, F.lit(0.0)),
            F.lit(1.0),
        )
        ddx = px - (e["x1"] + t * dx)
        ddy = py - (e["y1"] + t * dy)
        return F.sqrt(ddx * ddx + ddy * ddy)

    def crossing(e):
        # half-open rule (yi > y) != (yj > y), then x < x-intercept
        opens = (e["y1"] > py) != (e["y2"] > py)
        xint = (e["x2"] - e["x1"]) * (py - e["y1"]) / (e["y2"] - e["y1"]) + e["x1"]
        return opens & (px < xint)

    # Higher-order functions are CodegenFallback (interpreted, per-row
    # closure allocation), so the number of HOF passes per ring is the
    # dominant constant.  ONE fused aggregate per ring computes crossing
    # count AND boundary flag, with the combine done in the finish lambda
    # so the accumulator is evaluated once.  The per-edge arithmetic
    # (seg_dist with sqrt, crossing with the x-intercept division) is
    # unchanged term-for-term — boolean parity with ops.point_in_polygon
    # is pinned by the property test and the pip_join oracle.
    def ring_scan(ring, combine):
        return F.aggregate(
            ring,
            F.struct(F.lit(0).alias("cnt"), F.lit(False).alias("bnd")),
            lambda acc, e: F.struct(
                (
                    acc["cnt"] + F.when(crossing(e), F.lit(1)).otherwise(F.lit(0))
                ).alias("cnt"),
                (acc["bnd"] | (seg_dist(e) <= eps)).alias("bnd"),
            ),
            combine,
        )

    exterior = rings[0]
    # inside exterior: on boundary OR odd crossings
    inside0 = ring_scan(exterior, lambda a: a["bnd"] | (a["cnt"] % 2 == 1))
    holes = F.slice(rings, 2, F.greatest(F.size(rings) - 1, F.lit(0)))
    # inside a hole: odd crossings AND NOT on the hole's boundary
    in_hole = F.exists(
        holes, lambda h: ring_scan(h, lambda a: ~a["bnd"] & (a["cnt"] % 2 == 1))
    )
    return inside0 & ~F.coalesce(in_hole, F.lit(False))


_FLAT_EDGE_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("ring", T.IntegerType()),
            T.StructField("x1", T.DoubleType()),
            T.StructField("y1", T.DoubleType()),
            T.StructField("x2", T.DoubleType()),
            T.StructField("y2", T.DoubleType()),
        ]
    )
)

# bit-mask PIP encodes one ring per bit of a long; ring index 64 would wrap
# (Java << is mod 64) and collide with the exterior bit
MAX_NATIVE_RINGS = 64


def polygon_edges_udf():
    """WKB polygon -> FLAT array of (ring, x1, y1, x2, y2) edges, for the
    codegen-native PIP path (explode + bit-mask aggregate).  One
    O(|polygons|) Arrow pass, same decode as polygon_rings_udf but without
    the ring nesting so ONE native ``explode`` reaches the edges.

    Polygons with more than MAX_NATIVE_RINGS rings don't fit the 64-bit
    parity mask — raise with a pointer at the HOF path (pip_expr)."""

    @F.pandas_udf(_FLAT_EDGE_TYPE)
    def _edges(geoms: pd.Series) -> pd.Series:
        out = []
        for g in geoms:
            if g is None:
                out.append(None)
                continue
            kind, rings = wkb.decode(bytes(g))
            if kind != "Polygon":
                raise ValueError(f"polygon_edges_udf: expected Polygon, got {kind}")
            if len(rings) > MAX_NATIVE_RINGS:
                raise ValueError(
                    f"polygon_edges_udf: {len(rings)} rings > {MAX_NATIVE_RINGS}; "
                    "use join_polygons(strategy='hof') for this layer"
                )
            out.append(
                [
                    (ri, float(r[i, 0]), float(r[i, 1]), float(r[i + 1, 0]), float(r[i + 1, 1]))
                    for ri, r in enumerate(rings)
                    for i in range(len(r) - 1)
                ]
            )
        return pd.Series(out)

    return _edges


_CELL_EDGE_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("cell", T.LongType()),
            T.StructField("base", T.LongType()),
            T.StructField("edges", _FLAT_EDGE_TYPE),
        ]
    )
)


def polygon_cell_edges_udf(cell_size: float = grid.DEFAULT_CELL_SIZE):
    """WKB polygon -> per covered grid cell: (cell, base parity mask,
    CLIPPED edge list) — grid-accelerated ray casting for the codegen
    PIP path.

    The plain native path (polygon_edges_udf + explode) fans every (page,
    polygon) candidate out to the polygon's FULL edge list; at 2.4M pages
    x ~E edges that exploded row stream is the pages stage's dominant DRAM
    traffic.  For a +x ray cast from any point P inside a fixed grid cell,
    each polygon edge falls into exactly one class:

    - ALWAYS crosses: edge entirely right of the cell (min(x1,x2) >= cx1,
      so the x-intercept at any ray height exceeds every px < cx1) whose
      half-open y-interval [ymin, ymax) contains the cell's full y-range
      (ymin <= cy0 and ymax >= cy1 covers every py in [cy0, cy1)).  Its
      crossing contribution is a per-cell CONSTANT — folded into ``base``,
      the XOR of ``1L << ring`` per ring with an odd always-count.
    - NEVER crosses: y-interval disjoint from the cell's y-range
      (ymax <= cy0 or ymin >= cy1 — no ray height in the cell lands in
      [ymin, ymax)), or edge entirely left (max(x1,x2) <= cx0 <= px makes
      px < x-intercept impossible).  Dropped.
    - otherwise: kept in ``edges`` and evaluated exactly per page by
      pip_edge_flags — identical arithmetic to the unclipped path.

    Edges whose EPS-expanded bbox touches the cell are ALWAYS kept (never
    folded or dropped), because only they can trigger the boundary-within-
    EPS verdict: dist(P, e) <= EPS implies P lies within EPS of e's bbox.
    Kept edges are evaluated exactly, so only the fold and the drop carry
    proofs.  Per interior cell the kept list is EMPTY and the verdict is
    ``base`` alone; per boundary cell it is the few local edges — the
    exploded row count drops from O(E) to O(perimeter/cell) per candidate.

    The cell cover is exterior-bbox cover with pad 0, bit-for-bit
    grid.cover_polygon — candidates are unchanged vs the unclipped path.
    """
    cs = float(cell_size)
    eps = float(ops.EPS)

    @F.pandas_udf(_CELL_EDGE_TYPE)
    def _cell_edges(geoms: pd.Series) -> pd.Series:
        out = []
        for g in geoms:
            if g is None:
                out.append(None)
                continue
            kind, rings = wkb.decode(bytes(g))
            if kind != "Polygon":
                raise ValueError(
                    f"polygon_cell_edges_udf: expected Polygon, got {kind}"
                )
            if len(rings) > MAX_NATIVE_RINGS:
                raise ValueError(
                    f"polygon_cell_edges_udf: {len(rings)} rings > "
                    f"{MAX_NATIVE_RINGS}; use join_polygons(strategy='hof')"
                )
            ridx = np.concatenate(
                [np.full(len(r) - 1, ri, dtype=np.int64) for ri, r in enumerate(rings)]
            )
            x1 = np.concatenate([r[:-1, 0] for r in rings])
            y1 = np.concatenate([r[:-1, 1] for r in rings])
            x2 = np.concatenate([r[1:, 0] for r in rings])
            y2 = np.concatenate([r[1:, 1] for r in rings])
            exmin = np.minimum(x1, x2)
            exmax = np.maximum(x1, x2)
            eymin = np.minimum(y1, y2)
            eymax = np.maximum(y1, y2)
            ext = rings[0]
            ix0 = int(np.floor(ext[:, 0].min() / cs))
            ix1 = int(np.floor(ext[:, 0].max() / cs))
            iy0 = int(np.floor(ext[:, 1].min() / cs))
            iy1 = int(np.floor(ext[:, 1].max() / cs))
            cells = []
            for ix in range(ix0, ix1 + 1):
                cx0, cx1 = ix * cs, (ix + 1) * cs
                for iy in range(iy0, iy1 + 1):
                    cy0, cy1 = iy * cs, (iy + 1) * cs
                    near = (
                        (exmin - eps < cx1)
                        & (exmax + eps >= cx0)
                        & (eymin - eps < cy1)
                        & (eymax + eps >= cy0)
                    )
                    always = (
                        ~near & (exmin >= cx1) & (eymin <= cy0) & (eymax >= cy1)
                    )
                    never = ~near & (
                        (eymax <= cy0) | (eymin >= cy1) | (exmax <= cx0)
                    )
                    kept = ~(always | never)
                    base = 0
                    if always.any():
                        cnt = np.bincount(ridx[always], minlength=len(rings))
                        for ri in np.nonzero(cnt % 2)[0]:
                            base ^= 1 << int(ri)
                    ki = np.nonzero(kept)[0]
                    cells.append(
                        (
                            ((ix + grid._B) << grid._SHIFT) | (iy + grid._B),
                            base,
                            [
                                (int(ridx[i]), float(x1[i]), float(y1[i]),
                                 float(x2[i]), float(y2[i]))
                                for i in ki
                            ],
                        )
                    )
            out.append(cells)
        return pd.Series(out)

    return _cell_edges


def pip_edge_flags(px: Column, py: Column, e: Column) -> tuple[Column, Column]:
    """(crossing, boundary) for ONE exploded ring edge — plain codegen'd
    column arithmetic, term-for-term the per-edge body of
    ops.point_in_ring (geometry/ops.py:238): half-open ray-cast rule
    ``(y1 > py) != (y2 > py)`` then ``px < x-intercept``; boundary is the
    exact point-segment distance within ops.EPS (same clip-t formula as
    point_segment_dist_expr, den substituted 1.0 for degenerate segments).

    Unlike pip_expr's higher-order functions (CodegenFallback: interpreted
    per-row with closure allocation), every term here lives inside
    whole-stage codegen; parity with the python kernel is pinned by
    tests/test_properties.py and the pip_join oracle."""
    dx = e["x2"] - e["x1"]
    dy = e["y2"] - e["y1"]
    den = dx * dx + dy * dy
    den = F.when(den <= F.lit(1e-18), F.lit(1.0)).otherwise(den)
    t = F.least(
        F.greatest(((px - e["x1"]) * dx + (py - e["y1"]) * dy) / den, F.lit(0.0)),
        F.lit(1.0),
    )
    ddx = px - (e["x1"] + t * dx)
    ddy = py - (e["y1"] + t * dy)
    boundary = F.sqrt(ddx * ddx + ddy * ddy) <= F.lit(ops.EPS)
    opens = (e["y1"] > py) != (e["y2"] > py)
    # when opens is false y2 == y1 may divide by zero -> NaN; px < NaN is
    # false and the conjunction already gates on opens, same as the kernel
    xint = (e["x2"] - e["x1"]) * (py - e["y1"]) / (e["y2"] - e["y1"]) + e["x1"]
    crossing = opens & (px < xint)
    return crossing, boundary


def ring_bit(ring: Column) -> Column:
    """``1L << ring`` with a Column shift amount.  ``F.shiftleft``'s
    ``numBits`` parameter only accepts a python int, so route through the
    SQL function registry, which takes Columns for both arguments."""
    return F.call_function("shiftleft", F.lit(1).cast("long"), ring)


def pip_mask_verdict(xm: Column, bm: Column) -> Column:
    """Combine the per-(point, polygon) parity/boundary bit masks into the
    ST_Contains verdict.  Bit r of ``xm`` is the ray-cast crossing parity
    of ring r (bit_xor of ``1L << ring`` per crossing edge); bit r of
    ``bm`` is 'on ring r's boundary within EPS' (bit_or).  Exactly
    ops.point_in_polygon: inside the exterior = boundary OR odd parity
    (bit 0); excluded by a hole = odd parity AND NOT boundary on any ring
    >= 1 (bits 1..63 of xm & ~bm)."""
    one = F.lit(1).cast("long")
    inside0 = xm.bitwiseOR(bm).bitwiseAND(one) == one
    in_hole = (
        xm.bitwiseAND(F.bitwise_not(bm)).bitwiseAND(F.lit(-2).cast("long"))
        != F.lit(0).cast("long")
    )
    return inside0 & ~in_hole


def dwithin_point_line_native(
    points: DataFrame,
    lines: DataFrame,
    point_id: str,
    line_id: str,
    radius: float,
    cell_size: float = grid.DEFAULT_CELL_SIZE,
) -> DataFrame:
    """Distinct (line_id, point_id) pairs with ST_DWithin(point, line,
    radius) — the J5 point-vs-linestring join with ZERO python in the hot
    path.

    Python touches each input row exactly once (point_xy_udf over points,
    line_segments_udf over lines); the candidate join and the exact
    point-segment distance refine are pure native Columns inside whole-stage
    codegen, mirroring ops.points_line_dist term-for-term so results are
    bit-identical to the pandas refine (netascore_spark/geometry/ops.py:78).

    Plan shape: points keep their single cell; segments explode to the
    radius-padded bbox cover via native sequence+explode (no UDF).  A
    (point, segment) pair meets in exactly one cell, so the only dedup is
    across segments of the same line, folded into the distinct aggregation.
    """
    pts = (
        spread(points.select(point_id, "geom"))
        .select(point_id, point_xy_udf()(F.col("geom")).alias("__p"))
        .select(point_id, F.col("__p.x").alias("px"), F.col("__p.y").alias("py"))
        .filter(F.col("px").isNotNull())
        .withColumn("cell", point_cell_expr(F.col("px"), F.col("py"), cell_size))
    )
    segs = segment_cover(explode_segments(lines, line_id), radius, cell_size)
    cand = pts.join(segs, "cell")
    # sqrt() <= radius (not d2 <= r^2): matches the pandas refine's compare
    # on the rooted distance, so boundary ulps can't flip between the paths
    hits = cand.filter(point_segment_dist_expr() <= F.lit(float(radius)))
    return hits.select(line_id, point_id).distinct()


# ---------------------------------------------------------------------------
# skew salting (north rule: hot urban cells)
# ---------------------------------------------------------------------------

def hot_cells(df_cells: DataFrame, cell_col: str = "cell", threshold: int = 100_000):
    """Histogram pass: cells whose row count exceeds ``threshold``.

    Used to pre-salt known-hot tiles; AQE skew-join handles the rest at
    runtime.  Returns a (small) list collected to the driver — at 100 TB the
    hot-cell set is bounded by world urban area / cell area (~10^5), fine.
    """
    return [
        r[cell_col]
        for r in df_cells.groupBy(cell_col).count().filter(F.col("count") > threshold).collect()
    ]


def salt_cells(
    big: DataFrame,
    small: DataFrame,
    hot: list[int],
    cell_col: str = "cell",
    salt_buckets: int = 8,
):
    """Salt hot cells: the big (probe) side gets a random-ish salt from a
    stable hash, the small (build) side is replicated ``salt_buckets`` times
    for hot cells.  Join both on ``cell_salt``.
    """
    hot_arr = F.array(*[F.lit(h) for h in hot]) if hot else F.array().cast("array<long>")
    big_s = big.withColumn(
        "cell_salt",
        F.when(
            F.array_contains(hot_arr, F.col(cell_col)),
            F.concat_ws(
                "_", F.col(cell_col).cast("string"),
                (F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salt_buckets))).cast("string"),
            ),
        ).otherwise(F.col(cell_col).cast("string")),
    )
    salts = F.explode(
        F.when(
            F.array_contains(hot_arr, F.col(cell_col)),
            F.array(*[F.lit(i) for i in range(salt_buckets)]),
        ).otherwise(F.array(F.lit(-1)))
    )
    small_s = small.withColumn("__salt", salts).withColumn(
        "cell_salt",
        F.when(
            F.col("__salt") >= 0,
            F.concat_ws("_", F.col(cell_col).cast("string"), F.col("__salt").cast("string")),
        ).otherwise(F.col(cell_col).cast("string")),
    ).drop("__salt")
    return big_s, small_s


def hilbert_key_expr(cell: Column) -> Column:
    """grid.hilbert_key as a native Column.  ``df.repartitionByRange(n,
    hilbert_key_expr(F.col("cell")))`` gives locality-preserving range
    partitions: each partition is a compact spatial blob, so hot urban
    tiles co-locate with their neighbours instead of striping.

    Implemented as ONE ``F.aggregate`` fold over the 21 bit levels — not 21
    unrolled rounds.  Unrolling references each round's x/y several times,
    so the Catalyst tree grows ~4x per round (~4^21 nodes at execution:
    measured java.lang.OutOfMemoryError on a 16 GB driver).  The
    higher-order-function form keeps the tree O(one round) and stays
    entirely JVM-side; all arithmetic is explicit LONG (the unrolled form's
    ``lit(s)*lit(s)`` was int32 and overflowed for bit levels >= 16).
    """
    one = F.lit(1).cast("long")
    zero = F.lit(0).cast("long")
    x0 = F.shiftright(cell, grid._SHIFT)
    y0 = cell.bitwiseAND(F.lit((1 << grid._SHIFT) - 1))
    init = F.struct(x0.alias("x"), y0.alias("y"), zero.alias("d"))

    def step(acc: Column, s: Column) -> Column:
        x, y, d = acc["x"], acc["y"], acc["d"]
        rx = F.when(x.bitwiseAND(s) > 0, one).otherwise(zero)
        ry = F.when(y.bitwiseAND(s) > 0, one).otherwise(zero)
        d2 = d + s * s * (rx * F.lit(3).cast("long")).bitwiseXOR(ry)
        xr = F.when(rx == one, s - one - x).otherwise(x)
        yr = F.when(rx == one, s - one - y).otherwise(y)
        swap = ry == zero
        nx = F.when(swap, yr).otherwise(x)
        ny = F.when(swap, xr).otherwise(y)
        return F.struct(nx.alias("x"), ny.alias("y"), d2.alias("d"))

    levels = F.array(
        *[
            F.lit(1 << b).cast("long")
            for b in range(grid._HILBERT_ORDER - 1, -1, -1)
        ]
    )
    return F.aggregate(levels, init, step, lambda acc: acc["d"])
