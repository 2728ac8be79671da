"""Seeded input generators for the benchmark workloads.

Everything is built with native Spark expressions over ``spark.range`` and
``xxhash64(seed, ...)``, geometry bytes included (``_wkb``).  Nothing
here imports ``netascore_spark``, so an edit to the package (its fixtures
included) cannot change what the benchmark feeds it.

Coordinates are meters in a local plane.  The street grid has ``n``
horizontal and ``n`` vertical straight ways, 100 m apart, each jittered
by up to +-15 m and overhanging the outermost crossing by half a block.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Bump whenever any generator below changes what it emits: the prepared
# inputs are cached under a key that includes it.
VERSION = 3

STEP = 100.0
JITTER = 30.0
HALF = STEP / 2.0
_U_DEN = float(1 << 30)


def _u(seed: int, salt: int, *cols) -> F.Column:
    """Uniform [0, 1) from (seed, salt, cols)."""
    h = F.xxhash64(F.lit(seed), F.lit(salt), *cols)
    return F.pmod(h, F.lit(1 << 30)).cast("double") / F.lit(_U_DEN)


def _pick(seed: int, salt: int, values: list, *cols) -> F.Column:
    arr = F.array(*[F.lit(v) for v in values])
    h = F.xxhash64(F.lit(seed), F.lit(salt), *cols)
    return F.element_at(arr, (F.pmod(h, F.lit(len(values))) + 1).cast("int"))


def _jitter(seed: int, salt: int, col) -> F.Column:
    return (_u(seed, salt, col) - F.lit(0.5)) * F.lit(JITTER)


def _f64(v: str) -> str:
    """SQL text for the little-endian hex of the IEEE-754 bits of the double
    ``v`` (SQL text)."""
    bits = f"CAST(java_method('java.lang.Double', 'doubleToRawLongBits', CAST({v} AS DOUBLE)) AS BIGINT)"
    return f"lpad(hex(CAST(java_method('java.lang.Long', 'reverseBytes', {bits}) AS BIGINT)), 16, '0')"


def check_f64(spark: SparkSession) -> None:
    """Raise unless ``_f64`` gives the bytes of ``struct.pack('<d')``."""
    values = [0.0, 1.0, -1.0, 0.1, 123.456, -50.0, 1895.0000005, 3.3e-7, 1e300, -2.5e-300]
    got = [r[0] for r in spark.createDataFrame([(v,) for v in values], "v double")
           .selectExpr(_f64("v")).collect()]
    want = [struct.pack("<d", v).hex().upper() for v in values]
    if got != want:
        raise AssertionError(f"WKB double encoding: got {got}, want {want}")


def _wkb(code: int, counts: list[int], xs: list[str], ys: list[str]) -> F.Column:
    """ISO WKB (little-endian) of 2-D coordinates given as SQL text: byte
    order, type code, the uint32 ``counts``, then the (x, y) doubles.  One
    SQL expression, so building it costs one call into the JVM."""
    head = struct.pack("<BI" + "I" * len(counts), 1, code, *counts).hex()
    body = ", ".join(f"{_f64(x)}, {_f64(y)}" for x, y in zip(xs, ys))
    return F.expr(f"unhex(concat('{head}', {body}))")


def _line(xs: list[str], ys: list[str]) -> F.Column:
    return _wkb(2, [len(xs)], xs, ys)


def _point(x: str, y: str) -> F.Column:
    return _wkb(1, [], [x], [y])


def _box(x0: str, y0: str, x1: str, y1: str) -> F.Column:
    """Closed one-ring rectangle polygon."""
    return _wkb(3, [1, 5], [x0, x1, x1, x0, x0], [y0, y0, y1, y1, y0])


def _rect(df: DataFrame, x0: F.Column, y0: F.Column, w: float, h: float) -> DataFrame:
    """``df`` plus the w x h rectangle at (x0, y0) as ``geom``."""
    return df.withColumns({"_x0": x0, "_y0": y0}).withColumn(
        "geom", _box("_x0", "_y0", f"(_x0 + {w!r}D)", f"(_y0 + {h!r}D)")
    )


def street_positions(spark: SparkSession, seed: int, n: int) -> DataFrame:
    """(axis, i, pos): the jittered offset of every grid street.  axis 0 =
    horizontal street i at y=pos, axis 1 = vertical street i at x=pos."""
    return spark.range(2 * n).select(
        (F.col("id") >= n).cast("int").alias("axis"),
        F.pmod(F.col("id"), F.lit(n)).alias("i"),
        (F.pmod(F.col("id"), F.lit(n)) * F.lit(STEP) + _jitter(seed, 1, F.col("id"))).alias("pos"),
    )


# ---------------------------------------------------------------------------
# city_score: OSM-shaped lines + scaled attribute layers
# ---------------------------------------------------------------------------

OSM_STRING_COLUMNS = [
    "highway", "railway", "aerialway", "access", "bicycle", "foot", "oneway",
    "junction", "surface", "tracktype", "width", "layer", "motorcar", "ref",
    "route", "covered", "man_made", "bridge", "tunnel", "name", "amenity",
    "landuse", "leisure", "natural", "waterway",
]
HIGHWAYS = [
    "residential", "secondary", "tertiary", "primary", "unclassified",
    "service", "living_street", "cycleway", "footway", "path", "track",
]
SURFACES = ["asphalt", "gravel", "ground", "cobblestone", "paved", "compacted",
            "dirt", "concrete", None, "sand"]


def city_expected_edges(n: int) -> int:
    """Every way crosses the n ways of the other axis once and overhangs
    both outer crossings: n + 1 edges per way, 2n ways."""
    return 2 * n * (n + 1)


def city_inputs(spark: SparkSession, seed: int, n: int) -> dict[str, DataFrame]:
    lo, hi = -HALF, (n - 1) * STEP + HALF
    extent = (n - 1) * STEP
    pos = street_positions(spark, seed, n)

    horiz = F.col("axis") == 0
    pos = pos.withColumns({
        "_x1": F.when(horiz, F.lit(lo)).otherwise(F.col("pos")),
        "_y1": F.when(horiz, F.col("pos")).otherwise(F.lit(lo)),
        "_x2": F.when(horiz, F.lit(hi)).otherwise(F.col("pos")),
        "_y2": F.when(horiz, F.col("pos")).otherwise(F.lit(hi)),
    })
    oid = F.col("axis") * F.lit(n) + F.col("i") + F.lit(1000)
    tags = F.map_filter(
        F.create_map(
            F.lit("maxspeed"), _pick(seed, 10, ["30", "50", "70", None], oid),
            F.lit("lanes"), _pick(seed, 11, ["1", "2", "3", None], oid),
            F.lit("cycleway"), _pick(seed, 12, ["lane", "track", "shared_lane", None, None, None], oid),
        ),
        lambda k, v: v.isNotNull(),
    )
    strings = {c: F.lit(None).cast("string") for c in OSM_STRING_COLUMNS}
    strings.update(
        highway=_pick(seed, 2, HIGHWAYS, oid),
        surface=_pick(seed, 3, SURFACES, oid),
        oneway=_pick(seed, 4, ["yes", None, None, None, None], oid),
        foot=_pick(seed, 5, ["yes", "no", None, None], oid),
        width=_pick(seed, 6, ["3.5 m", "4", "6", None, None], oid),
        name=F.concat(F.lit("street-"), oid.cast("string")),
    )
    streets = pos.select(
        oid.alias("osm_id"), _line(["_x1", "_x2"], ["_y1", "_y2"]).alias("way"),
        *[strings[c].alias(c) for c in OSM_STRING_COLUMNS], tags.alias("tags"),
    )
    # designated bicycle routes: every fourth horizontal street carries a
    # route over three blocks, exactly on the street's line
    r0 = F.pmod(F.xxhash64(F.lit(seed), F.lit(20), F.col("i")), F.lit(max(n - 3, 1)))
    rstrings = {c: F.lit(None).cast("string") for c in OSM_STRING_COLUMNS}
    rstrings.update(route=F.lit("bicycle"), name=F.lit("route"))
    routes = pos.filter(horiz & (F.pmod(F.col("i"), F.lit(4)) == 0)).withColumn(
        "_r0", r0 * F.lit(STEP)
    ).select(
        (F.col("i") + F.lit(10 * n + 1000)).alias("osm_id"),
        _line(["_r0", f"(_r0 + {3 * STEP!r}D)"], ["pos", "pos"]).alias("way"),
        *[rstrings[c].alias(c) for c in OSM_STRING_COLUMNS],
        F.create_map(F.lit("network"), _pick(seed, 21, ["icn", "ncn", "rcn", "lcn"], F.col("i"))).alias("tags"),
    )
    osm_line = streets.unionByName(routes)

    # blocks: (bi, bj) for bi = horizontal street, bj = block column
    hy = pos.filter(horiz).select(F.col("i").alias("bi"), F.col("pos").alias("y"))
    vx = pos.filter(~horiz).select(F.col("i").alias("bj"), F.col("pos").alias("x"))
    blocks = hy.crossJoin(vx.filter(F.col("bj") < n - 1))
    bid = F.col("bi") * F.lit(n) + F.col("bj")
    x, y = F.col("x"), F.col("y")

    building = _rect(
        blocks.filter(F.pmod(F.col("bj"), F.lit(2)) == 0),
        x + F.lit(20.0) + _u(seed, 30, bid) * F.lit(20.0), y + F.lit(18.0), 50.0, 10.0,
    ).select(bid.alias("building_id"), "geom")
    greenness = _rect(
        blocks.filter((F.pmod(F.col("bi"), F.lit(2)) == 0) & (F.pmod(F.col("bj"), F.lit(2)) == 1)
                      & (F.col("bi") < n - 1)),
        x + F.lit(20.0), y + F.lit(25.0) + _u(seed, 31, bid) * F.lit(10.0), 60.0, 40.0,
    ).select(bid.alias("greenness_id"), "geom")
    facility = blocks.withColumns({
        "_px": x + F.lit(70.0), "_py": y + F.lit(15.0) + _pick(seed, 32, [5.0, 25.0, 35.0], bid),
    }).select(bid.alias("facility_id"), _point("_px", "_py").alias("geom"))
    crossing = blocks.filter(_u(seed, 33, bid) < F.lit(0.5)).withColumns({
        "_px": x + F.lit(50.0), "_py": y + F.lit(15.0) + _u(seed, 34, bid) * F.lit(12.0),
    }).select(bid.alias("crossing_id"), _point("_px", "_py").alias("geom"))
    tiles = max(1, (n + 3) // 4)
    tile = F.col("id")
    noise = _rect(
        spark.range(tiles * tiles),
        F.pmod(tile, F.lit(tiles)) * F.lit(400.0) - F.lit(HALF),
        F.floor(tile / F.lit(tiles)) * F.lit(400.0) - F.lit(HALF), 400.0, 400.0,
    ).select(
        (tile + F.lit(1)).alias("noise_id"), "geom",
        _pick(seed, 35, [55.0, 60.0, 65.0, 70.0], tile).alias("noise"),
    )
    rivers = hy.filter(F.pmod(F.col("bi"), F.lit(16)) == 8).withColumn("_ry", y - F.lit(25.0)).select(
        F.col("bi").alias("water_id"),
        _line([f"{lo!r}D", f"{hi!r}D"], ["_ry", "_ry"]).alias("geom"),
        F.lit("line").alias("geom_type"),
    )
    lakes = _rect(
        spark.range(4),
        (F.lit(0.2) + F.lit(0.5) * F.pmod(tile, F.lit(2))) * F.lit(extent) + _u(seed, 36, tile) * F.lit(STEP),
        (F.lit(0.2) + F.lit(0.5) * F.floor(tile / F.lit(2))) * F.lit(extent) + F.lit(40.0),
        180.0, 150.0,
    ).select((tile + F.lit(10 * n)).alias("water_id"), "geom", F.lit("polygon").alias("geom_type"))
    water = rivers.unionByName(lakes)

    # DEM on the package's 10 m grid: a 2 % west-east ramp plus one hill
    # at a seeded position
    m = int(extent / 10.0) + 14
    hx = 0.2 + 0.6 * (((seed * 2654435761) >> 7) % 1000) / 1000.0
    hyv = 0.2 + 0.6 * (((seed * 40503) >> 3) % 1000) / 1000.0
    cx = F.pmod(F.col("id"), F.lit(m)) - F.lit(7)
    cy = F.floor(F.col("id") / F.lit(m)) - F.lit(7)
    xm, ym = cx * F.lit(10.0), cy * F.lit(10.0)
    sig = 0.1 * extent + 1.0
    dem = spark.range(m * m).select(
        cx.cast("long").alias("cell_x"), cy.cast("long").alias("cell_y"),
        F.round(
            F.lit(400.0) + F.lit(0.02) * xm
            + F.lit(180.0) * F.exp(-(F.pow(xm - F.lit(hx * extent), 2) + F.pow(ym - F.lit(hyv * extent), 2))
                                   / F.lit(2 * sig * sig)),
            2,
        ).alias("elevation"),
    )
    return {
        "osm_line": osm_line, "building": building, "greenness": greenness,
        "facility": facility, "crossing": crossing, "noise": noise,
        "water": water, "dem": dem,
    }


# ---------------------------------------------------------------------------
# pages_curate: pages, slim street edges, admin/landuse rectangles, docs
# ---------------------------------------------------------------------------

WORDS = (
    "strasse weg platz brücke park fluss berg stadt haus markt "
    "street road bridge river hill town square market lane gate "
    "rue pont place marché ville colline fleuve porte jardin quai"
).split()
HOT_SHARE = 0.30
MAX_WORDS = 24
# Rectangle bounds sit half a micrometer off the 6-decimal coordinate
# grid the pages are written on, so no page lies exactly on a boundary.
_OFF = 5e-7


def edge_segments(spark: SparkSession, seed: int, n: int) -> DataFrame:
    """(edge_id, x1, y1, x2, y2): one straight edge per grid block side,
    2n(n-1) edges."""
    pos = street_positions(spark, seed, n)
    a = pos.select("axis", "i", F.col("pos").alias("at"))
    spans = pos.select("axis", (F.col("i") - 1).alias("j"), F.col("pos").alias("b")).join(
        pos.select("axis", F.col("i").alias("j"), F.col("pos").alias("a")), ["axis", "j"]
    )
    # street (axis, i, at) x the spans (a..b) between consecutive streets
    # of the other axis
    e = a.join(spans.withColumn("axis", F.lit(1) - F.col("axis")), "axis")
    horiz = F.col("axis") == 0
    return e.select(
        (F.col("axis") * F.lit(n * (n - 1)) + F.col("i") * F.lit(n - 1) + F.col("j") + F.lit(1)).alias("edge_id"),
        F.when(horiz, F.col("a")).otherwise(F.col("at")).alias("x1"),
        F.when(horiz, F.col("at")).otherwise(F.col("a")).alias("y1"),
        F.when(horiz, F.col("b")).otherwise(F.col("at")).alias("x2"),
        F.when(horiz, F.col("at")).otherwise(F.col("b")).alias("y2"),
    )


def rectangles(n: int) -> list[tuple[int, str, float, float, float, float]]:
    """(polygon_id, kind, x0, y0, x1, y1): a 4x4 admin tiling of the city
    plus one landuse rectangle per admin tile, overlapping it."""
    extent = (n - 1) * STEP
    t = (extent + STEP) / 4.0
    out = []
    pid = 1
    for a in range(4):
        for b in range(4):
            x0, y0 = -HALF + a * t + _OFF, -HALF + b * t + _OFF
            out.append((pid, "admin", x0, y0, x0 + t, y0 + t))
            pid += 1
            out.append((pid, "landuse", x0 + t / 3, y0 + t / 4, x0 + t / 2, y0 + t / 2))
            pid += 1
    return out


def pages_inputs(spark: SparkSession, seed: int, n_pages: int, n: int) -> dict[str, DataFrame]:
    extent = (n - 1) * STEP
    edges = edge_segments(spark, seed, n).select(
        "*", _line(["x1", "x2"], ["y1", "y2"]).alias("geom"),
    )
    rect_schema = "polygon_id long, kind string, x0 double, y0 double, x1 double, y1 double"
    polygons = spark.createDataFrame(rectangles(n), rect_schema).select(
        "*", _box("x0", "y0", "x1", "y1").alias("geom"),
    )

    i = F.col("id")
    words = F.array(*[_pick(seed, 100 + k, WORDS, i) for k in range(MAX_WORDS)])
    nw = F.pmod(F.xxhash64(F.lit(seed), F.lit(99), i), F.lit(MAX_WORDS - 4)) + F.lit(5)
    text = F.array_join(F.slice(words, F.lit(1), nw.cast("int")), " ")
    hot = [(0.25 * extent, 0.25 * extent), (0.6 * extent, 0.4 * extent), (0.8 * extent, 0.75 * extent)]
    hc = F.pmod(F.xxhash64(F.lit(seed), F.lit(3), i), F.lit(3))
    hot_x = F.element_at(F.array(*[F.lit(c[0]) for c in hot]), (hc + 1).cast("int"))
    hot_y = F.element_at(F.array(*[F.lit(c[1]) for c in hot]), (hc + 1).cast("int"))
    is_hot = _u(seed, 4, i) < F.lit(HOT_SHARE)
    # the rest spread over the city plus a 700 m margin, so some pages
    # have no edge within the 500 m search radius
    span = extent + 1400.0
    x = F.when(is_hot, hot_x + (_u(seed, 5, i) - F.lit(0.5)) * F.lit(160.0)).otherwise(
        F.lit(-700.0) + _u(seed, 6, i) * F.lit(span))
    y = F.when(is_hot, hot_y + (_u(seed, 7, i) - F.lit(0.5)) * F.lit(160.0)).otherwise(
        F.lit(-700.0) + _u(seed, 8, i) * F.lit(span))
    has_geo = F.pmod(i, F.lit(10)) != 7
    geo_meta = F.when(
        has_geo,
        F.format_string('<meta name="geo.position" content="%.6f;%.6f">', y, x),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<!DOCTYPE html><html><head><title>page "), i.cast("string"),
        F.lit("</title>"), geo_meta,
        F.lit('</head><body><nav>skip me</nav><main id="content">'), text,
        F.lit("</main><footer>© example</footer></body></html>"),
    )
    lang = F.when(F.pmod(i, F.lit(20)) == 19, F.lit(None).cast("string")).otherwise(
        F.element_at(F.array(F.lit("en"), F.lit("de"), F.lit("fr")), (F.pmod(i, F.lit(3)) + 1).cast("int")))
    pages = spark.range(n_pages).select(
        F.concat(F.lit("https://site"), F.pmod(i, F.lit(997)).cast("string"),
                 F.lit(f".example/{seed}/p/"), i.cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(1735689600) + i * F.lit(137)).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        text.alias("text"),
        lang.alias("lang"),
    )
    return {"pages": pages, "edges": edges, "polygons": polygons}


# ---------------------------------------------------------------------------
# docs with planted exact and near copies
# ---------------------------------------------------------------------------

DOC_WORDS = 30


def docs_inputs(spark: SparkSession, seed: int, n_docs: int) -> dict[str, DataFrame]:
    """ids with id%10==1 repeat the text of id-1 exactly; ids with
    id%10==6 repeat the body of id-1 plus a two-word tail (a near copy);
    every other doc is unique seeded words."""
    i = F.col("id")
    base = F.when(F.pmod(i, F.lit(10)).isin(1, 6), i - F.lit(1)).otherwise(i)
    words = [
        F.concat(F.lit(f"wording{k}and"),
                 F.pmod(F.xxhash64(F.lit(seed), base, F.lit(k)), F.lit(997)).cast("string"))
        for k in range(DOC_WORDS)
    ]
    tail = F.when(F.pmod(i, F.lit(10)) == 6, F.lit(" zz qq")).otherwise(F.lit(""))
    docs = spark.range(n_docs).select(
        i.alias("doc_id"), F.concat(F.concat_ws(" ", *words), tail).alias("text"),
    )
    return {"docs": docs}
