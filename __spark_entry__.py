"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps SURVEY.md §2 operators onto the driver's TPC-H-ish
tables (SQL-checkable against the DuckDB ``oracle_sql()``), plus the
spatial/web-scale operators over deterministic in-memory fixtures
(rows-only checks — DuckDB can't express the geometry kernel).

Every computed column is aliased identically in Spark and SQL; doubles are
rounded in BOTH engines before comparison.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ===========================================================================
# flagship: synthesized segment scoring over lineitem (the DSL end-to-end)
# ===========================================================================

def _synth_indicators(li: DataFrame) -> DataFrame:
    """Map lineitem columns onto NetAScore indicator domains (deterministic)."""
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_returnflag") == "R", "primary")
        .when(F.col("l_returnflag") == "A", "residential")
        .otherwise("service")
        .alias("road_category"),
        F.least(F.col("l_quantity") * 3, F.lit(130.0)).alias("max_speed"),
        (F.floor(F.col("l_extendedprice")) % 9 - 4).cast("double").alias("gradient"),
        F.when(F.col("l_discount") < 0.02, "asphalt")
        .when(F.col("l_discount") < 0.05, "gravel")
        .when(F.col("l_discount") < 0.08, "soft")
        .otherwise("cobble")
        .alias("pavement"),
        F.when(F.col("l_linestatus") == "O", "bicycle_lane").otherwise("no").alias(
            "bicycle_infrastructure"
        ),
    )


_SYNTH_PROFILE = None


def _synth_profile():
    global _SYNTH_PROFILE
    if _SYNTH_PROFILE is None:
        from netascore_spark.plans.profile import INDICATORS, Profile

        _SYNTH_PROFILE = Profile(
            name="synth",
            weights={
                **{i: None for i in INDICATORS},
                "bicycle_infrastructure": 0.2,
                "road_category": 0.3,
                "max_speed": 0.1,
                "gradient": 0.1,
                "pavement": 0.1,
            },
            overrides=[
                {
                    "description": "steep + loose (profile_bike.yml:35-46)",
                    "indicator": "pavement",
                    "output": {"type": "weight", "for": ["pavement", "gradient"]},
                    "mapping": {
                        "{gravel, soft, cobble}": {
                            "indicator": "gradient",
                            "mapping": {"{-4, -3, 3, 4}": 1.6},
                        }
                    },
                },
            ],
            indicator_mapping=[
                {"indicator": "bicycle_infrastructure",
                 "mapping": {"bicycle_lane": 0.75, "no": 0}},
                {"indicator": "road_category",
                 "mapping": {"primary": 0, "residential": 0.8, "service": 0.85}},
                {"indicator": "max_speed",
                 "classes": {"ge100": 0, "ge80": 0.2, "ge70": 0.3, "ge60": 0.4,
                             "ge50": 0.6, "ge30": 0.85, "g0": 0.9, "e0": 1}},
                {"indicator": "gradient",
                 "mapping": {4: 0, 3: 0.25, 2: 0.4, 1: 0.5, 0: 0.9, -1: 1,
                             -2: 0.95, -3: 0.35, -4: 0}},
                {"indicator": "pavement",
                 "mapping": {"asphalt": 1, "gravel": 0.75, "soft": 0.4, "cobble": 0}},
            ],
        )
    return _SYNTH_PROFILE


def q_dsl_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from netascore_spark.plans.profile import calculate_index

    ind = _synth_indicators(_t(spark, sf_dir, "lineitem"))
    present = {"road_category", "max_speed", "gradient", "pavement",
               "bicycle_infrastructure"}
    resolver = lambda n: (
        F.col(n) if n in present else F.lit(None).cast("string")
    )
    res = calculate_index(_synth_profile(), resolver)
    return ind.select(
        "l_orderkey",
        "l_linenumber",
        res["index"].alias("bike_index"),
        res["index_robustness"].alias("robustness"),
    )


_DSL_ORACLE = """
WITH ind AS (
    SELECT l_orderkey, l_linenumber,
        CASE l_returnflag WHEN 'R' THEN 'primary' WHEN 'A' THEN 'residential'
             ELSE 'service' END AS road_category,
        least(l_quantity * 3, 130.0) AS max_speed,
        (CAST(floor(l_extendedprice) AS BIGINT) % 9 - 4)::DOUBLE AS gradient,
        CASE WHEN l_discount < 0.02 THEN 'asphalt'
             WHEN l_discount < 0.05 THEN 'gravel'
             WHEN l_discount < 0.08 THEN 'soft' ELSE 'cobble' END AS pavement,
        CASE WHEN l_linestatus = 'O' THEN 'bicycle_lane' ELSE 'no' END
            AS bicycle_infrastructure
    FROM lineitem
), scored AS (
    -- every literal cast to DOUBLE: DuckDB literals default to DECIMAL,
    -- which would change the FP results vs Spark's double arithmetic
    SELECT l_orderkey, l_linenumber,
        CASE bicycle_infrastructure WHEN 'bicycle_lane' THEN 0.75::DOUBLE WHEN 'no' THEN 0.0::DOUBLE END AS s_bi,
        CASE road_category WHEN 'primary' THEN 0.0::DOUBLE WHEN 'residential' THEN 0.8::DOUBLE
             WHEN 'service' THEN 0.85::DOUBLE END AS s_rc,
        CASE WHEN max_speed >= 100 THEN 0.0::DOUBLE WHEN max_speed >= 80 THEN 0.2::DOUBLE
             WHEN max_speed >= 70 THEN 0.3::DOUBLE WHEN max_speed >= 60 THEN 0.4::DOUBLE
             WHEN max_speed >= 50 THEN 0.6::DOUBLE WHEN max_speed >= 30 THEN 0.85::DOUBLE
             WHEN max_speed > 0 THEN 0.9::DOUBLE WHEN max_speed = 0 THEN 1.0::DOUBLE END AS s_ms,
        CASE gradient WHEN 4 THEN 0.0::DOUBLE WHEN 3 THEN 0.25::DOUBLE WHEN 2 THEN 0.4::DOUBLE
             WHEN 1 THEN 0.5::DOUBLE WHEN 0 THEN 0.9::DOUBLE WHEN -1 THEN 1.0::DOUBLE WHEN -2 THEN 0.95::DOUBLE
             WHEN -3 THEN 0.35::DOUBLE WHEN -4 THEN 0.0::DOUBLE END AS s_grad,
        CASE pavement WHEN 'asphalt' THEN 1.0::DOUBLE WHEN 'gravel' THEN 0.75::DOUBLE
             WHEN 'soft' THEN 0.4::DOUBLE WHEN 'cobble' THEN 0.0::DOUBLE END AS s_pav,
        CASE WHEN pavement IN ('gravel','soft','cobble')
                  AND gradient IN (-4,-3,3,4) THEN 1.6::DOUBLE ELSE 0.1::DOUBLE END AS w_po
    FROM ind
), summed AS (
    SELECT l_orderkey, l_linenumber,
        -- ws left-assoc in double, mirroring the compiler fold order
        ((((0.2::DOUBLE + 0.3::DOUBLE) + 0.1::DOUBLE) + w_po) + w_po) AS ws,
        s_bi, s_rc, s_ms, s_grad, s_pav, w_po
    FROM scored
)
SELECT l_orderkey, l_linenumber,
    -- per-term s_i * (w_i/ws) in indicator_mapping order, then Spark's
    -- round() semantics (HALF_UP on the shortest decimal representation ->
    -- VARCHAR->DECIMAL round-trip).
    CAST(round(CAST(CAST(
        0.0::DOUBLE + s_bi*(0.2::DOUBLE/ws)
            + s_rc*(0.3::DOUBLE/ws)
            + s_ms*(0.1::DOUBLE/ws)
            + s_grad*(w_po/ws)
            + s_pav*(w_po/ws)
        AS VARCHAR) AS DECIMAL(38,20)), 4) AS DOUBLE) AS bike_index,
    round(ws / ws, 4) AS robustness
FROM summed
"""


# ===========================================================================
# projection / filter / scalar (P1-P9)
# ===========================================================================

def q_filter_project(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") >= 10) & F.col("l_returnflag").isin(["R", "A"])
    ).select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        # NB: no round() — per-row double products are bit-identical across
        # engines; round()'s tie behavior at the 2dp boundary is not.
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        F.least(F.col("l_quantity"), F.lit(25.0)).alias("qty_clamped"),
    )


_FILTER_ORACLE = """
SELECT l_orderkey, l_linenumber, l_returnflag,
       l_extendedprice * (1 - l_discount) AS net_price,
       least(l_quantity, 25.0) AS qty_clamped
FROM lineitem
WHERE l_quantity >= 10 AND l_returnflag IN ('R', 'A')
"""


def q_case_vocab(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    norm = (
        F.when(F.col("event_type").isNull(), F.lit(None).cast("string"))
        .when(F.col("event_type").isin(["error", "signup"]), "rare")
        .when(F.col("event_type").isin(["click", "view"]), "common")
        .otherwise("other")
    )
    return ev.select("event_id", norm.alias("event_class"))


_CASE_ORACLE = """
SELECT event_id,
       CASE WHEN event_type IS NULL THEN NULL
            WHEN event_type IN ('error', 'signup') THEN 'rare'
            WHEN event_type IN ('click', 'view') THEN 'common'
            ELSE 'other' END AS event_class
FROM events
"""


def q_regex_extract(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    pat = '"k": ([0-9]{1,3})'
    extracted = F.when(
        F.col("props").rlike(pat), F.regexp_extract(F.col("props"), pat, 1).cast("int")
    )
    return ev.select("event_id", extracted.alias("k_value"))


_REGEX_ORACLE = """
SELECT event_id,
       CASE WHEN regexp_matches(props, '"k": ([0-9]{1,3})')
            THEN CAST(regexp_extract(props, '"k": ([0-9]{1,3})', 1) AS INTEGER)
       END AS k_value
FROM events
"""


def q_width_parse(spark, sf_dir):
    """The width regex parser (P6/P7, osm_attributes.sql.j2:708-726) applied
    to synthesized width strings derived from part.p_size."""
    p = _t(spark, sf_dir, "part")
    synth = (
        F.when(F.col("p_size") % 4 == 0, F.concat(F.col("p_size").cast("string"), F.lit(" m")))
        .when(F.col("p_size") % 4 == 1, F.col("p_size").cast("string"))
        .when(F.col("p_size") % 4 == 2, F.concat(F.col("p_size").cast("string"), F.lit("meter")))
        .otherwise(F.lit("n/a"))
    )
    df = p.select("p_partkey", synth.alias("width_str"))
    pat = r"^([0-9]*[.]?[0-9]*)([ ])?(m|meter)?$"
    extracted = F.when(
        df["width_str"].rlike(pat) & (F.regexp_extract("width_str", pat, 1) != ""),
        F.regexp_extract("width_str", pat, 1).cast("double"),
    )
    width = F.when((extracted >= 0.4) & (extracted <= 100), F.round(extracted, 2))
    return df.select("p_partkey", width.alias("width"))


_WIDTH_ORACLE = r"""
WITH synth AS (
    SELECT p_partkey,
        CASE WHEN p_size % 4 = 0 THEN p_size::VARCHAR || ' m'
             WHEN p_size % 4 = 1 THEN p_size::VARCHAR
             WHEN p_size % 4 = 2 THEN p_size::VARCHAR || 'meter'
             ELSE 'n/a' END AS width_str
    FROM part
), ex AS (
    SELECT p_partkey,
        CASE WHEN regexp_matches(width_str, '^([0-9]*[.]?[0-9]*)([ ])?(m|meter)?$')
                  AND regexp_extract(width_str, '^([0-9]*[.]?[0-9]*)([ ])?(m|meter)?$', 1) <> ''
             THEN CAST(regexp_extract(width_str, '^([0-9]*[.]?[0-9]*)([ ])?(m|meter)?$', 1) AS DOUBLE)
        END AS w
    FROM synth
)
SELECT p_partkey,
       CASE WHEN w >= 0.4 AND w <= 100 THEN round(w, 2) END AS width
FROM ex
"""


def q_bit_decode(spark, sf_dir):
    """GIP bit-decode semantics (P9, gip_attributes.sql.j2:42-47) over
    synthesized bitmasks."""
    ev = _t(spark, sf_dir, "events")
    tow = (F.col("event_id") % 256).cast("int")
    bkw = ((F.col("event_id") * 7) % 256).cast("int")
    df = ev.select("event_id", tow.alias("access_tow"), bkw.alias("access_bkw"))
    return df.select(
        "event_id",
        ((F.col("access_tow").bitwiseOR(F.col("access_bkw"))).bitwiseAND(F.lit(7)) > 0).alias(
            "any_access"
        ),
        (F.shiftright(F.col("access_tow"), 2).bitwiseAND(F.lit(1)) == 1).alias("bit2_car"),
    )


_BIT_ORACLE = """
WITH b AS (
    SELECT event_id,
           CAST(event_id % 256 AS INTEGER) AS access_tow,
           CAST((event_id * 7) % 256 AS INTEGER) AS access_bkw
    FROM events
)
SELECT event_id,
       ((access_tow | access_bkw) & 7) > 0 AS any_access,
       ((access_tow >> 2) & 1) = 1 AS bit2_car
FROM b
"""


# ===========================================================================
# joins (J1, J11, J12) + aggregations (A2, A4, A5, A8) + windows (W1-W4)
# ===========================================================================

def q_attr_attach(spark, sf_dir):
    """J1+A4: the attribute-attach join chain + weighted-sum aggregate."""
    li, o = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    c, n = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "nation")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


_ATTR_ATTACH_ORACLE = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_anti_join(spark, sf_dir):
    c, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    return c.join(
        o, c["c_custkey"] == o["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


_ANTI_ORACLE = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_semi_join(spark, sf_dir):
    p, li = _t(spark, sf_dir, "part"), _t(spark, sf_dir, "lineitem")
    hot = li.filter(F.col("l_quantity") > 45)
    return p.join(hot, p["p_partkey"] == hot["l_partkey"], "left_semi").select(
        "p_partkey", "p_name"
    )


_SEMI_ORACLE = """
SELECT p_partkey, p_name FROM part
WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
"""


def q_row_number(spark, sf_dir):
    """W1-W4: deterministic ranking (first 2 orders per customer)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "rn")
    )


_ROW_NUMBER_ORACLE = """
SELECT o_custkey, o_orderkey, rn FROM (
    SELECT o_custkey, o_orderkey,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS rn
    FROM orders
) WHERE rn <= 2
"""


def q_global_ids(spark, sf_dir):
    """The scalable two-phase global id operator vs SQL row_number (W3)."""
    from netascore_spark.operators.ids import assign_ids

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return assign_ids(o, ["o_totalprice", "o_orderkey"], "global_id", num_partitions=8).select(
        "o_orderkey", "global_id"
    )


_GLOBAL_IDS_ORACLE = """
SELECT o_orderkey,
       row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS global_id
FROM orders
"""


def q_priority_pick(spark, sf_dir):
    """A5: the designated_route priority-pick aggregate shape
    (osm_attributes.sql.j2:544-556) over order priorities."""
    o = _t(spark, sf_dir, "orders")
    prios = F.collect_set("o_orderpriority")
    pick = (
        F.when(F.array_contains(prios, "1-URGENT"), "1-URGENT")
        .when(F.array_contains(prios, "2-HIGH"), "2-HIGH")
        .when(F.array_contains(prios, "3-MEDIUM"), "3-MEDIUM")
        .when(F.array_contains(prios, "4-NOT SPECIFIED"), "4-NOT SPECIFIED")
        .when(F.array_contains(prios, "5-LOW"), "5-LOW")
    )
    return o.groupBy("o_custkey").agg(pick.alias("best_priority"))


_PRIORITY_ORACLE = """
SELECT o_custkey,
       CASE WHEN bool_or(o_orderpriority = '1-URGENT') THEN '1-URGENT'
            WHEN bool_or(o_orderpriority = '2-HIGH') THEN '2-HIGH'
            WHEN bool_or(o_orderpriority = '3-MEDIUM') THEN '3-MEDIUM'
            WHEN bool_or(o_orderpriority = '4-NOT SPECIFIED') THEN '4-NOT SPECIFIED'
            WHEN bool_or(o_orderpriority = '5-LOW') THEN '5-LOW'
       END AS best_priority
FROM orders GROUP BY o_custkey
"""


def q_distinct_on(spark, sf_dir):
    """A6: DISTINCT ON (first event per user, deterministic order)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


_DISTINCT_ON_ORACLE = """
SELECT user_id, event_id, event_type FROM (
    SELECT user_id, event_id, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
) WHERE rn = 1
"""


def q_string_agg(spark, sf_dir):
    """A8: ordered string_agg with '*' NULL placeholder
    (gip_network.sql.j2:79-90)."""
    ev = _t(spark, sf_dir, "events")
    collected = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", "event_type"))
    )
    joined = F.array_join(
        F.transform(collected, lambda s: F.coalesce(s["event_type"], F.lit("*"))),
        ";",
    )
    return ev.groupBy("user_id").agg(joined.alias("event_seq"))


_STRING_AGG_ORACLE = """
SELECT user_id,
       string_agg(coalesce(event_type, '*'), ';' ORDER BY ts, event_id) AS event_seq
FROM events GROUP BY user_id
"""


def q_union_dedup(spark, sf_dir):
    """U2: UNION (dedup) of two projections."""
    c, s = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "supplier")
    return (
        c.select(F.col("c_nationkey").alias("nationkey"))
        .unionByName(s.select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
    )


_UNION_ORACLE = """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
"""


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: grouped weighted sums + rounds (A4/P7)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


_PRICING_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# ===========================================================================
# access cascade (F1) against an independent SQL rendering
# ===========================================================================

def _synth_access_inputs(o: DataFrame) -> DataFrame:
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        F.when(k % 7 == 0, "no").when(k % 7 == 1, "private").otherwise(F.lit(None)).alias("access"),
        F.when(k % 5 == 0, "yes").when(k % 5 == 1, "no").otherwise(F.lit(None)).alias("mv_fwd"),
        F.when(k % 3 == 0, "yes").when(k % 3 == 1, "opposite").otherwise(F.lit(None)).alias("oneway"),
        F.when(k % 11 == 0, "yes").otherwise(F.lit(None)).alias("roundabout"),
        F.when(k % 13 == 0, "no").when(k % 13 == 1, "yes").otherwise(F.lit(None)).alias("motor_vehicle"),
        F.when(k % 17 == 0, "no").otherwise(F.lit(None)).alias("vehicle"),
        F.when(k % 2 == 0, "yes").otherwise(F.lit(None)).alias("highway"),
    )


def q_access_car(spark, sf_dir):
    """F1: the car access cascade, evaluated by the engine's Column builder,
    cross-checked against a hand-written SQL rendering of
    osm_calculate_access_car.sql:19-50."""
    from netascore_spark.functions.access import calculate_access_car

    df = _synth_access_inputs(_t(spark, sf_dir, "orders"))
    null_s = F.lit(None).cast("string")
    cols = {
        "access": F.col("access"),
        "motor_vehicle_forward": F.col("mv_fwd"),
        "motor_vehicle_backward": F.col("mv_fwd"),
        "oneway": F.col("oneway"),
        "oneway_motor_vehicle": null_s,
        "oneway_vehicle": null_s,
        "roundabout": F.col("roundabout"),
        "motor_vehicle": F.col("motor_vehicle"),
        "motorcar": null_s,
        "vehicle_forward": F.col("vehicle"),
        "vehicle_backward": F.col("vehicle"),
        "vehicle": F.col("vehicle"),
        "highway": F.col("highway"),
    }
    return df.select(
        "o_orderkey",
        calculate_access_car("ft", cols).alias("access_ft"),
        calculate_access_car("tf", cols).alias("access_tf"),
    )


_ACCESS_CAR_ORACLE = """
WITH s AS (
    SELECT o_orderkey,
        CASE WHEN o_orderkey % 7 = 0 THEN 'no' WHEN o_orderkey % 7 = 1 THEN 'private' END AS access,
        CASE WHEN o_orderkey % 5 = 0 THEN 'yes' WHEN o_orderkey % 5 = 1 THEN 'no' END AS mv_fwd,
        CASE WHEN o_orderkey % 3 = 0 THEN 'yes' WHEN o_orderkey % 3 = 1 THEN 'opposite' END AS oneway,
        CASE WHEN o_orderkey % 11 = 0 THEN 'yes' END AS roundabout,
        CASE WHEN o_orderkey % 13 = 0 THEN 'no' WHEN o_orderkey % 13 = 1 THEN 'yes' END AS motor_vehicle,
        CASE WHEN o_orderkey % 17 = 0 THEN 'no' END AS vehicle,
        CASE WHEN o_orderkey % 2 = 0 THEN 'yes' END AS highway
    FROM orders
)
SELECT o_orderkey,
    CASE WHEN mv_fwd = 'yes' THEN 1
         WHEN mv_fwd = 'no' THEN 0
         WHEN oneway = 'opposite' THEN 0
         WHEN motor_vehicle = 'yes' THEN 1
         WHEN motor_vehicle = 'no' THEN 0
         WHEN vehicle = 'no' THEN 0
         WHEN access = 'no' THEN 0
         WHEN highway = 'no' OR highway IS NULL THEN 0
         ELSE 1 END AS access_ft,
    CASE WHEN mv_fwd = 'yes' THEN 1
         WHEN mv_fwd = 'no' THEN 0
         WHEN oneway = 'yes' THEN 0
         WHEN roundabout = 'yes' THEN 0
         WHEN motor_vehicle = 'yes' THEN 1
         WHEN motor_vehicle = 'no' THEN 0
         WHEN vehicle = 'no' THEN 0
         WHEN access = 'no' THEN 0
         WHEN highway = 'no' OR highway IS NULL THEN 0
         ELSE 1 END AS access_tf
FROM s
"""


def q_access_bicycle(spark, sf_dir):
    """F2: the bicycle access cascade incl. contraflow-cycleway logic,
    cross-checked against a hand-written SQL rendering of
    osm_calculate_access_bicycle.sql:18-56."""
    from netascore_spark.functions.access import calculate_access_bicycle

    k = F.col("o_orderkey")
    df = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(k % 7 == 0, "no").otherwise(F.lit(None)).alias("access"),
        F.when(k % 5 == 0, "yes").when(k % 5 == 1, "no").otherwise(F.lit(None)).alias("bf"),
        F.when(k % 3 == 0, "yes").when(k % 3 == 1, "opposite").otherwise(F.lit(None)).alias("ob"),
        F.when(k % 11 == 0, "yes").otherwise(F.lit(None)).alias("roundabout"),
        F.when(k % 4 == 0, "yes").when(k % 4 == 1, "opposite").when(k % 4 == 2, "no").otherwise(F.lit(None)).alias("oneway"),
        F.when(k % 13 == 0, "yes").when(k % 13 == 1, "opposite").when(k % 13 == 2, "no").otherwise(F.lit(None)).alias("cw"),
        F.when(k % 19 == 0, "yes").when(k % 19 == 1, "opposite").otherwise(F.lit(None)).alias("cwl"),
        F.when(k % 17 == 0, "no").when(k % 17 == 1, "yes").otherwise(F.lit(None)).alias("bicycle"),
        F.when(k % 2 == 0, "yes").otherwise(F.lit(None)).alias("highway"),
    )
    null_s = F.lit(None).cast("string")
    cols = {
        "access": F.col("access"),
        "bicycle_forward": F.col("bf"),
        "bicycle_backward": F.col("bf"),
        "oneway_bicycle": F.col("ob"),
        "roundabout": F.col("roundabout"),
        "oneway": F.col("oneway"),
        "cycleway": F.col("cw"),
        "cycleway_right": null_s,
        "cycleway_left": F.col("cwl"),
        "cycleway_both": null_s,
        "bicycle": F.col("bicycle"),
        "highway": F.col("highway"),
    }
    return df.select(
        "o_orderkey",
        calculate_access_bicycle("ft", cols).alias("bike_ft"),
        calculate_access_bicycle("tf", cols).alias("bike_tf"),
    )


_ACCESS_BICYCLE_ORACLE = """
WITH s AS (
    SELECT o_orderkey,
        CASE WHEN o_orderkey % 7 = 0 THEN 'no' END AS access,
        CASE WHEN o_orderkey % 5 = 0 THEN 'yes' WHEN o_orderkey % 5 = 1 THEN 'no' END AS bf,
        CASE WHEN o_orderkey % 3 = 0 THEN 'yes' WHEN o_orderkey % 3 = 1 THEN 'opposite' END AS ob,
        CASE WHEN o_orderkey % 11 = 0 THEN 'yes' END AS roundabout,
        CASE WHEN o_orderkey % 4 = 0 THEN 'yes' WHEN o_orderkey % 4 = 1 THEN 'opposite'
             WHEN o_orderkey % 4 = 2 THEN 'no' END AS oneway,
        CASE WHEN o_orderkey % 13 = 0 THEN 'yes' WHEN o_orderkey % 13 = 1 THEN 'opposite'
             WHEN o_orderkey % 13 = 2 THEN 'no' END AS cw,
        CASE WHEN o_orderkey % 19 = 0 THEN 'yes' WHEN o_orderkey % 19 = 1 THEN 'opposite' END AS cwl,
        CASE WHEN o_orderkey % 17 = 0 THEN 'no' WHEN o_orderkey % 17 = 1 THEN 'yes' END AS bicycle,
        CASE WHEN o_orderkey % 2 = 0 THEN 'yes' END AS highway
    FROM orders
)
SELECT o_orderkey,
    CASE WHEN bf = 'no' THEN 0
         WHEN bf = 'yes' THEN 1
         WHEN ob = 'opposite' THEN 0
         WHEN ob = 'yes' THEN 1
         WHEN oneway = 'opposite'
              AND (cw <> 'yes' OR cw IS NULL)
              AND (cwl <> 'opposite' OR cwl IS NULL) THEN 0
         WHEN bicycle = 'no' THEN 0
         WHEN bicycle = 'yes' THEN 1
         WHEN access = 'no' THEN 0
         WHEN highway = 'no' OR highway IS NULL THEN 0
         ELSE 1 END AS bike_ft,
    CASE WHEN bf = 'no' THEN 0
         WHEN bf = 'yes' THEN 1
         WHEN ob = 'yes' THEN 0
         WHEN ob = 'opposite' THEN 1
         WHEN roundabout = 'yes' THEN 0
         WHEN oneway = 'yes'
              AND (cw <> 'opposite' OR cw IS NULL)
              AND (cwl <> 'yes' OR cwl IS NULL) THEN 0
         WHEN bicycle = 'no' THEN 0
         WHEN bicycle = 'yes' THEN 1
         WHEN access = 'no' THEN 0
         WHEN highway = 'no' OR highway IS NULL THEN 0
         ELSE 1 END AS bike_tf
FROM s
"""


def q_max_speed(spark, sf_dir):
    """The max_speed CASE cascade (osm_attributes.sql.j2:626-672) evaluated
    by the engine's Column builder over synthesized OSM columns,
    cross-checked against a hand-written SQL rendering."""
    from netascore_spark.functions.attributes import max_speed_clamped, max_speed_raw

    k = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    hws = ["residential", "living_street", "tertiary", "cycleway", "footway",
           "track", "path", "unclassified", "motorway", "motorway_link",
           "primary_link", "steps", "service", "raceway", "construction",
           "primary", "secondary", None]
    hw = F.when(F.lit(False), "x")
    for i, h in enumerate(hws):
        hw = hw.when(k % len(hws) == i, F.lit(h))
    df = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey"), F.col("l_linenumber"),
        hw.alias("highway"),
        F.when(k % 5 == 0, "no").when(k % 5 == 1, "private")
         .when(k % 5 == 2, "yes").otherwise(F.lit(None)).alias("access"),
        F.when(k % 7 == 0, "yes").when(k % 7 == 1, "no")
         .when(k % 7 == 2, "designated").otherwise(F.lit(None)).alias("bicycle"),
        F.when(k % 11 == 0, "yes").when(k % 11 == 1, "no").otherwise(F.lit(None)).alias("foot"),
        F.when(k % 13 == 0, "yes").when(k % 13 == 1, "no")
         .when(k % 13 == 2, "agricultural").otherwise(F.lit(None)).alias("motorcar"),
        F.when(k % 6 == 0, "grade2").when(k % 6 == 1, "grade4").otherwise(F.lit(None)).alias("tracktype"),
        F.when(k % 17 == 0, "B304").otherwise(F.lit(None)).alias("ref"),
        F.when(k % 9 == 0, F.lit("60")).when(k % 9 == 1, F.lit("200"))
         .when(k % 9 == 2, F.lit("walk")).otherwise(F.lit(None)).alias("ms_tag"),
    ).withColumn("tags", F.when(F.col("ms_tag").isNotNull(),
                                F.create_map(F.lit("maxspeed"), F.col("ms_tag")))
                          .otherwise(F.create_map().cast("map<string,string>")))
    return df.select(
        "l_orderkey", "l_linenumber",
        max_speed_clamped(max_speed_raw()).alias("max_speed"),
    )


_MAX_SPEED_ORACLE = """
WITH s AS (
    SELECT l_orderkey, l_linenumber,
        (l_orderkey * 10 + l_linenumber) AS k
    FROM lineitem
), cols AS (
    SELECT l_orderkey, l_linenumber,
        (['residential','living_street','tertiary','cycleway','footway',
          'track','path','unclassified','motorway','motorway_link',
          'primary_link','steps','service','raceway','construction',
          'primary','secondary',NULL])[CAST(k % 18 AS INTEGER) + 1] AS highway,
        CASE WHEN k % 5 = 0 THEN 'no' WHEN k % 5 = 1 THEN 'private'
             WHEN k % 5 = 2 THEN 'yes' END AS access,
        CASE WHEN k % 7 = 0 THEN 'yes' WHEN k % 7 = 1 THEN 'no'
             WHEN k % 7 = 2 THEN 'designated' END AS bicycle,
        CASE WHEN k % 11 = 0 THEN 'yes' WHEN k % 11 = 1 THEN 'no' END AS foot,
        CASE WHEN k % 13 = 0 THEN 'yes' WHEN k % 13 = 1 THEN 'no'
             WHEN k % 13 = 2 THEN 'agricultural' END AS motorcar,
        CASE WHEN k % 6 = 0 THEN 'grade2' WHEN k % 6 = 1 THEN 'grade4' END AS tracktype,
        CASE WHEN k % 17 = 0 THEN 'B304' END AS ref,
        CASE WHEN k % 9 = 0 THEN '60' WHEN k % 9 = 1 THEN '200'
             WHEN k % 9 = 2 THEN 'walk' END AS ms
    FROM s
), raw AS (
    SELECT l_orderkey, l_linenumber,
        CASE
            WHEN regexp_matches(ms, '^([0-9]{1,3})$') THEN CAST(ms AS INTEGER)
            WHEN highway IN ('residential','living_street','tertiary')
                 AND (access IN ('designated','destination','yes') OR access IS NULL) THEN 50
            WHEN highway IN ('cycleway','footway','tertiary')
                 OR bicycle IN ('yes','designated')
                 OR foot IN ('yes','designated','official','permissive') THEN 0
            WHEN highway IN ('track','path','unclassified')
                 AND (bicycle <> 'no' OR bicycle IS NULL)
                 AND (foot <> 'no' OR foot IS NULL)
                 AND (motorcar <> 'yes' OR motorcar IS NULL)
                 AND tracktype IN ('grade3','grade4','grade5') THEN 0
            WHEN highway = 'motorway' THEN 130
            WHEN highway = 'motorway_link' THEN 100
            WHEN highway = 'primary_link' THEN 80
            WHEN access = 'no' OR motorcar = 'no' OR highway = 'steps' THEN 0
            WHEN motorcar = 'agricultural' OR highway = 'path'
                 OR (highway = 'track' AND (access <> 'no' OR access IS NULL)) THEN 10
            WHEN highway = 'living_street'
                 OR (highway = 'service' AND access = 'private')
                 OR (highway = 'residential' AND access = 'private')
                 OR (highway = 'construction' AND tracktype IS NOT NULL) THEN 20
            WHEN highway = 'service' THEN 30
            WHEN highway = 'raceway' THEN 5
            WHEN highway = 'unclassified'
                 OR (highway = 'construction' AND ref IS NULL) THEN 50
            WHEN highway = 'construction' AND ref = 'B304' THEN 70
            WHEN highway IN ('primary','secondary') THEN 100
        END AS raw_ms
    FROM cols
)
SELECT l_orderkey, l_linenumber,
       CASE WHEN raw_ms IS NOT NULL THEN least(raw_ms::DOUBLE, 130.0::DOUBLE) END AS max_speed
FROM raw
"""


# ===========================================================================
# training-data ops over documents / embeddings
# ===========================================================================

def q_dedup_exact(spark, sf_dir):
    from netascore_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_t(spark, sf_dir, "documents"))


_DEDUP_EXACT_ORACLE = """
SELECT md5(text) AS digest, min(doc_id) AS canonical_id, count(*) AS n_docs
FROM documents GROUP BY md5(text) HAVING count(*) > 1
"""


def q_text_stats(spark, sf_dir):
    from netascore_spark.operators import textstats as TS

    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        TS.token_count(t).alias("n_tokens"),
        TS.fingerprint(t).alias("fingerprint"),
        TS.quality_score(t).alias("quality"),
    )


_TEXT_STATS_ORACLE = r"""
SELECT doc_id,
    CASE WHEN trim(text) = '' THEN 0
         ELSE len(regexp_split_to_array(trim(text), '[ \t\n\f\r]+')) END AS n_tokens,
    md5(text) AS fingerprint,
    round(0.6 * least(length(text) / 500.0, 1.0)
        + 0.4 * (CASE WHEN length(text)::DOUBLE / greatest(
              CASE WHEN trim(text) = '' THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '[ \t\n\f\r]+')) END, 1)
              BETWEEN 3 AND 12 THEN 1.0 ELSE 0.5 END), 4) AS quality
FROM documents
"""


def q_lang_id(spark, sf_dir):
    from netascore_spark.operators import textstats as TS

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", TS.lang_id(F.col("text")).alias("detected_lang"))


def _lang_hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in
                      __import__("netascore_spark.operators.textstats",
                                 fromlist=["STOPWORDS"]).STOPWORDS[lang])
    return (
        "len(list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\f\\r]+'),"
        f" t -> t IN ({words})))"
    )


def _lang_oracle() -> str:
    en, de, fr = _lang_hits_sql("en"), _lang_hits_sql("de"), _lang_hits_sql("fr")
    return f"""
WITH h AS (
    SELECT doc_id, {en} AS en_h, {de} AS de_h, {fr} AS fr_h FROM documents
)
SELECT doc_id,
    CASE WHEN greatest(en_h, de_h, fr_h) <= 0 THEN NULL
         WHEN en_h = greatest(en_h, de_h, fr_h) THEN 'en'
         WHEN de_h = greatest(en_h, de_h, fr_h) THEN 'de'
         ELSE 'fr' END AS detected_lang
FROM h
"""


def q_bpe_tokens(spark, sf_dir):
    """BPE-style pre-tokenization (GPT-2 pattern shape, lookahead-free):
    token count + md5 over the exact token sequence, so the oracle pins the
    full segmentation, not just the count."""
    from netascore_spark.operators import textstats as TS

    d = _t(spark, sf_dir, "documents")
    toks = TS.bpe_tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.md5(F.array_join(toks, "\x1f")).alias("tokens_digest"),
    )


_BPE_ORACLE = r"""
SELECT doc_id,
    len(regexp_extract_all(text, ' ?\p{L}+| ?\p{N}+| ?[^\p{L}\p{N} \t\n\f\r]+|[ \t\n\f\r]+')) AS n_bpe_tokens,
    md5(array_to_string(
        regexp_extract_all(text, ' ?\p{L}+| ?\p{N}+| ?[^\p{L}\p{N} \t\n\f\r]+|[ \t\n\f\r]+'),
        chr(31))) AS tokens_digest
FROM documents
"""


def q_winnow_fingerprint(spark, sf_dir):
    """Winnowing fingerprints (Schleimer+ SIGMOD'03), k=8 w=4, exploded to
    (doc_id, fp) rows — the DuckDB oracle recomputes the identical k-gram
    hash (md5[:8] little-endian mod 2^61-1) and window minima."""
    from netascore_spark.operators import textstats as TS

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.explode(TS.winnow_fingerprints(F.col("text"), k=8, w=4)).alias("fp"),
    )


_WINNOW_ORACLE = """
WITH g AS (
  SELECT doc_id, text, length(text) - 8 + 1 AS ng FROM documents
), h AS (
  SELECT doc_id, ng,
    list_transform(range(1, ng + 1), i ->
      ((('0x' || substr(md5(substr(text,i,8)),15,2) || substr(md5(substr(text,i,8)),13,2)
        || substr(md5(substr(text,i,8)),11,2) || substr(md5(substr(text,i,8)),9,2)
        || substr(md5(substr(text,i,8)),7,2)  || substr(md5(substr(text,i,8)),5,2)
        || substr(md5(substr(text,i,8)),3,2)  || substr(md5(substr(text,i,8)),1,2))::UBIGINT::HUGEINT)
       % 2305843009213693951::HUGEINT)::BIGINT) AS hs
  FROM g WHERE ng >= 1
), sel AS (
  SELECT doc_id,
    CASE WHEN ng < 4 THEN [list_min(hs)]
    ELSE list_sort(list_distinct(list_transform(range(1, ng - 4 + 2),
                                                j -> list_min(hs[j: j + 3])))) END AS fps
  FROM h
)
SELECT doc_id, unnest(fps) AS fp FROM sel
"""


def q_ngram_dedup(spark, sf_dir):
    from netascore_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.6, max_df=1_000_000
    )


_NGRAM_ORACLE = r"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \t\n\f\r]+') AS t
    FROM documents
), sh AS (
    SELECT doc_id,
        CASE WHEN len(t) >= 3 THEN
            list_distinct([array_to_string(t[i:i+2], ' ')
                           for i in range(1, len(t) - 1)])
        ELSE [array_to_string(t, ' ')] END AS shingles
    FROM toks
), sized AS (
    SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh
), shared AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
           count(*) AS inter
    FROM sized a JOIN sized b USING (shingle)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       round(inter / (n_a + n_b - inter), 6) AS jaccard
FROM shared
WHERE inter / (n_a + n_b - inter) >= 0.6
"""


def q_dedup_clusters(spark, sf_dir):
    """Near-dup clusters: ngram pairs -> connected components (min-label
    propagation + pointer jumping) -> (doc_id, cluster_id, cluster_size).
    The oracle reproduces the component labels with a DuckDB recursive CTE
    (min reachable id), over the SAME pair-generation SQL as ngram_dedup."""
    from netascore_spark.operators.dedup import dedup_clusters

    return dedup_clusters(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.6, max_df=1_000_000
    )


_CLUSTERS_ORACLE = r"""
WITH RECURSIVE toks AS (
    SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \t\n\f\r]+') AS t
    FROM documents
), sh AS (
    SELECT doc_id,
        CASE WHEN len(t) >= 3 THEN
            list_distinct([array_to_string(t[i:i+2], ' ')
                           for i in range(1, len(t) - 1)])
        ELSE [array_to_string(t, ' ')] END AS shingles
    FROM toks
), sized AS (
    SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh
), shared AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
           count(*) AS inter
    FROM sized a JOIN sized b USING (shingle)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2, 3, 4
), pairs AS (
    SELECT id_a, id_b FROM shared
    WHERE inter / (n_a + n_b - inter) >= 0.6
), edges AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION
    SELECT id_b AS u, id_a AS v FROM pairs
), nodes AS (
    SELECT DISTINCT u AS node FROM edges
), reach AS (
    SELECT node, node AS lbl FROM nodes
    UNION
    SELECT e.u AS node, r.lbl FROM edges e JOIN reach r ON r.node = e.v
), comp AS (
    SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node
)
SELECT node AS doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM comp
"""


def q_cosine_topk(spark, sf_dir):
    from netascore_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(emb, queries, k=5).select("query_id", "vec_id", "rank")


_COSINE_ORACLE = """
WITH q AS (
    SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5
), scored AS (
    SELECT q.query_id, e.vec_id,
           round(list_cosine_similarity(q.qvec, e.embedding), 6) AS cos_sim
    FROM embeddings e CROSS JOIN q
), ranked AS (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, vec_id ASC) AS rank
    FROM scored
)
SELECT query_id, vec_id, rank FROM ranked WHERE rank <= 5
"""


# ===========================================================================
# spatial / web-scale fixture queries (rows-only checks: no SQL equivalent)
# ===========================================================================

_FIXTURE_CACHE: dict = {}


def _fixture_network(spark):
    """Build (and persist) the fixture network once per session — the
    downstream attribute queries join it repeatedly."""
    from netascore_spark.pipeline.network import build_network
    from netascore_spark.sources import fixtures

    key = id(spark)
    if key not in _FIXTURE_CACHE:
        osm = fixtures.osm_lines(spark, scale=1)
        edges, nodes = build_network(osm)
        # localCheckpoint: materialize AND truncate lineage so downstream
        # attribute plans stay shallow
        edges = edges.localCheckpoint()
        nodes = nodes.localCheckpoint()
        _FIXTURE_CACHE.clear()
        _FIXTURE_CACHE[key] = (osm, (edges, nodes))
    return _FIXTURE_CACHE[key]


def _grid_network(spark):
    """Build (and persist) the ORACLE-CONSTRAINED grid network once per
    session (fixtures.grid_osm_lines): the full real pipeline — J2 cell
    self-join, exact python intersection kernel, correction filters,
    ST_Split UDF, node dedup, W3/W4 id assignment — over input whose
    crossings are all interior integer grid points, so the whole
    composition is SQL-reproducible (_GRID_NET_SQL)."""
    from netascore_spark.pipeline.network import build_network
    from netascore_spark.sources import fixtures

    key = ("grid", id(spark))
    if key not in _FIXTURE_CACHE:
        osm = fixtures.grid_osm_lines(spark)
        edges, nodes = build_network(osm)
        _FIXTURE_CACHE[key] = (osm, (edges.localCheckpoint(), nodes.localCheckpoint()))
    return _FIXTURE_CACHE[key]


def q_network_edges(spark, sf_dir):
    """Full network composition (osm lines -> intersections -> split ->
    ids), SQL-checked on the constrained grid; general-geometry coverage
    stays pinned by the pytest network goldens."""
    _, (edges, _) = _grid_network(spark)
    return edges.select("edge_id", "osm_id", "seg_seq", "from_node", "to_node",
                        F.round("length", 4).alias("length"))


def q_network_nodes(spark, sf_dir):
    _, (_, nodes) = _grid_network(spark)
    return nodes.select("node_id", F.round("x", 4).alias("x"), F.round("y", 4).alias("y"))


# SQL mirror of fixtures.grid_osm_lines + pipeline/network.py on it: the
# crossing set, per-way split boundaries, seg_seq/edge_id/node_id ranks.
# Shared by the network_edges / network_nodes oracles below.
_GRID_NET_COMMON = """
WITH h AS (
  SELECT i AS osm_id, 10*i AS y,
         5 + 10*((i*7) % 13) AS x0,
         5 + 10*((i*7) % 13) + 10*(3 + (i*5) % 17) AS x1
  FROM (SELECT unnest(range(0, 40)) AS i)
), v AS (
  SELECT 1000 + j AS osm_id, 10*(1 + (j*11) % 37) AS x,
         5 + 10*((j*5) % 13) AS y0,
         5 + 10*((j*5) % 13) + 10*(3 + (j*7) % 17) AS y1
  FROM (SELECT unnest(range(0, 30)) AS j)
), cross_pts AS (
  SELECT h.osm_id AS h_id, v.osm_id AS v_id, v.x AS cx, h.y AS cy
  FROM h JOIN v ON v.x > h.x0 AND v.x < h.x1 AND h.y > v.y0 AND h.y < v.y1
), hb AS (
  SELECT osm_id, x0 AS b FROM h
  UNION ALL SELECT h_id, cx FROM cross_pts
  UNION ALL SELECT osm_id, x1 FROM h
), vb AS (
  SELECT osm_id, y0 AS b FROM v
  UNION ALL SELECT v_id, cy FROM cross_pts
  UNION ALL SELECT osm_id, y1 FROM v
), hp AS (
  SELECT osm_id, b AS b0,
         lead(b) OVER (PARTITION BY osm_id ORDER BY b) AS b1,
         row_number() OVER (PARTITION BY osm_id ORDER BY b) - 1 AS seg_seq
  FROM hb
), vp AS (
  SELECT osm_id, b AS b0,
         lead(b) OVER (PARTITION BY osm_id ORDER BY b) AS b1,
         row_number() OVER (PARTITION BY osm_id ORDER BY b) - 1 AS seg_seq
  FROM vb
), pieces AS (
  SELECT hp.osm_id, seg_seq, b0 AS fx, h.y AS fy, b1 AS tx, h.y AS ty,
         b1 - b0 AS len
  FROM hp JOIN h USING (osm_id) WHERE b1 IS NOT NULL
  UNION ALL
  SELECT vp.osm_id, seg_seq, v.x AS fx, b0 AS fy, v.x AS tx, b1 AS ty,
         b1 - b0 AS len
  FROM vp JOIN v USING (osm_id) WHERE b1 IS NOT NULL
), edges AS (
  SELECT *, row_number() OVER (ORDER BY osm_id, seg_seq) AS edge_id
  FROM pieces
), node_xy AS (
  SELECT DISTINCT x, y FROM (
    SELECT fx AS x, fy AS y FROM pieces
    UNION ALL SELECT tx, ty FROM pieces
  )
), nodes AS (
  SELECT x, y, row_number() OVER (ORDER BY x, y) AS node_id FROM node_xy
)
"""

_NETWORK_EDGES_ORACLE = _GRID_NET_COMMON + """
SELECT e.edge_id, e.osm_id, e.seg_seq,
       fn.node_id AS from_node, tn.node_id AS to_node,
       round(CAST(e.len AS DOUBLE), 4) AS length
FROM edges e
JOIN nodes fn ON fn.x = e.fx AND fn.y = e.fy
JOIN nodes tn ON tn.x = e.tx AND tn.y = e.ty
"""

_NETWORK_NODES_ORACLE = _GRID_NET_COMMON + """
SELECT node_id, round(CAST(x AS DOUBLE), 4) AS x,
       round(CAST(y AS DOUBLE), 4) AS y
FROM nodes
"""

# SQL mirror of pipeline/attributes.py over the grid: the tag-derived CASE
# cascades collapse to per-style constants (style k = line index mod 3,
# values transcribed from osm_attributes.sql.j2 :581-603 road_category,
# :626-672 max_speed, :342-453 bicycle_infrastructure, :691-696 pavement;
# verified against the engine's vocab tables which are themselves gated by
# the case_vocab/access oracles), while the layer joins — J5 DWithin counts,
# J9 DEM cell join, J10 gradient self-join — are recomputed from the same
# integer formulas as fixtures.grid_layer_points / grid_dem.
_GRID_ATTR_COMMON = _GRID_NET_COMMON + """, style AS (
  SELECT e.edge_id, e.osm_id, e.fx, e.fy, e.tx, e.ty,
         CAST(e.len AS DOUBLE) AS len,
         CASE WHEN e.osm_id < 1000 THEN e.osm_id % 3
              ELSE (e.osm_id - 999) % 3 END AS k
  FROM edges e
), fac AS (
  SELECT 3 + 10*((m*13) % 33) AS px, 3 + 10*((m*17) % 41) AS py
  FROM (SELECT unnest(range(0, 150)) AS m)
), crs AS (
  SELECT 3 + 10*((m*19) % 33) AS px, 3 + 10*((m*23) % 41) AS py
  FROM (SELECT unnest(range(0, 100)) AS m)
), fhit AS (
  SELECT s.edge_id, count(*) AS cnt
  FROM style s JOIN fac p ON sqrt(
    power(p.px - (s.fx + least(greatest(
      CAST((p.px - s.fx)*(s.tx - s.fx) + (p.py - s.fy)*(s.ty - s.fy) AS DOUBLE)
      / (s.len * s.len), 0.0), 1.0) * (s.tx - s.fx)), 2)
    + power(p.py - (s.fy + least(greatest(
      CAST((p.px - s.fx)*(s.tx - s.fx) + (p.py - s.fy)*(s.ty - s.fy) AS DOUBLE)
      / (s.len * s.len), 0.0), 1.0) * (s.ty - s.fy)), 2)
  ) <= 30.0
  GROUP BY 1
), chit AS (
  SELECT s.edge_id, count(*) AS cnt
  FROM style s JOIN crs p ON sqrt(
    power(p.px - (s.fx + least(greatest(
      CAST((p.px - s.fx)*(s.tx - s.fx) + (p.py - s.fy)*(s.ty - s.fy) AS DOUBLE)
      / (s.len * s.len), 0.0), 1.0) * (s.tx - s.fx)), 2)
    + power(p.py - (s.fy + least(greatest(
      CAST((p.px - s.fx)*(s.tx - s.fx) + (p.py - s.fy)*(s.ty - s.fy) AS DOUBLE)
      / (s.len * s.len), 0.0), 1.0) * (s.ty - s.fy)), 2)
  ) <= 10.0
  GROUP BY 1
), grad AS (
  SELECT s.edge_id,
    round((
      (((s.tx // 10)*3 + (s.ty // 10)*7) % 25) * 2.0
      - (((s.fx // 10)*3 + (s.fy // 10)*7) % 25) * 2.0
    ) / s.len * 100.0, 2) AS g
  FROM style s
), gclass AS (
  SELECT edge_id,
    CASE WHEN g > -1.5 AND g < 1.5 THEN 0.0
         WHEN g >= 1.5 AND g < 3 THEN 1.0
         WHEN g <= -1.5 AND g > -3 THEN -1.0
         WHEN g >= 3 AND g < 6 THEN 2.0
         WHEN g <= -3 AND g > -6 THEN -2.0
         WHEN g >= 6 AND g < 12 THEN 3.0
         WHEN g <= -6 AND g > -12 THEN -3.0
         WHEN g >= 12 THEN 4.0
         WHEN g <= -12 THEN -4.0 END AS gcls
  FROM grad
), attrs AS (
  SELECT s.edge_id, s.osm_id, round(s.len, 4) AS length, s.k,
    CASE s.k WHEN 0 THEN 'residential' WHEN 1 THEN 'primary'
         ELSE 'no_mit' END AS road_category,
    CASE s.k WHEN 0 THEN 50.0 WHEN 1 THEN 100.0 ELSE 0.0 END AS max_speed_ft,
    CASE s.k WHEN 2 THEN 'bicycle_way' ELSE 'no' END
      AS bicycle_infrastructure_ft,
    CASE s.k WHEN 2 THEN 'no' ELSE 'sidewalk' END
      AS pedestrian_infrastructure_ft,
    CASE s.k WHEN 0 THEN 'asphalt' WHEN 1 THEN 'gravel' END AS pavement,
    gc.gcls AS gradient_ft,
    coalesce(round(f.cnt / s.len * 100.0, 2), 0.0) AS facilities,
    coalesce(round(c.cnt / s.len * 100.0, 2), 0.0) AS crossings,
    'no' AS designated_route_ft,
    s.k <> 2 AS access_car_ft,
    TRUE AS access_bicycle_ft,
    s.k <> 2 AS access_pedestrian_ft,
    FALSE AS bridge, FALSE AS tunnel, FALSE AS stairs
  FROM style s
  JOIN gclass gc USING (edge_id)
  LEFT JOIN fhit f USING (edge_id)
  LEFT JOIN chit c USING (edge_id)
)
"""

_EDGE_ATTRIBUTES_ORACLE = _GRID_ATTR_COMMON + """
SELECT edge_id, osm_id, length, road_category, max_speed_ft,
       bicycle_infrastructure_ft, pedestrian_infrastructure_ft, pavement,
       gradient_ft, facilities, crossings, designated_route_ft,
       access_car_ft, access_bicycle_ft, access_pedestrian_ft,
       bridge, tunnel, stairs
FROM attrs
"""

# _grid_profile() in SQL: ws folds included weights in INDICATORS order
# (bi, rc, ms, pav, grad); the index folds the indicator_mapping entries in
# order with each term s_i * (w_i / ws); pavement is NULL on k=2 rows so it
# drops out of ws (robustness < 1 there).  Spark's round() HALF_UP on the
# shortest decimal representation is emulated with the VARCHAR->DECIMAL
# round-trip (same trick as _DSL_ORACLE).
_SCORE_NETWORK_ORACLE = _GRID_ATTR_COMMON + """, scored AS (
  SELECT edge_id, k, gradient_ft,
    CASE bicycle_infrastructure_ft WHEN 'bicycle_way' THEN 1.0::DOUBLE
         WHEN 'no' THEN 0.0::DOUBLE END AS s_bi,
    CASE road_category WHEN 'primary' THEN 0.0::DOUBLE
         WHEN 'residential' THEN 0.8::DOUBLE
         WHEN 'no_mit' THEN 0.9::DOUBLE END AS s_rc,
    CASE WHEN max_speed_ft >= 100 THEN 0.0::DOUBLE
         WHEN max_speed_ft >= 50 THEN 0.6::DOUBLE
         WHEN max_speed_ft > 0 THEN 0.9::DOUBLE
         WHEN max_speed_ft = 0 THEN 1.0::DOUBLE END AS s_ms,
    CASE gradient_ft WHEN 4 THEN 0.0::DOUBLE WHEN 3 THEN 0.25::DOUBLE
         WHEN 2 THEN 0.4::DOUBLE WHEN 1 THEN 0.5::DOUBLE
         WHEN 0 THEN 0.9::DOUBLE WHEN -1 THEN 1.0::DOUBLE
         WHEN -2 THEN 0.95::DOUBLE WHEN -3 THEN 0.35::DOUBLE
         WHEN -4 THEN 0.0::DOUBLE END AS s_grad_ft,
    CASE -gradient_ft WHEN 4 THEN 0.0::DOUBLE WHEN 3 THEN 0.25::DOUBLE
         WHEN 2 THEN 0.4::DOUBLE WHEN 1 THEN 0.5::DOUBLE
         WHEN 0 THEN 0.9::DOUBLE WHEN -1 THEN 1.0::DOUBLE
         WHEN -2 THEN 0.95::DOUBLE WHEN -3 THEN 0.35::DOUBLE
         WHEN -4 THEN 0.0::DOUBLE END AS s_grad_tf,
    CASE pavement WHEN 'asphalt' THEN 1.0::DOUBLE
         WHEN 'gravel' THEN 0.75::DOUBLE END AS s_pav,
    ((((0.0::DOUBLE + 0.1::DOUBLE) + 0.3::DOUBLE) + 0.2::DOUBLE)
     + CASE WHEN pavement IS NOT NULL THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END)
     + 0.2::DOUBLE AS ws,
    ((((0.0::DOUBLE + 0.1::DOUBLE) + 0.3::DOUBLE) + 0.2::DOUBLE)
     + 0.2::DOUBLE) + 0.2::DOUBLE AS wt
  FROM attrs
)
SELECT edge_id,
  CAST(round(CAST(CAST(
    0.0::DOUBLE + s_bi*(0.1::DOUBLE/ws) + s_rc*(0.3::DOUBLE/ws)
      + s_ms*(0.2::DOUBLE/ws) + s_grad_ft*(0.2::DOUBLE/ws)
      + CASE WHEN s_pav IS NOT NULL THEN s_pav*(0.2::DOUBLE/ws)
             ELSE 0.0::DOUBLE END
    AS VARCHAR) AS DECIMAL(38,20)), 4) AS DOUBLE) AS index_grid_ft,
  CAST(round(CAST(CAST(
    0.0::DOUBLE + s_bi*(0.1::DOUBLE/ws) + s_rc*(0.3::DOUBLE/ws)
      + s_ms*(0.2::DOUBLE/ws) + s_grad_tf*(0.2::DOUBLE/ws)
      + CASE WHEN s_pav IS NOT NULL THEN s_pav*(0.2::DOUBLE/ws)
             ELSE 0.0::DOUBLE END
    AS VARCHAR) AS DECIMAL(38,20)), 4) AS DOUBLE) AS index_grid_tf,
  round(ws / wt, 4) AS index_grid_ft_robustness
FROM scored
"""


def _grid_attributes(spark):
    """Full attribute stage over the oracle-constrained grid network:
    facility/crossing DWithin counts (J5), DEM raster join + gradient
    (J9/J10), designated_route (J4, vacuously 'no'), and the tag-derived
    CASE cascades (P5-P8) — every output SQL-reproducible."""
    from netascore_spark.pipeline.attributes import build_attributes
    from netascore_spark.sources import fixtures

    key = ("grid_attrs", id(spark))
    if key not in _FIXTURE_CACHE:
        osm, (edges, nodes) = _grid_network(spark)
        layers = {
            "facility": fixtures.grid_layer_points(spark, "facility"),
            "crossing": fixtures.grid_layer_points(spark, "crossing"),
            "dem": fixtures.grid_dem(spark),
        }
        attrs, _ = build_attributes(edges, nodes, osm, layers)
        _FIXTURE_CACHE[key] = attrs.localCheckpoint()
    return _FIXTURE_CACHE[key]


def q_edge_attributes(spark, sf_dir):
    attrs = _grid_attributes(spark)
    _, (edges, _) = _grid_network(spark)
    return attrs.join(
        edges.select("edge_id", "osm_id", F.round("length", 4).alias("length")),
        "edge_id",
    ).select(
        "edge_id", "osm_id", "length",
        "road_category", "max_speed_ft", "bicycle_infrastructure_ft",
        "pedestrian_infrastructure_ft", "pavement", "gradient_ft",
        "facilities", "crossings", "designated_route_ft",
        "access_car_ft", "access_bicycle_ft", "access_pedestrian_ft",
        "bridge", "tunnel", "stairs",
    )


def _grid_profile():
    """Scoring profile for the grid network covering every attribute value
    the grid produces — the full YAML-DSL compiler path (F4/J13) whose
    output is then SQL-reproducible (the bike/walk YAML profiles stay
    exercised by pytest goldens and the dsl_score oracle covers overrides)."""
    from netascore_spark.plans.profile import INDICATORS, Profile

    return Profile(
        name="grid",
        weights={
            **{i: None for i in INDICATORS},
            "bicycle_infrastructure": 0.1,
            "road_category": 0.3,
            "max_speed": 0.2,
            "pavement": 0.2,
            "gradient": 0.2,
        },
        indicator_mapping=[
            {"indicator": "bicycle_infrastructure",
             "mapping": {"bicycle_way": 1.0, "no": 0.0}},
            {"indicator": "road_category",
             "mapping": {"primary": 0.0, "residential": 0.8, "no_mit": 0.9}},
            {"indicator": "max_speed",
             "classes": {"ge100": 0.0, "ge50": 0.6, "g0": 0.9, "e0": 1.0}},
            {"indicator": "gradient",
             "mapping": {4: 0.0, 3: 0.25, 2: 0.4, 1: 0.5, 0: 0.9, -1: 1.0,
                         -2: 0.95, -3: 0.35, -4: 0.0}},
            {"indicator": "pavement",
             "mapping": {"asphalt": 1.0, "gravel": 0.75}},
        ],
    )


def q_score_network(spark, sf_dir):
    """osm lines -> network -> attributes -> compiled index, end-to-end on
    the oracle-constrained grid.  Directional: gradient_tf = -gradient_ft,
    so ft/tf indexes genuinely differ; pavement is NULL on cycleway rows,
    so the robustness (weights_sum / weights_total) path is exercised."""
    from netascore_spark.plans.profile import attach_index

    attrs = _grid_attributes(spark)
    scored = attach_index(attrs, _grid_profile())
    return scored.select(
        "edge_id", "index_grid_ft", "index_grid_tf",
        "index_grid_ft_robustness",
    )


def q_pages_pipeline(spark, sf_dir):
    """End-to-end pages stage on the fixture corpus: fused HTML extraction
    (byte-identity bit inline) -> codegen-native PIP containment ->
    cell-ring kNN to the nearest network edge, joined back to one summary
    row per page.  Replaces the former pages_extract/pages_pip/pages_knn
    trio (the driver report caps at 50 queries; the per-operator machinery
    keeps its own SQL oracles via page_extract / pip_join / knn_join)."""
    from netascore_spark.pipeline.pages import (
        extract_pages, join_polygons, nearest_edges,
    )
    from netascore_spark.sources import fixtures

    pg = extract_pages(fixtures.pages(spark, n=2000))
    pip = (
        join_polygons(pg, fixtures.admin_polygons(spark))
        .groupBy("url")
        .agg(F.count("*").alias("n_polygons"))
    )
    _, (edges, _) = _fixture_network(spark)
    knn = nearest_edges(pg, edges, k=1, radius=500.0).select(
        "url", "edge_id", "dist"
    )
    return (
        pg.select(
            "url",
            F.col("extracted_text").eqNullSafe(F.col("text")).alias(
                "byte_identical"
            ),
            "cell",
        )
        .join(pip, "url", "left")
        .join(knn, "url", "left")
    )


def q_page_extract(spark, sf_dir):
    """Independent oracle for the fused HTML extraction UDF
    (pipeline/pages.extract_page_udf): html synthesized NATIVELY from
    ``documents`` (so DuckDB sees byte-identical input), run through the
    real Arrow extraction pass, output hash-compared against DuckDB
    regexp_extract.  A mismatch in extracted_text vs the source text breaks
    the hash — this doubles as the north-rule byte-identity gate."""
    from netascore_spark.pipeline.pages import extract_pages

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 5000)
    lat = (F.col("doc_id") * 7919 % 170 - 85).cast("long")
    lng = (F.col("doc_id") * 6151 % 350 - 175).cast("long")
    geo = F.when(
        F.col("doc_id") % 10 != 7,  # ~10% of pages carry no coordinates
        F.concat(
            F.lit('<meta name="geo.position" content="'),
            lat.cast("string"), F.lit(";"), lng.cast("string"), F.lit('">'),
        ),
    ).otherwise(F.lit(""))
    pages = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        "lang",
        "text",
        F.encode(
            F.concat(
                F.lit("<html><head>"), geo,
                F.lit('</head><body><main id="content">'),
                F.col("text"), F.lit("</main></body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
    )
    out = extract_pages(pages)
    return out.select("url", "extracted_text", "x", "y", "cell")


def _page_extract_oracle():
    return """
    SELECT CAST(doc_id AS VARCHAR) AS url,
           text AS extracted_text,
           CASE WHEN doc_id % 10 != 7
                THEN CAST(doc_id * 6151 % 350 - 175 AS DOUBLE) END AS x,
           CASE WHEN doc_id % 10 != 7
                THEN CAST(doc_id * 7919 % 170 - 85 AS DOUBLE) END AS y,
           CASE WHEN doc_id % 10 != 7 THEN
             ((CAST(floor(CAST(doc_id * 6151 % 350 - 175 AS DOUBLE) / 200.0) AS BIGINT)
               + 1048576) * 2097152)
             + (CAST(floor(CAST(doc_id * 7919 % 170 - 85 AS DOUBLE) / 200.0) AS BIGINT)
               + 1048576)
           END AS cell
    FROM documents WHERE doc_id < 5000
    """


def q_minhash_dedup(spark, sf_dir):
    from netascore_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_t(spark, sf_dir, "documents")).filter(
        F.col("est_jaccard") >= 0.5
    )


def q_simhash_dedup(spark, sf_dir):
    from netascore_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)


def _ann_recall_verdict(spark, sf_dir, ann_fn, floor=0.75, mean_floor=0.85):
    """Per-query recall@k of an ANN method vs the exact broadcast top-k,
    reduced to boolean verdicts the DuckDB oracle can assert (the pair set
    itself is probe-dependent; the verdicts are deterministic — fixed
    seeds).  Two gates: every query's recall >= ``floor`` AND the mean
    recall across queries >= ``mean_floor`` — measured recall is >=0.8
    per-query / >=0.92 mean, so halving bits/tables or n_probe fails the
    gate while deterministic-seed jitter does not."""
    from netascore_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dim = len(emb.select("embedding").first()[0])
    ann = ann_fn(emb, queries, dim).select("query_id", "vec_id")
    exact = cosine_topk(emb, queries, k=5).select("query_id", "vec_id")
    hits = exact.join(ann, ["query_id", "vec_id"], "left_semi")
    n = exact.groupBy("query_id").agg(F.count("*").alias("n"))
    h = hits.groupBy("query_id").agg(F.count("*").alias("h"))
    recalls = n.join(h, "query_id", "left").select(
        "query_id",
        (F.coalesce(F.col("h"), F.lit(0)) / F.col("n")).alias("recall"),
    )
    mean_ok = recalls.agg(
        (F.avg("recall") >= mean_floor).alias("mean_recall_pass")
    )
    return recalls.crossJoin(F.broadcast(mean_ok)).select(
        "query_id",
        (F.col("recall") >= floor).alias("recall_pass"),
        "mean_recall_pass",
    )


def q_ann_lsh(spark, sf_dir):
    from netascore_spark.operators.similarity import lsh_ann_topk

    # bits=4/tables=24: measured recall@5 per query >=0.8 (mean 0.96) on the
    # near-orthogonal gaussian driver embeddings; floors 0.75/0.85 fail when
    # tables are halved (verified) while seed-stable jitter passes
    return _ann_recall_verdict(
        spark, sf_dir,
        lambda e, q, d: lsh_ann_topk(e, q, dim=d, k=5, bits=4, tables=24),
    )


def q_ann_ivf(spark, sf_dir):
    from netascore_spark.operators.similarity import ivf_ann_topk

    # n_lists=16/n_probe=8: measured recall@5 per query >=0.8 (mean 0.92);
    # floors 0.75/0.85 fail when n_probe is halved (verified)
    return _ann_recall_verdict(
        spark, sf_dir,
        lambda e, q, d: ivf_ann_topk(e, q, dim=d, k=5, n_lists=16, n_probe=8),
    )


def q_embedding_dedup(spark, sf_dir):
    from netascore_spark.operators.similarity import embedding_near_dups

    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    # bits=4/tables=24 recalls ALL true pairs at threshold 0.4 on the driver
    # embeddings (59/59 at sf0.01) — the oracle asserts full pair equality
    # against the exact O(n^2) SQL (ids only: cos_sim floats are summation-
    # order-sensitive in the 6th decimal; nearest pair sits >1e-4 from 0.4)
    return (
        embedding_near_dups(emb, dim=dim, threshold=0.4, bits=4, tables=24)
        .select("id_a", "id_b")
    )


# The ANN candidate sets are probe-dependent (not SQL-expressible), so the
# gated quantity is the per-query recall VERDICT: Spark computes recall@5 of
# the ANN result against the exact broadcast top-k and reduces to a boolean;
# the oracle asserts every query passes.  With fixed hyperplane/centroid
# seeds the verdict is deterministic.
_ANN_VERDICT_ORACLE = """
SELECT vec_id AS query_id, true AS recall_pass, true AS mean_recall_pass
FROM embeddings WHERE vec_id < 5
"""

# Full pair equality: the LSH-bucketed near-dup join (bits=4, tables=24)
# recalls every cosine>=0.4 pair on the driver embeddings, and the refine is
# exact — so the found set must equal the brute-force O(n^2) SQL pair set.
_EMBEDDING_DEDUP_ORACLE = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4
"""


def q_multimodal_features(spark, sf_dir):
    """REAL byte-histogram/entropy feature extraction (Arrow mapInPandas,
    operators/multimodal.py:extract_features) — now SQL-checked: the binary
    payload is synthesized NATIVELY (unhex(repeat(md5(text), k))), so DuckDB
    sees byte-identical blobs; the oracle recomputes the 16-bucket histogram
    entropy from the hex form (bucket = byte >> 4 = the high nibble = every
    odd hex char), gating the operator's actual histogram/entropy math."""
    from netascore_spark.operators.multimodal import extract_features

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = docs.selectExpr(
        "doc_id AS media_id",
        "'doc' AS media_type",
        "unhex(repeat(md5(text), CAST(4 + doc_id % 5 AS INT))) AS payload",
    )
    return extract_features(media).select(
        "media_id", "media_type", "n_bytes", "byte_entropy"
    )


_MULTIMODAL_ORACLE = """
WITH docs AS (
  SELECT doc_id, repeat(md5(text), CAST(4 + doc_id % 5 AS INT)) AS hx
  FROM documents WHERE doc_id < 200
),
chars AS (
  SELECT doc_id, substr(hx, CAST(2*i - 1 AS INT), 1) AS c, total
  FROM (SELECT doc_id, hx, length(hx)//2 AS total,
               unnest(range(1, length(hx)//2 + 1)) AS i FROM docs)
),
hist AS (
  SELECT doc_id, c, any_value(total) AS total, count(*) AS cnt
  FROM chars GROUP BY 1, 2
)
SELECT doc_id AS media_id, 'doc' AS media_type,
       any_value(total) AS n_bytes,
       round(-sum((cnt / CAST(total AS DOUBLE))
                  * log2(cnt / CAST(total AS DOUBLE))), 6) AS byte_entropy
FROM hist GROUP BY 1
"""


# ===========================================================================
# contract functions
# ===========================================================================

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the YAML-profile scoring DSL end-to-end over sf0.001,
    aggregated per nation (exercises scan, join chain, the compiled
    when-cascade index, and grouped aggregation)."""
    sf_dir = "/root/testdata/sf0.001"
    scored = q_dsl_score(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        scored.join(li.select("l_orderkey", "l_linenumber").distinct(),
                    ["l_orderkey", "l_linenumber"])
        .join(o, scored["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.round(F.avg("bike_index"), 4).alias("avg_bike_index"),
            F.count("*").alias("n_segments"),
        )
        .orderBy("n_name")
    )


def q_sphere_tiling(spark, sf_dir):
    """Spherical (S2-style cube-face quadtree) tile rollup over events.

    lat/lng are derived deterministically from event_id (integer arithmetic,
    identical in Spark and the SQL oracle); the cell id itself is the pure
    JVM-side Column tree of grid_sphere.cell_col -- the tiling math is
    hash-checked against DuckDB bit-for-bit (level 12 keeps the rollup
    non-trivial: several events per tile)."""
    from netascore_spark import grid_sphere as GS

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "event_id", "value",
        ((F.col("event_id") * 7919 % 17000) / 100.0 - 85.0 + 0.0037).alias("lat"),
        ((F.col("event_id") * 104729 % 35000) / 100.0 - 175.0 + 0.0037).alias("lng"),
    )
    return (
        pts.withColumn("cell", GS.cell_col("lat", "lng", level=12))
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def _sphere_oracle():
    from netascore_spark import grid_sphere as GS

    cell = GS.cell_sql(
        "((event_id * 7919 % 17000) / 100.0 - 85.0 + 0.0037)",
        "((event_id * 104729 % 35000) / 100.0 - 175.0 + 0.0037)",
        level=12,
    )
    return (
        f"SELECT {cell} AS cell, count(*) AS n_events, "
        "round(sum(value), 4) AS sum_value FROM events GROUP BY 1"
    )


def q_sphere_rollup(spark, sf_dir):
    """Multi-resolution hierarchy rollup: level-14 spherical cells ->
    level-10 PARENTS via pure bit arithmetic (grid_sphere.parent_col, the
    h3 cell_to_parent analog) — the quadtree ancestor property
    (parent(cell(L)) == cell(L-d)) hash-checked against DuckDB."""
    from netascore_spark import grid_sphere as GS

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "event_id", "value",
        ((F.col("event_id") * 7919 % 17000) / 100.0 - 85.0 + 0.0037).alias("lat"),
        ((F.col("event_id") * 104729 % 35000) / 100.0 - 175.0 + 0.0037).alias("lng"),
    )
    fine = pts.withColumn("cell14", GS.cell_col("lat", "lng", level=14))
    return (
        fine.withColumn("cell10", GS.parent_col("cell14", steps=4))
        .groupBy("cell10")
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("cell14").alias("n_children"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def _sphere_rollup_oracle():
    from netascore_spark import grid_sphere as GS

    cell14 = GS.cell_sql(
        "((event_id * 7919 % 17000) / 100.0 - 85.0 + 0.0037)",
        "((event_id * 104729 % 35000) / 100.0 - 175.0 + 0.0037)",
        level=14,
    )
    parent10 = GS.parent_sql("cell14", steps=4)
    return (
        f"WITH fine AS (SELECT {cell14} AS cell14, value FROM events) "
        f"SELECT {parent10} AS cell10, count(*) AS n_events, "
        "count(DISTINCT cell14) AS n_children, "
        "round(sum(value), 4) AS sum_value FROM fine GROUP BY 1"
    )


def q_utm_project(spark, sf_dir):
    """WGS84 -> UTM zone 33 projection (the .osm importer's ST_Transform
    equivalent, functions/projection.py Krueger series) over event-derived
    lon/lat — hash-checked against the SAME series rendered as DuckDB SQL
    (hyperbolics emulated via exp/ln); both sides agree to < 3e-9 m, rounded
    to 0.1 mm for the hash."""
    from netascore_spark.functions import projection as P

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        ((F.col("event_id") * 6151 % 60000) / 10000.0 + 12.0).alias("lon"),
        ((F.col("event_id") * 7919 % 160000) / 1000.0 - 80.0).alias("lat"),
    )
    utm = pts.withColumn("__u", P.utm_udf(33)(F.col("lon"), F.col("lat")))
    return utm.select(
        "event_id",
        F.round(F.col("__u.easting"), 4).alias("easting"),
        F.round(F.col("__u.northing"), 4).alias("northing"),
    )


def _utm_oracle():
    from netascore_spark.functions import projection as P

    es, ns = P.utm_sql(
        "((event_id * 6151 % 60000) / 10000.0 + 12.0)",
        "((event_id * 7919 % 160000) / 1000.0 - 80.0)",
        33,
    )
    return (
        f"SELECT event_id, round({es}, 4) AS easting, "
        f"round({ns}, 4) AS northing FROM events"
    )


def q_image_decode(spark, sf_dir):
    """REAL PNG pixel decode (pure-python zlib codec) + resize over
    mapInPandas — netascore_spark/operators/multimodal.py:decode_image."""
    from netascore_spark.operators.multimodal import decode_image, synthetic_media

    return decode_image(synthetic_media(spark, n=200), (4, 4)).select(
        "media_id", "width", "height", "channels", "mean_luma"
    )


def q_audio_decode(spark, sf_dir):
    """REAL 16-bit PCM WAV decode (stdlib struct parse of RIFF/fmt/data
    chunks, operators/codecs.py:decode_wav) — now SQL-checked: a complete
    WAV file is assembled NATIVELY as hex (44-byte header + little-endian
    int16 samples) and unhex'd, the real Arrow decode runs over the blob,
    and DuckDB recomputes rms/zero-crossings/duration from the same integer
    sample formula.  Samples are ±512*k (k in 3..7) so every float32 step of
    the decode (s/32768, square, pairwise mean, sqrt) is EXACT and rms is
    exactly k/64 — a 6-decimal round ties never."""
    from netascore_spark.operators.multimodal import decode_audio

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 67)
    le16 = (
        "lpad(lower(hex({v} % 256)), 2, '0') || "
        "lpad(lower(hex(({v} div 256) % 256)), 2, '0')"
    )
    le32 = le16 + (
        " || lpad(lower(hex(({v} div 65536) % 256)), 2, '0') || "
        "lpad(lower(hex(({v} div 16777216) % 256)), 2, '0')"
    )
    # sign pattern and amplitude are pure integer formulas, identical in the
    # DuckDB oracle; u is the int16 two's-complement byte value of s
    sample_hex = (
        "array_join(transform(sequence(CAST(0 AS BIGINT), n - 1), i -> "
        "  " + le16.format(
            v="(CASE WHEN (doc_id*7919 + i*i*104729) % 97 < 48 "
              "THEN 512*k ELSE 65536 - 512*k END)"
        ) + "), '')"
    )
    header_hex = (
        "'52494646' || " + le32.format(v="(36 + 2*n)")
        + " || '57415645666d74201000000001000100401f0000803e000002001000"
        "64617461' || " + le32.format(v="(2*n)")
    )
    media = docs.selectExpr(
        "doc_id",
        "CAST(400 + (doc_id % 7) * 50 AS BIGINT) AS n",
        "CAST(3 + doc_id % 5 AS BIGINT) AS k",
    ).selectExpr(
        "doc_id AS media_id",
        "'audio' AS media_type",
        f"unhex({header_hex} || {sample_hex}) AS payload",
    )
    return decode_audio(media).select(
        "media_id", "sample_rate", "n_samples", "duration_ms", "rms",
        "zero_crossings",
    )


_AUDIO_ORACLE = """
WITH docs AS (
  SELECT doc_id, 400 + (doc_id % 7) * 50 AS n, 3 + (doc_id % 5) AS k
  FROM documents WHERE doc_id < 67
),
samp AS (
  SELECT doc_id,
         CASE WHEN (doc_id*7919 + i*i*104729) % 97 < 48 THEN 1 ELSE -1 END AS sgn,
         i
  FROM (SELECT doc_id, unnest(range(0, n)) AS i FROM docs)
),
zc AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> sgn THEN 1 ELSE 0 END)
              AS BIGINT) AS zero_crossings
  FROM (SELECT doc_id, sgn,
               lag(sgn) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        FROM samp)
  GROUP BY 1
)
SELECT d.doc_id AS media_id, 8000 AS sample_rate, d.n AS n_samples,
       CAST(floor(d.n * 1000.0 / 8000) AS BIGINT) AS duration_ms,
       round(d.k / 64.0, 6) AS rms,
       z.zero_crossings
FROM docs d JOIN zc z USING (doc_id)
"""


def q_frame_sample(spark, sf_dir):
    """Every-Nth-frame sampling over the PNG-frame container (skipped
    frames never decoded) — multimodal.py:sample_frames."""
    from netascore_spark.operators.multimodal import sample_frames, synthetic_media

    return sample_frames(synthetic_media(spark, n=200), every_n=3).select(
        "media_id", "frame_idx", "mean_luma"
    )


# deterministic planar coordinates from event_id (integer arithmetic —
# identical in Spark and the DuckDB oracles below)
_PT_X = "(event_id * 48271 % 10000) / 10.0"
_PT_Y = "(event_id * 69621 % 10000) / 10.0"


def q_grid_tiling(spark, sf_dir):
    """Planar cell-grid tile rollup (grid.py id packing as pure JVM
    arithmetic) — the projected-plane twin of sphere_tiling."""
    from netascore_spark import grid

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "event_id", "value",
        (F.col("event_id") * 48271 % 10000 / 10.0).alias("x"),
        (F.col("event_id") * 69621 % 10000 / 10.0).alias("y"),
    )
    ix = F.floor(F.col("x") / F.lit(200.0)).cast("long")
    iy = F.floor(F.col("y") / F.lit(200.0)).cast("long")
    cell = F.shiftleft(ix + F.lit(grid._B), grid._SHIFT).bitwiseOR(iy + F.lit(grid._B))
    return (
        pts.withColumn("cell", cell)
        .groupBy("cell")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


_GRID_ORACLE = f"""
SELECT (CAST(floor({_PT_X} / 200.0) AS BIGINT) + 1048576) * 2097152
       + (CAST(floor({_PT_Y} / 200.0) AS BIGINT) + 1048576) AS cell,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1
"""


def q_hilbert_key(spark, sf_dir):
    """Hilbert-curve cell ordering (grid.hilbert_key / native
    spatial.hilbert_key_expr): the locality-preserving total order used for
    range-partitioning hot tiles.  The oracle renders the same 21-round
    xy->d bit transform as chained SQL CTEs."""
    from netascore_spark import grid
    from netascore_spark.operators import spatial

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 4000)
    ix = F.floor((F.col("event_id") * 48271 % 10000 / 10.0) / F.lit(200.0)).cast("long")
    iy = F.floor((F.col("event_id") * 69621 % 10000 / 10.0) / F.lit(200.0)).cast("long")
    cell = F.shiftleft(ix + F.lit(grid._B), grid._SHIFT).bitwiseOR(iy + F.lit(grid._B))
    return ev.select(
        "event_id",
        cell.alias("cell"),
        spatial.hilbert_key_expr(cell).alias("hkey"),
    )


def _hilbert_oracle() -> str:
    head = f"""WITH r AS (
    SELECT event_id,
           (CAST(floor(({_PT_X}) / 200.0) AS BIGINT) + 1048576) * 2097152
           + (CAST(floor(({_PT_Y}) / 200.0) AS BIGINT) + 1048576) AS cell,
           CAST(floor(({_PT_X}) / 200.0) AS BIGINT) + 1048576 AS x,
           CAST(floor(({_PT_Y}) / 200.0) AS BIGINT) + 1048576 AS y,
           CAST(0 AS BIGINT) AS d
    FROM events WHERE event_id < 4000
)"""
    parts = [head]
    prev = "r"
    s = 1 << 20
    i = 0
    while s > 0:
        nm = f"r{i}"
        rx = f"CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END"
        ry = f"CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END"
        parts.append(f""", {nm} AS (
    SELECT event_id, cell,
           CASE WHEN (y & {s}) = 0
                THEN CASE WHEN (x & {s}) > 0 THEN {s - 1} - y ELSE y END
                ELSE x END AS x,
           CASE WHEN (y & {s}) = 0
                THEN CASE WHEN (x & {s}) > 0 THEN {s - 1} - x ELSE x END
                ELSE y END AS y,
           d + {s}::BIGINT * {s} * xor(({rx}) * 3, {ry}) AS d
    FROM {prev}
)""")
        prev = nm
        s >>= 1
        i += 1
    parts.append(f"\nSELECT event_id, cell, d AS hkey FROM {prev}")
    return "".join(parts)


def q_dwithin_join(spark, sf_dir):
    """Distributed DWithin self-join via the cell-grid pattern, ZERO python
    (operators/spatial.dwithin_points_native) — hash-checked against the
    DuckDB brute-force O(n^2) oracle."""
    from netascore_spark.operators.spatial import dwithin_points_native

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    pts = ev.select(
        F.col("event_id").alias("id"),
        (F.col("event_id") * 48271 % 10000 / 10.0).alias("x"),
        (F.col("event_id") * 69621 % 10000 / 10.0).alias("y"),
    )
    return dwithin_points_native(pts, radius=60.0, cell_size=60.0)


_DWITHIN_ORACLE = f"""
WITH pts AS (
    SELECT event_id AS id, {_PT_X} AS x, {_PT_Y} AS y
    FROM events WHERE event_id < 2000
)
SELECT a.id AS id_a, b.id AS id_b,
       round(sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)), 6) AS dist
FROM pts a JOIN pts b ON a.id < b.id
WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 3600.0
"""


def q_knn_join(spark, sf_dir):
    """Independent brute-force check of the flagship cell-ring kNN
    (pipeline/pages.nearest_edges): points AND segments synthesized from
    ``events`` with integer arithmetic reproducible in DuckDB, full
    progressive two-phase search + edge_id geometry join exercised, hash-
    compared against an O(n^2) min point-segment-distance oracle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from netascore_spark import grid
    from netascore_spark.geometry import wkb as _wkb
    from netascore_spark.pipeline.pages import nearest_edges

    ev = _t(spark, sf_dir, "events")
    pts = ev.filter(F.col("event_id") < 2000).select(
        F.col("event_id").cast("string").alias("url"),
        (F.col("event_id") * 48271 % 10000 / 10.0).alias("x"),
        (F.col("event_id") * 69621 % 10000 / 10.0).alias("y"),
    )
    ix = F.floor(F.col("x") / F.lit(grid.DEFAULT_CELL_SIZE)).cast("long")
    iy = F.floor(F.col("y") / F.lit(grid.DEFAULT_CELL_SIZE)).cast("long")
    pts = pts.withColumn(
        "cell", F.shiftleft(ix + F.lit(grid._B), grid._SHIFT).bitwiseOR(iy + F.lit(grid._B))
    )
    seg = ev.filter((F.col("event_id") >= 2000) & (F.col("event_id") < 2500)).select(
        (F.col("event_id") - 2000).alias("edge_id"),
        (F.col("event_id") * 48271 % 10000 / 10.0).alias("x1"),
        (F.col("event_id") * 69621 % 10000 / 10.0).alias("y1"),
        (F.col("event_id") * 16807 % 101 - 50).cast("double").alias("dx"),
        (F.col("event_id") * 65539 % 101 - 50).cast("double").alias("dy"),
    ).withColumn(
        "dx",
        F.when((F.col("dx") == 0) & (F.col("dy") == 0), F.lit(10.0)).otherwise(F.col("dx")),
    )

    @F.pandas_udf(T.BinaryType())
    def seg_wkb(x1, y1, dx, dy):
        return pd.Series(
            [
                _wkb.encode(("LineString", np.array([[a, b], [a + c, b + d]])))
                for a, b, c, d in zip(x1, y1, dx, dy)
            ]
        )

    edges = seg.select("edge_id", seg_wkb("x1", "y1", "dx", "dy").alias("geom"))
    return nearest_edges(pts, edges, k=1, radius=250.0037, progressive=True)


# radius 250.0037 deliberately avoids the 0.1-coordinate lattice: a clamped
# point-endpoint distance is sqrt(multiple of 0.01), never exactly equal, so
# the <= radius cut can't flip between fp orders.
_KNN_ORACLE = """
WITH pts AS (
  SELECT CAST(event_id AS VARCHAR) AS url,
         (event_id * 48271 % 10000) / 10.0 AS x,
         (event_id * 69621 % 10000) / 10.0 AS y
  FROM events WHERE event_id < 2000
),
eg0 AS (
  SELECT event_id - 2000 AS edge_id,
         (event_id * 48271 % 10000) / 10.0 AS x1,
         (event_id * 69621 % 10000) / 10.0 AS y1,
         CASE WHEN (event_id * 16807 % 101) - 50 = 0 AND (event_id * 65539 % 101) - 50 = 0
              THEN 10.0 ELSE CAST((event_id * 16807 % 101) - 50 AS DOUBLE) END AS dx0,
         CAST((event_id * 65539 % 101) - 50 AS DOUBLE) AS dy0
  FROM events WHERE event_id >= 2000 AND event_id < 2500
),
eg AS (
  -- (x1+dx0)-x1, not dx0: reproduce the fp rounding of the WKB round-trip
  SELECT edge_id, x1, y1, (x1 + dx0) - x1 AS dx, (y1 + dy0) - y1 AS dy FROM eg0
),
d AS (
  SELECT p.url, e.edge_id,
         sqrt( (p.x - (e.x1 + t.t * e.dx)) * (p.x - (e.x1 + t.t * e.dx))
             + (p.y - (e.y1 + t.t * e.dy)) * (p.y - (e.y1 + t.t * e.dy)) ) AS dist
  FROM pts p
  CROSS JOIN eg e,
  LATERAL (SELECT greatest(0.0, least(1.0,
      ((p.x - e.x1) * e.dx + (p.y - e.y1) * e.dy) / (e.dx * e.dx + e.dy * e.dy))) AS t) t
)
SELECT url, edge_id, round(dist, 6) AS dist, 1 AS rank
FROM (SELECT url, edge_id, dist,
             row_number() OVER (PARTITION BY url ORDER BY dist, edge_id) AS rn
      FROM d WHERE dist <= 250.0037) q
WHERE rn = 1
"""


def q_pip_join(spark, sf_dir):
    """Independent check of the point-in-polygon cell join
    (pipeline/pages.join_polygons): rectangle polygons synthesized from
    ``events`` (SQL-expressible as range predicates), the real cell-cover +
    broadcast + exact-PIP-refine machinery on the Spark side.  Rect bounds
    sit on a 0.05-offset lattice so no point ever lands on a boundary."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from netascore_spark import grid
    from netascore_spark.geometry import wkb as _wkb
    from netascore_spark.pipeline.pages import join_polygons

    ev = _t(spark, sf_dir, "events")
    pts = ev.filter(F.col("event_id") < 2000).select(
        F.col("event_id").cast("string").alias("url"),
        (F.col("event_id") * 48271 % 10000 / 10.0).alias("x"),
        (F.col("event_id") * 69621 % 10000 / 10.0).alias("y"),
    )
    ix = F.floor(F.col("x") / F.lit(grid.DEFAULT_CELL_SIZE)).cast("long")
    iy = F.floor(F.col("y") / F.lit(grid.DEFAULT_CELL_SIZE)).cast("long")
    pts = pts.withColumn(
        "cell", F.shiftleft(ix + F.lit(grid._B), grid._SHIFT).bitwiseOR(iy + F.lit(grid._B))
    )
    rect = ev.filter((F.col("event_id") >= 2000) & (F.col("event_id") < 2300)).select(
        (F.col("event_id") - 2000).alias("polygon_id"),
        F.when(F.col("event_id") % 2 == 0, F.lit("admin")).otherwise(F.lit("landuse")).alias("kind"),
        (F.col("event_id") * 48271 % 10000 / 10.0).alias("cx"),
        (F.col("event_id") * 69621 % 10000 / 10.0).alias("cy"),
        ((F.col("event_id") * 16807 % 90).cast("double") + 10.05).alias("w"),
        ((F.col("event_id") * 65539 % 90).cast("double") + 10.05).alias("h"),
    )

    @F.pandas_udf(T.BinaryType())
    def rect_wkb(cx, cy, w, h):
        out = []
        for a, b, ww, hh in zip(cx, cy, w, h):
            ring = np.array(
                [[a - ww, b - hh], [a + ww, b - hh], [a + ww, b + hh],
                 [a - ww, b + hh], [a - ww, b - hh]]
            )
            out.append(_wkb.encode(("Polygon", [ring])))
        return pd.Series(out)

    polys = rect.select("polygon_id", "kind", rect_wkb("cx", "cy", "w", "h").alias("geom"))
    return join_polygons(pts, polys)


_PIP_ORACLE = """
WITH pts AS (
  SELECT CAST(event_id AS VARCHAR) AS url,
         (event_id * 48271 % 10000) / 10.0 AS x,
         (event_id * 69621 % 10000) / 10.0 AS y
  FROM events WHERE event_id < 2000
),
rects AS (
  SELECT event_id - 2000 AS polygon_id,
         CASE WHEN event_id % 2 = 0 THEN 'admin' ELSE 'landuse' END AS kind,
         (event_id * 48271 % 10000) / 10.0 AS cx,
         (event_id * 69621 % 10000) / 10.0 AS cy,
         CAST(event_id * 16807 % 90 AS DOUBLE) + 10.05 AS w,
         CAST(event_id * 65539 % 90 AS DOUBLE) + 10.05 AS h
  FROM events WHERE event_id >= 2000 AND event_id < 2300
)
SELECT p.url, r.polygon_id, r.kind
FROM pts p JOIN rects r
  ON p.x >= r.cx - r.w AND p.x <= r.cx + r.w
 AND p.y >= r.cy - r.h AND p.y <= r.cy + r.h
"""


# --- MinHash / SimHash signature oracles -----------------------------------
# The whole signature math is SQL-expressible: md5(shingle)[:8] little-endian
# -> uint64, (a*h + b) mod (2^61-1) min per permutation (HUGEINT avoids the
# 125-bit overflow; the 128 permutation constants from RandomState(42) are
# inlined as literals).  Spark's xxhash64 band buckets equal slice equality
# (modulo a 2^-64 collision), so the band condition is checked directly on
# the signature slices; for SimHash, Hamming<=3 of 64 bits implies a shared
# 16-bit band by pigeonhole, so the bucketing is recall-lossless and the
# oracle is the plain brute-force pair scan.

_MD5_LE = (
    "('0x' || substr(h,15,2) || substr(h,13,2) || substr(h,11,2) || substr(h,9,2)"
    " || substr(h,7,2) || substr(h,5,2) || substr(h,3,2) || substr(h,1,2))::UBIGINT"
)

_SHINGLE_CTE = f"""
WITH toksrc AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '[ \\t\\n\\f\\r]+') AS toks
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(toks) >= 3
              THEN toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
              ELSE array_to_string(toks, ' ') END AS shingle
  FROM toksrc, UNNEST(range(CASE WHEN len(toks) >= 3 THEN len(toks)-2 ELSE 1 END)) AS t(i)
),
hv AS (
  SELECT doc_id, {_MD5_LE} AS hval
  FROM (SELECT doc_id, md5(shingle) AS h FROM sh)
)"""


def _minhash_oracle() -> str:
    import numpy as np

    p = (1 << 61) - 1
    rng = np.random.RandomState(42)  # same seed as minhash_signature_udf
    a = rng.randint(1, p, size=64, dtype=np.int64).astype(np.uint64)
    b = rng.randint(0, p, size=64, dtype=np.int64).astype(np.uint64)
    ab_rows = ", ".join(
        f"({k}, {int(a[k])}::HUGEINT, {int(b[k])}::HUGEINT)" for k in range(64)
    )
    return _SHINGLE_CTE + f""",
ab(k, a, b) AS (VALUES {ab_rows}),
mh AS (
  SELECT doc_id, k,
         CAST(min((ab.a * hval::HUGEINT + ab.b) % ((1::HUGEINT<<61)-1)) AS BIGINT) AS mv
  FROM hv CROSS JOIN ab GROUP BY doc_id, k
),
sig AS (SELECT doc_id, list(mv ORDER BY k) AS sig FROM mh GROUP BY doc_id),
scored AS (
  SELECT s1.doc_id AS id_a, s2.doc_id AS id_b,
    len(list_filter(range(64), i -> s1.sig[i+1] = s2.sig[i+1])) AS agree,
    len(list_filter(range(16), bb -> s1.sig[bb*4+1]=s2.sig[bb*4+1] AND s1.sig[bb*4+2]=s2.sig[bb*4+2]
        AND s1.sig[bb*4+3]=s2.sig[bb*4+3] AND s1.sig[bb*4+4]=s2.sig[bb*4+4])) AS nbands
  FROM sig s1 JOIN sig s2 ON s1.doc_id < s2.doc_id
)
SELECT id_a, id_b, round(agree / 64.0, 6) AS est_jaccard
FROM scored WHERE nbands >= 1 AND round(agree / 64.0, 6) >= 0.5
"""


def _simhash_oracle() -> str:
    return _SHINGLE_CTE + """,
bits AS (
  SELECT doc_id, i, sum(CASE WHEN (hval >> i) & 1 = 1 THEN 1 ELSE -1 END) AS acc
  FROM hv, UNNEST(range(64)) AS t(i) GROUP BY doc_id, i
),
sim AS (
  SELECT doc_id, sum(CASE WHEN acc > 0 THEN (1::HUGEINT << i) ELSE 0::HUGEINT END) AS v
  FROM bits GROUP BY doc_id
),
simh AS (
  SELECT doc_id,
         CAST(CASE WHEN v >= (1::HUGEINT<<63) THEN v - (1::HUGEINT<<64) ELSE v END AS BIGINT) AS simhash
  FROM sim
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM simh a JOIN simh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


# ===========================================================================
# extra registry (beyond the driver's 50-row report cap)
# ===========================================================================
#
# The driver reports at most 50 queries()/oracle_sql() entries per round
# (round 4 silently dropped the 51st), so the surface past the cap lives
# here: same (spark_fn, oracle_sql) contract, checked by the same
# comparator via ``python tools/check_oracles.py --extra`` and by the
# hermetic parity tests in tests/.  The capped registry prioritizes
# SQL-checked entries — image_decode/frame_sample (no SQL oracle possible,
# pytest-gated) were moved out here to make room for line_dedup/lm_score.

def q_line_dedup(spark, sf_dir):
    from netascore_spark.operators.dedup import line_dedup

    # the fixture corpus is single-line; derive a deterministic multi-line
    # view (literal replace, same expression in the oracle) so corpus-level
    # line dedup exercises real line structure
    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.replace(F.col("text"), F.lit(" slow "), F.lit("\n"))
    )
    return line_dedup(d)


_LINE_DEDUP_ORACLE = r"""
WITH d AS (
  SELECT doc_id, string_split(replace(text, ' slow ', chr(10)), chr(10)) AS ls
  FROM documents
),
lines AS (
  SELECT doc_id, unnest(ls) AS line, generate_subscripts(ls, 1) AS pos FROM d
),
hot AS (SELECT line FROM lines GROUP BY line HAVING count(*) > 1),
flagged AS (
  SELECT l.doc_id, l.pos, l.line, h.line IS NOT NULL AS is_dup
  FROM lines l LEFT JOIN hot h USING (line)
)
SELECT doc_id,
  coalesce(string_agg(CASE WHEN NOT is_dup THEN line END, chr(10) ORDER BY pos),
           '') AS text_kept,
  count(CASE WHEN NOT is_dup THEN 1 END) AS n_kept,
  count(*) AS n_lines
FROM flagged GROUP BY doc_id
"""


def q_decontaminate(spark, sf_dir):
    from netascore_spark.operators.dedup import decontaminate

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 53 == 0)
    train = d.filter(F.col("doc_id") % 53 != 0)
    # operator default is the standard 8-gram rule; the synthetic fixture's
    # tiny vocabulary only produces natural cross-split overlap at n=4
    # (18 contaminated docs at sf0.01; n=8 finds zero — a trivial oracle)
    return decontaminate(train, bench, n=4)


_DECONTAMINATE_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         regexp_split_to_array(trim(lower(text)), '[ \t\n\f\r]+') AS t
  FROM documents WHERE trim(text) <> ''
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             range(1, len(t) - 2),
             i -> array_to_string(t[i:i+3], ' ')))) AS g
  FROM toks WHERE len(t) >= 4
),
bg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 53 = 0)
SELECT tg.doc_id, count(*) AS n_hits
FROM (SELECT * FROM grams WHERE doc_id % 53 <> 0) tg JOIN bg USING (g)
GROUP BY tg.doc_id
"""


def q_lm_score(spark, sf_dir):
    from netascore_spark.operators.textstats import bigram_lm_scores

    return bigram_lm_scores(_t(spark, sf_dir, "documents"))


_LM_SCORE_ORACLE = r"""
WITH base AS (
  SELECT doc_id,
         regexp_split_to_array(trim(lower(text)), '[ \t\n\f\r]+') AS t
  FROM documents WHERE trim(text) <> ''
),
uni AS (SELECT unnest(t) AS w FROM base),
c1 AS (SELECT w, count(*) AS c1 FROM uni GROUP BY w),
v AS (SELECT count(*) AS V FROM c1),
bi AS (
  SELECT doc_id, unnest(t[:len(t)-1]) AS w1, unnest(t[2:]) AS w2
  FROM base WHERE len(t) >= 2
),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2),
scored AS (
  SELECT bi.doc_id, ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.V)) AS logp
  FROM bi JOIN c2 USING (w1, w2) JOIN c1 ON c1.w = bi.w1 CROSS JOIN v
)
SELECT doc_id, count(*) AS n_bigrams, round(avg(logp), 4) AS avg_logp,
       round(exp(-avg(logp)), 3) AS ppl
FROM scored GROUP BY doc_id
"""


def q_dup_spans(spark, sf_dir):
    from netascore_spark.operators.dedup import duplicated_spans

    return duplicated_spans(_t(spark, sf_dir, "documents"), k=8, w=4, min_df=2)


# same k-gram hash + window-minimum machinery as _WINNOW_ORACLE, extended
# with the position of each window's (first) minimum; per-doc struct dedup
# happens at row level (SELECT DISTINCT) because DuckDB's list_distinct
# does not support struct elements — equivalent to the engine's per-doc
# array_distinct since (doc, pos, fp) rows are unique either way.
_DUP_SPANS_ORACLE = """
WITH g AS (
  SELECT doc_id, text, length(text) - 8 + 1 AS ng FROM documents
), h AS (
  SELECT doc_id, ng,
    list_transform(range(1, ng + 1), i ->
      ((('0x' || substr(md5(substr(text,i,8)),15,2) || substr(md5(substr(text,i,8)),13,2)
        || substr(md5(substr(text,i,8)),11,2) || substr(md5(substr(text,i,8)),9,2)
        || substr(md5(substr(text,i,8)),7,2)  || substr(md5(substr(text,i,8)),5,2)
        || substr(md5(substr(text,i,8)),3,2)  || substr(md5(substr(text,i,8)),1,2))::UBIGINT::HUGEINT)
       % 2305843009213693951::HUGEINT)::BIGINT) AS hs
  FROM g WHERE ng >= 1
), sel AS (
  SELECT doc_id,
    CASE WHEN ng < 4 THEN
      [struct_pack(pos := list_position(hs, list_min(hs)), fp := list_min(hs))]
    ELSE list_transform(range(1, ng - 4 + 2),
      j -> struct_pack(pos := j + list_position(hs[j: j + 3], list_min(hs[j: j + 3])) - 1,
                       fp := list_min(hs[j: j + 3]))) END AS fps
  FROM h
), fps AS (
  SELECT DISTINCT doc_id, (u).pos AS pos, (u).fp AS fp
  FROM (SELECT doc_id, unnest(fps) AS u FROM sel)
), docfreq AS (
  SELECT fp, count(*) AS df FROM (SELECT DISTINCT doc_id, fp FROM fps) GROUP BY fp
)
SELECT f.doc_id, f.pos, f.fp, d.df
FROM fps f JOIN docfreq d USING (fp) WHERE d.df >= 2
"""


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "decontaminate": q_decontaminate,
        "dup_spans": q_dup_spans,
        "image_decode": q_image_decode,
        "frame_sample": q_frame_sample,
    }


def extra_oracle_sql() -> dict[str, str]:
    return {
        "decontaminate": _DECONTAMINATE_ORACLE,
        "dup_spans": _DUP_SPANS_ORACLE,
        # image_decode / frame_sample: rows-only (see oracle_sql() note)
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # scoring DSL + access cascades (SQL-checked)
        "dsl_score": q_dsl_score,
        "access_car": q_access_car,
        "access_bicycle": q_access_bicycle,
        # projection / filter / scalar
        "filter_project": q_filter_project,
        "case_vocab": q_case_vocab,
        "regex_extract": q_regex_extract,
        "width_parse": q_width_parse,
        "max_speed_cascade": q_max_speed,
        "bit_decode": q_bit_decode,
        # joins / aggs / windows / set ops
        "attr_attach": q_attr_attach,
        "anti_join": q_anti_join,
        "semi_join": q_semi_join,
        "row_number": q_row_number,
        "global_ids": q_global_ids,
        "priority_pick": q_priority_pick,
        "distinct_on": q_distinct_on,
        "string_agg": q_string_agg,
        "union_dedup": q_union_dedup,
        "pricing_summary": q_pricing_summary,
        # training-data ops (SQL-checked)
        "dedup_exact": q_dedup_exact,
        "text_stats": q_text_stats,
        "lang_id": q_lang_id,
        "bpe_tokens": q_bpe_tokens,
        "winnow_fingerprint": q_winnow_fingerprint,
        "ngram_dedup": q_ngram_dedup,
        "dedup_clusters": q_dedup_clusters,
        "cosine_topk": q_cosine_topk,
        "sphere_tiling": q_sphere_tiling,
        "sphere_rollup": q_sphere_rollup,
        "utm_project": q_utm_project,
        "page_extract": q_page_extract,
        "grid_tiling": q_grid_tiling,
        "dwithin_join": q_dwithin_join,
        "knn_join": q_knn_join,
        "hilbert_key": q_hilbert_key,
        "pip_join": q_pip_join,
        # spatial / web-scale (rows-only)
        "network_edges": q_network_edges,
        "network_nodes": q_network_nodes,
        "edge_attributes": q_edge_attributes,
        "score_network": q_score_network,
        "pages_pipeline": q_pages_pipeline,
        "minhash_dedup": q_minhash_dedup,
        "simhash_dedup": q_simhash_dedup,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "embedding_dedup": q_embedding_dedup,
        "multimodal_features": q_multimodal_features,
        "audio_decode": q_audio_decode,
        # corpus-curation ops (SQL-checked; see also extra_queries below)
        "line_dedup": q_line_dedup,
        "lm_score": q_lm_score,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "dsl_score": _DSL_ORACLE,
        "access_car": _ACCESS_CAR_ORACLE,
        "access_bicycle": _ACCESS_BICYCLE_ORACLE,
        "filter_project": _FILTER_ORACLE,
        "case_vocab": _CASE_ORACLE,
        "regex_extract": _REGEX_ORACLE,
        "width_parse": _WIDTH_ORACLE,
        "max_speed_cascade": _MAX_SPEED_ORACLE,
        "bit_decode": _BIT_ORACLE,
        "attr_attach": _ATTR_ATTACH_ORACLE,
        "anti_join": _ANTI_ORACLE,
        "semi_join": _SEMI_ORACLE,
        "row_number": _ROW_NUMBER_ORACLE,
        "global_ids": _GLOBAL_IDS_ORACLE,
        "priority_pick": _PRIORITY_ORACLE,
        "distinct_on": _DISTINCT_ON_ORACLE,
        "string_agg": _STRING_AGG_ORACLE,
        "union_dedup": _UNION_ORACLE,
        "pricing_summary": _PRICING_ORACLE,
        "dedup_exact": _DEDUP_EXACT_ORACLE,
        "text_stats": _TEXT_STATS_ORACLE,
        "lang_id": _lang_oracle(),
        "bpe_tokens": _BPE_ORACLE,
        "winnow_fingerprint": _WINNOW_ORACLE,
        "ngram_dedup": _NGRAM_ORACLE,
        "dedup_clusters": _CLUSTERS_ORACLE,
        "cosine_topk": _COSINE_ORACLE,
        "sphere_tiling": _sphere_oracle(),
        "sphere_rollup": _sphere_rollup_oracle(),
        "utm_project": _utm_oracle(),
        "page_extract": _page_extract_oracle(),
        "grid_tiling": _GRID_ORACLE,
        "dwithin_join": _DWITHIN_ORACLE,
        "knn_join": _KNN_ORACLE,
        "pip_join": _PIP_ORACLE,
        "minhash_dedup": _minhash_oracle(),
        "simhash_dedup": _simhash_oracle(),
        "hilbert_key": _hilbert_oracle(),
        "ann_lsh": _ANN_VERDICT_ORACLE,
        "ann_ivf": _ANN_VERDICT_ORACLE,
        "embedding_dedup": _EMBEDDING_DEDUP_ORACLE,
        "multimodal_features": _MULTIMODAL_ORACLE,
        "audio_decode": _AUDIO_ORACLE,
        "network_edges": _NETWORK_EDGES_ORACLE,
        "network_nodes": _NETWORK_NODES_ORACLE,
        "edge_attributes": _EDGE_ATTRIBUTES_ORACLE,
        "score_network": _SCORE_NETWORK_ORACLE,
        "line_dedup": _LINE_DEDUP_ORACLE,
        "lm_score": _LM_SCORE_ORACLE,
        # remaining rows-only entry:
        # - pages_pipeline: geometry kernel over fixture WKB — kept in the
        #   capped registry as driver-side evidence the flagship composed
        #   graft query runs (its machinery is oracled piecewise by
        #   pip_join / knn_join / page_extract / hilbert_key).
        # image_decode / frame_sample moved to extra_queries() when the
        # registry hit the driver's 50-row cap: their decode path is zlib
        # INFLATE of the PNG IDAT stream (LZ77 + Huffman) — not expressible
        # in ANSI SQL (even a stored-block PNG needs CRC32/adler32
        # polynomial arithmetic per byte); gated by pytest round-trip tests
        # against the pure-python codec (tests/test_training_ops.py) and
        # run rows-only by tools/check_oracles.py.
    }
