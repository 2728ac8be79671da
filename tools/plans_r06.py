"""Dump .explain("formatted") for every bench-timed query into plans/r06/.

Usage: python tools/plans_r06.py <suffix> [only ...]
  suffix: "before" or "after" — file name suffix (plans/r06/<q>_<suffix>.txt)
  only:   optional query-name filter

Composite stages (network_build / attributes_score / pages_tile_join) are
built exactly as bench.py builds them but at a tiny scale (the plan SHAPE —
exchanges, join strategies, python boundaries — is what the files pin; the
timed numbers live in BENCH/OPTIMIZATION notes).  Driver-table queries run
against sf0.1.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def cap(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06")
    os.makedirs(outdir, exist_ok=True)

    from netascore_spark.session import build_session
    from netascore_spark.sources import fixtures
    from netascore_spark.pipeline import attributes as ATTR
    from netascore_spark.pipeline import network as N
    from netascore_spark.pipeline import pages as PG
    from netascore_spark.plans.profile import Profile, attach_index
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    spark = build_session(
        app_name="plans-r06", master="local[8]", shuffle_partitions=64,
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    plans: dict[str, str] = {}

    def want(name: str) -> bool:
        return not only or name in only

    # --- composite stages (tiny fixtures; shape is scale-independent) ------
    if want("network_build") or want("attributes_score") or want("pages_tile_join"):
        osm = fixtures.osm_lines(spark, scale=2)
        edges, nodes = N.build_network(osm)
        if want("network_build"):
            plans["network_build"] = cap(edges)
        edges_c, nodes_c = edges.localCheckpoint(), nodes.localCheckpoint()
        if want("attributes_score"):
            layers = {
                "facility": fixtures.layer_points(spark, "facility"),
                "crossing": fixtures.layer_points(spark, "crossing"),
                "building": fixtures.layer_polygons(spark, "building"),
                "greenness": fixtures.layer_polygons(spark, "greenness"),
                "water": fixtures.water_layer(spark),
                "noise": fixtures.noise_layer(spark),
                "dem": fixtures.dem_grid(spark),
            }
            attrs, _ = ATTR.build_attributes(edges_c, nodes_c, osm, layers, dem_cell=10.0)
            bike = Profile.from_yaml("profiles/profile_bike.yml", "bike")
            walk = Profile.from_yaml("profiles/profile_walk.yml", "walk")
            scored = attach_index(attach_index(attrs, bike), walk)
            plans["attributes_score"] = cap(scored)
        if want("pages_tile_join"):
            pg_raw = spark.createDataFrame(
                fixtures.pages_pandas(2000), fixtures._PAGES_SCHEMA
            )
            pg = (
                PG.extract_pages(pg_raw)
                .withColumn("__ok", F.col("extracted_text").eqNullSafe(F.col("text")))
                .select("url", "warc_ts", "lang", "x", "y", "cell", "__ok")
            )
            pip = PG.join_polygons(pg, fixtures.admin_polygons(spark))
            nn = PG.nearest_edges(pg, edges_c, k=1, radius=500.0, carry=("lang",))
            agg = PG.page_edge_attributes(nn, pg)
            plans["pages_pip"] = cap(pip)
            plans["pages_knn_agg"] = cap(agg)

    # --- driver-table queries ---------------------------------------------
    for name in [
        "pricing_summary", "attr_attach", "dsl_score", "row_number",
        "ngram_dedup", "cosine_topk", "text_stats",
    ]:
        if want(name):
            plans[name] = cap(E.queries()[name](spark, sf_dir))

    for name, text in plans.items():
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(text.splitlines())} lines)")
    spark.stop()


if __name__ == "__main__":
    main()
