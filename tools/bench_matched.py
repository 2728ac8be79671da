"""Matched-scale bench: network + attributes at >=100k edges, per-op
edges/sec ratios against the reference's Austria-scale timings.

The reference's only published numbers are single-node PostGIS wall times at
3.88 M edges (BASELINE.md, sourced from the `-- <time>, <rows>` comments in
its SQL templates).  This tool runs the SAME logical ops on a ~1e5-edge
synthetic city with layer densities matched to the Austria run (~0.5
buildings/edge, see fixtures.scaled_layers) and reports, per op:

    ours_sec, ours_edges_per_sec, ref_edges_per_sec, ratio (ours/ref)

ratio > 1 means we process more edges per second than the reference did.

Usage:
    SPARK_GRAFT_OSM_SCALE=28 SPARK_GRAFT_CPUS=32 python tools/bench_matched.py

Prints one JSON line (consumed by BENCH.md) plus a human table to stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Reference per-op seconds at Austria scale (3.88 M edges; BASELINE.md with
# sql/templates line citations).  Grouped to match our op boundaries.
REF_EDGES = 3_875_334
REF_SECONDS = {
    # osm_network.sql.j2: init 19 + link_points 18(+11 gist) + self-join 53
    # + dumps/deletes 8 + DISTINCT ON 15 + correction deletes 39
    # + intersecting_links 12 + split 32(+16+39) + points 18(+47)
    # + indoor 8 + ids 17 + endpoints 9 + nodes 20(+20) + edge joins 73(+21)
    "network_build": 485,
    "access_attrs": 24,            # access car 7 + bicycle 9 + pedestrian 8
    "infrastructure": 17,          # bicycle_infra 7 + pedestrian_infra 10
    "designated_route": 683,       # route table 4 + ST_Contains join 678 + agg 1
    "road_category_speed": 15,     # road_category 8 + max_speed 7
    "elevation_gradient": 51,      # dem reproject 7+20 + gradient 18 + class 6
    "facilities": 34,              # DWithin 30 + ratio 4
    "crossings": 24,               # DWithin 20 + ratio 4
    "buildings": 586,              # buffer_20 113(+31) + intersect 281 + union ratio 181
    "greenness": 662,              # buffer_30 135(+31) + intersect 359 + ratio 137
    "water": 57,
    "noise": 878,                  # intersect 869 + sum 9
    # Austria-parity density reruns compare against the same reference op
    "facilities_austria_density": 34,
    "crossings_austria_density": 24,
    "water_austria_density": 57,
}


def main() -> None:
    scale = int(os.environ.get("SPARK_GRAFT_OSM_SCALE", "28"))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import functions as F

    from netascore_spark.session import build_session
    from netascore_spark.sources import fixtures
    from netascore_spark.pipeline import attributes as ATTR
    from netascore_spark.pipeline import network as N
    from netascore_spark.plans.profile import Profile, attach_index

    spark = build_session(
        app_name="netascore-bench-matched", master=f"local[{cpus}]",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "64")),
    )
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    # SPARK_GRAFT_OPS: comma list restricting which ops are timed (the big
    # >=2M-edge amortization run only needs the ops whose 100k ratio is
    # contested).  network_build always runs (everything needs edges).
    only = os.environ.get("SPARK_GRAFT_OPS")
    only_set = set(only.split(",")) if only else None

    def timed(name, fn):
        if only_set is not None and name != "network_build" and name not in only_set:
            return None
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 2)
        print(f"  {name}: {timings[name]}s", file=sys.stderr)
        return out

    osm = fixtures.osm_lines(spark, scale=scale).persist()
    osm.count()

    edges = nodes = None

    def _net():
        nonlocal edges, nodes
        e, n = N.build_network(osm)
        edges, nodes = e.localCheckpoint(), n.localCheckpoint()
        return edges.count()

    n_edges = timed("network_build", _net)
    print(f"  n_edges={n_edges}", file=sys.stderr)

    _OP_LAYERS = {
        "elevation_gradient": {"dem"},
        "facilities": {"facility"},
        "crossings": {"crossing"},
        "buildings": {"building"},
        "greenness": {"greenness"},
        "water": {"water"},
        "noise": {"noise"},
        "attributes_full_score": {
            "facility", "crossing", "building", "greenness", "water", "noise", "dem"
        },
    }
    lf = None
    if only_set is not None:
        lf = set()
        for op in only_set:
            lf |= _OP_LAYERS.get(op.removesuffix("_austria_density"), set())
    layers = fixtures.scaled_layers(spark, scale, dem_cell=100.0, layer_filter=lf)
    cell = 200.0

    base_ops = {"access_attrs", "infrastructure", "road_category_speed", "elevation_gradient"}
    base = (
        ATTR.base_attributes(edges).localCheckpoint()
        if only_set is None or (only_set & base_ops)
        else None
    )
    timed("access_attrs", lambda: base.select(
        "edge_id", "access_car_ft", "access_bicycle_ft", "access_pedestrian_ft"
    ).count())
    timed("infrastructure", lambda: base.select(
        "edge_id", "bicycle_infrastructure_ft", "pedestrian_infrastructure_ft"
    ).count())
    timed("road_category_speed", lambda: base.select(
        "edge_id", "road_category", "max_speed_ft"
    ).count())
    timed("designated_route", lambda: ATTR.designated_route(edges, osm, cell).count())

    def _grad():
        na = ATTR.node_elevation(nodes, layers["dem"], 100.0)
        return ATTR.gradient(edges, na, base).count()

    timed("elevation_gradient", _grad)
    timed("facilities", lambda: ATTR.proximity_ratio(
        edges, layers["facility"], "facility_id", 30.0, cell).count())
    timed("crossings", lambda: ATTR.proximity_ratio(
        edges, layers["crossing"], "crossing_id", 10.0, cell).count())
    timed("buildings", lambda: ATTR.buffer_overlay_ratio(
        edges, layers["building"], "building_id", 20.0, cell).count())
    timed("greenness", lambda: ATTR.buffer_overlay_ratio(
        edges, layers["greenness"], "greenness_id", 30.0, cell).count())
    timed("water", lambda: ATTR.water_flag(edges, layers["water"], cell).count())
    timed("noise", lambda: ATTR.noise_sum(edges, layers["noise"], cell).count())

    # Austria-parity densities (settles the round-2 density caveat): OSM
    # Austria has ~0.03-0.08 amenities/crossings per edge and far sparser
    # rivers than the dense synthetic city; run the three density-sensitive
    # ops again at that density so both numbers are on the record.
    if only_set is None or any(o.endswith("_austria_density") for o in only_set):
        at_layers = fixtures.scaled_layers(
            spark, scale, dem_cell=100.0, point_density=1.0 / 12.0,
            water_density=0.25, layer_filter=lf,
        )
        timed("facilities_austria_density", lambda: ATTR.proximity_ratio(
            edges, at_layers["facility"], "facility_id", 30.0, cell).count())
        timed("crossings_austria_density", lambda: ATTR.proximity_ratio(
            edges, at_layers["crossing"], "crossing_id", 10.0, cell).count())
        timed("water_austria_density", lambda: ATTR.water_flag(
            edges, at_layers["water"], cell).count())

    def _score():
        attrs, _ = ATTR.build_attributes(
            edges, nodes, osm, layers, cell_size=cell, dem_cell=100.0
        )
        attrs = attrs.localCheckpoint()
        bike = Profile.from_yaml("profiles/profile_bike.yml", "bike")
        walk = Profile.from_yaml("profiles/profile_walk.yml", "walk")
        return attach_index(attach_index(attrs, bike), walk).count()

    timed("attributes_full_score", _score)

    ref_eps = {k: REF_EDGES / v for k, v in REF_SECONDS.items()}
    table = {}
    for k, secs in timings.items():
        ours_eps = round(n_edges / secs, 1) if secs > 0 else None
        entry = {"sec": secs, "edges_per_sec": ours_eps}
        if k in ref_eps:
            entry["ref_edges_per_sec"] = round(ref_eps[k], 1)
            entry["ratio_vs_ref"] = round(ours_eps / ref_eps[k], 2)
        table[k] = entry

    # the Austria-density reruns are diagnostics, not pipeline stages
    total = round(
        sum(v for k, v in timings.items() if not k.endswith("_austria_density")), 2
    )
    print(json.dumps({
        "metric": "matched-scale per-op throughput (network+attributes)",
        "value": total,
        "unit": "sec",
        "n_edges": n_edges,
        "scale": scale,
        "cpus": int(cpus),
        "ref_edges": REF_EDGES,
        "ops": table,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
