"""Per-sub-operator isolation of the attributes_score bench leg.

Usage: python tools/profile_attrs.py [cpus] [osm_scale]

Builds the network exactly as bench.py does (cached fixture parquet,
localCheckpoint'ed edges/nodes), then times EACH attribute sub-operator
separately with the noop sink (guide §1.4) plus the composed
build_attributes+attach_index, so the expensive member is identified
directly instead of inferred from one fused wall number.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    cpus = sys.argv[1] if len(sys.argv) > 1 else "32"
    osm_scale = int(sys.argv[2]) if len(sys.argv) > 2 else 56

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    from netascore_spark.session import build_session
    from netascore_spark.sources import fixtures
    from netascore_spark.pipeline import attributes as ATTR
    from netascore_spark.pipeline import network as N
    from netascore_spark.plans.profile import Profile, attach_index
    import bench

    spark = build_session(
        app_name="profile-attrs", master=f"local[{cpus}]", shuffle_partitions=64,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(16 << 20),
            "spark.sql.files.openCostInBytes": str(1 << 20),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    fixcache = bench.fixture_cache_dir()
    path = os.path.join(fixcache, f"osm_scale{osm_scale}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        osm = spark.read.parquet(path)
        if osm.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
            osm = osm.repartition(spark.sparkContext.defaultParallelism)
    else:
        osm = fixtures.osm_lines(spark, scale=osm_scale)

    edges, nodes = N.build_network(osm)
    edges = edges.localCheckpoint()
    nodes = nodes.localCheckpoint()
    print(f"edges={edges.count()}", flush=True)

    layers = {
        k: df for k, df in fixtures.scaled_layers(spark, osm_scale, dem_cell=100.0).items()
    }
    dem_cell = 100.0
    cell_size = 200.0

    timings: dict[str, float] = {}

    def timed(name, df):
        spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.time() - t0, 2)
        spark.sparkContext.setJobDescription(None)
        print(f"{name}: {timings[name]}s", flush=True)

    timed("base_attributes", ATTR.base_attributes(edges))
    timed("designated_route", ATTR.designated_route(edges, osm, cell_size))
    na = ATTR.node_elevation(nodes, layers["dem"], dem_cell)
    timed("node_elevation", na)
    attrs0 = ATTR.base_attributes(edges)
    timed("gradient", ATTR.gradient(edges, na, attrs0))
    timed("prox_facility", ATTR.proximity_ratio(edges, layers["facility"], "facility_id", 30.0, cell_size))
    timed("prox_crossing", ATTR.proximity_ratio(edges, layers["crossing"], "crossing_id", 10.0, cell_size))
    timed("buffer_building", ATTR.buffer_overlay_ratio(edges, layers["building"], "building_id", 20.0, cell_size))
    timed("buffer_greenness", ATTR.buffer_overlay_ratio(edges, layers["greenness"], "greenness_id", 30.0, cell_size))
    timed("water_flag", ATTR.water_flag(edges, layers["water"], cell_size))
    timed("noise_sum", ATTR.noise_sum(edges, layers["noise"], cell_size))

    bike = Profile.from_yaml("profiles/profile_bike.yml", "bike")
    walk = Profile.from_yaml("profiles/profile_walk.yml", "walk")

    def composed():
        attrs, _ = ATTR.build_attributes(edges, nodes, osm, layers, dem_cell=dem_cell)
        attrs = attrs.localCheckpoint()
        return attach_index(attach_index(attrs, bike), walk)

    spark.sparkContext.setJobDescription("composed")
    t0 = time.time()
    n = composed().count()
    timings["composed_count"] = round(time.time() - t0, 2)
    print(f"composed: {timings['composed_count']}s rows={n}", flush=True)

    print(json.dumps({"cpus": int(cpus), "osm_scale": osm_scale, "timings": timings}))
    spark.stop()


if __name__ == "__main__":
    main()
