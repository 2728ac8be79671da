"""Fine-grained phase profile of the network stage (see profile_network.py).

Usage: python tools/profile_network2.py [cpus] [scale]

Materializes each intermediate with its own count so the cost of cover
explode / pair join / intersection UDF / dedup window / split UDF are
separated.  Adds counts, so total != build_network wall time; use for
RELATIVE attribution only.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    cpus = sys.argv[1] if len(sys.argv) > 1 else "8"
    scale = int(sys.argv[2]) if len(sys.argv) > 2 else 56

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    from pyspark.sql import functions as F
    from netascore_spark.session import build_session
    from netascore_spark.sources import fixtures
    from netascore_spark.pipeline import network as N
    from netascore_spark.operators import spatial
    from netascore_spark.pipeline import cache

    spark = build_session(
        app_name="profile-network2", master=f"local[{cpus}]", shuffle_partitions=64
    )
    spark.sparkContext.setLogLevel("ERROR")

    t: dict[str, float] = {}

    def timed(name: str, fn):
        t0 = time.time()
        out = fn()
        t[name] = round(time.time() - t0, 3)
        print(f"  {name}: {t[name]}s", flush=True)
        return out

    osm = fixtures.osm_lines(spark, scale=scale)
    init = N.network_init(osm)
    lp = N.link_points(init)

    lc = cache.track(
        spatial.with_cells(
            lp.select(
                "osm_id", "bridge", "tunnel", "escalator", "indoor", "layer_arr",
                "raw_layer", "x0", "y0", "x1", "y1", "geom"
            ),
            "geom", 200.0,
        ).persist()
    )
    print("  cover rows:", timed("cover_explode", lambda: lc.count()))

    inter_raw = N.intersections(lp, 200.0)
    print("  inter rows:", timed("pairs_and_intersect", lambda: inter_raw.persist().count()))
    inter = N.apply_correction_deletes(N.dedup_intersections(inter_raw))
    print("  kept rows:", timed("dedup_and_deletes", lambda: inter.persist().count()))
    targets = N.split_targets(inter)
    print("  target rows:", timed("split_targets", lambda: targets.persist().count()))
    corrected = cache.track(N.split_edges(init, targets).persist())
    print("  corrected:", timed("split_udf", lambda: corrected.count()))
    corrected2 = timed("indoor_fixpoint", lambda: N.drop_dangling_indoor(corrected, 200.0))
    edges, nodes = N.finalize_network(corrected2)
    print("  edges:", timed("finalize", lambda: edges.count()))
    timed("edges_localckpt", lambda: edges.localCheckpoint().count())
    print(json.dumps({"cpus": cpus, "scale": scale, "timings": t}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
