"""Per-phase wall-clock profile of the network stage at a given master.

Usage: python tools/profile_network.py [cpus] [scale]

Times each sub-phase with an explicit action so the serial-vs-parallel
split of build_network is visible (Amdahl decomposition for BENCH.md).
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
    from netascore_spark.session import build_session
    from netascore_spark.sources import fixtures
    from netascore_spark.pipeline import network as N
    from netascore_spark.pipeline import cache

    spark = build_session(
        app_name="profile-network", master=f"local[{cpus}]", shuffle_partitions=64
    )
    spark.sparkContext.setLogLevel("ERROR")

    t: dict[str, float] = {}

    def timed(name: str, fn):
        t0 = time.time()
        out = fn()
        t[name] = round(time.time() - t0, 3)
        print(f"  {name}: {t[name]}s", flush=True)
        return out

    t0_all = time.time()
    osm = timed("fixture_gen", lambda: fixtures.osm_lines(spark, scale=scale))

    init = N.network_init(osm)
    lp = N.link_points(init)
    inter_raw = N.intersections(lp, 200.0)
    inter = N.apply_correction_deletes(N.dedup_intersections(inter_raw))
    targets = N.split_targets(inter)
    corrected = cache.track(N.split_edges(init, targets).persist())
    timed("plan_build_py", lambda: None)  # driver py4j plan construction ^
    n_corr = timed("split_materialize", lambda: corrected.count())
    print(f"  [corrected rows: {n_corr}]")
    corrected2 = timed("indoor_fixpoint", lambda: N.drop_dangling_indoor(corrected, 200.0))
    edges, nodes = N.finalize_network(corrected2)
    ne = timed("finalize_count", lambda: edges.count())
    print(f"  [edges: {ne}]")
    timed("edges_localckpt", lambda: edges.localCheckpoint().count())
    timed("nodes_localckpt", lambda: nodes.localCheckpoint().count())
    t["TOTAL"] = round(time.time() - t0_all, 3)
    print(json.dumps({"cpus": cpus, "scale": scale, "timings": t}))
    spark.stop()


if __name__ == "__main__":
    main()
