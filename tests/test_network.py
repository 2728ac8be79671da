"""Network construction stage tests (osm_network.sql.j2 semantics)."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from netascore_spark.geometry import wkb
from netascore_spark.pipeline import network as N
from netascore_spark.sources import fixtures


@pytest.fixture(scope="module")
def net(spark):
    osm = fixtures.osm_lines(spark, scale=1)
    edges, nodes = N.build_network(osm)
    edges.persist()
    nodes.persist()
    return osm, edges, nodes


def test_p1_filter_drops_negative_and_nonhighway(spark, net):
    osm, edges, nodes = net
    assert edges.filter(F.col("osm_id") < 0).count() == 0
    kept_ids = {r["osm_id"] for r in edges.select("osm_id").distinct().collect()}
    bad = {
        r["osm_id"]
        for r in osm.filter(F.col("highway").isNull() & F.col("route").isNull()).collect()
    }
    assert not (kept_ids & bad)


def test_grid_ways_split_at_crossings(spark, net):
    osm, edges, nodes = net
    # 8x8 grid: each interior way crosses 8 perpendicular ways -> split into
    # 7 interior pieces + 0 (ways start/end ON the boundary ways, endpoints
    # don't split). H0 (osm_id=100, y=0) crosses V1..V6 interior => pieces.
    h0 = edges.filter(F.col("name") == "H0")
    assert h0.count() >= 7
    # total length preserved per osm_id
    osm_len = {
        r["osm_id"]: float(
            np.hypot(*(np.diff(wkb.decode(bytes(r["way"]))[1], axis=0).T)).sum()
        )
        for r in osm.filter(F.col("name") == "H0").collect()
    }
    got = h0.agg(F.sum("length")).collect()[0][0]
    assert got == pytest.approx(list(osm_len.values())[0], rel=1e-9)


def test_bridge_does_not_split(spark, net):
    _, edges, _ = net
    bridge = edges.filter(F.col("name") == "bridge-way")
    assert bridge.count() == 1  # crossed the grid but never split


def test_layered_overpass_does_not_split(spark, net):
    _, edges, _ = net
    over = edges.filter(F.col("name") == "overpass")
    assert over.count() == 1


def test_tunnel_does_not_split(spark, net):
    _, edges, _ = net
    tun = edges.filter(F.col("name") == "tunnel-way")
    assert tun.count() == 1


def test_grid_ways_not_split_by_bridge(spark, net):
    _, edges, _ = net
    # H1 at y=100: crossed by V1..V6 (6 interior crossings -> 7 pieces).
    # The bridge at y=150 and overpass/tunnel do NOT add splits to it.
    # V2 (x=200): crossed by H1..H6 -> 7 pieces; bridge at y=150 must not
    # add an 8th split.
    v2 = edges.filter(F.col("name") == "V2")
    assert v2.count() == 7


def test_dangling_indoor_removed(spark, net):
    _, edges, _ = net
    names = {r["name"] for r in edges.select("name").distinct().collect()}
    assert "indoor-dangling" not in names
    # note: indoor-a/indoor-b chain also collapses (fixpoint) since after
    # removing the dangling edge their shared points drop below 2 owners.


def test_edge_ids_dense_and_deterministic(spark, net):
    _, edges, _ = net
    ids = [r["edge_id"] for r in edges.select("edge_id").orderBy("edge_id").collect()]
    assert ids == list(range(1, len(ids) + 1))
    # deterministic: rebuilding gives identical id->osm_id mapping
    osm = fixtures.osm_lines(spark, scale=1)
    edges2, _ = N.build_network(osm)
    m1 = {(r["edge_id"]): (r["osm_id"], r["seg_seq"]) for r in edges.collect()}
    m2 = {(r["edge_id"]): (r["osm_id"], r["seg_seq"]) for r in edges2.collect()}
    assert m1 == m2


def test_node_identity(spark, net):
    _, edges, nodes = net
    # from/to node ids resolve, every edge has both
    assert edges.filter(F.col("from_node").isNull() | F.col("to_node").isNull()).count() == 0
    # shared junction: pieces meeting at a grid crossing share a node id
    n_nodes = nodes.count()
    assert n_nodes > 0
    # degree >= 1 for every node
    deg = (
        edges.select(F.col("from_node").alias("n"))
        .unionByName(edges.select(F.col("to_node").alias("n")))
        .groupBy("n").count()
    )
    assert deg.filter(F.col("count") < 1).count() == 0
    # grid interior crossings have degree 4
    deg4 = deg.filter(F.col("count") >= 4).count()
    assert deg4 >= 36  # 6x6 interior crossings of the 8x8 grid


def test_length_column(spark, net):
    _, edges, _ = net
    bad = edges.filter((F.col("length") <= 0) | F.col("length").isNull()).count()
    assert bad == 0


def test_id_paths_identical(spark):
    # W3/W4: assign_ids must equal the reference's global
    # row_number() OVER (ORDER BY ...), computed here with a plain Window
    from pyspark.sql import Window

    from netascore_spark.operators import ids as ids_op

    osm = fixtures.osm_lines(spark, scale=2)
    init = N.network_init(osm)
    lp = N.link_points(init)
    inter = N.apply_correction_deletes(
        N.dedup_intersections(N.intersections(lp, 200.0))
    )
    corrected = N.split_edges(init, N.split_targets(inter))
    ref = corrected.select(
        "osm_id", "seg_seq",
        F.row_number().over(Window.orderBy("osm_id", "seg_seq")).alias("edge_id"),
    )
    got = ids_op.assign_ids(corrected, ["osm_id", "seg_seq"], "edge_id")
    a = {(r["osm_id"], r["seg_seq"]): r["edge_id"] for r in ref.collect()}
    b = {(r["osm_id"], r["seg_seq"]): r["edge_id"]
         for r in got.select("osm_id", "seg_seq", "edge_id").collect()}
    assert len(a) == corrected.count()
    assert a == b

    # and the full network numbers its nodes by the rank of (x, y)
    _, nodes = N.build_network(osm)
    ref_n = nodes.select(
        "x", "y", F.row_number().over(Window.orderBy("x", "y")).alias("node_id")
    )
    a = {(r["x"], r["y"]): r["node_id"] for r in ref_n.collect()}
    b = {(r["x"], r["y"]): r["node_id"] for r in nodes.collect()}
    assert len(a) == nodes.count()
    assert a == b


def test_dangling_indoor_dense_fixture(spark):
    """1k-indoor-edge stress for the DISTRIBUTED on-edge refine: dangling
    pairs collapse in two fixpoint rounds, triangles survive — and the
    driver only ever sees endpoints that actually lie on an indoor edge."""
    rows = []

    def edge(osm_id, seg_seq, a, b, indoor=True):
        geom = wkb.encode(("LineString", np.array([a, b], dtype=float)))
        rows.append((osm_id, seg_seq, geom,
                     {"indoor": "yes"} if indoor else {}))

    # 400 dangling 2-chains (A-B-C): both edges must fall (2 rounds)
    for i in range(400):
        x = i * 50.0
        edge(1000 + i, 0, (x, 0.0), (x, 10.0))
        edge(1000 + i, 1, (x, 10.0), (x, 20.0))
    # 100 triangles (every vertex owned by 2 edges): all survive
    for i in range(100):
        x = i * 50.0
        a, b, c = (x, 1000.0), (x + 10.0, 1000.0), (x, 1010.0)
        edge(5000 + i, 0, a, b)
        edge(5000 + i, 1, b, c)
        edge(5000 + i, 2, c, a)
    # outdoor edges never touched
    for i in range(50):
        x = i * 50.0
        edge(9000 + i, 0, (x, 5000.0), (x + 10.0, 5000.0), indoor=False)

    df = spark.createDataFrame(
        rows, "osm_id long, seg_seq int, geom binary, tags map<string,string>"
    )
    out = N.drop_dangling_indoor(df)
    kept = {(r["osm_id"], r["seg_seq"]) for r in out.collect()}
    assert not any(1000 <= o < 1400 for o, _ in kept)          # chains gone
    assert sum(1 for o, _ in kept if 5000 <= o < 5100) == 300  # triangles stay
    assert sum(1 for o, _ in kept if o >= 9000) == 50          # outdoor kept
