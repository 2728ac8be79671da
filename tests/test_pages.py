"""Web-scale pages graft tests: byte-identical extraction, geoparse, tiling,
point-in-polygon and cell-ring kNN joins (north-rule invariants)."""

import pytest

from pyspark.sql import functions as F

from netascore_spark.pipeline import network as N
from netascore_spark.pipeline import pages as P
from netascore_spark.sources import fixtures


@pytest.fixture(scope="module")
def pages_extracted(spark):
    pg = fixtures.pages(spark, n=500)
    out = P.extract_pages(pg)
    out.persist().count()
    return out


def test_extraction_byte_identical(spark, pages_extracted):
    # THE invariant: extracted text == original text for every url
    assert P.verify_extraction(pages_extracted) == 0


def test_geoparse_nulls(spark, pages_extracted):
    n = pages_extracted.count()
    no_geo = pages_extracted.filter(F.col("x").isNull()).count()
    assert n == 500
    assert no_geo == 50  # i % 10 == 7 -> exactly 10%
    # cells assigned iff coordinates parsed
    assert pages_extracted.filter(
        F.col("x").isNotNull() & F.col("cell").isNull()
    ).count() == 0


def test_skewed_hot_cells(spark, pages_extracted):
    counts = (
        pages_extracted.filter(F.col("cell").isNotNull())
        .groupBy("cell").count().orderBy(F.col("count").desc()).collect()
    )
    total = sum(r["count"] for r in counts)
    top3 = sum(r["count"] for r in counts[:3])
    assert top3 / total > 0.10  # hot cells exist


def test_point_in_polygon_join(spark, pages_extracted):
    polys = fixtures.admin_polygons(spark)
    hits = P.join_polygons(pages_extracted, polys)
    hits.persist()
    assert hits.count() > 0
    # no page without coordinates may join
    no_geo_urls = pages_extracted.filter(F.col("x").isNull()).select("url")
    assert hits.join(no_geo_urls, "url", "left_semi").count() == 0
    # overlapping landuse polygon produces multiple rows for pages inside it
    multi = hits.groupBy("url").count().filter(F.col("count") > 1).count()
    assert multi > 0


def test_knn_smallk_agg_matches_window(spark, pages_extracted):
    """k<=8 uses the map-side array_sort(collect_list)+slice aggregation;
    pinned row-identical to the window-rank path (k>8), and the plan must
    show the aggregation, not a Window sort."""
    osm = fixtures.osm_lines(spark, scale=1)
    edges, _ = N.build_network(osm)
    edges = edges.localCheckpoint()  # truncate id-assignment lineage: the
    # plan assertion below must see only the kNN operators
    agg = P.nearest_edges(pages_extracted, edges, k=3, radius=500.0)
    win = P.nearest_edges(pages_extracted, edges, k=9, radius=500.0)
    a = {(r["url"], r["rank"]): (r["edge_id"], r["dist"]) for r in agg.collect()}
    b = {
        (r["url"], r["rank"]): (r["edge_id"], r["dist"])
        for r in win.collect()
        if r["rank"] <= 3
    }
    assert a == b and a
    agg_plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in agg_plan and "collect_list" in agg_plan


def test_nearest_edge_knn(spark, pages_extracted):
    osm = fixtures.osm_lines(spark, scale=1)
    edges, _ = N.build_network(osm)
    nn = P.nearest_edges(pages_extracted, edges, k=3, radius=500.0)
    nn.persist()
    assert nn.count() > 0
    # ranks are 1..3 per url, distances ascending
    import collections

    per_url = collections.defaultdict(list)
    for r in nn.collect():
        per_url[r["url"]].append((r["rank"], r["dist"]))
    for url, rows in per_url.items():
        rows.sort()
        dists = [d for _, d in rows]
        assert dists == sorted(dists)
        assert [rk for rk, _ in rows] == list(range(1, len(rows) + 1))
    # deterministic under salting too
    nn_salted = P.nearest_edges(
        pages_extracted, edges, k=3, radius=500.0, salt_threshold=50
    )
    a = {(r["url"], r["rank"]): r["edge_id"] for r in nn.collect()}
    b = {(r["url"], r["rank"]): r["edge_id"] for r in nn_salted.collect()}
    assert a == b


def test_nearest_edges_auto_salting(spark, pages_extracted, monkeypatch):
    # default salt_threshold="auto": with the straggler bound lowered below
    # the fixture's hot-cell counts, the histogram pass must find hot cells
    # and the salted join must stay result-identical to the unsalted one
    osm = fixtures.osm_lines(spark, scale=1)
    edges, _ = N.build_network(osm)
    monkeypatch.setattr(P, "AUTO_SALT_THRESHOLD", 20)
    hot = __import__("netascore_spark.operators.spatial", fromlist=["spatial"]).hot_cells(
        pages_extracted.filter(F.col("cell").isNotNull()), "cell", 20
    )
    assert hot  # the fixture's skew triggers the auto path
    auto = P.nearest_edges(pages_extracted, edges, k=2, radius=500.0)
    off = P.nearest_edges(pages_extracted, edges, k=2, radius=500.0, salt_threshold=None)
    a = {(r["url"], r["rank"]): (r["edge_id"], r["dist"]) for r in auto.collect()}
    b = {(r["url"], r["rank"]): (r["edge_id"], r["dist"]) for r in off.collect()}
    assert a == b


def test_page_edge_attributes(spark, pages_extracted):
    osm = fixtures.osm_lines(spark, scale=1)
    edges, _ = N.build_network(osm)
    nn = P.nearest_edges(pages_extracted, edges, k=1, radius=500.0)
    agg = P.page_edge_attributes(nn, pages_extracted)
    rows = agg.collect()
    assert len(rows) > 0
    total = sum(r["page_count"] for r in rows)
    assert total == nn.filter(F.col("rank") == 1).count()


def test_carry_column_equals_join(spark, pages_extracted):
    """carry=("lang",) must reproduce the url-join exactly — same (url,
    edge_id, dist, rank) rows with the page's own lang attached — at k=1
    (fused progressive), k=3 (array-agg) and k=9 (window), and
    page_edge_attributes must give identical per-edge aggregates while its
    plan shows NO join (the carried column replaces the ~320 MB url
    shuffle at bench scale)."""
    osm = fixtures.osm_lines(spark, scale=1)
    edges, _ = N.build_network(osm)
    edges = edges.localCheckpoint()
    for k in (1, 3, 9):
        plain = P.nearest_edges(pages_extracted, edges, k=k, radius=500.0)
        carried = P.nearest_edges(
            pages_extracted, edges, k=k, radius=500.0, carry=("lang",)
        )
        expect = {
            (r["url"], r["rank"]): (r["edge_id"], r["dist"], r["lang"])
            for r in plain.join(
                pages_extracted.select("url", "lang"), "url"
            ).collect()
        }
        got = {
            (r["url"], r["rank"]): (r["edge_id"], r["dist"], r["lang"])
            for r in carried.collect()
        }
        assert got == expect, f"carry mismatch at k={k}"
    nn = P.nearest_edges(
        pages_extracted, edges, k=1, radius=500.0, carry=("lang",)
    )
    agg = P.page_edge_attributes(nn, pages_extracted)
    # the kNN's own cell join remains; page_edge_attributes must add NO
    # url-join on top of it
    n_joins = lambda df: df._jdf.queryExecution().optimizedPlan().toString().count("Join ")
    assert n_joins(agg) == n_joins(nn)
    nn0 = P.nearest_edges(pages_extracted, edges, k=1, radius=500.0)
    agg0 = P.page_edge_attributes(nn0, pages_extracted)
    key = lambda r: r["edge_id"]
    assert sorted(map(tuple, agg.collect()), key=lambda t: t[0]) == sorted(
        map(tuple, agg0.collect()), key=lambda t: t[0]
    )


def test_nearest_edges_progressive_equals_flat(spark, pages_extracted):
    osm = fixtures.osm_lines(spark, scale=1)
    edges, _ = N.build_network(osm)
    # k=9 is above the flat search's k<=8 aggregation, so it checks the
    # progressive phase-1 top-k against the flat Window ranking
    for k in (1, 3, 9):
        prog = P.nearest_edges(pages_extracted, edges, k=k, radius=500.0, progressive=True)
        flat = P.nearest_edges(pages_extracted, edges, k=k, radius=500.0, progressive=False)
        a = {(r["url"], r["rank"]): (r["edge_id"], r["dist"]) for r in prog.collect()}
        b = {(r["url"], r["rank"]): (r["edge_id"], r["dist"]) for r in flat.collect()}
        assert a == b, f"progressive != flat at k={k}"
