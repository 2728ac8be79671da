"""The benchmark's workloads: inputs, the timed pass and its output checks.

Each workload provides

- ``generate(spark, seed)`` -> {table: DataFrame}, written once per
  (workload, seed, size, generator version) by the prepare step;
- ``read(spark, base)`` -> the inputs as the timed pass sees them;
- ``run(spark, inputs, tracer, scratch)`` -> a result, the timed pass;
- ``check(spark, inputs, result)`` -> {"failed": [check names], "checks":
  checks run, "ratios": useful-work ratios, "rows": extra rows per layer},
  run after the timed region.

Only public calls of the package run inside the timed region.
"""

from __future__ import annotations

import contextlib
import math
import os

import numpy as np
from pyspark.sql import functions as F

from perfbench import gen

PROFILE_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "profiles")


def _read_all(spark, base: str, names) -> dict:
    return {k: spark.read.parquet(os.path.join(base, k)) for k in names}


@contextlib.contextmanager
def _snapshot_layers(tracer, layer_of: dict[str, str], next_layer: dict[str, str]):
    """Traced runs only: each ``Checkpointer.materialize`` runs under the
    job group of its snapshot's layer, and once the last snapshot of a
    layer is committed the next layer's span opens, so the eager work a
    stage does before its first snapshot is charged to that stage."""
    from netascore_spark.pipeline.checkpoint import Checkpointer

    orig = Checkpointer.materialize

    def materialize(self, df, name, *args, **kwargs):
        tracer.enter(layer_of[name])
        out = orig(self, df, name, *args, **kwargs)
        tracer.add_rows(layer_of[name], self.lineage(name)["rows"])
        if name in next_layer:
            tracer.enter(next_layer[name])
        return out

    Checkpointer.materialize = materialize
    try:
        yield
    finally:
        Checkpointer.materialize = orig


def _verdict(checks: dict[str, bool], ratios=None, rows=None) -> dict:
    return {
        "failed": [name for name, ok in checks.items() if not ok],
        "checks": len(checks), "ratios": ratios or {}, "rows": rows or {},
    }


# ---------------------------------------------------------------------------
# city_score
# ---------------------------------------------------------------------------

class CityScore:
    name = "city_score"
    # streets per axis: 2n(n+1) = 840 edges.  At this size the pass is
    # bound by per-stage cost: n=8 (144 edges) took as long, about 50 s
    grid = 20

    layer_of = {
        "network_edge": "network", "network_node": "network",
        "network_edge_attributes": "attributes", "network_node_attributes": "attributes",
        "network_edge_index": "index", "export_edge": "export", "export_node": "export",
    }
    next_layer = {
        "network_node": "attributes", "network_node_attributes": "index",
        "network_edge_index": "export",
    }
    tables = ["osm_line", "building", "greenness", "facility", "crossing", "noise", "water", "dem"]

    def size_key(self) -> str:
        return f"n{self.grid}"

    def generate(self, spark, seed: int) -> dict:
        return gen.city_inputs(spark, seed, self.grid)

    def read(self, spark, base: str) -> dict:
        return _read_all(spark, base, self.tables)

    def run(self, spark, inputs: dict, tracer, scratch: str) -> dict:
        from netascore_spark.pipeline.export import run_pipeline
        from netascore_spark.plans.profile import Profile

        profiles = [
            Profile.from_yaml(os.path.join(PROFILE_DIR, f"profile_{p}.yml"), p)
            for p in ("bike", "walk")
        ]
        layers = {k: v for k, v in inputs.items() if k != "osm_line"}
        tracer.enter("network")
        with _snapshot_layers(tracer, self.layer_of, self.next_layer) if tracer.traced else contextlib.nullcontext():
            out = run_pipeline(
                spark, inputs["osm_line"], layers, profiles,
                checkpoint_dir=os.path.join(scratch, "checkpoint"),
            )
        tracer.enter("export")
        n = out["export_edge"].count()
        tracer.close()
        return {"out": out, "items": n}

    def check(self, spark, inputs: dict, result: dict):
        out = result["out"]
        edges, nodes = out["network_edge"], out["network_node"]
        n_edges = edges.count()

        def one_row_per_edge(df) -> bool:
            row = df.agg(F.count("*").alias("n"), F.countDistinct("edge_id").alias("d")).first()
            return row["n"] == n_edges and row["d"] == n_edges

        idx = out["network_edge_index"]
        bad_index = idx.filter(
            F.greatest(*[
                F.when((F.col(c) < 0) | (F.col(c) > 1), 1).otherwise(0)
                for c in idx.columns if c.startswith("index_")
            ]) > 0
        ).count()
        checks = {
            "edge_count": n_edges == gen.city_expected_edges(self.grid),
            "distinct_edge_id": edges.select("edge_id").distinct().count() == n_edges,
            "distinct_node_id": nodes.select("node_id").distinct().count() == nodes.count(),
            "one_attribute_row_per_edge": one_row_per_edge(out["network_edge_attributes"]),
            "one_index_row_per_edge": one_row_per_edge(idx),
            "index_in_unit_interval": bad_index == 0,
            "export_row_per_edge": one_row_per_edge(out["export_edge"]),
        }
        return _verdict(checks)


# ---------------------------------------------------------------------------
# pages_curate: the north-rule web path — page geo-join, then curation
# ---------------------------------------------------------------------------

class PagesCurate:
    name = "pages_curate"
    pages = 20_000
    grid = 20  # 2n(n-1) = 760 slim edges
    docs = 1_500
    radius = 500.0
    knn_sample = 1_000

    tables = ["pages", "edges", "polygons", "docs"]

    def size_key(self) -> str:
        return f"p{self.pages}-n{self.grid}-d{self.docs}"

    def generate(self, spark, seed: int) -> dict:
        out = gen.pages_inputs(spark, seed, self.pages, self.grid)
        out.update(gen.docs_inputs(spark, seed, self.docs))
        return out

    def read(self, spark, base: str) -> dict:
        return _read_all(spark, base, self.tables)

    def run(self, spark, inputs: dict, tracer, scratch: str) -> dict:
        from netascore_spark.pipeline import pages as PG
        from netascore_spark.pipeline.checkpoint import Checkpointer
        from netascore_spark.pipeline.curate import CurateConfig, curate

        res: dict = {}
        tracer.enter("pages.extract")
        pg = PG.extract_pages(inputs["pages"]).persist()
        res["n_pages"] = pg.count()
        tracer.add_rows("pages.extract", res["n_pages"])

        tracer.enter("pages.pip")
        polygons = inputs["polygons"].select("polygon_id", "kind", "geom")
        res["n_pip"] = PG.join_polygons(pg, polygons).count()
        tracer.add_rows("pages.pip", res["n_pip"])

        tracer.enter("pages.knn")
        edges = inputs["edges"].select("edge_id", "geom")
        nn = PG.nearest_edges(pg, edges, k=1, radius=self.radius, carry=("lang",)).persist()
        res["n_nn"] = nn.count()
        per_edge = PG.page_edge_attributes(nn, pg).persist()
        res["n_edge_attrs"] = per_edge.count()
        tracer.add_rows("pages.knn", res["n_nn"])

        layer_of = {"curate_gated": "curate.gate", "curate_exact": "curate.exact",
                    "curate_kept": "curate.near"}
        next_layer = {"curate_gated": "curate.exact", "curate_exact": "curate.near",
                      "curate_kept": "curate.write"}
        tracer.enter("curate.gate")
        ckpt = Checkpointer(spark, os.path.join(scratch, "checkpoint"))
        out_dir = os.path.join(scratch, "curated")
        with _snapshot_layers(tracer, layer_of, next_layer) if tracer.traced else contextlib.nullcontext():
            curated = curate(inputs["docs"], CurateConfig(), checkpointer=ckpt)
            curated.write.mode("overwrite").partitionBy("split").parquet(out_dir)
        tracer.close()
        res.update(pg=pg, nn=nn, per_edge=per_edge, ckpt=ckpt, out_dir=out_dir,
                   items=res["n_pages"] + self.docs)
        return res

    # -- checks ----------------------------------------------------------

    def check(self, spark, inputs: dict, res: dict):
        pg, nn = res["pg"], res["nn"]
        geo = pg.filter(F.col("x").isNotNull())
        row = pg.agg(
            F.sum((~F.col("extracted_text").eqNullSafe(F.col("text"))).cast("int")).alias("bad"),
            F.count("x").alias("n_geo"),
        ).first()
        n_geo = row["n_geo"]
        checks = {
            "byte_identity": row["bad"] == 0,
            "pages_with_coordinates": n_geo == sum(1 for i in range(self.pages) if i % 10 != 7),
            "pip_equals_rect_count": res["n_pip"] == self._rect_count(spark, geo),
            "knn_one_row_per_page": nn.select("url").distinct().count() == res["n_nn"],
            "edge_mass_sums_to_matches":
                res["per_edge"].agg(F.sum("page_count")).first()[0] == res["n_nn"],
            "knn_matches_brute_force": self._knn_sample_ok(inputs, geo, nn, n_geo),
        }
        kept_ok, split_ok, kept_frac, n_out = self._curate_ok(spark, res)
        checks.update(curate_kept_exactly_originals=kept_ok, curate_split_shares=split_ok)
        ratios = {
            "pages.knn.matched_frac": res["n_nn"] / n_geo if n_geo else 0.0,
            "curate.near.kept_frac": kept_frac,
        }
        return _verdict(checks, ratios, {"curate.write": n_out})

    @staticmethod
    def _rect_count(spark, geo) -> int:
        rects = spark.createDataFrame(
            gen.rectangles(PagesCurate.grid), "polygon_id long, kind string, x0 double, y0 double, x1 double, y1 double"
        )
        return geo.join(
            F.broadcast(rects),
            (F.col("x") > F.col("x0")) & (F.col("x") < F.col("x1"))
            & (F.col("y") > F.col("y0")) & (F.col("y") < F.col("y1")),
        ).count()

    def _knn_sample_ok(self, inputs: dict, geo, nn, n_geo: int) -> bool:
        """Brute-force nearest edge (numpy, every segment) on a content-hash
        sample of ~``knn_sample`` pages."""
        mod = max(1, n_geo // self.knn_sample)
        sample = geo.filter(F.pmod(F.xxhash64("url"), F.lit(mod)) == 0).select("url", "x", "y")
        got = {r["url"]: (r["edge_id"], r["dist"]) for r in
               sample.join(nn, "url", "left").select("url", "edge_id", "dist").collect()}
        pts = sample.toPandas()
        segs = inputs["edges"].select("edge_id", "x1", "y1", "x2", "y2").toPandas()
        if len(pts) < self.knn_sample // 2:
            return False
        a = segs[["x1", "y1"]].to_numpy()
        d = segs[["x2", "y2"]].to_numpy() - a
        p = pts[["x", "y"]].to_numpy()[:, None, :]
        t = np.clip(((p - a) * d).sum(-1) / (d * d).sum(-1), 0.0, 1.0)
        dist = np.hypot(*np.moveaxis(p - (a + t[..., None] * d), -1, 0))
        best = dist.min(axis=1)
        ids = segs["edge_id"].to_numpy()
        for k, url in enumerate(pts["url"]):
            edge_id, dd = got[url]
            if best[k] > self.radius:
                if edge_id is not None:
                    return False
                continue
            ties = set(ids[dist[k] <= best[k] + 1e-6].tolist())
            if edge_id not in ties or abs(dd - best[k]) > 1e-5:
                return False
        return True

    def _curate_ok(self, spark, res: dict) -> tuple[bool, bool, float, int]:
        """Planted copies (doc_id % 10 in {1, 6}) are all dropped and every
        original kept; split shares are within 6 sigma of 98/1/1."""
        out = spark.read.parquet(res["out_dir"])
        row = out.agg(
            F.count("*").alias("n"), F.countDistinct("doc_id").alias("d"),
            F.sum(F.pmod("doc_id", F.lit(10)).isin(1, 6).cast("int")).alias("planted"),
        ).first()
        expected = sum(1 for i in range(self.docs) if i % 10 not in (1, 6))
        kept_ok = row["n"] == expected and row["d"] == expected and row["planted"] == 0
        counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
        split_ok = True
        for label, w in (("train", 0.98), ("val", 0.01), ("test", 0.01)):
            sd = math.sqrt(row["n"] * w * (1 - w))
            split_ok &= abs(counts.get(label, 0) - w * row["n"]) <= 6 * sd + 1
        into_near = res["ckpt"].lineage("curate_exact")["rows"]
        kept = res["ckpt"].lineage("curate_kept")["rows"]
        return kept_ok, split_ok, kept / into_near if into_near else 0.0, row["n"]


WORKLOADS = {w.name: w for w in (CityScore(), PagesCurate())}
