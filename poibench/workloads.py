"""One pass of each workload, through the public entry point of each layer.

Pipeline pass (``sf0.02-pipeline``, ``amplified-pipeline``):
``plans.pipeline.build_poi_pipeline(...).run(spark)`` into a fresh
checkpoint root (extract -> match with ``match_lineage`` -> export_prep),
then ``operators.knn.nearest_poi_expanding`` over the extract checkpoint,
then ``plans.export.write_grouped_exports`` over the export_prep output.
The amplified workload swaps only the extract stage: its pages go
through ``extract.geotag.geotag_pages_from_html``.

IVF pass (``ivf-ann``): ``operators.similarity.kmeans_centroids`` trains
the index and it is materialized (the write side), then
``operators.similarity.ivf_topk`` answers the query set (the read side).

Spark's cache is cleared before every pass: cached frames are matched by
plan equality, so a pass would otherwise reuse the previous pass's
leftover ``persist()``s.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd

from . import gen, oracle
from .trace import Tracer


@dataclass
class PassResult:
    seconds: float  # whole pass
    write_s: float  # pipelines: the checkpointed run; ivf: index build
    errors: list[str]
    extra: dict = field(default_factory=dict)


def persisted_frames(spark) -> int:
    """RDDs currently persisted in the session (leaked caches show here)."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


# --------------------------------------------------------------- pipelines
@contextmanager
def _traced_layers(tr: Tracer, pipe, ckpt_root: str):
    """Wrap the layer calls a pipeline run makes, for the traced run only:
    each stage's build (and a plan span for the frame it returns), the
    ``geotag_pages`` / ``match_pages`` / ``match_lineage`` calls, and every
    parquet write under the checkpoint root (the stage's exec)."""
    if not tr.enabled:
        yield
        return
    from pyspark.sql.readwriter import DataFrameWriter

    from osm_poi_matchmaker_spark.plans import pipeline as pipeline_mod

    def wrap(fn, name):
        def inner(*a, **k):
            with tr.span(name):
                return fn(*a, **k)

        return inner

    for st in pipe.stages:

        def build(spark, outputs, _fn=st.build, _name=st.name):
            with tr.span(f"checkpoint.{_name}.build"):
                df = _fn(spark, outputs)
            with tr.span(f"checkpoint.{_name}.plan"):
                df._jdf.queryExecution().executedPlan()
            return df

        st.build = build
        if st.lineage is not None:
            st.lineage = wrap(st.lineage, "lineage.build")

    saved = {n: getattr(pipeline_mod, n) for n in ("geotag_pages", "match_pages")}
    pipeline_mod.geotag_pages = wrap(saved["geotag_pages"], "extract.build")
    pipeline_mod.match_pages = wrap(saved["match_pages"], "match.build")
    orig_parquet = DataFrameWriter.parquet

    def parquet(self, path, *a, **k):
        rel = os.path.relpath(path, ckpt_root)
        if rel.startswith(".."):
            return orig_parquet(self, path, *a, **k)
        stage, kind = os.path.split(rel)
        name = f"checkpoint.{stage}.write" if kind == "data" else f"{kind}.exec"
        with tr.span(name, sql=True):
            return orig_parquet(self, path, *a, **k)

    DataFrameWriter.parquet = parquet
    try:
        yield
    finally:
        DataFrameWriter.parquet = orig_parquet
        for n, fn in saved.items():
            setattr(pipeline_mod, n, fn)


def make_pipeline(inputs: gen.PipelineInputs, root: str, tr: Tracer):
    from osm_poi_matchmaker_spark.plans.checkpoint import Stage
    from osm_poi_matchmaker_spark.plans.pipeline import build_poi_pipeline

    pipe = build_poi_pipeline(root, inputs.sf_dir)
    if inputs.from_html:
        from osm_poi_matchmaker_spark.extract.geotag import geotag_pages_from_html

        def s_extract(spark, _outputs):
            with tr.span("extract.build"):
                return geotag_pages_from_html(spark.read.parquet(inputs.pages_path))

        pipe.stages[0] = Stage("extract", s_extract)
    return pipe


def pipeline_pass(spark, inputs: gen.PipelineInputs, expect: dict, root: str, tr: Tracer) -> PassResult:
    """One pass into the fresh checkpoint root ``root``, then its checks."""
    from osm_poi_matchmaker_spark import synth
    from osm_poi_matchmaker_spark.operators.knn import nearest_poi_expanding
    from osm_poi_matchmaker_spark.plans.export import write_grouped_exports

    spark.catalog.clearCache()
    t0 = time.perf_counter()
    pipe = make_pipeline(inputs, root, tr)
    with _traced_layers(tr, pipe, root):
        outputs = pipe.run(spark)
    t1 = time.perf_counter()
    with tr.span("knn.build"):
        knn = nearest_poi_expanding(outputs["extract"], synth.osm_pois(spark, inputs.sf_dir))
    if tr.enabled:
        with tr.span("knn.plan"):
            knn._jdf.queryExecution().executedPlan()
    with tr.span("knn.exec", sql=True):
        knn_pd = knn.select("page_id", "osm_id", "distance").toPandas()
    extra = {}
    if tr.enabled:
        extra["knn_cached_frames_left"] = persisted_frames(spark)
    exports = os.path.join(root, "exports")
    with tr.span("export.exec", sql=True):
        write_grouped_exports(outputs["export_prep"], exports)
    t2 = time.perf_counter()
    extra["ring1_hits"] = int((knn_pd["distance"] < 250.0).sum())
    errs, extra["matched"] = check_pipeline(root, knn_pd, expect, inputs)
    return PassResult(t2 - t0, t1 - t0, errs, extra)


def check_pipeline(
    root: str, knn_pd: pd.DataFrame, expect: dict, inputs: gen.PipelineInputs
) -> tuple[list[str], float]:
    """All output checks of one pipeline pass (DuckDB over its outputs),
    and the share of geotagged pages matched to an existing POI."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    try:
        match_files = os.path.join(root, "export_prep", "data", "*.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW out_match AS SELECT * FROM read_parquet('{match_files}')")
        con.register("out_knn", knn_pd)
        errs = oracle.check_match(con, expect, inputs) + oracle.check_knn(con, expect, inputs)
        n_export = con.execute(
            "SELECT count(*) FROM read_parquet(?, hive_partitioning = true)",
            [os.path.join(root, "exports", "**", "*.parquet")],
        ).fetchone()[0]
        if n_export != inputs.n_geotagged:
            errs.append(f"export: {n_export} rows, expected {inputs.n_geotagged}")
        matched = con.execute("SELECT avg(CASE WHEN poi_new THEN 0.0 ELSE 1.0 END) FROM out_match").fetchone()[0]
        return errs, float(matched or 0.0)
    except duckdb.Error as e:
        return [f"outputs unreadable: {e}"], 0.0
    finally:
        con.close()


def resume_pass(spark, inputs: gen.PipelineInputs, root: str, tr: Tracer) -> tuple[float, list[str]]:
    """Re-run the pipeline over ``root`` whose checkpoints are all valid:
    manifest check, parquet read and a count of every stage output."""
    t0 = time.perf_counter()
    pipe = make_pipeline(inputs, root, tr)
    outputs = pipe.run(spark)
    counts = {name: df.count() for name, df in outputs.items()}
    sec = time.perf_counter() - t0
    errs = []
    if pipe.executed:
        errs.append(f"resume recomputed {pipe.executed}")
    if counts["export_prep"] != inputs.n_geotagged:
        errs.append(f"resume: export_prep has {counts['export_prep']} rows")
    return sec, errs


# --------------------------------------------------------------------- IVF
class IvfState:
    """Vectors and the first pass's answer, for the per-pass checks."""

    def __init__(self, inputs: gen.IvfInputs, seed: int):
        corpus, queries, _ = gen.ivf_vectors(seed)
        self.inputs, self.corpus, self.queries = inputs, corpus, queries
        self.first: pd.DataFrame | None = None


def ivf_pass(spark, state: IvfState, tr: Tracer) -> PassResult:
    from osm_poi_matchmaker_spark.operators.similarity import kmeans_centroids

    inp = state.inputs
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    corpus = spark.read.parquet(inp.corpus_path)
    with tr.span("similarity.build.build"):
        cents = kmeans_centroids(corpus, dim=gen.IVF_DIM, centroid_mod=gen.IVF_CENTROID_MOD)
    if tr.enabled:
        with tr.span("similarity.build.plan"):
            cents._jdf.queryExecution().executedPlan()
    with tr.span("similarity.build.exec", sql=True):
        n_cents = cents.count()
    t1 = time.perf_counter()
    probe_s, errs, recall = ivf_probe(spark, state, cents, tr)
    expect_cents = int(np.sum(np.arange(inp.n_corpus) % gen.IVF_CENTROID_MOD == 1))
    if n_cents != expect_cents:
        errs.append(f"ivf: {n_cents} centroids, expected {expect_cents}")
    return PassResult(t1 - t0 + probe_s, t1 - t0, errs, {"recall": recall, "cents": cents})


def ivf_probe(spark, state: IvfState, cents, tr: Tracer) -> tuple[float, list[str], float]:
    """``ivf_topk`` over the built index ``cents`` (the read side): its
    seconds, the checks of its answer, and its recall@5."""
    from osm_poi_matchmaker_spark.operators.similarity import ivf_topk

    inp = state.inputs
    t0 = time.perf_counter()
    corpus = spark.read.parquet(inp.corpus_path)
    queries = spark.read.parquet(inp.queries_path)
    with tr.span("similarity.probe.build"):
        res = ivf_topk(queries, corpus, k=5, centroid_mod=gen.IVF_CENTROID_MOD, cents=cents)
    if tr.enabled:
        with tr.span("similarity.probe.plan"):
            res._jdf.queryExecution().executedPlan()
    with tr.span("similarity.probe.exec", sql=True):
        got = res.toPandas()
    sec = time.perf_counter() - t0
    errs = oracle.check_ivf(got, state.corpus, state.queries, inp.n_queries)
    canon = got.sort_values(["query_id", "rank"]).reset_index(drop=True)
    if state.first is None:
        state.first = canon
    elif not canon.equals(state.first):
        errs.append("ivf: answer differs from the first pass")
    return sec, errs, oracle.recall_at_5(got, inp.exact_top5)
