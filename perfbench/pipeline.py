"""`pipeline_sf0.001` workload: an index build, then sweeps of a fixed
registry query set over the engine's sf0.001 test tables, one client in
a closed loop.

Set-up warms every code path the timed part runs: one sweep of the
query set (its `ann_pq_search` trains the PQ codebooks once through the
engine's artifact store under the registry's own key), whose results
are checked against DuckDB oracles or, for `ann_pq_search`, against a
fingerprint recorded at the commit that defined the benchmark, then
one sweep more. The timed part sweeps the query set until the sweeps' time reaches the
budget (`MIN_SWEEPS` sweeps at least), and before each of the first
`BUILDS` sweeps trains PQ from scratch, calling the trainer directly
(the store is neither read nor written). Each timed result must equal
the set-up sweep's.

The traced run (layers.py) also prices kmeans, NSW and the queries the
run budget leaves out of the timed sweep (`TRACED_ONLY`).
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass

import numpy as np

import oracle
import tables
from common import Ctx, log

#: query families; the relational queries count only in the pass total
FAMILIES: dict[str, list[str]] = {
    "ann": [
        "ann_ivf_search",
        "ann_pq_search",
        "ann_graph_search_pinned",
        "knn_brute_force",
    ],
    "dedup": ["dedup_minhash", "decontaminate"],
    "textops": ["bpe_encode", "text_tfidf"],
    "graph": ["graph_pagerank"],
    "relational": ["agg_group"],
}
QUERY_SET = [q for qs in FAMILIES.values() for q in qs]
FAMILY_OF = {q: f for f, qs in FAMILIES.items() for q in qs}
#: swept by the traced run only: with them, set-up plus one timed sweep
#: would not fit the run budget (see NOTES.md)
TRACED_ONLY = {"ann_ivf_search", "ann_graph_search_pinned", "dedup_minhash", "graph_pagerank"}
TIMED_SET = [q for q in QUERY_SET if q not in TRACED_ONLY]
#: the indexes the timed build trains: the ones a timed query reads
TIMED_BUILD = ["pq"]
#: timed builds, spread over the run so that their median outlasts a
#: short stall of the host
BUILDS = 3
#: sweeps run whatever the budget: each query's median then always
#: rests on the same number of samples, however fast the host runs
MIN_SWEEPS = 3
#: fingerprints of the queries without a DuckDB oracle (record_fingerprints.py)
FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fingerprints.json")

KMEANS = {"k": 10, "iters": 3}
NSW = {"n_bits": 6, "degree": 16, "bridge": 8}


def make_tables(ctx: Ctx) -> str:
    sf_dir = os.path.join(ctx.work, "tables")
    tables.prepare(sf_dir, ctx.seed)
    return sf_dir


def build_index(ctx: Ctx, sf_dir: str, trainers: list[str], *, store: bool) -> dict[str, float]:
    """Train the named indexes (`kmeans`, `pq`, `nsw`) from scratch and
    materialize each, through the artifact store under the registry's
    keys (`store`) or by calling the trainers directly; returns seconds
    per trainer. Output shapes are checked into the op ledger."""
    from pyspark.sql import functions as F
    from vector_database_app_spark import caching
    from vector_database_app_spark.functions.vector import l2_normalize
    from vector_database_app_spark.operators import pq as PQ
    from vector_database_app_spark.operators import search as S
    from vector_database_app_spark.plans import artifacts as ART
    from vector_database_app_spark.registry import _PQ_PARAMS, _PQ_SCHEMA
    from vector_database_app_spark.sources.catalog import load_table

    spark, tr = ctx.spark, ctx.tracer
    emb = load_table(spark, sf_dir, "embeddings")
    n, dim = tables.EMBEDDINGS, tables.DIM
    m, k = _PQ_PARAMS["m"], _PQ_PARAMS["k"]

    def train_nsw():
        indexed = emb.withColumn(
            "bucket", S._srp_bucket("embedding", NSW["n_bits"], dim)
        ).withColumn("_nvec", l2_normalize(F.col("embedding")))
        return S.nsw_build(indexed, **NSW)

    def kmeans_ok(c):
        c = np.stack(c.centroid.values)
        unit = np.allclose(np.linalg.norm(c, axis=1), 1.0, atol=1e-6)
        return c.shape == (KMEANS["k"], dim) and unit, f"shape {c.shape}"

    def pq_ok(b):
        cells = sorted(zip(b.subspace, b.code)) == [(i, j) for i in range(m) for j in range(k)]
        widths = all(len(c) == dim // m for c in b.centroid)
        return cells and widths, f"{len(b)} codebook rows"

    def nsw_ok(e):
        ids = e.src.between(0, n - 1).all() and e.dst.between(0, n - 1).all()
        size = 0 < len(e) <= n * (NSW["degree"] + NSW["bridge"])
        return size and ids and not (e.src == e.dst).any(), f"{len(e)} edges"

    #: trainer -> (artifact op, params, train, schema, output check)
    specs = {
        "kmeans": (
            "kmeans_centroids", KMEANS, lambda: S.kmeans_train(emb, **KMEANS),
            "centroid_id int, centroid array<double>", kmeans_ok,
        ),
        "pq": (
            "pq_codebooks", _PQ_PARAMS, lambda: PQ.pq_train(emb, **_PQ_PARAMS),
            _PQ_SCHEMA, pq_ok,
        ),
        "nsw": ("nsw_edges", NSW, train_nsw, "src BIGINT, dst BIGINT", nsw_ok),
    }
    out = {}
    for name in trainers:
        op, params, fn, schema, ok = specs[name]
        with tr.span(f"build.{name}", "build", job_group=True) as s:
            if store:
                got = ART.load_or_train(spark, sf_dir, op, params, fn, schema).toPandas()
            else:
                df = fn()
                got = df.toPandas()
                caching.release(df)
        out[name] = s.duration
        ctx.ops.check(f"build.{name} output", *ok(got))
    return out


@dataclass
class QueryRun:
    """One query constructed, planned and collected."""

    construct_s: float
    plan_s: float
    execute_s: float
    group: str | None
    result: object

    @property
    def total_s(self) -> float:
        return self.construct_s + self.plan_s + self.execute_s


def run_query(ctx: Ctx, sf_dir: str, name: str, request: str) -> QueryRun:
    """Construct, plan and collect (Arrow `toPandas`) one query; the
    collect reuses the plan. Build-time persists are released afterwards."""
    from vector_database_app_spark import caching
    from vector_database_app_spark.registry import QUERIES

    tr = ctx.tracer
    with tr.span(f"q.{name}", request, job_group=True) as top:
        with tr.span(f"q.{name}.construct", request) as c:
            df = QUERIES[name](ctx.spark, sf_dir)
        with tr.span(f"q.{name}.plan", request) as p:
            df._jdf.queryExecution().executedPlan()
        with tr.span(f"q.{name}.execute", request) as e:
            pdf = df.toPandas()
    caching.release(df)
    return QueryRun(c.duration, p.duration, e.duration, top.group, pdf)


def check_results(ctx: Ctx, sf_dir: str, results: dict) -> None:
    """Check every collected result against its DuckDB oracle or its
    recorded fingerprint."""
    import duckdb

    import __spark_entry__ as E
    from vector_database_app_spark.schemas import DRIVER_TABLES

    osql = E.oracle_sql()
    con = duckdb.connect()
    try:
        for t in DRIVER_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'"
            )
        with open(FINGERPRINTS) as fh:
            recorded = json.load(fh)
        for name, got in results.items():
            if name in osql:
                ok, why = oracle.same_frame(got, con.execute(osql[name]).fetchdf())
                ctx.ops.check(f"oracle {name}", ok, why)
            else:
                fp, want = oracle.fingerprint(got), recorded.get(name)
                ctx.ops.check(f"fingerprint {name}", fp == want, f"{fp} != {want}")
    finally:
        con.close()


def sweep(ctx: Ctx, sf_dir: str, queries: list[str], request: str) -> dict[str, QueryRun]:
    """Every query once; a query that raises is a failed op."""
    runs = {}
    for name in queries:
        try:
            runs[name] = run_query(ctx, sf_dir, name, request)
        except Exception as exc:  # noqa: BLE001 - counted as a failed op
            ctx.ops.error(f"query {name}", exc)
    return runs


def run(ctx: Ctx) -> dict[str, float]:
    """Set-up (tables, an oracle-checked sweep, then a sweep more: after
    one sweep the engine is still speeding up), then
    the timed part: sweeps until their time reaches the budget (at least
    `MIN_SWEEPS`), the first `BUILDS` each after an index build. Returns
    the end-to-end metrics."""
    sf_dir = make_tables(ctx)
    warm = sweep(ctx, sf_dir, TIMED_SET, "warm-up")
    check_results(ctx, sf_dir, {q: r.result for q, r in warm.items()})
    want = {q: oracle.fingerprint(r.result) for q, r in warm.items()}

    def checked_sweep(request: str) -> dict[str, QueryRun]:
        runs = sweep(ctx, sf_dir, TIMED_SET, request)
        for name, r in runs.items():
            ctx.ops.check(
                f"repeat {name}", oracle.fingerprint(r.result) == want.get(name),
                "result differs from the set-up sweep",
            )
        return runs

    checked_sweep("warm-up")
    ctx.setup_done()

    builds: list[float] = []
    times: dict[str, list[float]] = {q: [] for q in TIMED_SET}
    swept_s = 0.0
    sweeps = 0
    while sweeps < MIN_SWEEPS or swept_s < ctx.seconds:
        if len(builds) < BUILDS:
            builds.append(sum(build_index(ctx, sf_dir, TIMED_BUILD, store=False).values()))
        t0 = time.perf_counter()
        runs = checked_sweep(f"sweep-{sweeps}")
        swept_s += time.perf_counter() - t0
        for name, r in runs.items():
            times[name].append(r.total_s)
        sweeps += 1
        log(f"sweep {sweeps}: {sum(r.total_s for r in runs.values()):.3f}s, builds {builds}")
    # a steady sweep: each query's median over the timed sweeps, summed
    per_query = {q: statistics.median(v) for q, v in times.items() if v}
    return {
        "pass_s": sum(per_query.values()),
        "build_s": statistics.median(builds),
        "_sweeps": sweeps,
        "_per_query_s": {q: round(v, 3) for q, v in per_query.items()},
    }
