"""The traced run: per-layer numbers for every layer, by module.

One fixed sequence, the same for every workload, so each traced run
reports every per-layer metric and the counts (jobs, tasks, py4j calls)
repeat exactly across traced runs of one seed:

1. the index build (`operators.search`, `operators.pq`, `plans`);
2. one sweep of the pipeline query set (`registry`, `operators`), with
   construct / plan / execute split and Spark execution rolled up per
   family from the event log;
3. one ingest batch replayed through `sources.ingest`'s public stages,
   then a re-ingest through `api`;
4. kernels timed alone on a warm session (`functions.embed`,
   `functions.vector`, `operators.dedup`);
5. the tracing overhead: a few queries run with tracing off and on.

The searches of `operators.rag` are not replayed: see NOTES.md,
"Known defect".
"""

from __future__ import annotations

import statistics
import time

import eventlog
import pipeline
import rag_ingest
import tables
from common import Ctx, log
from spans import Py4jCounter, Tracer, group_counts

FAMILY_STATS = [
    "total_s", "plan_s", "jobs", "tasks", "task_s", "shuffle_bytes",
    "spill_bytes", "gc_s", "straggler_ratio",
]
OVERHEAD_QUERIES = ["knn_brute_force", "text_tfidf", "agg_group"]
#: the cosine kernel scores every embedding against this many probes
COSINE_PROBES = 50


def metric_units() -> dict[str, str]:
    """Every per-layer metric name and its unit, in report order."""
    u = {"session.start_s": "s", "process.peak_rss_mb": "MB"}
    for k in ["scan_s", "parse_s", "embed_s", "write_s"]:
        u[f"ingest.{k}"] = "s"
    for k in ["files", "chunks", "quarantined", "store_files"]:
        u[f"ingest.{k}"] = "count"
    u["ingest.reingest_s"] = "s"
    u["kernel.embed_texts_per_s"] = "texts/s"
    u["kernel.cosine_pairs_per_s"] = "pairs/s"
    u["kernel.minhash_docs_per_s"] = "docs/s"
    for q in pipeline.QUERY_SET:
        u[f"q.{q}.construct_s"] = "s"
        u[f"q.{q}.execute_s"] = "s"
        u[f"q.{q}.py4j_calls"] = "count"
    for f in ["ann", "dedup", "textops", "graph"]:
        for k in FAMILY_STATS:
            u[f"{f}.{k}"] = (
                "bytes" if k.endswith("bytes")
                else "count" if k in ("jobs", "tasks")
                else "ratio" if k == "straggler_ratio" else "s"
            )
    for k in ["kmeans_s", "pq_s", "nsw_s"]:
        u[f"build.{k}"] = "s"
    u["build.jobs"] = "count"
    u["caching.cached_rdds"] = "count"
    u["trace.overhead_s"] = "s"
    return u


def _cached_rdds(sc) -> int:
    return int(sc._jsc.getPersistentRDDs().size())


def _rate(n: int, fn, reps: int = 3) -> float:
    """Items per second of `fn` over `n` items, median of `reps` runs."""
    ts = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t)
    return n / statistics.median(ts)


class Layers:
    def __init__(self, ctx: Ctx, counter: Py4jCounter) -> None:
        self.ctx = ctx
        self.py4j = counter
        self.m: dict[str, float] = {}
        self.groups: dict[str, list[str]] = {}

    def kernels(self, sf_dir: str) -> None:
        from pyspark.sql import functions as F
        from vector_database_app_spark.functions.embed import py_embed_texts
        from vector_database_app_spark.functions.vector import cosine
        from vector_database_app_spark.operators import dedup
        from vector_database_app_spark.sources.catalog import load_table

        spark = self.ctx.spark
        docs = load_table(spark, sf_dir, "documents")
        texts = [r.text for r in docs.select("text").collect()] * 4
        self.m["kernel.embed_texts_per_s"] = _rate(
            len(texts), lambda: py_embed_texts(texts, 64)
        )
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        probes = emb.filter(F.col("vec_id") < COSINE_PROBES).select(
            F.col("embedding").alias("b_emb")
        )
        pairs = emb.crossJoin(probes)
        self.m["kernel.cosine_pairs_per_s"] = _rate(
            tables.EMBEDDINGS * COSINE_PROBES,
            lambda: pairs.select(F.sum(cosine("embedding", "b_emb"))).collect(),
        )
        self.m["kernel.minhash_docs_per_s"] = _rate(
            tables.DOCUMENTS,
            lambda: dedup.minhash_signatures(docs).write.format("noop").mode("overwrite").save(),
        )

    def build(self, sf_dir: str) -> None:
        times = pipeline.build_index(self.ctx, sf_dir, ["kmeans", "pq", "nsw"], store=True)
        jobs = 0
        for s in self.ctx.tracer.spans:
            if s.name.startswith("build.") and s.group:
                jobs += group_counts(self.ctx.sc, s.group)[0]
        for k, v in times.items():
            self.m[f"build.{k}_s"] = v
        self.m["build.jobs"] = jobs

    def sweep(self, sf_dir: str) -> None:
        ctx = self.ctx
        results = {}
        for name in pipeline.QUERY_SET:
            c0 = self.py4j.count
            try:
                r = pipeline.run_query(ctx, sf_dir, name, "traced-sweep")
            except Exception as exc:  # noqa: BLE001 - counted as a failed op
                ctx.ops.error(f"query {name}", exc)
                continue
            results[name] = r.result
            self.m[f"q.{name}.construct_s"] = r.construct_s
            self.m[f"q.{name}.execute_s"] = r.plan_s + r.execute_s
            self.m[f"q.{name}.py4j_calls"] = self.py4j.count - c0
            fam = pipeline.FAMILY_OF[name]
            self.groups.setdefault(fam, []).append(r.group)
            for k, v in [("plan_s", r.plan_s), ("total_s", r.total_s)]:
                self.m[f"{fam}.{k}"] = self.m.get(f"{fam}.{k}", 0.0) + v
        pipeline.check_results(ctx, sf_dir, results)

    def family_stats(self, log_dir: str) -> None:
        """Roll the event log up per family (after the session stopped)."""
        groups = eventlog.parse(eventlog.find_log(log_dir))
        for fam, gids in self.groups.items():
            if fam == "relational":
                continue
            g = eventlog.merge([groups[x] for x in gids if x in groups])
            self.m[f"{fam}.jobs"] = g.jobs
            self.m[f"{fam}.tasks"] = g.tasks
            self.m[f"{fam}.task_s"] = g.task_s
            self.m[f"{fam}.shuffle_bytes"] = g.shuffle_bytes
            self.m[f"{fam}.spill_bytes"] = g.spill_bytes
            self.m[f"{fam}.gc_s"] = g.gc_s
            self.m[f"{fam}.straggler_ratio"] = g.straggler_ratio

    def ingest(self, s: rag_ingest.Session) -> None:
        from vector_database_app_spark.sources import ingest as I

        spark, tr = self.ctx.spark, self.ctx.tracer
        folder = s.corpus.batches[1]
        store = s.db.store_path
        with tr.span("ingest.scan", "ingest-replay", job_group=True) as sc_:
            files = I.dedup_within_batch(I.with_file_meta(I.scan_binary_files(spark, folder)))
            files = I.dedup_against_store(files, I.load_chunks(spark, store)).persist()
            n_files = files.count()
        with tr.span("ingest.parse", "ingest-replay", job_group=True) as pa_:
            parsed = I.parse_chunks(files).persist()
            n_parsed = parsed.count()
            n_bad = parsed.filter("content_type = 'error'").count()
        with tr.span("ingest.embed", "ingest-replay", job_group=True) as em:
            embedded = I.embed_chunks(parsed, 64).persist()
            embedded.count()
        with tr.span("ingest.write", "ingest-replay", job_group=True) as wr:
            I.write_chunks(embedded, store)
        for df in (embedded, parsed, files):
            df.unpersist(blocking=True)
        self.m["ingest.scan_s"] = sc_.duration
        self.m["ingest.parse_s"] = pa_.duration
        self.m["ingest.embed_s"] = em.duration
        self.m["ingest.write_s"] = wr.duration
        self.m["ingest.files"] = n_files
        self.m["ingest.chunks"] = n_parsed - n_bad
        self.m["ingest.quarantined"] = n_bad
        exp = s.corpus.expected([folder])
        self.ctx.ops.check(
            "ingest replay rows",
            n_files == len(s.corpus.files[folder])
            and n_parsed - n_bad == exp["text_chunk"] + exp["image"]
            and n_bad == 0,
            f"{n_files} files, {n_parsed} rows, {n_bad} quarantined",
        )
        s.ingested.append(folder)
        self.m["ingest.store_files"] = rag_ingest.Store(store).files
        self.m["ingest.reingest_s"] = s.reingest(folder)
        s.check_store()

    def overhead(self, sf_dir: str) -> None:
        """The same queries with tracing off and on, in the order
        off, on, on, off so a drift in speed over the four sets cancels;
        the difference of the means. The event log is on for both halves
        (it is fixed at session start), so this prices spans, job groups
        and py4j counting. Within noise it can be negative."""
        ctx = self.ctx
        traced = ctx.tracer
        times: dict[bool, list[float]] = {False: [], True: []}
        for on in (False, True, True, False):
            if on:
                ctx.tracer = traced
                self.py4j.reopen()
            else:
                ctx.tracer = Tracer(ctx.sc, enabled=False)
                self.py4j.close()
            t = time.perf_counter()
            for q in OVERHEAD_QUERIES:
                pipeline.run_query(ctx, sf_dir, q, "overhead")
            times[on].append(time.perf_counter() - t)
        ctx.tracer = traced
        self.py4j.reopen()
        self.m["trace.overhead_s"] = statistics.mean(times[True]) - statistics.mean(times[False])


def run(ctx: Ctx, counter: Py4jCounter) -> Layers:
    """Everything up to (not including) the event-log roll-up, which
    needs the session stopped so the log is complete."""
    L = Layers(ctx, counter)
    sf_dir = pipeline.make_tables(ctx)
    s = rag_ingest.Session(ctx)
    ctx.setup_done()
    L.build(sf_dir)
    log("index build done")
    L.sweep(sf_dir)
    log("traced sweep done")
    s.ingest(s.corpus.batches[0], "traced-warm-up")
    L.ingest(s)
    log("ingest replay done")
    L.kernels(sf_dir)
    log("kernels done")
    L.overhead(sf_dir)
    log("overhead done")
    L.m["caching.cached_rdds"] = _cached_rdds(ctx.sc)
    return L
