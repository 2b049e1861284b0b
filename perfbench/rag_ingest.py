"""`rag_ingest`: the reference user's write path through
`api.VectorDatabase` (dim 64, hash embedder), one client in a closed
loop.

Set-up starts the session, writes the corpus, ingests its first
`WARM_BATCHES` folders and re-ingests them, so Python workers, JIT and
both the write path and the nothing-new path are warm (after one call
of each the engine is still speeding up). The timed part adds the next
`TIMED_BATCHES` folders one batch at a time to the growing store (the
build); then, with the time budget counted from there, it re-ingests
already stored folders in turn until the budget is spent (at least
`MIN_PASSES` times). Every ingest must add exactly the rows the
generator expects, every re-ingest none, and the store must end with
the generator's counts.

The searches of the reference session are not run: see NOTES.md,
"Known defect".
"""

from __future__ import annotations

import os
import statistics
import time

import pyarrow.dataset as ds

import corpus as C
from common import Ctx, log

#: folders ingested (and re-ingested) during set-up
WARM_BATCHES = 2
#: folders ingested in the timed build, after the set-up's; a fixed
#: count, so the build does the same work however fast it runs
TIMED_BATCHES = 4
#: re-ingests run whatever the budget: the median then always rests on
#: at least this many samples, however fast the host runs
MIN_PASSES = 6


class Store:
    """The chunk store's row counts and file count, read with pyarrow
    (independent of Spark)."""

    def __init__(self, path: str) -> None:
        d = ds.dataset(path, partitioning="hive")
        self.df = d.to_table(columns=["content_type"]).to_pandas()
        self.files = len(d.files)

    def counts(self) -> dict[str, int]:
        return self.df.content_type.value_counts().to_dict()


class Session:
    def __init__(self, ctx: Ctx) -> None:
        from vector_database_app_spark.api import VectorDatabase

        self.ctx = ctx
        self.corpus = C.generate(
            os.path.join(ctx.work, "corpus"), ctx.seed, n_batches=WARM_BATCHES + TIMED_BATCHES
        )
        self.db = VectorDatabase(ctx.spark, os.path.join(ctx.work, "store"))
        self.ingested: list[str] = []
        self.store: Store | None = None

    def ingest(self, folder: str, request: str) -> float:
        with self.ctx.tracer.span("api.vectorize_folder", request, job_group=True) as s:
            added = self.db.vectorize_folder(folder)
        exp = self.corpus.expected([folder])
        self.ctx.ops.check(
            f"ingest {os.path.basename(folder)}",
            added == exp["text_chunk"] + exp["image"],
            f"added {added}, expected {exp}",
        )
        self.ingested.append(folder)
        return s.duration

    def reingest(self, folder: str, request: str = "reingest") -> float:
        with self.ctx.tracer.span("api.vectorize_folder", request, job_group=True) as s:
            added = self.db.vectorize_folder(folder)
        self.ctx.ops.check(
            f"re-ingest {os.path.basename(folder)} adds 0 rows", added == 0, f"added {added}"
        )
        return s.duration

    def check_store(self) -> None:
        self.store = Store(self.db.store_path)
        got = self.store.counts()
        want = self.corpus.expected(self.ingested)
        self.ctx.ops.check(
            "store counts",
            got.get("text_chunk", 0) == want["text_chunk"]
            and got.get("image", 0) == want["image"]
            and set(got) <= {"text_chunk", "image"},
            f"store {got}, generator {want}",
        )


def run(ctx: Ctx) -> dict[str, float]:
    s = Session(ctx)
    warm, timed = s.corpus.batches[:WARM_BATCHES], s.corpus.batches[WARM_BATCHES:]
    for f in warm:
        s.ingest(f, "warm-up")
    for f in warm:
        s.reingest(f, "warm-up")
    ctx.setup_done()

    batches = [s.ingest(f, "ingest") for f in timed]
    log(f"ingest batches {[round(b, 3) for b in batches]}")
    build_s = sum(batches)
    passes: list[float] = []
    t0 = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t0 < ctx.seconds:
        passes.append(s.reingest(s.ingested[len(passes) % len(s.ingested)]))
    log(f"re-ingests {[round(p, 3) for p in passes]}")
    s.check_store()
    return {
        "pass_s": statistics.median(passes),
        "build_s": build_s,
        "_passes": len(passes),
        "_ingest_docs_per_s": sum(len(s.corpus.files[f]) for f in timed) / build_s,
        "_store_files": s.store.files,
    }
