"""Self-tests of the benchmark's own logic (no Spark session needed).

    python3 perfbench/selftest.py      # from the root of a checkout

Covers the spread rule, the event-log parser on a small committed log,
the corpus generator's expected counts (re-parsed with the engine's own
per-format parsers), the seeded table copy and span self time.
"""

from __future__ import annotations

import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())
#: scratch space inside the checkout, like the benchmark's own runs
WORK = os.path.join(os.getcwd(), ".perfbench_work")

import corpus  # noqa: E402
import eventlog  # noqa: E402
import spread  # noqa: E402
import tables  # noqa: E402
from spans import Span, self_time  # noqa: E402


def _tmp() -> tempfile.TemporaryDirectory:
    os.makedirs(WORK, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=WORK)


class Spread(unittest.TestCase):
    def test_quartile_spread(self):
        self.assertAlmostEqual(spread.quartile_spread([1.0, 1.0, 1.0, 1.0]), 0.0)
        # quartiles 1.25 and 3.75 of 1..4 (exclusive method), median 2.5
        self.assertAlmostEqual(spread.quartile_spread([4.0, 1.0, 3.0, 2.0]), 2.5 / 2.5)


class EventLog(unittest.TestCase):
    def test_small_log(self):
        g = eventlog.parse([os.path.join(HERE, "fixtures", "eventlog_small.jsonl")])
        self.assertEqual(sorted(g), ["pb-1", "pb-2"])
        a = g["pb-1"]
        self.assertEqual((a.jobs, a.tasks), (1, 5))
        self.assertAlmostEqual(a.task_s, 1.67)
        self.assertAlmostEqual(a.gc_s, 0.035)
        self.assertEqual((a.shuffle_bytes, a.spill_bytes), (1000, 96))
        # slowest stage is stage 1: tasks of 0.1, 0.2 and 1.0 s
        self.assertAlmostEqual(a.straggler_ratio, 5.0)
        m = eventlog.merge([a, g["pb-2"]])
        self.assertEqual((m.jobs, m.tasks), (2, 6))

    def test_rolled_log_directory(self):
        # Spark 4 writes eventlog_v2_<app>/events_<n>_<app> parts
        with _tmp() as d:
            app = os.path.join(d, "eventlog_v2_local-1")
            os.makedirs(app)
            for name in ["events_10_local-1", "events_2_local-1", "appstatus_local-1"]:
                open(os.path.join(app, name), "w").close()
            self.assertEqual(
                [os.path.basename(p) for p in eventlog.find_log(d)],
                ["events_2_local-1", "events_10_local-1"],
            )


class CorpusCounts(unittest.TestCase):
    def test_expected_counts_match_engine_parsers(self):
        from vector_database_app_spark.sources.ingest import PARSERS

        with _tmp() as d:
            c = corpus.generate(d, seed=7, n_batches=2)
            for folder, specs in c.files.items():
                for spec in specs:
                    ext = spec.path.rsplit(".", 1)[1]
                    with open(spec.path, "rb") as fh:
                        rows = list(PARSERS[ext](spec.path, fh.read()))
                    kinds = [r["content_type"] for r in rows]
                    self.assertEqual(kinds.count("text_chunk"), spec.text_chunks, spec.path)
                    self.assertEqual(kinds.count("image"), spec.images, spec.path)
            self.assertEqual(sorted(os.listdir(d)), ["batch_00", "batch_01"])
            self.assertGreater(c.expected()["image"], 0)

    def test_same_seed_same_bytes(self):
        with _tmp() as a, _tmp() as b:
            ca, cb = corpus.generate(a, 3, n_batches=1), corpus.generate(b, 3, n_batches=1)
            for sa, sb in zip(ca.files[ca.batches[0]], cb.files[cb.batches[0]]):
                with open(sa.path, "rb") as fa, open(sb.path, "rb") as fb:
                    self.assertEqual(fa.read(), fb.read())

    def test_pdf_escapes(self):
        self.assertIn(rb"(a \(b\) c\\)", corpus.pdf_bytes([r"a (b) c\ "[:-1]]))


class Tables(unittest.TestCase):
    def test_same_seed_same_bytes_and_rows(self):
        import pyarrow as pa
        import pyarrow.parquet as pq

        with _tmp() as a, _tmp() as b, _tmp() as c:
            ra = tables.prepare(a, 5)
            tables.prepare(b, 5)
            tables.prepare(c, 6)
            self.assertEqual(ra["lineitem"], 6000)
            self.assertEqual(ra["embeddings"], tables.EMBEDDINGS)
            self.assertEqual(ra["documents"], tables.DOCUMENTS)
            for name in ra:
                ta = pq.read_table(os.path.join(a, f"{name}.parquet"))
                tb = pq.read_table(os.path.join(b, f"{name}.parquet"))
                tc = pq.read_table(os.path.join(c, f"{name}.parquet"))
                src = pq.read_table(os.path.join(tables.DATA, f"{name}.parquet"))
                self.assertTrue(ta.equals(tb), name)
                # another seed: the same rows in another order
                key = [
                    (f.name, "ascending") for f in ta.schema
                    if not pa.types.is_list(f.type)
                ]
                self.assertTrue(
                    ta.sort_by(key).equals(tc.sort_by(key))
                    and ta.sort_by(key).equals(src.sort_by(key)),
                    name,
                )
            emb = pq.read_table(os.path.join(a, "embeddings.parquet")).to_pandas()
            self.assertEqual(len(emb.embedding[0]), tables.DIM)


class SelfTime(unittest.TestCase):
    def test_overlapping_children(self):
        spans = [
            Span("root", 0.0, 10.0, None, "r", 0),
            Span("a", 1.0, 4.0, 0, "r", 1),
            Span("b", 3.0, 6.0, 0, "r", 2),
            Span("grandchild", 1.0, 2.0, 1, "r", 3),
            Span("c", 8.0, 12.0, 0, "r", 4),
        ]
        # children cover [1, 6] and [8, 10] of the root's [0, 10]
        self.assertAlmostEqual(self_time(spans, spans[0]), 3.0)
        self.assertAlmostEqual(self_time(spans, spans[1]), 2.0)
        self.assertAlmostEqual(self_time(spans, spans[3]), 1.0)


if __name__ == "__main__":
    unittest.main()
