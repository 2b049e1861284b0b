"""Record fingerprints of the pipeline queries that have no DuckDB oracle.

    python3 perfbench/record_fingerprints.py --seeds 0-3   # from a checkout root

Runs every query of the set without an oracle (`ann_pq_search`,
`dedup_minhash`) on the pipeline tables as each seed lays them out and
stores the digest of its canonical result in fingerprints.json. The
seeds only reorder rows, so every seed must give the same digest; the
script fails and writes nothing if two disagree. Run it at a commit
whose answers are trusted: the benchmark then fails any later commit
whose answer differs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import pipeline  # noqa: E402
from common import Ctx  # noqa: E402
from run import engine_session  # noqa: E402
from spans import Tracer  # noqa: E402
from spread import _seeds  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="0-3")
    a = ap.parse_args()
    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work", f"record-{os.getpid()}")
    os.makedirs(work)
    seen: dict[str, set[str]] = {}
    try:
        with engine_session(root, work, False) as (spark, _):
            import __spark_entry__ as E

            no_oracle = [q for q in pipeline.QUERY_SET if q not in E.oracle_sql()]
            for seed in _seeds(a.seeds):
                ctx = Ctx(spark, os.path.join(work, str(seed)), seed, 0,
                          Tracer(None, enabled=False), time.perf_counter())
                sf_dir = pipeline.make_tables(ctx)
                for name in no_oracle:
                    fp = oracle.fingerprint(pipeline.run_query(ctx, sf_dir, name, "record").result)
                    seen.setdefault(name, set()).add(fp)
                    print(f"seed {seed}: {name}={fp}", flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if any(len(fps) != 1 for fps in seen.values()):
        print(f"seeds disagree: {seen}", file=sys.stderr)
        return 1
    with open(os.path.join(HERE, "fingerprints.json"), "w") as fh:
        json.dump({q: fps.pop() for q, fps in seen.items()}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
