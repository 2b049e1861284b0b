#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of this repository. Starts one Spark
session on local[<cores>] in this process, runs one workload with one
client in a closed loop, checks every output, and prints a JSON object
as the last line of stdout: ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end metrics
of BENCHMARK.json; with ``--trace 1`` the traced per-layer suite
(layers.py) runs instead and the metrics are the per-layer ones.

Everything the run writes goes under ``.perfbench_work/`` in the
checkout (its own directory there is removed at exit; a traced run
leaves its spans file), plus the engine's own artifact store under
``.artifacts/``, from which the run removes the entries it added.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import time
from contextlib import contextmanager

T_START = time.perf_counter()

WORKLOADS = ["rag_ingest", "pipeline_sf0.001"]
E2E_UNITS = {"setup_s": "s", "pass_s": "s", "build_s": "s"}


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _environment(root: str, work: str, trace: bool) -> str | None:
    """Point every scratch location of Spark and its Python workers into
    the work dir; returns the event-log dir when tracing."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 4)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    log_dir = None
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
            }
        )
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return log_dir


def _stop(spark) -> None:
    """Stop the session and wait for the JVM this process launched."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    SparkContext._gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    if not (
        os.path.isdir(os.path.join(root, "vector_database_app_spark"))
        and os.path.isfile(os.path.join(root, "__spark_entry__.py"))
    ):
        print(
            f"perfbench: {root} is not a checkout of the engine "
            "(no vector_database_app_spark/ or __spark_entry__.py)",
            file=sys.stderr,
        )
        return 2
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        return _run(a, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@contextmanager
def engine_session(root: str, work: str, trace: bool):
    """Start the engine's Spark session with every scratch location in
    `work`; on exit stop it, wait for its JVM and remove the artifact-store
    entries this session added. Yields (spark, event-log dir or None)."""
    log_dir = _environment(root, work, trace)
    sys.path.insert(0, root)
    from common import log
    from vector_database_app_spark.plans import artifacts as ART
    from vector_database_app_spark.session import get_spark

    art_root = ART.artifacts_root()
    before = set(os.listdir(art_root)) if os.path.isdir(art_root) else set()
    spark = get_spark(cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
    try:
        spark.sparkContext.setLogLevel("ERROR")
        yield spark, log_dir
    finally:
        _stop(spark)
        log("session stopped")
        if os.path.isdir(art_root):
            for name in set(os.listdir(art_root)) - before:
                shutil.rmtree(os.path.join(art_root, name), ignore_errors=True)


def _run(a, root: str, work: str) -> int:
    from common import Ctx, log
    from spans import Py4jCounter, Tracer

    t = time.perf_counter()
    with engine_session(root, work, bool(a.trace)) as (spark, log_dir):
        session_start_s = time.perf_counter() - t
        log(f"session started in {session_start_s:.2f}s")
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        ctx = Ctx(
            spark=spark,
            work=work,
            seed=a.seed,
            seconds=a.seconds,
            tracer=Tracer(spark.sparkContext, enabled=bool(a.trace)),
            t_start=T_START,
        )
        if a.trace:
            import layers

            counter = Py4jCounter(spark.sparkContext)
            L = layers.run(ctx, counter)
            counter.close()
        elif a.workload == "rag_ingest":
            import rag_ingest

            out = rag_ingest.run(ctx)
        else:
            import pipeline

            out = pipeline.run(ctx)
        rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
        log("measured part done")

    ops = ctx.ops
    if a.trace:
        L.family_stats(log_dir)
        L.m["session.start_s"] = session_start_s
        L.m["process.peak_rss_mb"] = rss_mb
        ctx.tracer.write(os.path.join(root, ".perfbench_work", f"spans-{a.workload}-{a.seed}.jsonl"))
        # a layer that raised has no figure: it is a failed op and left
        # out, never reported as a value
        metrics = {}
        for k, u in layers.metric_units().items():
            if k in L.m:
                metrics[k] = {"value": L.m[k], "unit": u}
            else:
                ops.check(f"metric {k}", False, "not measured")
    else:
        out.update(setup_s=ctx.setup_s, _peak_rss_mb=rss_mb)
        for k, v in sorted(out.items()):
            if k.startswith("_"):
                print(f"{k[1:]}: {v}")
        metrics = {k: {"value": out[k], "unit": u} for k, u in E2E_UNITS.items()}
    for f in ops.failures:
        print(f"FAILED {f}")
    for k, m in metrics.items():
        print(f"{k} = {m['value']} {m['unit']}")
    print(
        json.dumps(
            {
                "correct": ops.failed == 0,
                "attempted": ops.attempted,
                "failed": ops.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
