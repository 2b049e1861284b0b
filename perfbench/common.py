"""State shared by the workloads: the run context, the op ledger and
progress logging."""

from __future__ import annotations

import sys
import time
import traceback
from dataclasses import dataclass, field

from spans import Tracer

_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr, stamped with seconds since import."""
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


@dataclass
class Ops:
    """Operations attempted and failed; a failure is an exception or a
    wrong answer, and its reason is kept for the report."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{what}: {detail}" if detail else what)
        return ok

    def error(self, what: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        tb = traceback.format_exception_only(type(exc), exc)[-1].strip()
        self.failures.append(f"{what}: {tb[:400]}")


@dataclass
class Ctx:
    """What a workload needs: the session, a scratch dir inside the
    checkout, its seed and time budget, a tracer and the op ledger."""

    spark: object
    work: str
    seed: int
    seconds: float
    tracer: Tracer
    t_start: float
    ops: Ops = field(default_factory=Ops)
    setup_s: float | None = None

    def setup_done(self) -> None:
        """Mark the end of set-up: the next operation is timed."""
        if self.setup_s is None:
            self.setup_s = time.perf_counter() - self.t_start
            log(f"set-up done in {self.setup_s:.2f}s")

    @property
    def sc(self):
        return self.spark.sparkContext
