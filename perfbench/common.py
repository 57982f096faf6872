"""What every workload shares: the run context and the operation tally."""

from __future__ import annotations

import sys
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from perfbench.host import Cpu
from perfbench.spans import Tracer


@dataclass
class Tally:
    """Operations attempted and failed. Exceptions, output mismatches and
    DQ counts that differ from the injected defects are all failures."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def ok(self, cond: bool, what: str) -> bool:
        self.attempted += 1
        if not cond:
            self.failed += 1
            self.problems.append(what)
            print(f"# FAIL {what}", file=sys.stderr)
        return cond

    def error(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.problems.append(what)
        print(f"# ERROR {what}\n{traceback.format_exc()}", file=sys.stderr)


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work: Path
    tally: Tally
    cpu: Cpu


@dataclass
class Outcome:
    """A workload's figures besides set-up and memory: CPU seconds (the
    end-to-end metrics), wall-clock ones for the run record, and its
    per-layer figures from the traced run."""

    first_op_s: float
    first_op_cpu_s: float
    op_latencies_s: list[float]
    rate_per_s: float
    cpu_per_op_s: float
    layers: dict[str, float] = field(default_factory=dict)
    # Extra figures for the run record (not metrics).
    detail: dict = field(default_factory=dict)
    # Per-layer figures that need the traced run's event-log jobs.
    from_jobs: Callable[[list[dict]], dict[str, float]] | None = None
