"""Per-run state shared by the workloads: the session, the tracer, the
seed, the work directory, and the attempted/failed accounting."""

from __future__ import annotations

import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field


@dataclass
class Context:
    spark: object
    tracer: object
    seed: int
    work: str
    t_process: float
    setup_s: float = 0.0
    notes: list[str] = field(default_factory=list)
    # (op name, seconds, timed?) for the report
    op_log: list[tuple[str, float, bool]] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0

    def op(self, name: str, fn, *args):
        """Run one step, query or day inside a span of its own.

        An exception counts the op as attempted and failed; the run
        carries on. Returns (seconds, value or None)."""
        t0 = time.perf_counter()
        value = error = None
        try:
            with self.tracer.span(name):
                value = fn(*args)
        except Exception as e:  # noqa: BLE001
            error = e
        seconds = time.perf_counter() - t0
        self.record(name, seconds, error)
        return seconds, value

    def concurrently(self, calls: list[tuple], threads: int) -> list:
        """Run ``(name, fn, *args)`` calls on a thread pool, untraced (the
        warm-ups: they only have to touch every code path once, so they
        share the cores). Each is accounted for like ``op``; returns
        their values in order, None for one that raised."""

        def timed(call):
            name, fn, *args = call
            t0 = time.perf_counter()
            value = error = None
            try:
                value = fn(*args)
            except Exception as e:  # noqa: BLE001
                error = e
            return name, time.perf_counter() - t0, value, error

        values = []
        with ThreadPoolExecutor(threads) as pool:
            for name, seconds, value, error in pool.map(timed, calls):
                self.record(name, seconds, error)
                values.append(value)
        return values

    def record(self, name: str, seconds: float, error: Exception | None = None) -> None:
        """Account for one op."""
        self.attempted += 1
        if error is not None:
            traceback.print_exception(error, file=sys.stderr)
            self.fail(f"{name} raised {type(error).__name__}: {str(error)[:300]}")
        self.op_log.append((name, seconds, bool(self.setup_s)))

    def check(self, ok: bool, what: str) -> bool:
        """An output check; a mismatch counts as a failed op."""
        self.attempted += 1
        if not ok:
            self.fail(f"check failed: {what}")
        return ok

    def fail(self, why: str) -> None:
        self.failed += 1
        self.notes.append(why)

    def end_setup(self) -> None:
        self.setup_s = time.perf_counter() - self.t_process

    @property
    def correct(self) -> bool:
        return self.failed == 0


@dataclass
class Result:
    pass_s: list[float]
    op_name: str  # what one op is: "query", "day"
    op_s: list[float]
    layer_metrics: dict[str, tuple[float, str]]


def timed_passes(seconds: float, run_pass) -> list:
    """Closed loop, one client: call ``run_pass(k)`` for k = 1, 2, ...
    until ``seconds`` have elapsed, at least once."""
    out = []
    t0 = time.perf_counter()
    while not out or time.perf_counter() - t0 < seconds:
        out.append(run_pass(len(out) + 1))
    return out
