"""Pieces the workloads share: the workload protocol and output checks."""

from __future__ import annotations

import sys
import traceback


class Workload:
    """One workload of the benchmark.

    ``prepare`` makes the seeded inputs once; ``setup`` is the program-side
    set-up, timed and repeated; ``warmup`` runs each operation once, untimed,
    and checks its output; ``begin`` starts a measured phase and ``round``
    is one measured round; ``end_to_end`` summarises a phase.
    ``traced_extras``, ``per_layer`` and ``event_metrics`` serve the
    traced run."""

    traced_rounds = 1  # least rounds in each half of a traced run

    def begin(self):
        pass

    def traced_extras(self, tracer):
        pass

    def event_metrics(self, events: dict) -> dict:
        return {}


class Checks:
    """Counts operations and output checks; a failure is recorded and the
    run goes on."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def op(self, name: str, fn):
        """Run one operation; returns its result, or None if it raised."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # a failing operation is counted, not fatal
            self.failed += 1
            print(f"operation {name} failed:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return None

    def expect(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check {name} failed {detail}", file=sys.stderr)
        return ok


def noop(df) -> None:
    """Run ``df`` to completion without keeping its rows."""
    df.write.mode("overwrite").format("noop").save()
