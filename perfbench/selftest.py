"""Self-test of the benchmark's tracing, on a tiny generated fixture.

    python3 perfbench/selftest.py

Runs ``cascade``, ``job`` and ``job_fresh`` on one session over
60k-row fixtures, with an engine config whose gates are lowered (no
all-broadcast bail, no probe-size floor, every key set shipped as a
Bloom sketch) so that a tiny input reaches every layer. Asserts that:

- every layer span in ``spans.LAYERS`` fires at least once across the
  workloads, so each wrapper sits at the name its caller looks up, and
  the engine span fires on every cascade engine leg
  (``Engine.reduce_and_join``);
- traced executions return the same digests as untraced ones, and
  engine digests equal control digests and DuckDB's;
- ``extract.calls`` per engine statement is 0 on ``job`` after warm-up
  and 1 on ``job_fresh``;
- job and task counts repeat exactly between two traced passes of the
  same ``job`` statements.

Exits 0 when all hold, 1 otherwise.
"""

from __future__ import annotations

import os
import shutil
import sys

from run import ROOT, Bench
from spans import LAYERS, Tracer

TINY_FACT = 60_000
COUNTS = ("construct.jobs", "construct.tasks", "exec.jobs", "exec.tasks",
          "transfer.jobs", "transfer.tasks")


def traced_pass(b: Bench) -> None:
    b.tracer.install()
    try:
        b.run_pass(traced=True)
    finally:
        b.tracer.uninstall()


def main() -> int:
    from duckdb_robust_predicate_transfer_spark.config import RPTConfig

    work = ROOT / ".perfbench_work" / f"selftest-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cfg = RPTConfig(all_broadcast_bail_rows=0, min_probe_rows=0,
                    use_sketch=True, sketch_threshold_rows=0)
    job = Bench("job", 5, work, fact=TINY_FACT)
    fresh = Bench("job_fresh", 5, work, fact=TINY_FACT)
    cascade = Bench("cascade", 5, work / "cascade", fact=TINY_FACT)
    problems: list = []
    try:
        job.make_inputs()
        cascade.make_inputs()
        job.start_session()
        fresh.data, fresh.sizes, fresh.spark = job.data, job.sizes, job.spark
        cascade.spark = job.spark
        for b in (cascade, job, fresh):
            b.engine_config = cfg
            b.tracer = Tracer(b.spark)
            b.run_pass(traced=False)  # warm-up: fills job's caches
            b.run_pass(traced=False)
            traced_pass(b)
            traced_pass(b)
            if b is fresh:
                # fresh texts never repeat, so replay each traced one
                # untraced to compare digests
                for name, leg, text, _ in list(b.layer_rows):
                    if leg == "engine":
                        b.run_leg(name, text, "engine", traced=False)
            b.check_digests()
            b.oracle_sample()
            problems += [f"{b.workload}: {e}" for e in b.errors]
    finally:
        job.stop_session()
        shutil.rmtree(work, ignore_errors=True)

    rows = cascade.layer_rows + job.layer_rows + fresh.layer_rows
    fired = {layer for _, _, _, s in rows for layer in LAYERS
             if s[f"{layer}.calls"] > 0}
    for layer in sorted(set(LAYERS) - fired):
        problems.append(f"span {layer!r} never fired")
    if not cascade.layer_rows or any(
            s["engine.calls"] < 1 for _, leg, _, s in cascade.layer_rows
            if leg == "engine"):
        problems.append("cascade: engine span missing on an engine leg")
    for b, want in ((job, 0), (fresh, 1)):
        got = sorted({s["extract.calls"] for _, leg, _, s in b.layer_rows
                      if leg == "engine"})
        if got != [want]:
            problems.append(f"{b.workload}: extract.calls per statement "
                            f"{got}, want {want}")
    by_stmt: dict = {}
    for name, leg, _, s in job.layer_rows:
        by_stmt.setdefault((name, leg), []).append(
            tuple(s.get(k) for k in COUNTS))
    for key, seen in sorted(by_stmt.items()):
        if len(set(seen)) != 1:
            problems.append(f"job {key}: counts differ between traced "
                            f"passes {seen}")

    print(f"layers fired: {sorted(fired)}")
    print(f"engine executions traced: cascade "
          f"{sum(r[1] == 'engine' for r in cascade.layer_rows)}, job "
          f"{sum(r[1] == 'engine' for r in job.layer_rows)}, job_fresh "
          f"{sum(r[1] == 'engine' for r in fresh.layer_rows)}")
    for p in problems:
        print(f"FAIL {p}")
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
