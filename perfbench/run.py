"""Engine-against-control benchmark of the predicate-transfer engine.

Run from the repository root:

    python3 perfbench/run.py --workload job_fresh --seed 1 --seconds 12 --trace 0

One process, one closed-loop client: statements are issued one at a
time, each only after the previous one finished. Every statement runs
as two legs on the same ``local[<nproc>]`` session, with Spark's native
runtime bloom filters live for both (``set_native_rf(spark, True)``):

- engine leg: ``Engine.sql`` with the default config on ``job`` and
  ``job_fresh``; on ``cascade``, ``workload/cascade.run_cascade`` with
  the cascade's own config (``cascade_config``);
- control leg: the same statement with ``RPTConfig(enabled=False)``,
  i.e. Spark's own plan with its one-hop runtime filters.

A leg's latency is construction plus execution into a collect of the
result (a one-row MIN/COUNT aggregate on the JOB workloads, 100 groups
on ``cascade``). Each collected result is digested order-insensitively;
the engine digest must equal the control digest for every execution,
and after the timed window a seeded sample of statements is checked
against DuckDB on the same parquet. Workloads, protocol and the noise
history are in ``perfbench/README.md``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The line before it reports the
machine state and per-statement detail. A traced run also writes every
span to ``.perfbench_work/spans-<workload>-<seed>-<pid>.json``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = "duckdb_robust_predicate_transfer_spark"
sys.path.insert(0, str(HERE))
sys.path.insert(1, str(ROOT))

import fixtures  # noqa: E402
import statements  # noqa: E402

#: every workload the benchmark can run. BENCHMARK.json gates
#: ``cascade`` and ``job_fresh``; ``job`` (the cache-hit twin of
#: ``job_fresh``) stays runnable and in the self-test, but a third
#: workload's runs do not fit the campaign budget with the warm-up the
#: JVM needs (see README.md, "Sizes")
WORKLOADS = ("cascade", "job", "job_fresh")
#: fact rows per workload: castinfo rows for the JOB workloads, fact
#: rows for ``cascade``. Both are about the smallest fixtures on which
#: the transfer engages: the default config bails when the
#: second-largest relation is under 400k rows, and movie_keyword is
#: castinfo / 3, mid is fact / 5.
FACT = {"cascade": 2_500_000, "job": 1_300_000, "job_fresh": 1_300_000}
#: warm-up passes over every (statement, leg) pair, the same in every
#: run of a workload. The first pass of a process is cold, 3-6x a warm
#: one, and the JIT keeps shortening the passes after it: with one
#: warm pass fewer, the first timed pass was still the slowest in 17
#: of 20 ``job_fresh`` runs. A cascade pass is a single pair, so it
#: gets more passes for the same time.
WARM_PASSES = {"cascade": 6, "job": 4, "job_fresh": 4}
#: fewest timed passes, whatever --seconds says. ``cascade`` times one
#: statement, so its figures rest on one leg's median and need more
#: passes than the three-statement geomeans of the JOB workloads. A
#: traced run needs at least MIN_TRACED traced passes besides.
MIN_PASSES = {"cascade": 8, "job": 4, "job_fresh": 4}
MIN_TRACED = 3
#: driver JVM heap, fixed from the start (-Xms = -Xmx): a heap that
#: grows from its small default resizes during the first timed passes
HEAP = "3g"
#: executed texts checked against DuckDB after the timed window
ORACLE_K = 4

END_TO_END = ("query_s.geomean", "control_query_s.geomean",
              "speedup_vs_control", "batch_s", "setup_s")


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def digest(rows) -> str:
    """Order-insensitive digest of result rows (strings and integers
    only, so the values compare exactly across engines)."""
    lines = sorted("|".join(repr(v) for v in tuple(r)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


# -- machine state (reported next to the metrics, not as metrics) -----------

def _calibration_s() -> float:
    """Best of 3 timings of a fixed pure-Python loop."""
    best = math.inf
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        best = min(best, time.perf_counter() - t)
    return best


def _cpu_times() -> list:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(before: list, after: list) -> float:
    d = [a - b for a, b in zip(after, before)]
    total = sum(d[:8])
    return d[7] / total if total > 0 and len(d) > 7 else 0.0


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# -- the run ------------------------------------------------------------------

def cascade_config(mid_rows: int):
    """``CASCADE_SKETCH_CONFIG`` with its sketch threshold scaled from
    ``workload/cascade.py``'s 3M-row mid to this fixture's mid, so the
    tiers split as the module sets them: the mid -> fact hop ships a
    Bloom bitmap and the dim -> mid hop ships exact keys."""
    from duckdb_robust_predicate_transfer_spark.workload.cascade import (
        CASCADE_SKETCH_CONFIG)

    cfg = CASCADE_SKETCH_CONFIG
    return cfg.with_(sketch_threshold_rows=cfg.sketch_threshold_rows
                     * mid_rows // 3_000_000)


class Bench:
    def __init__(self, workload: str, seed: int, work: Path,
                 fact: "int | None" = None):
        self.workload = workload
        self.seed = seed
        self.fact = fact or FACT[workload]
        self.work = work
        self.data = str(work / "data")
        self.ncpu = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.errors: list = []
        #: text -> {leg: [digest of each execution]}
        self.digests: dict = {}
        self.drawer = (statements.Drawer(seed, self.fact)
                       if workload == "job_fresh" else None)
        # statement order: fixed from the seed, the same in every pass.
        # Leg order: a function of the statement's index in the
        # workload's statement list only, engine first on even indexes, so a statement keeps its
        # leg order across passes and seeds (the second leg of a pair
        # runs faster, so a flip would move the ratio)
        names = (["cascade"] if workload == "cascade"
                 else list(statements.TEMPLATES))
        self.order = list(names)
        random.Random(seed).shuffle(self.order)
        self.legs = {n: ("engine", "control") if i % 2 == 0
                     else ("control", "engine")
                     for i, n in enumerate(names)}
        self.spark = None
        self.tracer = None
        self.passes_run = 0
        self.layer_rows: list = []  # (name, leg, text, summary dict)
        #: engine-leg config; None is the default config, or the
        #: cascade's own (the self-test lowers the gates so a tiny
        #: fixture reaches every layer)
        self.engine_config = None

    # -- set-up ------------------------------------------------------------

    def make_inputs(self) -> None:
        os.makedirs(self.data, exist_ok=True)
        tmp = str(self.work / "duckdb-tmp")
        os.makedirs(tmp, exist_ok=True)
        write = (fixtures.write_cascade if self.workload == "cascade"
                 else fixtures.write_job)
        self.sizes = write(self.data, self.seed, self.fact, tmp, self.ncpu)
        if self.workload == "cascade" and self.engine_config is None:
            self.engine_config = cascade_config(self.sizes["mid"])

    def start_session(self) -> None:
        local = str(self.work / "spark-local")
        jtmp = str(self.work / "jvm-tmp")
        for d in (local, jtmp):
            os.makedirs(d, exist_ok=True)
        # SPARK_LOCAL_DIRS overrides spark.local.dir, so set both
        os.environ.update({
            "SPARK_LOCAL_DIRS": local, "DRPT_LOCAL_DIR": local,
            "DRPT_WAREHOUSE_DIR": str(self.work / "warehouse"),
            "DRPT_DRIVER_MEM": HEAP, "TMPDIR": jtmp,
            # every JVM the launcher starts: temp files under the work
            # directory, and no hsperfdata file in the system /tmp
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData",
            # driver JVM only (the launcher JVM has its own small heap)
            "PYSPARK_SUBMIT_ARGS":
                f'--driver-java-options "-Xms{HEAP}" pyspark-shell',
        })
        from duckdb_robust_predicate_transfer_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench",
                               master=f"local[{self.ncpu}]",
                               shuffle_partitions=self.ncpu)
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    # -- legs --------------------------------------------------------------

    def text(self, name: str) -> str:
        if name == "cascade":
            return statements.CASCADE_SQL
        if self.drawer is not None:
            return self.drawer.draw(name)
        return statements.fixed(name)

    def build(self, text: str, leg: str):
        from duckdb_robust_predicate_transfer_spark.config import RPTConfig
        from duckdb_robust_predicate_transfer_spark.engine import Engine

        cfg = self.engine_config if leg == "engine" else RPTConfig(
            enabled=False)
        if self.workload == "cascade":
            from duckdb_robust_predicate_transfer_spark.workload.cascade \
                import run_cascade

            return run_cascade(self.spark, self.data, config=cfg)
        return Engine(self.spark, self.data, cfg).sql(text)

    def run_leg(self, name: str, text: str, leg: str,
                traced: bool) -> "float | None":
        """One leg; returns its latency, or None when it raised (counted
        as failed)."""
        from duckdb_robust_predicate_transfer_spark.workload.common import (
            set_native_rf)

        self.attempted += 1
        tr = self.tracer if traced else None
        prefix = "" if leg == "engine" else "control."
        if tr is not None:
            tr.request = f"{self.passes_run}/{name}/{leg}"
        try:
            set_native_rf(self.spark, True)
            t0 = time.perf_counter()
            if tr is None:
                rows = self.build(text, leg).collect()
            else:
                with tr.span(prefix + "construct", jobs=True) as c_sp:
                    df = self.build(text, leg)
                with tr.span(prefix + "exec", jobs=True) as e_sp:
                    rows = df.collect()
            latency = time.perf_counter() - t0
        except Exception as exc:  # a failed leg is counted, not fatal
            self.failed += 1
            self.errors.append(f"{name}/{leg}: {type(exc).__name__}: "
                               f"{str(exc).splitlines()[0][:200]}")
            return None
        self.digests.setdefault(text, {}).setdefault(leg, []).append(
            digest(rows))
        if tr is not None:
            tr.count_jobs(c_sp)
            tr.count_jobs(e_sp)
            from spans import summarize

            s = summarize(c_sp)
            s.update({"construct.s": c_sp.dur, "exec.s": e_sp.dur,
                      "construct.jobs": c_sp.jobs,
                      "construct.tasks": c_sp.tasks,
                      "exec.jobs": e_sp.jobs, "exec.tasks": e_sp.tasks,
                      "exec.failed_tasks": e_sp.failed_tasks})
            self.layer_rows.append((name, leg, text, s))
        return latency

    def run_pass(self, traced: bool) -> dict:
        """One pass over the statement list; returns name -> {leg:
        latency}."""
        out: dict = {}
        for name in self.order:
            text = self.text(name)
            for leg in self.legs[name]:
                r = self.run_leg(name, text, leg, traced)
                if r is not None:
                    out.setdefault(name, {})[leg] = r
        self.passes_run += 1
        return out

    # -- correctness -------------------------------------------------------

    def check_digests(self) -> None:
        """Engine must equal control on every statement (the
        rewrite-on == rewrite-off invariant); each mismatching text
        fails every engine execution of it."""
        for key, legs in self.digests.items():
            e, c = legs.get("engine", []), legs.get("control", [])
            if len(set(e) | set(c)) > 1:
                self.failed += len(e)
                self.errors.append(f"digest mismatch on {key[:60]!r}: "
                                   f"engine {sorted(set(e))} "
                                   f"control {sorted(set(c))}")

    def oracle_sample(self) -> None:
        """Check a seeded sample of the executed statements against
        DuckDB on the same parquet."""
        import duckdb

        keys = sorted(self.digests)
        rng = random.Random(self.seed * 31 + 7)
        sample = rng.sample(keys, min(ORACLE_K, len(keys)))
        con = duckdb.connect()
        try:
            con.sql(f"SET threads={self.ncpu}")
            con.sql(f"SET temp_directory='{self.work / 'duckdb-tmp'}'")
            for t in self.sizes:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{self.data}/{t}.parquet/*.parquet')")
            for key in sample:
                self.attempted += 1
                want = digest(con.sql(key).fetchall())
                got = set(self.digests[key].get("engine", []))
                if got != {want}:
                    self.failed += 1
                    self.errors.append(f"oracle mismatch on {key[:60]!r}: "
                                       f"engine {sorted(got)} duckdb {want}")
        finally:
            con.close()


def _median_table(passes: list, names) -> dict:
    """name -> median engine latency, median control latency and median
    per-pass control/engine ratio, over the passes that ran both legs
    of the statement. The ratio is taken within a pass, where the two
    legs ran back to back, so machine slow phases cancel in it."""
    out = {}
    for n in names:
        both = [p[n] for p in passes
                if {"engine", "control"} <= p.get(n, {}).keys()]
        if both:
            out[n] = {"engine": statistics.median(x["engine"] for x in both),
                      "control": statistics.median(x["control"]
                                                   for x in both),
                      "ratio": statistics.median(x["control"] / x["engine"]
                                                 for x in both)}
    return out


def end_to_end(b: Bench, passes: list, setup_s: float) -> dict:
    med = _median_table(passes, b.order)
    if len(med) != len(b.order):
        return {}
    batch = [sum(p[n]["engine"] for n in b.order) for p in passes
             if all("engine" in p.get(n, {}) for n in b.order)]
    return {
        "query_s.geomean": (geomean(m["engine"] for m in med.values()), "s"),
        "control_query_s.geomean": (
            geomean(m["control"] for m in med.values()), "s"),
        "speedup_vs_control": (geomean(m["ratio"] for m in med.values()),
                               "x"),
        "batch_s": (statistics.median(batch) if batch else 0.0, "s"),
        "setup_s": (setup_s, "s"),
    }


#: per-layer metric -> unit, in BENCHMARK.json order
PER_LAYER = {
    "catalog.s": "s", "extract.s": "s", "extract.calls": "count",
    "host_plan.s": "s", "host_plan.calls": "count",
    "arbitration.s": "s", "arbitration.calls": "count",
    "schedule.s": "s",
    "transfer.s": "s", "transfer.jobs": "count", "transfer.tasks": "count",
    "transfer.ops_applied": "count", "transfer.ops_dropped": "count",
    "transfer.applied_frac": "frac",
    "bloom.s": "s", "bloom.calls": "count",
    "engine.self_s": "s",
    "construct.s": "s", "construct.jobs": "count", "construct.tasks": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "control.construct.s": "s", "control.exec.s": "s",
    "session.start_s": "s", "warmup.s": "s", "fixture.s": "s",
    "jvm.peak_rss_mb": "MB", "py.peak_rss_mb": "MB",
    "trace.overhead_frac": "frac", "failed_frac": "frac",
}


def per_layer(b: Bench, traced_passes: list, plain_passes: list,
              run_figures: dict) -> dict:
    """Each layer figure is a per-statement median over the traced
    executions, averaged over the workload's statements, so layer self
    times add up to the mean construction time."""
    by_stmt: dict = {}
    for name, leg, _text, s in b.layer_rows:
        if leg == "control":
            s = {"control.construct.s": s["construct.s"],
                 "control.exec.s": s["exec.s"]}
        else:
            s = dict(s)
            s["engine.self_s"] = s.pop("engine.s")
        for k, v in s.items():
            by_stmt.setdefault(k, {}).setdefault(name, []).append(v)
    out: dict = {}
    for k, per in by_stmt.items():
        if k in PER_LAYER:
            out[k] = statistics.fmean(statistics.median(v)
                                      for v in per.values())
    applied = sum(r[3].get("transfer.ops_applied", 0) for r in b.layer_rows)
    dropped = sum(r[3].get("transfer.ops_dropped", 0) for r in b.layer_rows)
    out["transfer.applied_frac"] = (applied / (applied + dropped)
                                    if applied + dropped else 0.0)
    traced = end_to_end(b, traced_passes, 0.0)
    plain = end_to_end(b, plain_passes, 0.0)
    if traced and plain:
        out["trace.overhead_frac"] = (traced["query_s.geomean"][0]
                                      / plain["query_s.geomean"][0] - 1.0)
    out.update(run_figures)
    out["failed_frac"] = b.failed / max(1, b.attempted)
    return {k: (out.get(k, 0.0), u) for k, u in PER_LAYER.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PKG / "engine.py").is_file():
        print(f"perfbench: {PKG}/ not found next to perfbench/; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cpu0 = _cpu_times()
    t = time.perf_counter()
    calib0 = _calibration_s()
    calib_s = time.perf_counter() - t
    trace = bool(args.trace)
    b = Bench(args.workload, args.seed, work)
    try:
        t = time.perf_counter()
        b.make_inputs()
        fixture_s = time.perf_counter() - t

        t = time.perf_counter()
        b.start_session()
        session_s = time.perf_counter() - t
        if trace:
            from spans import Tracer

            b.tracer = Tracer(b.spark)

        t = time.perf_counter()
        warm = [b.run_pass(traced=False)
                for _ in range(WARM_PASSES[args.workload])]
        warmup_s = time.perf_counter() - t
        # process start to first timed statement, less the benchmark's
        # own input generation and calibration loop
        setup_s = time.perf_counter() - T_START - fixture_s - calib_s

        # timed window: whole passes until --seconds have elapsed. With
        # tracing, passes go plain, traced, traced, plain (ABBA), so the
        # decline that the warm-up leaves falls on both kinds alike and
        # the plain/traced comparison gives the cost of tracing
        plain, traced = [], []
        t = time.perf_counter()
        k = 0
        while (time.perf_counter() - t < args.seconds
               or len(plain) < MIN_PASSES[args.workload]
               or (trace and len(traced) < MIN_TRACED)):
            tr = trace and k % 4 in (1, 2)
            if tr:
                b.tracer.install()
            try:
                (traced if tr else plain).append(b.run_pass(traced=tr))
            finally:
                if tr:
                    b.tracer.uninstall()
            k += 1

        b.check_digests()
        b.oracle_sample()
        if trace:
            # the spans outlive the run's work directory
            spans_path = work.parent / (f"spans-{args.workload}-{args.seed}"
                                        f"-{os.getpid()}.json")
            n = b.tracer.dump(spans_path)
            print(f"perfbench: {n} spans written to {spans_path}",
                  file=sys.stderr)
        jvm_pid = b.spark._jvm.ProcessHandle.current().pid()
        jvm_rss = _vm_hwm_mb(jvm_pid)
    finally:
        if b.spark is not None:
            b.stop_session()
        shutil.rmtree(work, ignore_errors=True)

    e2e = end_to_end(b, plain, setup_s)
    if not e2e:
        b.errors.append("a statement has no successful engine/control pair")
        e2e = {k: (0.0, "s") for k in END_TO_END}
    if trace:
        py_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        metrics = per_layer(b, traced, plain, {
            "session.start_s": session_s, "warmup.s": warmup_s,
            "fixture.s": fixture_s, "jvm.peak_rss_mb": jvm_rss,
            "py.peak_rss_mb": py_rss})
    else:
        metrics = {k: e2e[k] for k in END_TO_END}

    for line in b.errors:
        print(f"perfbench: {line}", file=sys.stderr)
    med = _median_table(plain, b.order)
    print(json.dumps({
        "machine": {"calibration_s_before": calib0,
                    "calibration_s_after": _calibration_s(),
                    "cpu_steal_share": _steal_share(cpu0, _cpu_times()),
                    "ncpu": b.ncpu},
        "detail": {"workload": b.workload, "seed": b.seed,
                   "fixture_rows": b.sizes, "fixture_s": fixture_s,
                   "session_s": session_s, "warmup_s": warmup_s,
                   "order": b.order, "passes": len(plain),
                   "traced_passes": len(traced),
                   "warm_pass_s": [sum(sum(x.values()) for x in p.values())
                                   for p in warm],
                   "median_s": med,
                   "pass_engine_s": [sum(x.get("engine", 0.0)
                                         for x in p.values())
                                     for p in plain],
                   "pass_legs_s": plain}}))
    print(json.dumps({
        "correct": b.failed == 0 and not b.errors,
        "attempted": b.attempted, "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
