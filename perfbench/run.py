#!/usr/bin/env python3
"""Benchmark launcher.

    python3 perfbench/run.py --workload {lake,retrieval} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One process, one closed-loop client
(the next operation starts when the previous one returns) and a Spark
session on ``local[<cores>]``. The run:

1. pins the Spark settings below, so every run and every checkout uses
   the same ones;
2. builds the base tables once per checkout (``datagen``) and a fresh
   work directory for this run;
3. starts the session and builds the workload's fixtures; ``setup_s`` is
   the time from process start to here, less the base-table build;
4. runs one untimed warm-up of every operation kind;
5. runs a fixed number of operations, derived from ``--seconds`` and
   never from how fast they go, timing each one and checking its output.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer ones with ``--trace 1``. A traced run repeats the timed
loop with spans on and writes the spans to ``.perfbench/spans-*.jsonl``.
"""

from __future__ import annotations

import argparse
import gc
import importlib
import json
import os
import shutil
import statistics
import sys
import time

from tracing import JobCounter, Tracer, self_time

PROCESS_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("lake", "retrieval")
DRIVER_MEM = "4g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_settings(run_dir: str) -> None:
    """Spark settings every run uses. Every other ``SPARK_GRAFT_*`` knob
    is cleared. The driver heap is fixed below the host's RAM (the
    engine's default is 16g); scratch space, temp files and the
    warehouse stay inside the run directory, and no JVM writes its
    performance-counter file to the system temp directory (which
    ``java.io.tmpdir`` does not move). ``PYTHONPATH`` lets
    Spark's Python workers import the engine whatever the directory the
    benchmark was started from."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for var in [v for v in os.environ if v.startswith("SPARK_GRAFT_")]:
        del os.environ[var]  # engine knobs keep their defaults
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "pyspark-shell",
        ]),
    })
    time.tzset()
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile, by ``statistics.quantiles`` (inclusive)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Loop:
    """Times a list of operations one after another and checks each.

    An op is ``(kind, run, check)``: ``run()`` is timed and returns the
    output, ``check(output)`` is not timed and returns whether it is
    right. An op that raises or returns a wrong output is failed."""

    def __init__(self, tracer, counter=None):
        self.tracer = tracer
        self.counter = counter
        self.latency: dict[str, list[float]] = {}
        self.work: dict[str, list] = {}
        self.failed = 0
        self.raised = 0
        self.attempted = 0
        self.errors: list[str] = []

    def run(self, ops, op_base: int = 0) -> float:
        wall = 0.0
        for i, (kind, fn, check) in enumerate(ops):
            gc.collect()
            self.attempted += 1
            ok, out = False, None
            t0 = time.perf_counter()
            try:
                if self.counter is None:
                    with self.tracer.span(kind, op_base + i):
                        out = fn()
                else:
                    with self.counter.group(kind) as box, self.tracer.span(kind, op_base + i):
                        out = fn()
                ok = True
            except Exception as exc:  # noqa: BLE001 -- a failed op is counted, the loop goes on
                self.raised += 1
                self.errors.append(f"{kind}: {type(exc).__name__}: {str(exc)[:300]}")
            dt = time.perf_counter() - t0
            wall += dt
            if ok:
                try:
                    ok = bool(check(out))
                except Exception as exc:  # noqa: BLE001 -- a check that cannot run fails the op
                    self.errors.append(f"{kind} check: {type(exc).__name__}: {str(exc)[:300]}")
                    ok = False
                if not ok and len(self.errors) < 50:
                    self.errors.append(f"{kind}: wrong output")
            if not ok:
                self.failed += 1
            self.latency.setdefault(kind, []).append(dt)
            if self.counter is not None:
                self.work.setdefault(kind, []).append(box[0])
        return wall


def start_session():
    from mlb_data_pipeline_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("FATAL")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM the session launched, and wait for
    it to exit (it takes its Python workers with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 -- a JVM that will not exit is killed
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def base_data_dir() -> str:
    """The base tables, built once per checkout; the directory name
    carries a digest of the generator, so a changed generator rebuilds."""
    import hashlib

    import datagen

    with open(datagen.__file__, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:12]
    return datagen.write_base_tables(os.path.join(WORK, f"data-{digest}"))


def measure(args) -> dict:
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    pin_settings(run_dir)
    try:
        wl = importlib.import_module(f"workload_{args.workload}")
        t0 = time.perf_counter()
        data = base_data_dir()
        # building the base tables (once per checkout) is not set-up
        data_s = time.perf_counter() - t0
        tracer = Tracer(enabled=bool(args.trace))
        spark = None
        try:
            with tracer.span("session.get_spark"):
                spark = start_session()
            fx = wl.setup(spark, data, os.path.join(run_dir, "fixture"), tracer)
            setup_s = time.perf_counter() - PROCESS_START - data_s
            warm = Loop(Tracer())
            warm.run(wl.warmup_ops(fx))
            plan = wl.plan(fx, args.seed, args.seconds)
            timed = Loop(Tracer())
            wall = timed.run(plan.ops(timed.tracer))
            result = {"loop": timed, "wall": wall, "warm": warm, "setup_s": setup_s, "fx": fx}
            if args.trace:
                traced = Loop(tracer, JobCounter(spark))
                result["traced_wall"] = traced.run(plan.ops(tracer), op_base=timed.attempted)
                result["traced"] = traced
                tracer.write(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
                result["tracer"] = tracer
            if hasattr(wl, "finish"):
                result["finish"] = wl.finish(fx)
            return result
        finally:
            if spark is not None:
                stop_jvm(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def end_to_end(r: dict) -> dict:
    """``ops_per_s`` is the ops that returned over the summed time of all
    ops. ``p50_s`` and ``p90_s`` are percentiles over the median latency
    of each op kind (a request kind or a lake op), so the mix of
    kinds, not the number of each, sets them."""
    loop: Loop = r["loop"]
    per_kind = sorted(statistics.median(v) for v in loop.latency.values())
    return {
        "setup_s": (r["setup_s"], "s"),
        "ops_per_s": ((loop.attempted - loop.raised) / r["wall"], "1/s"),
        "p50_s": (statistics.median(per_kind), "s"),
        "p90_s": (quantile(per_kind, 90), "s"),
    }


def per_layer(r: dict) -> dict:
    """Layer metrics every workload reports, from the traced loop. Spans
    named ``fixture.*`` cover set-up builds, ``plan.*`` the engine call
    that builds a DataFrame, ``exec.*`` running it (a lake write plans
    and runs in one call, all of it ``exec``); an op's self time is the
    benchmark's own work around them."""
    tr, loop = r["tracer"], r["traced"]
    in_loop = [i for i, s in enumerate(tr.spans) if s.op is not None]

    def total(prefix: str) -> float:
        return sum(tr.spans[i].end - tr.spans[i].start for i in in_loop if tr.spans[i].name.startswith(prefix))

    work = [w for ws in loop.work.values() for w in ws]
    return {
        "session.get_spark_s": (tr.median("session.get_spark"), "s"),
        "fixture.build_s": (sum(s.end - s.start for s in tr.spans if s.name.startswith("fixture.")), "s"),
        "plan.build_s": (total("plan."), "s"),
        "exec.run_s": (total("exec."), "s"),
        "op.self_s": (sum(self_time(tr.spans, i) for i in in_loop if tr.spans[i].parent is None), "s"),
        "spark.jobs": (sum(w.jobs for w in work), "count"),
        "spark.stages": (sum(w.stages for w in work), "count"),
        "spark.tasks": (sum(w.tasks for w in work), "count"),
        "trace.overhead_s": (r["traced_wall"] - r["wall"], "s"),
        "trace.spans": (len(tr.spans), "count"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mlb_data_pipeline_spark")):
        print(f"perfbench: no engine package under {ROOT}; run from a checkout root", file=sys.stderr)
        return 2
    r = measure(args)
    loop: Loop = r["loop"]
    wl = sys.modules[f"workload_{args.workload}"]
    failed = loop.failed + r["warm"].failed + (r["traced"].failed if args.trace else 0)
    attempted = loop.attempted + r["warm"].attempted + (r["traced"].attempted if args.trace else 0)
    e2e = end_to_end(r)
    metrics = per_layer(r) if args.trace else e2e
    for line in (r["warm"].errors + loop.errors)[:20]:
        print(f"perfbench: {line}", file=sys.stderr)
    extra = wl.summary(r) | (wl.detail(r) if args.trace else {})
    summary = {k: round(v, 6) for k, (v, _) in (e2e | extra).items() if v is not None}
    summary["failed_share"] = failed / attempted
    print(json.dumps({"workload": args.workload, "summary": summary}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items() if v is not None},
    }))
    return 0


if __name__ == "__main__":
    if os.environ.get("PYTHONHASHSEED") != "0":
        # Python's string hashing is pinned, so code that iterates over
        # sets builds the same plans in every run
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, os.path.abspath(__file__), *sys.argv[1:]])
    sys.exit(main())
