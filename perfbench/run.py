"""Layered benchmark runner for the engine.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0

Run from the repository root. One Spark session on ``local[<cpus>]``,
one client in a closed loop: a verify pass (untimed; warms the JVM and
checks every output against the DuckDB oracle), then timed passes until
``--seconds`` have been measured. An untraced run then times one more
cold set-up in a fresh process. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Diagnostics go to stderr.

Everything the run writes stays under ``perfbench/.work`` (inputs,
Spark scratch, outputs, event logs, oracle cache), apart from the
``.fixtures/`` the engine builds at the root. See ``README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PKG = "retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark"

SF = 0.1
#: cold set-ups per untraced run: this process's own, then one in a
#: fresh process after the timed passes; setup_s is their median
SETUPS = 2
#: a run stops starting timed passes after this many seconds in total
RUN_BUDGET_S = 140
DRIVER_MEM = "4g"
FLUSH_POLICY = "plain local-disk parquet writes through the OS page cache; no fsync"


def pin_environment() -> dict[str, str]:
    """Pin the engine's environment before the JVM starts; Python
    workers inherit it, so they can import the engine package too."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pins = {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(WORK, "warehouse"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    os.environ.update(pins)
    return pins


def set_up(extra_conf: dict[str, str] | None):
    """Session, engine import (which builds ``.fixtures``) and the
    processing date."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.session import (
        build_session,
    )

    spark = build_session(app_name="perfbench", extra_conf=extra_conf)
    import __spark_entry__  # noqa: F401 -- builds the repo-local fixtures
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.plans import (
        fixtures,
    )

    return spark, fixtures


def cold_setups(n: int, sf_dir: str) -> list[float]:
    """Time ``n`` set-ups, each in a fresh process (``--setup-only``):
    from its start through the JVM launch, the engine import and the
    cold processing-date scan."""
    cmd = [sys.executable, os.path.abspath(__file__), "--setup-only", sf_dir]
    out = []
    for _ in range(n):
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=120)
        if proc.returncode != 0:
            raise RuntimeError(f"set-up process exited {proc.returncode}: {proc.stderr[-2000:]}")
        out.append(float(proc.stdout.strip().splitlines()[-1]))
    return out


def setup_only(sf_dir: str) -> int:
    pin_environment()
    spark, fixtures = set_up(None)
    fixtures.processing_date(spark, sf_dir)
    print(time.perf_counter() - T_START)
    stop_jvm(spark)
    return 0


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(pid: int | None) -> float:
    jvm_kb = 0
    if pid is not None:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + own_kb) / 1024.0


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemons it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def tail(samples: list[float]) -> tuple[float, str]:
    """p90 of the op samples (inclusive interpolation) and a note of how
    many samples lie beyond it."""
    if len(samples) == 1:
        return samples[0], "p100 of 1 sample"
    p90 = statistics.quantiles(samples, n=10, method="inclusive")[-1]
    beyond = sum(1 for s in samples if s > p90)
    return p90, f"p90 of {len(samples)} samples, {beyond} beyond"


def end_to_end(setup_s: float, passes) -> dict[str, float]:
    samples = [s for p in passes for _, s in p.samples]
    per_op: dict[str, list[float]] = {}
    for p in passes:
        for name, s in p.samples:
            per_op.setdefault(name, []).append(s)
    tail_s, tail_note = tail(samples)
    log(f"op samples: {len(samples)}; op_tail_s is the {tail_note}")
    geo = math.exp(
        statistics.fmean(math.log(statistics.median(v)) for v in per_op.values())
    )
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(p.wall for p in passes),
        "op_p50_s": statistics.median(samples),
        "op_tail_s": tail_s,
        "op_geomean_s": geo,
    }


UNITS = {
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "op_geomean_s": "s",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def main() -> int:
    if sys.argv[1:2] == ["--setup-only"]:
        sys.path[0] = ROOT
        return setup_only(sys.argv[2])
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, PKG))):
        log(f"no engine checkout at {ROOT}: run from the repository root")
        return 2
    # import the benchmark as a package from the root, not its files from
    # the script directory
    sys.path[0] = ROOT
    from perfbench import datagen, workloads as W

    if args.workload not in W.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {W.WORKLOADS}")
        return 2

    load1 = os.getloadavg()[0]
    pins = pin_environment()
    log(f"pre-run 1-min load {load1:.2f}; flush policy: {FLUSH_POLICY}")
    log("environment: " + json.dumps({k: pins[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")}))
    t_gen = time.perf_counter()
    sf_dir = datagen.ensure(os.path.join(WORK, "data"), SF)

    extra_conf = None
    if args.trace:
        from perfbench.tracing import event_log_conf

        extra_conf = event_log_conf(os.path.join(WORK, "eventlog"))
    gen_s = time.perf_counter() - t_gen
    # set-up counts from process start, less the one-off input generation
    spark, fixtures = set_up(extra_conf)
    d = fixtures.processing_date(spark, sf_dir)
    setups = [time.perf_counter() - T_START - gen_s]
    log(f"set-up {setups[0]:.3f}s; processing date {d}")
    pid = jvm_pid()

    from perfbench import spans

    tracer = spans.Tracer(spark.sparkContext)
    if args.trace:
        log(f"traced {spans.instrument(tracer)} binding sites")
    oracle = W.Oracle(sf_dir, os.path.join(WORK, "oracle_cache.json"), os.path.join(WORK, "tmp"))
    runner = W.Runner(spark, sf_dir, WORK, tracer, oracle)

    if args.workload == "etl_daily":
        dates = W.etl_window(args.seed, d)
        log(f"window {dates[0]}..{dates[-1]}")

        def one_pass(n: int, verify: bool):
            return runner.etl_pass(dates, full_check=verify)
    else:
        def one_pass(n: int, verify: bool):
            return runner.query_pass(W.query_order(args.seed, n), verify=verify)

    t0 = time.perf_counter()
    verify = one_pass(0, True)
    log(f"verify pass {time.perf_counter() - t0:.3f}s, {verify.failed} failed: "
        + json.dumps([[n, round(s, 3)] for n, s in verify.samples]))
    passes = [verify]

    def budget_left() -> bool:
        return time.perf_counter() - T_START < RUN_BUDGET_S

    if args.trace:
        from perfbench.tracing import TracedRun

        traced = TracedRun(spark, runner, tracer)
        traced.measure_empty_job()
        traced.run(one_pass, args.seconds, budget_left)
        timed = traced.results()
    else:
        timed = []
        t0 = time.perf_counter()
        while not timed or (time.perf_counter() - t0 < args.seconds and budget_left()):
            timed.append(one_pass(len(timed) + 1, False))
    passes += timed
    log("timed passes: " + json.dumps([
        {"wall": round(p.wall, 3), "ops": [[n, round(s, 3)] for n, s in p.samples]}
        for p in timed
    ]))
    ok = [p for p in timed if p.samples and not p.failures]
    oracle.close()
    rss_mb = peak_rss_mb(pid)
    app_id = spark.sparkContext.applicationId
    stop_jvm(spark)
    metrics = {}
    if ok and not args.trace:
        setups += cold_setups(SETUPS - 1, sf_dir)
        log(f"set-ups {[round(x, 3) for x in setups]}")
        metrics = end_to_end(statistics.median(setups), ok)
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}
    if args.trace and ok:
        traced.dump(os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}.json"))
        metrics = traced.metrics(os.path.join(WORK, "eventlog"), app_id, verify.output_rows, rss_mb)

    for p in passes:
        for op, why in p.failures.items():
            log(f"FAILED {op}: {why}")
    failed = sum(p.failed for p in passes)
    print(json.dumps({
        "correct": failed == 0 and bool(metrics),
        "attempted": sum(p.attempted for p in passes),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
