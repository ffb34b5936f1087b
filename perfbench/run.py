"""Benchmark entry point.

    python3 perfbench/run.py --workload rebuild_small --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all          # every workload, one process each

One invocation runs one workload in a fresh process (and so a fresh JVM) on
``local[<cores>]``, through ``session.get_spark`` with only the master
set. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
The exit code is non-zero when any op or correctness gate failed.

Everything the run writes stays inside the checkout: temporary files under
``.bench_work/`` (removed at exit) and a record per run under
``.bench_results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import host, stats  # noqa: E402

# (name, unit, better, bound) — mirrored by BENCHMARK.json's end_to_end list.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("wall_s", "s", "lower", 0.25),
    ("throughput_per_s", "1/s", "higher", 0.25),
    ("op_p50_s", "s", "lower", 0.25),
]


def parse_args(argv=None):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, and let the workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # the JVM that builds the driver command
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )
    os.chdir(work)


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it (the
    Python workers are its children and exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while host.process_tree(os.getpid())[1:] and time.monotonic() < deadline:
        time.sleep(0.1)  # the Python workers exit once the JVM is gone


def timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t0, out


def run_one(args) -> tuple[dict, dict]:
    """One workload in this process. Returns (result line, run record)."""
    from perfbench.tracerun import TracedRun, trace_conf
    from perfbench.workloads import WORKLOADS

    from btc_blockchain_scanner_spark.session import get_spark

    base = os.path.join(ROOT, ".bench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}_", dir=base)
    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    try:
        isolate(work)
        cores = host.cores()
        log_dir = os.path.join(work, "eventlog")
        extra = None
        if args.trace:
            os.makedirs(log_dir)
            extra = trace_conf(log_dir)
        cpu0 = host.cpu_times()
        with host.RssSampler() as rss:
            session_s, spark = timed(
                lambda: get_spark(master=f"local[{cores}]", extra_conf=extra)
            )
            wl = WORKLOADS[args.workload](spark, work, args.seed, args.seconds)
            stage_s, _ = timed(wl.stage, os.path.join(work, "stage"))
            prep_s, _ = timed(wl.prepare, os.path.join(work, "stage"))
            warm_s, _ = timed(wl.warmup)
            setup_s = session_s + stage_s + prep_s + warm_s
            record.update(
                session_s=session_s, stage_s=stage_s, prepare_s=prep_s, warmup_s=warm_s,
                n_ops=wl.n_ops, item=wl.unit,
            )
            record["env"] = host.environment(ROOT, spark)
            if args.trace:
                traced = TracedRun(spark, wl)
                traced.run()
                failures = traced.failed
                attempted = len(traced.tracer.named("op"))
                failed_ops = attempted if failures else 0
            else:
                attempted, failed_ops, failures, e2e = timed_phase(wl)
                record["gates_s"] = e2e.pop("gates_s")
                e2e["setup_s"] = setup_s
            stop_jvm(spark)
        steal = host.steal_pct(cpu0, host.cpu_times())
        record.update(
            steal_pct=steal, loadavg=host.loadavg(), peak_rss_mb=rss.peak_mb, failures=failures
        )
        if args.trace:
            metrics = traced.metrics(log_dir, session_s, steal, rss.peak_mb, cores)
            spans_path = os.path.join(
                ROOT, ".bench_results", f"spans_{args.workload}_seed{args.seed}.json"
            )
            os.makedirs(os.path.dirname(spans_path), exist_ok=True)
            traced.tracer.dump(spans_path)
        else:
            record["op_samples"] = e2e.pop("op_samples")
            record["cpu_s"] = e2e.pop("cpu_s")
            record["op_summary"] = stats.summarize(record["op_samples"])
            units = {n: u for n, u, *_ in END_TO_END}
            metrics = {n: {"value": e2e[n], "unit": units[n]} for n, *_ in END_TO_END}
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": not failures and failed_ops == 0,
        "attempted": attempted,
        "failed": failed_ops,
        "metrics": metrics,
    }
    return result, record


def timed_phase(wl) -> tuple[int, int, list[str], dict]:
    """Run the workload's ops back to back, then its gates (untimed)."""
    samples, units, failed = [], 0, 0
    cpu0 = host.tree_cpu_seconds()
    t_phase = time.perf_counter()
    for i in range(wl.n_ops):
        t0 = time.perf_counter()
        try:
            n, ok = wl.op(i)
        except Exception:  # noqa: BLE001 — an op that raises counts as failed
            traceback.print_exc()
            n, ok = 0, False
        samples.append(time.perf_counter() - t0)
        units += n
        failed += not ok
    wall = time.perf_counter() - t_phase
    cpu = host.tree_cpu_seconds() - cpu0
    try:
        failures = wl.gates()
    except Exception:  # noqa: BLE001 — a gate that raises is a failed gate
        traceback.print_exc()
        failures = ["a gate raised"]
    if failures:
        failed = wl.n_ops  # the gates check the outputs of every op
    e2e = {
        "wall_s": wall,
        "throughput_per_s": units / wall,
        "op_p50_s": stats.summarize(samples)["p50"],
        "cpu_s": cpu,
        "op_samples": samples,
        "gates_s": time.perf_counter() - t_phase - wall,
    }
    return wl.n_ops, failed, failures, e2e


def run_all(args) -> int:
    """Every workload in its own process; prints each one's metrics and a
    combined last line."""
    from perfbench.workloads import WORKLOADS

    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    status = 0
    for name in WORKLOADS:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
        ]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            sys.stderr.write(proc.stderr[-4000:])
            combined["correct"] = False
            status = 1
        if not lines:
            continue
        res = json.loads(lines[-1])
        for line in lines[:-1]:
            print(line)
        for metric, v in res["metrics"].items():
            print(f"{name:14s} {metric:36s} {v['value']:>14.4f} {v['unit']}")
            combined["metrics"][f"{name}.{metric}"] = v
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
    print(json.dumps(combined), flush=True)
    return status or (not combined["correct"])


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    result, record = run_one(args)
    rec_path = os.path.join(
        ROOT, ".bench_results", f"{args.workload}_seed{args.seed}_trace{args.trace}.json"
    )
    os.makedirs(os.path.dirname(rec_path), exist_ok=True)
    with open(rec_path, "w") as f:
        json.dump({**record, "result": result}, f, indent=1)
    for msg in record["failures"]:
        print(f"FAILED: {msg}", file=sys.stderr)
    print(f"ops_failed_ratio={result['failed'] / result['attempted']:.4f} "
          f"ops={result['attempted']} record={os.path.relpath(rec_path, ROOT)}")
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
