"""kgpipe benchmark: one workload per run, one JSON result line.

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Everything the run writes goes under
.kgbench_work/ in that checkout: working data (removed at exit), Spark's
local dirs, and results/ (kept): one JSON record per run with the host
context, every op and every metric, plus spans and the event log of a
traced run.  The last stdout line is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s",
    "ingest_triples_per_s": "triples/s",
    "ingest_cpu_s": "CPU-s",
    "query_gmean_ms": "ms",
    "read_pass_s": "s",
    "bytes_per_triple": "B",
    "peak_pss_mb": "MB",
}


def layer_unit(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_frac", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def _env(work: str) -> None:
    """Workers import the package from the checkout; Spark, Java and
    Python temp files stay inside the run's work dir."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        os.environ[var] = os.path.join(work, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    tempfile.tempdir = os.environ["TMPDIR"]
    # every JVM, the launcher's too: temp files in the work dir, and no
    # hsperfdata file, which the JVM writes to /tmp whatever its tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    sys.path.insert(0, ROOT)


def _stop_spark(spark) -> None:
    """Stop Spark, end the JVM, and wait for every process it started."""
    import host

    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    children = [p for p in host.tree_pids() if p != os.getpid()]
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - fall through to the kill below
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input sizes; tiny is for the smoke tests")
    ap.add_argument("--corrupt", action="store_true",
                    help="drop one output triple before the checks (tests)")
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    import host
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")
    if not os.path.isdir(os.path.join(ROOT, "logset_spark")):
        print(f"logset_spark not found beside {HERE}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    base = os.path.join(ROOT, ".kgbench_work")
    work = os.path.join(base, run_id)
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    _env(work)
    nproc = len(os.sched_getaffinity(0))
    confs = {}
    if args.trace:
        log_dir = os.path.join(results, run_id + ".eventlog")
        os.makedirs(log_dir)
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": log_dir,
                      "spark.eventLog.compress": "false"})

    steal0, t_run = host.steal_ticks(), time.perf_counter()
    try:
        with host.MemSampler() as mem:
            t0 = time.perf_counter()
            from logset_spark.session import get_spark

            spark = get_spark("kgbench", cpus=nproc, extra_confs=confs)
            tracer = spans.Tracer(run_id, bool(args.trace))
            bench = workloads.Bench(spark, tracer, work, args.corrupt, t0)
            bench.phase_s["session"] = time.perf_counter() - t0
            try:
                workloads.WORKLOADS[args.workload](
                    bench, args.seed, args.seconds, args.size)
                # before the checks: their oracles' memory is not the program's
                peak_pss_mb = mem.read_mb()
                bench.run_checks()
            finally:
                t0 = time.perf_counter()
                _stop_spark(spark)
                bench.phase_s["stop"] = time.perf_counter() - t0
        if args.trace:
            jobs, stages = spans.read_event_log(log_dir)
            spans.attribute(tracer.spans, jobs, stages)
            spans.dump(tracer.spans, os.path.join(results, run_id + ".spans.jsonl"))
            shutil.rmtree(log_dir)  # tens of MB; the spans keep what it gave
        e2e, per_layer = workloads.metrics(bench, peak_pss_mb)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(bench.ops)
    failed = sum(not r["ok"] for r in bench.ops)
    chosen = per_layer if args.trace else e2e
    units = layer_unit if args.trace else E2E_UNITS.__getitem__
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units(k)} for k, v in chosen.items()},
    }
    steal = (host.steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
    steal_frac = steal / (time.perf_counter() - t_run) / os.cpu_count()
    t0 = time.perf_counter()
    # the STREAM burst costs 2.5 s of a run; traced runs, which are not
    # timed against the bounds, carry it
    context = dict(host.context(ROOT, nproc, stream=bool(args.trace)),
                   steal_frac=steal_frac)
    bench.phase_s["host_probe"] = time.perf_counter() - t0
    record = {
        "run_id": run_id, "args": vars(args), "host": context, "phase_s": bench.phase_s,
        "deadline_s": workloads.DEADLINE_S, "sizes": workloads.SIZES[args.size],
        "cycles": bench.cycles, "end_to_end": e2e, "per_layer": per_layer,
        "ops": [{k: v for k, v in r.items() if k not in ("result", "check", "span")}
                for r in bench.ops],
        "failed_ops": [r["name"] for r in bench.ops if not r["ok"]],
        "op_p50_s": {n: statistics.median(r["latency_s"] for r in bench.ops if r["name"] == n)
                     for n in dict.fromkeys(r["name"] for r in bench.ops)},
    }
    bench.phase_s["process"] = time.perf_counter() - T_START
    with open(os.path.join(results, run_id + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"host": record["host"], "failed_ops": record["failed_ops"]}))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
