"""Extraction benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload wide_fused --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Generates seeded Parquet inputs, starts
a local Spark session sized to this host, then runs complete extraction
jobs back to back (a closed loop with one client): one job, then more
while another, as long as the last, still ends within `--seconds`.
Each job starts with a cold fused-index cache, commits its output
Parquet, and is checked against the serial oracle on a fixed sample of
points. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}.

`--trace 0` reports the end-to-end metrics. `--trace 1` runs half the
window untraced and half traced (spans around every public call), then
the per-layer probes, and reports the per-layer metrics; the spans are
written to .perfbench/traces/ in the checkout. See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

PER_LAYER_UNITS = {
    "areadist_fused.build_s": "s", "areadist_fused.apply_s": "s",
    "areadist.corrections_s": "s", "areadist.corrections_rows": "count",
    "areadist.wide_merge_s": "s",
    "geo.kernels.pairs_per_s": "pairs/s", "geo.kernels.pack_s": "s",
    "geo.index.cover_s": "s", "geo.index.cells_per_feature": "count",
    "range_join.pairs_s": "s", "range_join.candidate_pairs": "count",
    "range_join.refined_pairs": "count", "range_join.useful_ratio": "ratio",
    "lineage.bucket_s": "s", "lineage.buckets_rerun": "count",
    "lineage.bytes_written": "B",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "self_s.job": "s", "self_s.sources": "s", "self_s.areadist_fused": "s",
    "self_s.areadist": "s", "self_s.lineage": "s",
    "trace.overhead_s": "s", "ops_failed_frac": "ratio",
}


def host_settings() -> dict:
    """Deployment settings pinned from this host: one local[n] session
    with a task slot per usable core and a driver heap that fits."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mib = int(f.readline().split()[1]) // 1024
    return {"cpus": cpus, "driver_mem_mib": min(2048, mem_mib // 4),
            "host_mem_mib": mem_mib}


def start_session(work: str, settings: dict):
    from extract_sf_r_parallel_spark.session import get_spark
    spark = get_spark(app="perfbench", extra={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and the Python workers it forked, and
    wait until every one of them has exited."""
    from pyspark import SparkContext
    from tracing import descendants
    gw = SparkContext._gateway
    pids = descendants(gw.proc.pid)
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()  # the JVM exits when its stdin closes
    gw.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in pids[1:]:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def run(args) -> dict:
    import workloads as W
    from extract_sf_r_parallel_spark.operators.areadist_fused import (
        clear_index_cache)
    from tracing import RssSampler, Tracer, spark_counts

    settings = host_settings()
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="work-", dir=base)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(settings["cpus"]),
        "SPARK_DRIVER_MEM": f"{settings['driver_mem_mib']}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": work,
        # every JVM, the spark-submit launcher's too, keeps its temp
        # files in the work dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work} -XX:-UsePerfData",
        # Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = work
    wl = W.WORKLOADS[args.workload](args.seed)
    print(json.dumps({"workload": wl.name, "seed": args.seed,
                      "settings": settings}), flush=True)

    spark = None
    try:
        # set-up: start the session, generate and write the inputs,
        # compute the oracle sample, warm up with one job
        t0 = time.perf_counter()
        spark = start_session(work, settings)
        t_session = time.perf_counter() - t0
        t0 = time.perf_counter()
        in_dir = os.path.join(work, "in")
        os.makedirs(in_dir)
        tabs = wl.write_inputs(in_dir)
        t_inputs = time.perf_counter() - t0
        t0 = time.perf_counter()
        want = wl.oracle(tabs)
        t_oracle = time.perf_counter() - t0
        t0 = time.perf_counter()
        warm = os.path.join(work, "warm")
        clear_index_cache()
        wl.warm_up(spark, Tracer(False), warm)
        shutil.rmtree(warm, ignore_errors=True)
        t_warm = time.perf_counter() - t0
        setup_s = t_session + t_inputs + t_oracle + t_warm
        print(json.dumps({"session_s": t_session, "inputs_s": t_inputs,
                          "oracle_s": t_oracle, "warmup_s": t_warm}),
              flush=True)

        sc = spark.sparkContext
        ops: list[dict] = []
        tracer = Tracer(True)
        # this process (the driver's Python side, where the fused index
        # is packed), the JVM it launched and the JVM's Python workers
        with RssSampler(os.getpid()) as rss:
            def op(traced: bool) -> None:
                i = len(ops)
                out = os.path.join(work, f"out{i}")
                tr = tracer if traced else Tracer(False)
                tr.op = f"op{i}"
                sc.setJobGroup(f"op{i}", f"perfbench op {i}")
                clear_index_cache()
                rss.reset()
                rec = {"traced": traced, "ok": False}
                t0 = time.perf_counter()
                try:
                    with tr.span("job", workload=wl.name):
                        info = wl.job(spark, tr, out)
                    rec["wall"] = time.perf_counter() - t0
                    rec["peak_rss_mb"] = rss.peak_mib()
                    rec["info"] = info
                    errs = wl.check(out, want, info)
                    rec["ok"] = not errs
                    if errs:
                        print(json.dumps({"op": i, "errors": errs}), flush=True)
                except Exception as e:  # noqa: BLE001 — a failed op is counted
                    print(json.dumps({"op": i, "errors": [repr(e)]}), flush=True)
                if traced:
                    rec["spark"] = spark_counts(sc, f"op{i}")
                shutil.rmtree(out, ignore_errors=True)
                ops.append(rec)

            def window(seconds: float, traced: bool) -> None:
                """One job, then more while another, as long as the
                last, still ends within `seconds`."""
                deadline = time.perf_counter() + seconds
                op(traced)
                while (time.perf_counter() + ops[-1].get("wall", 0.0)
                       < deadline):
                    op(traced)

            if args.trace:
                window(args.seconds / 2, False)
                window(args.seconds / 2, True)
                tracer.op = "probe"
                sc.setJobGroup("probe", "perfbench probes")
                probes = wl.probes(spark, tracer, work)
            else:
                window(args.seconds, False)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(not o["ok"] for o in ops)
    good = [o for o in ops if "wall" in o]
    print(json.dumps({"job_walls": [o["wall"] for o in good]}), flush=True)
    rows = wl.n_points * wl.n_layers
    if args.trace:
        metrics = layer_metrics(tracer, ops, probes)
        trace_dir = os.path.join(base, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(
            trace_dir, f"{wl.name}-seed{args.seed}.jsonl"))
        units = PER_LAYER_UNITS
    else:
        walls = [o["wall"] for o in good]
        metrics = {
            "setup_s": setup_s,
            "job_s": med(walls),
            "rows_per_s": med([rows / w for w in walls]),
            # without checkpoints a crash loses the whole job, so
            # finishing it after a crash is a full re-run
            "resume_s": med([o["info"].get("resume_s", o["wall"])
                             for o in good]),
            "peak_rss_mb": med([o["peak_rss_mb"] for o in good]),
        }
        units = {"setup_s": "s", "job_s": "s", "rows_per_s": "rows/s",
                 "resume_s": "s", "peak_rss_mb": "MiB"}
    return {"correct": failed == 0, "attempted": len(ops), "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()}}


def layer_metrics(tracer, ops, probes) -> dict:
    """Per-layer figures: the probes' measurements, the scheduler counts
    per traced job, and each layer's self time over the traced pass."""
    traced = [o for o in ops if o["traced"] and "wall" in o]
    plain = [o for o in ops if not o["traced"] and "wall" in o]
    out = dict(probes)
    selfs = tracer.self_times()
    for k in [k for k in PER_LAYER_UNITS if k.startswith("self_s.")]:
        layer = k[len("self_s."):]
        out[k] = sum(selfs[s["id"]] for s in tracer.spans
                     if s["name"] == layer or s["name"].startswith(layer + "."))
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        out[f"spark.{k}"] = med([o["spark"][k] for o in ops if o["traced"]])
    out["trace.overhead_s"] = (med([o["wall"] for o in traced])
                               - med([o["wall"] for o in plain]))
    out["ops_failed_frac"] = sum(not o["ok"] for o in ops) / len(ops)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(
            ROOT, "extract_sf_r_parallel_spark", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
