#!/usr/bin/env python3
"""The crawl-analytics benchmark: one command per workload run.

    python3 perfbench/run.py --workload crawl_rounds --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from --seed
(cached under .perfbench_cache/), starts one local Spark session sized to
the host, drives the workload in a closed loop for --seconds, checks the
outputs against the oracles, and prints two JSON lines: a full record
(host fit, every named figure, every check) and, last, the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 turns on the Spark
event log and the layer probes and reports the per-layer metrics instead.
See perfbench/INDEX.md for the workloads, the metrics and what each
metric should move.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"op_p50_s": "s", "throughput_per_s": "1/s", "setup_s": "s",
              "peak_rss_mb": "MB"}


def per_layer_names() -> dict[str, str]:
    from workloads import QUERIES, STAGES, TRACED_QUERIES

    from harness import SPARK_KEYS

    names = {"session.start_s": "s", "session.warmup_s": "s",
             "control.phase_start_s": "s", "control.phase_end_s": "s",
             "control.hw_ceiling": "ratio", "trace.overhead_frac": "ratio"}
    for st in STAGES + ("adm_admit_ckpt", "unaccounted"):
        names[f"crawl.{st}_s"] = "s"
    names.update({
        "crawl.round_s": "s", "crawl.round_tail_s": "s",
        "crawl.jobs_per_round": "count", "crawl.unattributed_jobs": "count",
        "crawl.shuffle_bytes_per_round": "B",
        "crawl.urls_per_round": "count", "crawl.host_skew": "ratio",
        "crawl.readmit_s": "s", "crawl.frontier_ops_per_s": "1/s",
        "crawl.checkpoint_p50_s": "s",
        "drain.t4_s": "s", "drain.t1_s": "s", "drain.scaling_eff": "ratio",
        "drain.scaling_eff_norm": "ratio",
        "snapshot.checkpoint_s": "s", "snapshot.resume_s": "s",
        "snapshot.bytes_written": "B", "snapshot.files_written": "count",
        "murmur.hash128_ns_per_key": "ns", "bloom.contains_ns_per_key": "ns",
        "bloom.fill_ratio": "ratio", "bloom.est_fpr": "ratio",
        "cuckoo.contains_ns_per_key": "ns", "cuckoo.delete_ns_per_key": "ns",
        "cuckoo.load_factor": "ratio",
        "urlnorm.canonicalize_us_per_url": "us",
        "extract.us_per_page": "us", "extract.mb_per_s": "MB/s",
        "frontier.dequeue_s": "s", "query.suite_s": "s"})
    unit = {"jobs": "count", "tasks": "count", "shuffle_write_bytes": "B",
            "spill_bytes": "B", "result_bytes": "B"}
    for k in SPARK_KEYS:
        names[f"spark.{k}"] = unit.get(k, "s")
    for q in QUERIES + TRACED_QUERIES:
        names[f"query.{q}_s"] = "s"
    return names


def source_digest() -> str:
    """A digest of the program's and the benchmark's Python sources: the
    code a run measures."""
    h = hashlib.sha1()
    files = sorted(glob.glob(os.path.join(ROOT, "delver_spark", "**", "*.py"),
                             recursive=True)
                   + glob.glob(os.path.join(HERE, "*.py"))
                   + [os.path.join(ROOT, "__spark_entry__.py")])
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha1(f.read()).digest())
    return h.hexdigest()[:16]


def host_fit(work: str) -> dict:
    """Cores from the CPU affinity mask (what nproc prints), driver memory
    from MemTotal, Spark scratch under the run's work dir. Applied through
    the environment variables get_spark already reads.

    Local mode runs every executor in the driver JVM. The benchmark's
    inputs need far less than 1 GB of heap, and with more the JVM keeps
    growing its heap through a run by a varying amount (1.1-1.5 GB of
    PSS at a 3 GB heap, over five runs), which swamps peak_rss_mb. So the
    heap is 1 GB, or a quarter of MemTotal on a smaller box."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    driver_mb = min(1024, mem_kb // 1024 // 4)
    fit = {"cores": cores, "mem_total_gb": round(mem_kb / 2**20, 1),
           "driver_mem": f"{driver_mb}m",
           "spark_local_dirs": os.path.join(work, "spark-local")}
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = fit["driver_mem"]
    os.environ["SPARK_LOCAL_DIRS"] = fit["spark_local_dirs"]
    return fit


def submit_args(work: str, eventlog: str | None) -> str:
    tmp = os.path.join(work, "tmp")
    conf = ["--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options",
            f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"]
    if eventlog:
        conf += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{eventlog}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    return " ".join(conf + ["pyspark-shell"])


def stop_jvm() -> None:
    """Stop the active Spark session, then end the gateway JVM (it exits
    when its stdin closes) and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gw = SparkContext._gateway
    if gw is None:
        return
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def reap(pids: list[int], timeout: float = 20.0) -> None:
    """Wait for ``pids`` and every remaining descendant to end; kill what
    outlives ``timeout``. (Spark's Python workers outlive the JVM briefly
    and are re-parented, so they are named up front.)"""
    from harness import descendants

    def alive():
        live = set(descendants(os.getpid()))
        for pid in pids:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    st = f.read()
            except OSError:
                continue
            if st[st.rindex(")") + 2] != "Z":
                live.add(pid)
        return live

    deadline = time.monotonic() + timeout
    while alive() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in alive():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while alive() and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    for need in ("delver_spark", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found next to perfbench/; run "
                  "from a checkout of the repository", file=sys.stderr)
            return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    state = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(state, f"run{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        record, result = measure(args, state, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record, sort_keys=True))
    print(json.dumps(result))
    return 0


def measure(args, state: str, work: str) -> tuple[dict, dict]:
    """One run: host fit, Spark session, workload, traced probes; returns
    (record, result). Every process started here has ended on return."""
    import harness
    import layers
    import workloads

    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    eventlog = os.path.join(work, "eventlog") if args.trace else None
    if eventlog:
        os.makedirs(eventlog)
    fit = host_fit(work)
    os.environ["PYSPARK_SUBMIT_ARGS"] = submit_args(work, eventlog)

    tracer = harness.Tracer()
    extra: dict = {}
    try:
        if args.trace:
            extra["control.phase_start_s"] = harness.phase_control()
        with harness.RssSampler() as rss:
            spark = workloads.start_spark(tracer, fit["cores"])
            ctx = workloads.Ctx(spark, tracer, args.seed, args.seconds,
                                os.path.join(ROOT, ".perfbench_cache"),
                                work, fit["cores"])
            res = workloads.WORKLOADS[args.workload](ctx)
        if args.trace:
            extra["control.phase_end_s"] = harness.phase_control()
            figures, probe_checks = layers.probe(ctx, args.workload, res)
            extra.update(figures)
            res["checks"].update(probe_checks)
            extra["control.hw_ceiling"] = harness.hw_ceiling(
                1, fit["cores"])
    finally:
        pids = harness.descendants(os.getpid())
        stop_jvm()
        reap(pids)

    session = tracer.durations("session.start")[0]
    # memory while the workload is set up and measured; the oracle checks
    # after the timed loop run in this process and do not count
    peak, peak_by_name = rss.peak(until=res["loop_end"])
    e2e = {"op_p50_s": harness.median(res["ops"]),
           "throughput_per_s": res["work"] / res["busy_s"],
           "setup_s": (session + harness.median(res["setups"])
                       + res.get("setup_once", 0.0)),
           "peak_rss_mb": peak / 2**20}
    checks = res["checks"]
    attempted = len(res["ops"]) + len(checks)
    failed = sum(not ok for ok in checks.values())
    # trace.overhead_frac compares with untraced runs of the same
    # workload, seed and sources only
    history = os.path.join(state, "untraced.json")
    key = f"{args.workload} {args.seed} {source_digest()}"
    if args.trace:
        vals = layers.report(tracer, res, extra, layers.event_logs(eventlog),
                             layers.untraced_p50(history, key),
                             e2e["op_p50_s"])
        metrics = {k: {"value": float(vals.get(k, 0.0)), "unit": u}
                   for k, u in per_layer_names().items()}
    else:
        layers.remember_p50(history, key, e2e["op_p50_s"])
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]}
                   for k, v in e2e.items()}
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "host": fit, "end_to_end": e2e,
              "figures": {k: {"value": v, "unit": u}
                          for k, (v, u) in res["detail"].items()},
              "fail_frac": failed / attempted, "checks": checks,
              "peak_rss_mb_by_process": {k: v / 2**20
                                         for k, v in peak_by_name.items()},
              "ops_s": res["ops"]}
    if args.trace:
        record["per_layer"] = {k: m["value"] for k, m in metrics.items()}
    return record, {"correct": failed == 0, "attempted": attempted,
                    "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
