"""Per-layer figures for the traced run: the layer probes that run after
the timed loop, and the report that joins spans, the crawl's own
``timings`` dict and the Spark event log into one flat dict of per-layer
metrics. A layer the workload does not exercise reports 0."""

from __future__ import annotations

import glob
import json
import os

from harness import (SPARK_KEYS, Tracer, median, parse_event_log, self_time,
                     tail, total)

# spans whose Spark jobs make up the workload's measured work
MEASURED = ("round", "checkpoint", "resume", "query")


def probe(ctx, workload: str, res: dict) -> tuple[dict, dict]:
    """Primitive, extractor and dequeue probes on the workload's own
    corpus (a small seeded corpus for the analytics workload, which has
    none); on ``crawl_rounds`` the cuckoo recrawl probe, on ``crawl_drain``
    the local[1] leg of the N -> 4N pair, and on ``analytics_queries``
    the TRACED_QUERIES. Returns (figures, checks)."""
    import inputs
    import kernels
    import workloads

    corpus = res["corpus"] or inputs.crawl_corpus(
        ctx.cache, seed=ctx.seed, n_pages=2000, n_hosts=50, n_seeds=10)
    with open(os.path.join(corpus, "params.json")) as f:
        p = json.load(f)
    out = kernels.engine_probes(corpus)
    out.update(kernels.extract_probe(corpus))
    front = kernels.prefill_frontier(ctx.spark, corpus, ctx.cores * 4)
    out.update(kernels.dequeue_probe(front, p["per_host_budget"],
                                     p["global_budget"]))
    checks: dict[str, bool] = {}
    if workload == "crawl_rounds":
        # a 10 s window seldom reaches the loop's own resume
        rc, checks = workloads.recrawl_probe(ctx, corpus)
        out["crawl.readmit_s"] = rc.durations("readmit")[0]
        out["snapshot.resume_s"] = median(ctx.tracer.durations("resume")
                                          + rc.durations("resume"))
    if workload == "crawl_drain":
        out.update(_single_core_drain(ctx, corpus, median(res["ops"])))
    if workload == "analytics_queries":
        names = workloads.TRACED_QUERIES
        checks = workloads.check_queries(ctx, res["tables"], names)
        tracer = Tracer(ctx.tracer.sc, prefix="tq")
        c = workloads.Ctx(ctx.spark, tracer, ctx.seed, 0, ctx.cache,
                          ctx.work, ctx.cores)
        for _ in range(3):
            for name in names:
                workloads.run_query(c, res["tables"], name)
        out.update(_per_query(tracer))
    return out, checks


def _single_core_drain(ctx, corpus: str, t4: float) -> dict:
    """The same drain on a fresh local[1] context in the same JVM;
    scaling_eff = (T1 / T4) / cores."""
    from workloads import (Ctx, drain_once, prefilled, start_spark,
                           warm_drain)

    ctx.spark.stop()
    tracer = Tracer(prefix="t1_")
    spark = start_spark(tracer, 1)
    c1 = Ctx(spark, tracer, ctx.seed, 0, ctx.cache, ctx.work, ctx.cores)
    front = prefilled(c1, corpus)
    warm_drain(c1, corpus, front)
    drain_once(c1, corpus, front)
    t1 = sum(tracer.durations("round"))
    ctx.spark = spark
    return {"drain.t4_s": t4, "drain.t1_s": t1,
            "drain.scaling_eff": t1 / t4 / ctx.cores}


def event_logs(d: str) -> list[str]:
    """Every event-log file under ``d``: one file per application, or a
    rolling ``eventlog_v2_*`` directory of ``events_*`` files."""
    return sorted(p for p in glob.glob(os.path.join(d, "**"), recursive=True)
                  if os.path.isfile(p)
                  and not os.path.basename(p).startswith("appstatus"))


def untraced_p50(path: str, key: str) -> float | None:
    """Median op_p50_s of the untraced runs remembered under ``key``."""
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return median(json.load(f).get(key, [])) or None


def remember_p50(path: str, key: str, value: float) -> None:
    """Remember an untraced run's op_p50_s under ``key`` (the last 10)."""
    runs = {}
    if os.path.exists(path):
        with open(path) as f:
            runs = json.load(f)
    runs[key] = (runs.get(key, []) + [value])[-10:]
    with open(path, "w") as f:
        json.dump(runs, f)


def _per_query(tracer: Tracer) -> dict:
    """query.<name>_s: the median of each query's ``query`` spans."""
    by_query: dict[str, list[float]] = {}
    for s in tracer.named("query"):
        by_query.setdefault(s.attrs["query"], []).append(s.duration)
    return {f"query.{q}_s": median(ds) for q, ds in by_query.items()}


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def report(tracer: Tracer, res: dict, extra: dict, logs: list[str] | None,
           untraced: float | None, op_p50: float) -> dict:
    from workloads import STAGES

    out = dict(extra)
    out["session.start_s"] = tracer.durations("session.start")[0]
    out["session.warmup_s"] = sum(tracer.durations("warmup"))
    if "drain.scaling_eff" in out and out.get("control.hw_ceiling"):
        out["drain.scaling_eff_norm"] = (out["drain.scaling_eff"]
                                         / out["control.hw_ceiling"])
    out["trace.overhead_frac"] = op_p50 / untraced - 1 if untraced else 0.0

    rounds = tracer.named("round")
    if rounds:
        for st in STAGES:
            out[f"crawl.{st}_s"] = sum(tracer.durations(f"stage.{st}")) \
                / len(rounds)
        out["crawl.adm_admit_ckpt_s"] = _mean(
            [r.attrs["timings"].get("adm_admit_ckpt", 0.0) for r in rounds])
        # round wall time its stage spans do not cover
        out["crawl.unaccounted_s"] = _mean(
            [self_time(r, tracer.spans) for r in rounds])
        durs = [r.duration for r in rounds]
        out["crawl.round_s"] = _mean(durs)
        out["crawl.round_tail_s"] = (tail(durs) or (0.0,))[0]
        out["crawl.urls_per_round"] = _mean([r.attrs["urls"] for r in rounds])
    for k, (v, _) in res["detail"].items():
        if k in ("frontier_ops_per_s", "checkpoint_p50_s"):
            out[f"crawl.{k}"] = v
    out["query.suite_s"] = res["detail"].get("query_suite_s", (0.0,))[0]
    out["crawl.host_skew"] = res.get("host_skew", 0.0)
    out["snapshot.checkpoint_s"] = median(tracer.durations("checkpoint"))
    out.setdefault("snapshot.resume_s",
                   median(tracer.durations("resume")))
    out["snapshot.bytes_written"], out["snapshot.files_written"] = \
        res.get("snapshot", (0, 0))
    out.update(_per_query(tracer))

    if logs:
        out.update(_spark_layers(tracer, parse_event_log(logs), len(rounds)))
    return out


def _spark_layers(tracer: Tracer, jobs: list[dict], n_rounds: int) -> dict:
    """Tie every job to a span: by its job group, or, for a job submitted
    without one, by the span open when it was submitted."""
    by_group = {tracer.group(s): s for s in tracer.spans}
    measured, round_jobs, unattributed = [], [], 0
    for j in jobs:
        sp = by_group.get(j["group"])
        if sp is None and j["group"] is None:
            sp = tracer.span_at(j["submitted"] - tracer.epoch0)
        while sp is not None and sp.name not in MEASURED:
            sp = None if sp.parent is None else tracer.spans[sp.parent]
        if sp is None:
            continue
        measured.append(j)
        unattributed += j["group"] is None
        if sp.name == "round":
            round_jobs.append(j)
    out = {f"spark.{k}": v for k, v in total(measured).items()
           if k in SPARK_KEYS}
    out["crawl.unattributed_jobs"] = unattributed
    if n_rounds:
        out["crawl.jobs_per_round"] = len(round_jobs) / n_rounds
        out["crawl.shuffle_bytes_per_round"] = total(round_jobs)[
            "shuffle_write_bytes"] / n_rounds
    return out
