"""The workloads (``WORKLOADS``, the ones BENCHMARK.json lists). Each
drives the program from one driver thread in a closed loop (the next call
starts when the previous one returns) for the run's ``seconds``, wraps
every call into the program in a span, and checks the outputs against the
oracles after the timed loop.

A workload returns a dict:
  ops       durations of its unit operation (a ``run_round`` call, or one
            pass over the gate queries)
  work      URLs fetched (crawl) or queries in a pass (analytics)
  busy_s    the wall time ``work`` took: all the rounds, or the median
            pass
  setups    durations of each per-operation set-up (engine creation)
  setup_once  set-up paid once per run besides the session (prefill)
  checks    {check name: True if it matched}
  detail    the workload's named end-to-end figures, {name: (value, unit)}
  corpus    the crawl corpus the kernel probes read (None for analytics)
  loop_end  perf_counter time at the end of the timed loop
"""

from __future__ import annotations

import os
import tempfile
import time
from dataclasses import dataclass

import numpy as np

from harness import Tracer, median, tail

# the stage marks run_round records in its ``timings`` dict; together they
# cover the round (admission contains adm_* sub-stages)
STAGES = ("dequeue", "fetch_extract", "admission", "state_updates",
          "bloom_merge")

# fixed-cost-dominated crawl: at most G=64 URLs per round from the start
ROUNDS_CORPUS = dict(n_pages=4000, n_hosts=100, n_seeds=20,
                     per_host_budget=4, global_budget=64,
                     max_rounds=1000, max_depth=3)
WARM_ROUNDS = 2
# the round after a checkpoint runs ~20% slower; checkpointing after every
# second round leaves one such round among the 3-4 rounds of a 10 s
# window, wherever the window ends, so the median reads the others
CHECKPOINT_EVERY = 2
RESUME_EVERY = 6
# the traced recrawl probe: cuckoo seen-set rounds, with a readmit of the
# first RECRAWL_READMIT fetched URLs after round 2 and a resume after 3
RECRAWL_ROUNDS = 4
RECRAWL_READMIT = 16
# the drain: every page prefilled and fetched in one round, where
# fetch_extract and admission take about three quarters of it; G above
# 10000 selects the engine's distributed (big-round) fetch path
DRAIN_PAGES = 2048
# untimed drains first: the first few drains in a session run slower
WARM_DRAINS = 2
DRAIN_G = 10001
DRAIN_SIZES = (48, 64, 96)

# one gate query per operator family the query layer exposes
QUERIES = (
    "q3_shipping_priority",      # 3-way join + aggregate + top-k
    "j3_seen_anti_join",         # anti join
    "dedup_exact",               # operators.dedup
    "text_quality_ops",          # operators.textstats
    "ann_ivf_nprobe",            # operators.similarity
    "pack_training_shards",      # operators.assemble
)
# the webdataset and multimodal gate queries take 2-4 s each, too long
# for a timed pass; the traced run checks and times them once
TRACED_QUERIES = (
    "image_bucket_batches",       # operators.multimodal
    "export_webdataset_manifest",  # operators.webdataset
)
QUERY_SCALE = 1
# untimed noop passes first: in a fresh session the second pass runs
# about 3x faster than the first, the fourth another 20% faster (the JVM
# compiling the query path), and later passes only slowly faster
WARM_PASSES = 3


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    cache: str
    work: str
    cores: int

    def workdir(self, tag: str) -> str:
        return tempfile.mkdtemp(prefix=f"{tag}_", dir=self.work)


def start_spark(tracer: Tracer, cores: int):
    """get_spark, timed. Each workload then warms its own path in a
    ``warmup`` span before it measures."""
    from delver_spark.session import get_spark

    with tracer.span("session.start"):
        spark = get_spark("perfbench", cpus=cores)
    spark.sparkContext.setLogLevel("ERROR")
    tracer.sc = spark.sparkContext
    return spark


# -- crawl helpers -------------------------------------------------------


def _round(ctx: Ctx, eng) -> bool:
    fetched, ops = eng.fetch_seq, eng.seq + eng.fetch_seq
    timings: dict = {}
    with ctx.tracer.span("round") as sp:
        ok = eng.run_round(timings)
    sp.attrs.update(timings=timings, urls=eng.fetch_seq - fetched,
                    frontier_ops=eng.seq + eng.fetch_seq - ops)
    # the engine's stage marks run back to back from the round's start
    t = sp.start
    for st in STAGES:
        ctx.tracer.add(f"stage.{st}", sp, t, t + timings.get(st, 0.0))
        t += timings.get(st, 0.0)
    return ok


def _oracle(corpus: str, seen_filter: str):
    from delver_spark.oracle.crawler import OracleCrawler, load_corpus

    pages, robots, seeds, p = load_corpus(corpus)
    return OracleCrawler(
        pages, robots, seeds, max_depth=p["max_depth"],
        per_host_budget=p["per_host_budget"],
        global_budget=p["global_budget"], max_rounds=0,
        bloom_max_n=p["bloom_max_n"], bloom_p=p["bloom_p"],
        bloom_count=p.get("bloom_count", 1),
        robots_ttl_rounds=p.get("robots_ttl_rounds"),
        seen_filter=seen_filter,
        cuckoo_shards=p.get("cuckoo_shards", 4),
        cuckoo_capacity=p.get("cuckoo_capacity"))


_ORDER_COLS = ["seq", "url_canon", "depth", "round", "host", "success"]
_LINEAGE_COLS = ["round", "partition", "fetched", "deduped", "enqueued",
                 "stashed"]


def _compare(eng, res, tag: str) -> dict[str, bool]:
    """Crawl order, seen-set bytes and lineage: engine vs oracle."""
    def rows(df, cols):
        return list(df[cols].itertuples(index=False, name=None)) \
            if len(df) else []

    order = [tuple(r[c] for c in _ORDER_COLS) for r in res.crawl_order]
    lineage = [tuple(r[c] for c in _LINEAGE_COLS) for r in res.lineage]
    if eng.seen_filter == "cuckoo":
        seen = eng.cuckoo.to_bytes() == res.cuckoo.to_bytes()
    else:
        seen = (np.array_equal(eng.bloom.bit_positions(),
                               res.bloom.bit_positions())
                and eng.bloom.n == res.bloom.n)
    return {f"{tag}.crawl_order": rows(eng.crawl_order_df(),
                                       _ORDER_COLS) == order,
            f"{tag}.seen_set": bool(seen),
            f"{tag}.lineage": rows(eng.lineage_df(), _LINEAGE_COLS) == lineage}


def host_skew(path: str) -> float:
    """max / median per-host row count of a frontier (or pages) table."""
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet").to_table(columns=["host"])
    if t.num_rows == 0:
        return 0.0
    counts = t.group_by("host").aggregate([("host", "count")]) \
        .column("host_count").to_numpy()
    return float(counts.max() / np.median(counts))


def snapshot_footprint(workdir: str, checkpoints: int):
    """Bytes and files the snapshot layer left in a workdir, per
    checkpoint."""
    size = files = 0
    for root, _, names in os.walk(workdir):
        for n in names:
            if not n.endswith(".crc"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return (size / checkpoints, files / checkpoints) if checkpoints \
        else (0, 0)


def _crawl_result(ctx: Ctx, corpus: str, checks: dict) -> dict:
    t = ctx.tracer
    rounds = t.named("round")
    durs = [s.duration for s in rounds]
    busy = sum(durs)
    urls = sum(s.attrs["urls"] for s in rounds)
    detail = {"urls_per_s": (urls / busy, "1/s"),
              "frontier_ops_per_s": (sum(s.attrs["frontier_ops"]
                                         for s in rounds) / busy, "1/s"),
              "round_p50_s": (median(durs), "s"),
              "rounds": (len(durs), "count")}
    tl = tail(durs)
    if tl:
        detail["round_tail_s"] = (tl[0], "s")
        detail["round_tail_pct"] = (tl[1], "%")
    for name in ("checkpoint", "resume"):
        if t.named(name):
            detail[f"{name}_p50_s"] = (median(t.durations(name)), "s")
    return {"ops": durs, "work": urls, "busy_s": busy,
            "setups": t.durations("setup"), "checks": checks,
            "detail": detail, "corpus": corpus}


def crawl_rounds(ctx: Ctx) -> dict:
    """dfs mode, bloom seen-set, rounds of at most 64 URLs, on the seeded
    ROUNDS_CORPUS: WARM_ROUNDS untimed rounds, then timed rounds until the
    time is up, with a checkpoint every CHECKPOINT_EVERY timed rounds and
    a stop + ``resume`` from it every RESUME_EVERY. The oracle then
    replays the same rounds in one uninterrupted run, so equality with it
    also pins resume == uninterrupted."""
    import inputs
    from delver_spark.operators.crawl import CrawlEngine

    corpus = inputs.crawl_corpus(ctx.cache, seed=ctx.seed, **ROUNDS_CORPUS)
    wd = ctx.workdir("crawl")
    with ctx.tracer.span("setup"):
        eng = CrawlEngine(ctx.spark, corpus, wd, seen_filter="bloom",
                          collect_documents=False)
        eng.seed()
    with ctx.tracer.span("warmup"):
        for _ in range(WARM_ROUNDS):
            eng.run_round()
    t_end = time.perf_counter() + ctx.seconds
    timed = 0
    while time.perf_counter() < t_end and _round(ctx, eng):
        timed += 1
        if timed % CHECKPOINT_EVERY == 0:
            with ctx.tracer.span("checkpoint"):
                eng.checkpoint()
            if timed % RESUME_EVERY == 0:
                with ctx.tracer.span("resume"):
                    eng = CrawlEngine.resume(ctx.spark, corpus, wd,
                                             collect_documents=False)
    loop_end = time.perf_counter()
    oc = _oracle(corpus, "bloom")
    oc.max_rounds = eng.round
    out = _crawl_result(ctx, corpus, _compare(eng, oc.run(), "crawl"))
    out["loop_end"] = loop_end
    out["snapshot"] = snapshot_footprint(
        wd, len(ctx.tracer.named("checkpoint")))
    m = eng.store.last_manifest()
    out["host_skew"] = host_skew(m["frontier_dir"]) if m else 0.0
    return out


def recrawl_probe(ctx: Ctx, corpus: str) -> tuple[Tracer, dict]:
    """The seen-set's write and delete side, on its own tracer: the
    cuckoo seen-set for RECRAWL_ROUNDS rounds with a checkpoint after
    each, a timed ``readmit_df`` of the first RECRAWL_READMIT fetched URLs
    after round 2 and a stop + ``resume`` after round 3. The oracle runs
    the same rounds and readmit uninterrupted. Returns (the probe's
    tracer, with its ``readmit`` and ``resume`` spans; checks)."""
    from delver_spark.engine.murmur import hash128_batch
    from delver_spark.operators.crawl import CrawlEngine

    tracer = Tracer(ctx.tracer.sc, prefix="rc")
    wd = ctx.workdir("recrawl")
    eng = CrawlEngine(ctx.spark, corpus, wd, seen_filter="cuckoo",
                      collect_documents=False)
    eng.seed()
    oc = _oracle(corpus, "cuckoo")
    urls: list[str] = []
    for rnd in range(1, RECRAWL_ROUNDS + 1):
        eng.run_round()
        eng.checkpoint()
        if rnd == 2:
            urls = eng.crawl_order_df()["url_canon"].tolist()[
                :RECRAWL_READMIT]
            df = ctx.spark.createDataFrame([(u,) for u in urls],
                                           "url string")
            with tracer.span("readmit"):
                n = eng.readmit_df(df)
            if n != len(urls):
                raise AssertionError(f"readmit_df took {n} of {len(urls)}")
            # readmit_df re-enqueues in (h1, h2) order of the url hashes
            oc.max_rounds = rnd
            oc.run()
            h1, h2 = hash128_batch(np.array(urls, dtype=object))
            oc.readmit([urls[i] for i in np.lexsort((h2, h1))])
        if rnd == 3:
            with tracer.span("resume"):
                eng = CrawlEngine.resume(ctx.spark, corpus, wd,
                                         collect_documents=False)
    oc.max_rounds = eng.round
    return tracer, _compare(eng, oc.run(), "recrawl")


def drain_corpus(ctx: Ctx) -> str:
    import inputs

    return inputs.crawl_corpus(
        ctx.cache, seed=ctx.seed, n_pages=DRAIN_PAGES, n_hosts=200,
        n_seeds=10, per_host_budget=1 << 30, global_budget=DRAIN_G,
        max_rounds=2, golden_pixel_cap=0, sizes=DRAIN_SIZES)


def drain_once(ctx: Ctx, corpus: str, frontier) -> tuple[object, int]:
    """A fresh engine on the checkpointed prefilled ``frontier`` (which
    the engine never mutates), drained in one big-G round; returns
    (engine, prefilled rows)."""
    from delver_spark.operators.crawl import CrawlEngine

    with ctx.tracer.span("setup"):
        eng = CrawlEngine(ctx.spark, corpus, ctx.workdir("drain"),
                          collect_documents=False, collect_order=False)
        eng.frontier = frontier
        eng.frontier_count = eng._base_count = eng.seq = frontier.count()
    n = eng.frontier_count
    while eng.fetch_seq < n and _round(ctx, eng):
        pass
    return eng, n


def prefilled(ctx: Ctx, corpus: str):
    from kernels import prefill_frontier

    with ctx.tracer.span("prefill"):
        return prefill_frontier(ctx.spark, corpus, ctx.cores * 4)


def warm_drain(ctx: Ctx, corpus: str, frontier) -> None:
    """WARM_DRAINS untimed drains of ``frontier``, recorded on a tracer of
    their own: with one, the first timed drain still runs ~10% slower."""
    with ctx.tracer.span("warmup"):
        warm = Ctx(ctx.spark, Tracer(ctx.tracer.sc, prefix="warm"),
                   ctx.seed, 0, ctx.cache, ctx.work, ctx.cores)
        for _ in range(WARM_DRAINS):
            drain_once(warm, corpus, frontier)


def crawl_drain(ctx: Ctx) -> dict:
    """Every page of a DRAIN_PAGES corpus with 48-96 px payloads
    prefilled, then drained in one big-G round by a fresh engine, over
    and over until the time is up, after the untimed warm drains."""
    corpus = drain_corpus(ctx)
    front = prefilled(ctx, corpus)
    warm_drain(ctx, corpus, front)
    checks = {}
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end:
        eng, n = drain_once(ctx, corpus, front)
        checks[f"drain{len(checks)}.fetched_eq_prefilled"] = \
            eng.fetch_seq == n
    loop_end = time.perf_counter()
    out = _crawl_result(ctx, corpus, checks)
    out["loop_end"] = loop_end
    out["setup_once"] = sum(ctx.tracer.durations("prefill"))
    out["host_skew"] = host_skew(os.path.join(corpus, "pages.parquet"))
    return out


def check_queries(ctx: Ctx, sf: str, names) -> dict[str, bool]:
    """Run each named gate query once, collect its result and compare it
    with its DuckDB ``oracle_sql()`` twin."""
    import duckdb

    import __spark_entry__ as entry

    qs, sqls = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in entry.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        return {f"query.{name}": _canon(
                    qs[name](ctx.spark, sf).toPandas()).equals(
                    _canon(con.execute(sqls[name]).df()))
                for name in names}
    finally:
        con.close()


def run_query(ctx: Ctx, sf: str, name: str) -> None:
    """One gate query through the noop sink, in a ``query`` span."""
    import __spark_entry__ as entry

    query = entry.queries()[name]
    with ctx.tracer.span("query", query=name):
        query(ctx.spark, sf).write.format("noop").mode("overwrite").save()


def analytics_queries(ctx: Ctx) -> dict:
    """Whole passes over the QUERIES gate queries through the noop sink,
    started while the time lasts, after WARM_PASSES untimed ones. After
    the timed loop, each query's result is collected once and compared
    with its DuckDB twin.

    The unit operation is one pass; throughput is queries per second of
    the median pass."""
    import __spark_entry__ as entry
    import inputs

    sf = inputs.query_tables(ctx.cache, ctx.seed, QUERY_SCALE)
    with ctx.tracer.span("setup"):
        for t in entry.TABLES:
            ctx.spark.read.parquet(f"{sf}/{t}.parquet").schema
    with ctx.tracer.span("warmup"):
        warm = Ctx(ctx.spark, Tracer(ctx.tracer.sc, prefix="warm"),
                   ctx.seed, 0, ctx.cache, ctx.work, ctx.cores)
        for _ in range(WARM_PASSES):
            for name in QUERIES:
                run_query(warm, sf, name)
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end:
        with ctx.tracer.span("pass"):
            for name in QUERIES:
                run_query(ctx, sf, name)
    loop_end = time.perf_counter()
    checks = check_queries(ctx, sf, QUERIES)
    passes = ctx.tracer.durations("pass")
    return {"ops": passes, "work": len(QUERIES), "busy_s": median(passes),
            "setups": ctx.tracer.durations("setup"), "checks": checks,
            "detail": {"queries": (len(passes) * len(QUERIES), "count"),
                       "query_p50_s": (median(ctx.tracer.durations(
                           "query")), "s"),
                       "query_suite_s": (median(passes), "s")},
            "corpus": None, "tables": sf, "loop_end": loop_end}


def _canon(df):
    """Order-insensitive exact comparison form (the gate's own rule)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(9)
        elif str(df[c].dtype) == "bool":
            df[c] = df[c].astype(int)
        else:
            try:
                df[c] = df[c].astype("int64")
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


WORKLOADS = {
    "crawl_rounds": crawl_rounds,
    "crawl_drain": crawl_drain,
    "analytics_queries": analytics_queries,
}
