"""Primitive-layer probes for the traced run, on a workload's own URLs
and pages: murmur3 batch hashing, bloom and cuckoo probe/delete, URL
canonicalization, the Arrow extractor and a standalone frontier dequeue.
Each is timed from outside, around one call into the public function."""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def engine_probes(corpus: str, max_urls: int = 20000) -> dict:
    """Primitive probes on up to ``max_urls`` of the corpus's URLs; the
    filters are sized by the corpus's own parameters and hold half the
    URLs, so half the probes hit."""
    from delver_spark.engine.bloom import BloomFilter
    from delver_spark.engine.cuckoo import SLOTS, ShardedCuckoo
    from delver_spark.engine.murmur import hash128_batch
    from delver_spark.engine.urlnorm import canonicalize

    with open(os.path.join(corpus, "params.json")) as f:
        params = json.load(f)
    t = pq.read_table(os.path.join(corpus, "pages.parquet"),
                      columns=["url", "url_canon"]).slice(0, max_urls)
    raw = t.column("url").to_pylist()
    urls = t.column("url_canon").to_pylist()
    keys = np.array(urls, dtype=object)
    n, half = len(urls), len(urls) // 2
    out = {}

    dt, _ = _timed(lambda: hash128_batch(keys))
    out["murmur.hash128_ns_per_key"] = dt / n * 1e9
    dt, _ = _timed(lambda: [canonicalize(u) for u in raw])
    out["urlnorm.canonicalize_us_per_url"] = dt / n * 1e6

    bloom = BloomFilter(params["bloom_max_n"], params["bloom_p"])
    bloom.add_many(urls[:half])
    dt, hits = _timed(lambda: bloom.contains_batch(urls))
    if not np.asarray(hits)[:half].all():
        raise AssertionError("bloom probe missed an inserted url")
    out["bloom.contains_ns_per_key"] = dt / n * 1e9
    fill = int(np.unpackbits(bloom.words.view(np.uint8)).sum()) / bloom.m
    out["bloom.fill_ratio"] = fill
    out["bloom.est_fpr"] = fill ** bloom.k

    cuckoo = ShardedCuckoo.empty(params.get("cuckoo_shards", 4),
                                 params.get("cuckoo_capacity")
                                 or params["bloom_max_n"])
    cuckoo.add_many_canonical(urls[:half])
    dt, hits = _timed(lambda: cuckoo.contains_batch(urls))
    if not np.asarray(hits)[:half].all():
        raise AssertionError("cuckoo probe missed an inserted url")
    out["cuckoo.contains_ns_per_key"] = dt / n * 1e9
    out["cuckoo.load_factor"] = cuckoo.n / sum(
        f.m * SLOTS for f in cuckoo.filters)
    victims = urls[:min(half, 2000)]
    dt, _ = _timed(lambda: [cuckoo.delete(u) for u in victims])
    out["cuckoo.delete_ns_per_key"] = dt / len(victims) * 1e9
    return out


def extract_probe(corpus: str, n_pages: int = 512) -> dict:
    """The Arrow extractor over ``n_pages`` payload rows in 256-row
    batches (the crawl's fetch batch size), in this process."""
    from delver_spark.operators.extract import make_extractor_arrow

    t = pq.read_table(os.path.join(corpus, "pages.parquet"),
                      columns=["url_canon", "host", "bytes", "fmt",
                               "caption", "phash", "pix_md5"]
                      ).slice(0, n_pages)
    n = t.num_rows
    t = t.append_column("pos", pa.array(np.arange(n, dtype=np.int64))) \
        .append_column("depth", pa.array(np.zeros(n, dtype=np.int32)))
    batches = t.to_batches(max_chunksize=256)
    extractor = make_extractor_arrow(8, emit_text=False)
    dt, rows = _timed(lambda: sum(b.num_rows for b in extractor(
        iter(batches))))
    if rows != n:
        raise AssertionError(f"extractor returned {rows} of {n} rows")
    payload = pc.sum(pc.binary_length(t.column("bytes"))).as_py()
    return {"extract.us_per_page": dt / n * 1e6,
            "extract.mb_per_s": payload / dt / 1e6}


def prefill_frontier(spark, corpus: str, parts: int):
    """Every page URL at depth 0, priority 0, in url order: the drain
    frontier (bench_scaling.py's prefill)."""
    from delver_spark.operators.frontier import FRONTIER_SCHEMA

    pages = spark.read.parquet(os.path.join(corpus, "pages.parquet")) \
        .select("url_canon", "host").orderBy("url_canon")
    rows = spark.createDataFrame(
        pages.rdd.zipWithIndex().map(
            lambda t: (0, 0, t[1], t[0][0], t[0][1], 0, None)),
        FRONTIER_SCHEMA)
    return rows.repartition(parts, "host").localCheckpoint(eager=True)


def dequeue_probe(frontier, per_host_budget: int, global_budget: int) -> dict:
    """One standalone ``frontier.dequeue`` on a checkpointed frontier,
    forced with a count."""
    from delver_spark.operators.frontier import dequeue

    dt, n = _timed(lambda: dequeue(frontier, per_host_budget,
                                   global_budget).count())
    if n == 0:
        raise AssertionError("dequeue returned an empty batch")
    return {"frontier.dequeue_s": dt}
