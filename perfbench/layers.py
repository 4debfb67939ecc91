"""Microbenchmarks of the kernels that run inside executors.

The fetch adapter, the URL canonicalizer and the seen-filter families
run in executor tasks, where driver-side spans cannot see them; they are
timed here through their public functions, after the timed region of a
traced run. Every input is generated from the run's seed.
"""
from __future__ import annotations

import statistics
import time

import numpy as np


def _median_time(fn, reps: int = 3) -> float:
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


def urls(spark, seed: int, n: int = 100_000) -> tuple[dict, int]:
    """Canonicalizer on canonical input (guard path) and on messy input
    (full path), and host extraction. Returns (metrics, mismatches): a
    canonical URL must come back unchanged and its messy twin must
    canonicalize to it."""
    from pyspark.sql import functions as F

    from findopendata_spark.functions.urls import canonicalize_url, url_host

    ids = spark.range(n).select(((F.col("id") * 7919 + seed) % 10**9).alias("i"))
    path = F.lpad(F.col("i").cast("string"), 12, "0")
    host_no = (F.col("i") % 24).cast("string")
    clean = F.concat(F.lit("https://data-"), host_no, F.lit(".example.net/d/"), path)
    messy = F.concat(F.lit("HTTPS://Data-"), host_no,
                     F.lit(".Example.NET:443/d/"), path, F.lit("#frag"))
    df = ids.select(clean.alias("clean"), messy.alias("messy")).localCheckpoint()

    def run(expr):
        return lambda: df.select(F.bit_xor(F.xxhash64(expr))).collect()

    t_clean = _median_time(run(canonicalize_url(F.col("clean"))))
    t_messy = _median_time(run(canonicalize_url(F.col("messy"))))
    t_host = _median_time(run(url_host(F.col("clean"))))
    bad = df.filter(
        (canonicalize_url(F.col("clean")) != F.col("clean"))
        | (canonicalize_url(F.col("messy")) != F.col("clean"))
    ).count()
    return {
        "functions.urls.canon_clean_rows_per_s": n / t_clean,
        "functions.urls.canon_messy_rows_per_s": n / t_messy,
        "functions.urls.url_host_rows_per_s": n / t_host,
    }, bad


def fetch(seed: int, batches: int = 10, batch: int = 10_000) -> dict:
    """``SyntheticFetchAdapter.fetch_batch`` on Arrow batches of 10k URLs."""
    import pyarrow as pa

    from findopendata_spark.crawler.fetch import SyntheticFetchAdapter
    from findopendata_spark.crawler.graph import GraphConfig, splitmix64

    adapter = SyntheticFetchAdapter(GraphConfig(fail_ppt=20))
    inputs = []
    for b in range(batches):
        h = splitmix64(np.arange(b * batch, (b + 1) * batch, dtype=np.uint64)
                       + np.uint64(seed))
        urls = pa.array([f"https://hot.example.net/d/{int(x):012d}"
                         for x in (h % np.uint64(10**9))])
        inputs.append((urls, h, np.ones(batch, dtype=np.int32)))
    spans = 0
    t0 = time.perf_counter()
    for urls, h, d in inputs:
        spans += len(adapter.fetch_batch(urls, h, d).offset)
    wall = time.perf_counter() - t0
    n = batches * batch
    return {"crawler.fetch.urls_per_s": n / wall,
            "crawler.fetch.spans_per_url": spans / n}


def seen_filters(spark, seed: int, n: int = 150_000) -> tuple[dict, int]:
    """Build each seen-filter family over ``n`` known keys, then probe the
    known keys (every one must be flagged: ``false_neg`` = 0) and ``n``
    keys known to be new (the share flagged is the false-positive rate the
    exact anti-join pays for). Returns (metrics, false negatives)."""
    from pyspark.sql import functions as F

    from findopendata_spark.config import CrawlConfig
    from findopendata_spark.crawler.seen import ShardedSeenFilter

    def keys(lo, hi):
        return spark.range(lo, hi).select(
            F.xxhash64(F.concat(F.lit(f"u{seed}/"), F.col("id").cast("string")))
            .alias("url_hash")).localCheckpoint()

    old, new = keys(0, n), keys(n, 2 * n)
    out, false_neg = {}, 0
    for kind in ("bloom", "cuckoo"):
        cfg = CrawlConfig(seen_filter=kind)
        t0 = time.perf_counter()
        filt = ShardedSeenFilter.build(old, int(n * 1.5), cfg)
        build_s = time.perf_counter() - t0

        def flagged(df):
            return filt.with_maybe_seen(spark, df).agg(
                F.sum(F.col("maybe_seen").cast("long"))).collect()[0][0] or 0

        t0 = time.perf_counter()
        hit_old, hit_new = flagged(old), flagged(new)
        probe_s = time.perf_counter() - t0
        p = f"crawler.seen.{kind}."
        out[p + "build_s"] = build_s
        out[p + "probe_rows_per_s"] = 2 * n / probe_s
        out[p + "fpp"] = hit_new / n
        out[p + "filter_bytes"] = sum(len(b) for b in filt.shards.values())
        out[p + "false_neg"] = n - hit_old
        false_neg += n - hit_old
    return out, false_neg
