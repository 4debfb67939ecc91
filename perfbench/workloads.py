"""The two workloads and the metrics they report.

``crawl``: an incremental crawl seeded from the portal list (F-bound:
per-wave jobs, staging and commit dominate), with injected fetch
failures, all three index families maintained in every wave commit and
one ``recrawl_stale`` mid-run; then the indexes are loaded from the
catalog and probed.

``analytics``: passes over a fixed subset of the query registry in a
seeded order, then a closed-loop client over the six ``ApiServer``
routes.

Every timed run reports the same end-to-end metric names; what the unit
operation ("op") and the point lookup ("lookup") are depends on the
workload (README.md has the table). Every traced run reports every
per-layer metric: it runs its own workload traced, then a short traced
pass of the other one and the executor-kernel microbenchmarks, so that
each layer is measured whichever workload is traced.
"""
from __future__ import annotations

import json
import os
import random
import statistics
import time

import datagen
import evlog
import layers

E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "op_s": "s",
    "lookup_s": "s",
    "work_per_s": "1/s",
    "peak_rss_mb": "MB",
}

QUERY_IDS = [f"q{i:02d}" for i in range(1, 52) if i != 19]
# the analytics workload's queries, one per hot kernel: canonicalizer
# (q08), BM25 and trigram search (q29, q41: the serving routes are checked
# against them), fused simhash (q49). The embedding kernel runs in the
# crawl's IVF index maintenance and probes; q34 would add ~8 s a run.
SUBSET = ("q08", "q29", "q41", "q49")
ROUTES = ("original_hosts", "keyword_search", "keyword_search_title",
          "similar_packages", "package_brief", "joinable_column_search")

PER_LAYER_UNITS = {
    "session.launch_s": "s",
    "session.start_s": "s",
    "crawler.wave.init_s": "s",
    "crawler.wave.run_wave_s": "s",
    "crawler.wave.recrawl_s": "s",
    "crawler.wave.jobs_per_wave": "count",
    "crawler.wave.stages_per_wave": "count",
    "crawler.wave.core_util": "ratio",
    "crawler.wave.max_task_share": "ratio",
    "crawler.wave.urls_eligible": "count",
    "crawler.wave.urls_fetched": "count",
    "crawler.wave.urls_failed": "count",
    "crawler.wave.urls_candidates": "count",
    "crawler.wave.urls_deduped": "count",
    "crawler.wave.urls_enqueued": "count",
    "crawler.wave.dedup_ratio": "ratio",
    "functions.urls.canon_clean_rows_per_s": "1/s",
    "functions.urls.canon_messy_rows_per_s": "1/s",
    "functions.urls.url_host_rows_per_s": "1/s",
    "crawler.fetch.urls_per_s": "1/s",
    "crawler.fetch.spans_per_url": "count",
    **{f"crawler.seen.{k}.{m}": u for k in ("bloom", "cuckoo") for m, u in (
        ("build_s", "s"), ("probe_rows_per_s", "1/s"), ("fpp", "ratio"),
        ("filter_bytes", "bytes"), ("false_neg", "count"))},
    "catalog.stage_s": "s",
    "catalog.commit_s": "s",
    "catalog.bytes_per_wave": "bytes",
    "catalog.files_per_wave": "count",
    "indexing.trigram_load_s": "s",
    "indexing.ivf_load_s": "s",
    "indexing.sketch_load_s": "s",
    "indexing.bytes_per_wave": "bytes",
    **{f"queries.{q}_s": "s" for q in SUBSET},
    "queries.build_s": "s",
    "queries.collect_s": "s",
    "serving.warm_s": "s",
    **{f"serving.{r}_p50_s": "s" for r in ROUTES},
    "process.jvm_cpu_s": "s",
    "process.pyworker_cpu_s": "s",
    "process.gc_s": "s",
    "process.shuffle_write_bytes": "bytes",
    "process.spill_bytes": "bytes",
    "trace.overhead_s": "s",
}
# set-ups after the JVM launch; setup_s is their median. The first one
# runs on a cold JIT, so the median is over the warm ones.
SETUPS = {"crawl": 3, "analytics": 3}
# closed-loop lookup rounds (one lookup of each kind) per timed run, at
# least: the crawl's 3 index probes are ~0.05-0.4 s, a round of the 6
# routes ~6 s (joinable_column_search alone is ~3 s).
LOOKUP_ROUNDS = {"crawl": 6, "analytics": 2}
MAX_LOOKUPS = 360   # a whole number of rounds of 3 or 6 kinds


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least ten samples above it."""
    if n < 20:
        return None
    return int(100 * (n - 10) / n)


def summarize(values: list[float]) -> dict:
    """Median plus the tail percentile, with the sample count."""
    vals = sorted(values)
    n = len(vals)
    p = tail_percentile(n)
    tail = vals[-1] if p is None else vals[min(n - 1, int(n * p / 100))]
    return {"p50": statistics.median(vals), "tail": tail,
            "tail_pct": p if p is not None else 100, "n": n}


def kind_mean(by_kind: dict) -> float:
    """Geometric mean over kinds of each kind's median latency. A run's
    operations and lookups mix kinds whose latencies differ by up to 30x;
    the median of the mix is one or two samples of whichever kind sits in
    the middle, while this weighs every kind and every sample alike."""
    return statistics.geometric_mean(statistics.median(v) for v in by_kind.values())


def run(name: str, ctx) -> dict:
    """A timed run is the workload's flow. A traced run is the workload's
    flow, then a short flow of the other workload, then the executor-kernel
    microbenchmarks; the event log is read once, at the end."""
    if ctx.traced:
        _trace_crawl_layers(ctx)
        _trace_serving(ctx)
    own = FLOWS[name](ctx)
    if not ctx.traced:
        return _result(ctx, name, own["e2e"], {}, own["attempted"], own["failed"])
    other = next(w for w in FLOWS if w != name)
    oth = FLOWS[other](ctx, short=True)
    ctx.note(f"short {other} flow done")
    micro, micro_bad = _microbench(ctx)
    ctx.note("microbenchmarks done")
    ctx.start_session()  # a new application: closes the event logs
    ev = evlog.load(ctx.evlog_dir)
    per_layer = {}
    for r in (oth, own):  # the workload's own figures win
        per_layer.update(r["per_layer"])
        per_layer.update(r["from_evlog"](ev))
    per_layer.update(micro)
    per_layer.update(_process_metrics(*own["window"], ev))
    return _result(ctx, name, {}, per_layer,
                   own["attempted"] + oth["attempted"] + 1,
                   own["failed"] + oth["failed"] + (micro_bad > 0))


def _result(ctx, workload: str, e2e: dict, per_layer: dict,
            attempted: int, failed: int) -> dict:
    ctx.line(workload, "failed_ratio", round(failed / attempted, 6), "ratio",
             f"{failed} of {attempted}")
    if ctx.traced:
        missing = sorted(set(PER_LAYER_UNITS) - set(per_layer))
        if missing:
            raise RuntimeError(f"per-layer metrics not measured: {missing}")
        metrics = {k: {"value": float(per_layer[k]), "unit": u}
                   for k, u in PER_LAYER_UNITS.items()}
        with open(os.path.join(ctx.out, f"trace-{workload}.json"), "w") as f:
            json.dump({"per_layer": per_layer, "spans": ctx.tracer.spans}, f)
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in E2E_UNITS.items()}
    for k, m in metrics.items():
        ctx.line(workload, k, m["value"], m["unit"])
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def _lookup_loop(ctx, workload: str, short: bool, t_start: float, lookups,
                 rng) -> tuple[list, int, dict]:
    """Closed loop, one client: the next lookup is sent when the previous
    one returned, kinds in turn, in whole rounds, until the run has made
    its rounds (LOOKUP_ROUNDS in a timed run, two in a traced run, one in
    a short flow) and, in a timed run, measured ``ctx.seconds``. Each
    lookup is (kind, fn, check)."""
    seconds = 0 if ctx.traced else ctx.seconds
    kinds = sorted({k for k, _, _ in lookups})
    min_n = len(kinds) * (1 if short else 2 if ctx.traced else LOOKUP_ROUNDS[workload])
    lat, failed, by_kind = [], 0, {}
    while len(lat) < MAX_LOOKUPS and (
            len(lat) < min_n or len(lat) % len(kinds)
            or time.perf_counter() - t_start < seconds):
        # kinds in turn, so every run sends the same mix; the instance of
        # a kind (query doc, host, route parameters) is drawn from the seed
        kind = kinds[len(lat) % len(kinds)]
        _, fn, check = rng.choice([x for x in lookups if x[0] == kind])
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span(f"lookup.{kind}"):
                out = fn()
            ok = check(out)
        except Exception:  # noqa: BLE001 - a failed request is counted
            ok = False
        dt = time.perf_counter() - t0
        lat.append(dt)
        by_kind.setdefault(kind, []).append(dt)
        failed += not ok
    return lat, failed, by_kind


def _dir_stats(path: str, prefixes: tuple[str, ...] = ("",)) -> tuple[int, int]:
    size = files = 0
    for table in os.listdir(path):
        if not table.startswith(prefixes):
            continue
        for dirpath, _, names in os.walk(os.path.join(path, table)):
            for n in names:
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size, files


def _process_metrics(cpu0: dict, cpu1: dict, t0: float, t1: float, ev) -> dict:
    """/proc CPU between the samples ``cpu0`` and ``cpu1`` and event-log
    sums over [t0, t1], all taken at the edges of the timed region."""
    w = evlog.window(ev, t0, t1)
    return {
        "process.jvm_cpu_s": cpu1["jvm"] - cpu0["jvm"],
        "process.pyworker_cpu_s": cpu1["pyworker"] - cpu0["pyworker"],
        "process.gc_s": w["gc_s"],
        "process.shuffle_write_bytes": w["shuffle_write"],
        "process.spill_bytes": w["spill"],
    }


def _peak_mb(ctx) -> float:
    """Peak memory so far (the gates that follow the timed region, the
    DuckDB oracle among them, are not the program's); logs its parts."""
    parts = {k: round(v / 2**20) for k, v in ctx.sampler.peak_parts.items()}
    ctx.note(f"peak memory {ctx.sampler.peak_rss_mb():.0f} MiB: {parts}")
    return ctx.sampler.peak_rss_mb()


def _overhead(ctx, pass_s: float, twin) -> float:
    """Traced ``pass_s`` minus that of ``twin()``, the same pass over the
    same inputs run right after it with the span wrappers off. The event
    log stays on for both (it is a session setting)."""
    with ctx.tracer.paused():
        return pass_s - twin()


def _microbench(ctx) -> tuple[dict, int]:
    out, bad = layers.urls(ctx.spark, ctx.seed)
    out.update(layers.fetch(ctx.seed))
    seen, false_neg = layers.seen_filters(ctx.spark, ctx.seed)
    out.update(seen)
    return out, bad + false_neg


# ---------------------------------------------------------------------------
# crawl
# ---------------------------------------------------------------------------

GRAPH_BASE = 20_000   # the engine's default graph size
GRAPHS = 16           # graph variants the seed picks from
# lineage and state totals of each graph variant's crawl pass, written by
# ``run.py --record-totals``; every crawl run must reproduce them
TOTALS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "crawl_totals.json")


def _crawl_sql(cores: int) -> dict:
    """AQE off (as bench.py does for crawls), 2 x cores shuffle partitions."""
    return {"spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": str(2 * cores)}


WAVES_BEFORE = 1      # waves before recrawl_stale
WAVES_AFTER = 1       # waves after it


def _crawl_configs(seed: int):
    """GraphConfig.seed has no reader in the engine, so the seed moves
    ``graph_size`` instead: link targets are ``hash % graph_size``, so
    each of the GRAPHS variants is another link graph of the same shape."""
    from findopendata_spark.config import CrawlConfig
    from findopendata_spark.crawler.graph import GraphConfig

    gcfg = GraphConfig(graph_size=GRAPH_BASE + 97 * (seed % GRAPHS), fail_ppt=20)
    cfg = CrawlConfig(index_fields=("text",), index_ivf=True, index_sketch=True)
    return cfg, gcfg


def _trace_crawl_layers(ctx) -> None:
    from findopendata_spark.catalog import SnapshotCatalog
    from findopendata_spark.crawler import wave as W
    from findopendata_spark.crawler.seen import ShardedSeenFilter
    from findopendata_spark.indexing import IncrementalIndexes

    t = ctx.tracer
    for fn in ("init_state", "run_wave", "recrawl_stale"):
        t.wrap(W, fn, fn)
    for fn in ("stage", "stage_append", "commit_wave", "read", "read_at",
               "read_appended", "read_append_wave"):
        t.wrap(SnapshotCatalog, fn, f"SnapshotCatalog.{fn}")
    for fn in ("build", "or_delta", "with_maybe_seen"):
        t.wrap(ShardedSeenFilter, fn, f"ShardedSeenFilter.{fn}")
    for fn in ("trigram_index", "ivf_index", "sketch_read"):
        t.wrap(IncrementalIndexes, fn, f"IncrementalIndexes.{fn}")


def _crawl_pass(ctx, root: str, cfg, gcfg) -> dict:
    """Seed list (already staged as wave 0) to the last commit."""
    from findopendata_spark.crawler import wave as W

    spark = ctx.spark
    waves = []
    mark = [time.time()]

    def log(stats):
        now = time.time()
        waves.append((mark[0], now, stats))
        mark[0] = now

    t0 = time.time()
    state = W.crawl(spark, root, waves=WAVES_BEFORE, cfg=cfg, gcfg=gcfg, log=log)
    recrawled = W.recrawl_stale(spark, state, max_age_waves=1)["recrawled"]
    mark[0] = time.time()
    W.crawl(spark, root, waves=WAVES_BEFORE + 1 + WAVES_AFTER, cfg=cfg,
            gcfg=gcfg, log=log)
    return {"t0": t0, "t1": time.time(), "waves": waves, "recrawled": recrawled}


def _crawl_totals(spark, cat) -> dict:
    """Lineage sums and the sizes of seen and the frontier."""
    from pyspark.sql import functions as F

    cols = ("urls_eligible", "urls_fetched", "urls_failed", "urls_candidates",
            "urls_deduped", "urls_enqueued")
    row = cat.read_appended(spark, "lineage").agg(
        *[F.sum(c).alias(c) for c in cols]).collect()[0]
    return {**{c: int(row[c] or 0) for c in cols},
            "seen": cat.read_appended(spark, "seen").count(),
            "frontier": cat.read(spark, "frontier").count()}


def _crawl_gates(ctx, cat, gcfg, recrawled: int) -> tuple[int, int, dict]:
    """Invariants of a committed crawl; returns (checks, failures, totals)."""
    from pyspark.sql import functions as F

    spark = ctx.spark
    lin = cat.read_appended(spark, "lineage")
    seen = cat.read_appended(spark, "seen")
    frontier = cat.read(spark, "frontier")
    totals = _crawl_totals(spark, cat)
    with open(TOTALS) as f:
        expected = json.load(f).get(str(gcfg.graph_size))
    checks = {
        "lineage conservation": lin.filter(
            (F.col("urls_candidates") != F.col("urls_enqueued") + F.col("urls_deduped"))
            | (F.col("urls_fetched") > F.col("urls_eligible"))
            | (F.col("urls_failed") > F.col("urls_fetched"))).count() == 0,
        "seen unique": seen.groupBy("url_canon").count()
        .filter(F.col("count") > 1).count() == 0,
        "frontier within seen": frontier.join(seen, "url_canon", "left_anti")
        .count() == 0,
        "seen = seeds + enqueued": totals["seen"] == cat.read_at(
            spark, "frontier", 0).count() + totals["urls_enqueued"],
        "crawl fetched": totals["urls_fetched"] > 0,
        "recrawl re-enqueued": recrawled > 0,
        "totals == crawl_totals.json": totals == expected,
    }
    for name, ok in checks.items():
        if not ok:
            ctx.line("crawl", "gate_failed", 1, "count", name)
    return len(checks), sum(not ok for ok in checks.values()), totals


def _load_indexes(ctx, cat) -> tuple[dict, dict]:
    """Load and cache the three index families from the catalog; returns
    (indexes, load seconds per family)."""
    from findopendata_spark.indexing import IncrementalIndexes

    spark = ctx.spark
    idx = IncrementalIndexes(cat)
    load = {}
    t0 = time.perf_counter()
    tri = {k: v.cache() for k, v in idx.trigram_index(spark, "text").items()}
    for v in tri.values():
        v.count()
    load["trigram"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    ivf = idx.ivf_index(spark)
    assigned = ivf["assigned"].cache()
    assigned.count()
    cents = ivf["centroids"].cache()
    cents.count()
    load["ivf"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    sk = idx.sketch_read(spark).cache()
    sk.count()
    load["sketch"] = time.perf_counter() - t0
    return {"trigram": tri, "assigned": assigned, "centroids": cents,
            "sketch": sk}, load


def _index_lookups(ctx, cat, ix: dict, rng) -> list:
    """Probe list over loaded indexes; the inputs (query docs, vectors,
    hosts) are drawn from the seed and read outside the timed loop."""
    from pyspark.sql import functions as F

    from findopendata_spark.embedding import ivf_topk
    from findopendata_spark.sketch.trigram_index import (
        trigram_set_expr,
        trigram_topk,
    )

    spark = ctx.spark
    tri, assigned, cents, sk = (ix["trigram"], ix["assigned"],
                                ix["centroids"], ix["sketch"])
    docs = cat.read_appended(spark, "docs")
    text = F.array_join(F.transform(
        F.filter("spans", lambda s: s["kind"] == "text"), lambda s: s["text"]), " ")
    ids = sorted(r[0] for r in assigned.select("vec_id").collect())
    pick = rng.sample(ids, min(16, len(ids)))
    qdocs = docs.filter(F.col("doc_id").isin(pick)).select(
        "doc_id", trigram_set_expr(text).alias("g")).collect()
    qvecs = {r["vec_id"]: assigned.filter(F.col("vec_id") == r["vec_id"])
             .select("vec_id", "v") for r in assigned.select("vec_id")
             .filter(F.col("vec_id").isin(pick)).collect()}
    hosts = sorted(r[0] for r in sk.select("file_id").distinct().collect())

    lookups = []
    for r in qdocs:
        lookups.append(("trigram", lambda r=r: trigram_topk(
            tri, r["doc_id"], list(r["g"]), k=10).collect(),
            lambda out: len(out) == 10))
    for q in qvecs.values():
        lookups.append(("ivf", lambda q=q: ivf_topk(
            assigned, q, k=10, centroids=cents, assigned=assigned).collect(),
            lambda out: len(out) >= 1))
    for h in hosts:
        lookups.append(("sketch", lambda h=h: sk.filter(F.col("file_id") == h)
                        .collect(), lambda out: len(out) >= 1))
    return lookups


def record_totals(ctx) -> None:
    """Crawl each graph variant once and write its totals to TOTALS."""
    from findopendata_spark.catalog import SnapshotCatalog
    from findopendata_spark.crawler import wave as W

    ctx.extra_conf = _crawl_sql(ctx.cores)
    out = {}
    for v in range(GRAPHS):
        cfg, gcfg = _crawl_configs(v)
        root = os.path.join(ctx.work, f"record-{v}")
        ctx.start_session()
        W.crawl(ctx.spark, root, waves=0, cfg=cfg, gcfg=gcfg)
        _crawl_pass(ctx, root, cfg, gcfg)
        out[str(gcfg.graph_size)] = _crawl_totals(ctx.spark, SnapshotCatalog(root))
        ctx.note(f"graph {gcfg.graph_size}: {out[str(gcfg.graph_size)]}")
    with open(TOTALS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


def crawl(ctx, short: bool = False) -> dict:
    """The crawl flow. ``short``: the crawl part of a traced analytics run,
    with one set-up and one round of lookups, reporting only its layers."""
    from findopendata_spark.catalog import SnapshotCatalog
    from findopendata_spark.crawler import wave as W

    ctx.extra_conf = _crawl_sql(ctx.cores)
    cfg, gcfg = _crawl_configs(ctx.seed)
    rng = random.Random(ctx.seed)

    # the JVM launch is not a set-up: each set-up restarts the session on
    # it and stages wave 0 (the seed list)
    per_layer = {} if short else {"session.launch_s": ctx.start_session()}
    setups, starts, inits, roots = [], [], [], []
    for i in range(1 if short else SETUPS["crawl"]):
        root = os.path.join(ctx.work, f"crawl-{i}")
        starts.append(ctx.start_session())
        t0 = time.perf_counter()
        W.crawl(ctx.spark, root, waves=0, cfg=cfg, gcfg=gcfg)  # wave 0
        inits.append(time.perf_counter() - t0)
        setups.append(starts[-1] + inits[-1])
        roots.append(root)
    ctx.note("crawl set-ups done")
    if not short:
        per_layer["session.start_s"] = statistics.median(starts)
    per_layer["crawler.wave.init_s"] = statistics.median(inits)

    cpu0 = ctx.sampler.cpu_s()
    t_start = time.perf_counter()
    p = _crawl_pass(ctx, roots[-1], cfg, gcfg)
    cat = SnapshotCatalog(roots[-1])
    ctx.note("crawl pass done")
    with ctx.tracer.span("index.load"):
        ix, load = _load_indexes(ctx, cat)
    lookups = _index_lookups(ctx, cat, ix, rng)
    lat, failed, by_kind = _lookup_loop(ctx, "crawl", short, t_start, lookups, rng)
    t_end, cpu1, peak_mb = time.time(), ctx.sampler.cpu_s(), _peak_mb(ctx)
    ctx.note("lookups done")

    wave_s = [b - a for a, b, _ in p["waves"]]
    n_checks, n_bad, totals = _crawl_gates(ctx, cat, gcfg, p["recrawled"])
    attempted = len(wave_s) + 1 + len(lat) + n_checks
    failed += n_bad
    ctx.note("crawl gates done")
    pass_s = p["t1"] - p["t0"]
    lk = summarize(lat)
    e2e = {
        "setup_s": statistics.median(setups),
        "pass_s": pass_s,
        "op_s": kind_mean({i: [w] for i, w in enumerate(wave_s)}),
        "lookup_s": kind_mean(by_kind),
        "work_per_s": (totals["urls_candidates"] + totals["urls_deduped"]) / pass_s,
        "peak_rss_mb": peak_mb,
    }
    if not short:
        ctx.line("crawl", "crawl_waves_s", round(pass_s, 3), "s",
                 f"{len(wave_s)} waves + 1 recrawl, seed list to last commit")
        ctx.line("crawl", "wave_p50_s", round(statistics.median(wave_s), 3), "s",
                 f"n={len(wave_s)}")
        ctx.line("crawl", "crawl_urls_per_s", round(e2e["work_per_s"], 1), "1/s",
                 "(candidates + deduped) / crawl wall")
        ctx.line("crawl", "index_probe_p50_s", round(lk["p50"], 4), "s",
                 f"p{lk['tail_pct']}={lk['tail']:.4f} s, n={lk['n']}")
    return {
        "e2e": e2e, "per_layer": per_layer,
        "from_evlog": lambda ev: _crawl_layers(ctx, p, cat, ev, totals, load),
        "window": (cpu0, cpu1, p["t0"], t_end),
        "attempted": attempted, "failed": failed,
    }


def _crawl_layers(ctx, p, cat, ev, totals, load) -> dict:
    t = ctx.tracer
    inside = lambda s: p["t0"] <= s["start"] <= p["t1"]  # noqa: E731
    waves = [s for s in t.named("run_wave") if inside(s)]
    wins = [evlog.window(ev, s["start"], s["end"]) for s in waves]
    wall = sum(s["end"] - s["start"] for s in waves)
    shares = [st["max_task"] / (st["end"] - st["start"])
              for w in wins for st in w["stages"] if st["end"] - st["start"] >= 0.25]
    commits = [s for s in t.named("SnapshotCatalog.commit_wave") if inside(s)]
    stage_self = sum(t.self_time(s) for s in t.spans if inside(s) and s["name"] in (
        "SnapshotCatalog.stage", "SnapshotCatalog.stage_append"))
    n_commits = max(1, len(commits))
    n_waves = cat.current_wave() + 1
    cat_bytes, cat_files = _dir_stats(cat.root)
    idx_bytes, _ = _dir_stats(cat.root, ("trigram_", "ivf_", "column_sketches"))
    recrawl = [s for s in t.named("recrawl_stale") if inside(s)]
    out = {
        "crawler.wave.run_wave_s": statistics.median(s["end"] - s["start"] for s in waves),
        "crawler.wave.recrawl_s": sum(s["end"] - s["start"] for s in recrawl),
        "crawler.wave.jobs_per_wave": statistics.median(w["jobs"] for w in wins),
        "crawler.wave.stages_per_wave": statistics.median(len(w["stages"]) for w in wins),
        "crawler.wave.core_util": sum(w["cpu_s"] for w in wins) / (wall * ctx.cores),
        "crawler.wave.max_task_share": max(shares, default=0.0),
        "crawler.wave.dedup_ratio": totals["urls_deduped"] / max(1, totals["urls_candidates"]),
        "catalog.stage_s": stage_self / n_commits,
        "catalog.commit_s": sum(s["end"] - s["start"] for s in commits) / n_commits,
        "catalog.bytes_per_wave": cat_bytes / n_waves,
        "catalog.files_per_wave": cat_files / n_waves,
        "indexing.trigram_load_s": load["trigram"],
        "indexing.ivf_load_s": load["ivf"],
        "indexing.sketch_load_s": load["sketch"],
        "indexing.bytes_per_wave": idx_bytes / n_waves,
    }
    for k, v in totals.items():
        if k.startswith("urls_"):
            out[f"crawler.wave.{k}"] = v
    return out


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------

SF = 0.01
PASSES = 3  # timed passes over SUBSET; a traced run makes one
KEYWORD_TERMS = "data table query spark"  # q29's terms


def _registry() -> dict:
    import __spark_entry__ as E

    qs, oracle = E.queries(), E.oracle_sql()
    by_id = {name[:3]: (name, fn, oracle.get(name)) for name, fn in qs.items()}
    if sorted(by_id) != QUERY_IDS:
        raise RuntimeError(f"query registry changed: {sorted(by_id)}")
    return by_id


def _norm(df):
    """Order-insensitive form, the one scripts/driver_sim.py compares."""
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _same(a, b) -> bool:
    import pandas as pd

    a, b = _norm(a), _norm(b)
    if len(a) != len(b) or list(a.columns) != list(b.columns):
        return False
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False,
                                      rtol=0, atol=1e-9)
    except AssertionError:
        return False
    return True


def _run_queries(ctx, data: str, order, reg) -> dict:
    """Build and collect each query; returns id -> (build_s, collect_s, pdf)."""
    out = {}
    for q in order:
        _, fn, _ = reg[q]
        with ctx.tracer.span(f"query.{q}"):
            t0 = time.perf_counter()
            with ctx.tracer.span("query.build"):
                df = fn(ctx.spark, data)
            t1 = time.perf_counter()
            with ctx.tracer.span("query.collect"):
                pdf = df.toPandas()
            out[q] = (t1 - t0, time.perf_counter() - t1, pdf)
    return out


def _routes(srv, docs_ids, sketch_keys, rng):
    vocab = datagen.VOCAB
    calls = {
        "original_hosts": lambda: srv.original_hosts(),
        "keyword_search": lambda: srv.keyword_search(
            " ".join(rng.sample(vocab, rng.randint(1, 3))), 20),
        "keyword_search_title": lambda: srv.keyword_search_title(
            " ".join(rng.sample(vocab, rng.randint(1, 2))), 10),
        "similar_packages": lambda: srv.similar_packages(rng.choice(docs_ids), 10),
        "package_brief": lambda: srv.package_brief(rng.choice(docs_ids)),
        "joinable_column_search": lambda: srv.joinable_column_search(
            *rng.choice(sketch_keys)),
    }
    checks = {
        "original_hosts": lambda out: len(out) > 0,
        "package_brief": lambda out: out is not None,
    }
    return [(r, calls[r], checks.get(r, lambda out: out is not None))
            for r in ROUTES]


def _serve_gates(ctx, srv, results, data) -> tuple[int, int]:
    """keyword-search == q29 and similar-packages == q41 for the same
    query doc (q41's query doc: the lowest doc_id with >= 80 chars)."""
    import pandas as pd
    from pyspark.sql import functions as F

    kw = pd.DataFrame(srv.keyword_search(KEYWORD_TERMS, 20))
    q_doc = ctx.spark.read.parquet(f"{data}/documents.parquet").filter(
        F.length("text") >= 80).agg(F.min("doc_id")).collect()[0][0]
    sim = pd.DataFrame(srv.similar_packages(q_doc, 10))
    checks = {
        "keyword-search == q29": len(kw) > 0 and _same(
            kw[["doc_id", "score"]], results["q29"][2][["doc_id", "score"]]),
        "similar-packages == q41": len(sim) == 10 and _same(sim, results["q41"][2]),
    }
    for name, ok in checks.items():
        if not ok:
            ctx.line("analytics", "gate_failed", 1, "count", name)
    return len(checks), sum(not ok for ok in checks.values())


def _oracle(data: str, sqls: dict) -> dict:
    """DuckDB twin of each query over the generated tables."""
    import duckdb

    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    out = {q: con.execute(sql).fetchdf() for q, sql in sqls.items()}
    con.close()
    return out


def _oracle_gates(ctx, results, oracle) -> tuple[int, int]:
    bad = 0
    for q, (_, _, pdf) in results.items():
        if not _same(pdf, oracle[q]):
            bad += 1
            ctx.line("analytics", "gate_failed", 1, "count", f"{q} != oracle")
    return len(results), bad


def _query_route_layers(results: dict, by_route: dict) -> dict:
    out = {f"queries.{q}_s": b + c for q, (b, c, _) in results.items()}
    out["queries.build_s"] = sum(b for b, _, _ in results.values())
    out["queries.collect_s"] = sum(c for _, c, _ in results.values())
    for r, v in by_route.items():
        out[f"serving.{r}_p50_s"] = statistics.median(v)
    return out


def _sketch_keys(srv) -> list:
    # (file_id, column_name) pairs the joinable-column route accepts: the
    # server's own sketch store, which has no public accessor
    return sorted(tuple(r) for r in srv._sketches.select(
        "file_id", "column_name").distinct().collect())


def _trace_serving(ctx) -> None:
    from findopendata_spark.serving import ApiServer

    for r in ROUTES:
        ctx.tracer.wrap(ApiServer, r, f"ApiServer.{r}")


def analytics(ctx, short: bool = False) -> dict:
    """The analytics flow. ``short``: the analytics part of a traced crawl
    run, with one set-up and one round of lookups, reporting only its
    layers."""
    from findopendata_spark.serving import ApiServer

    ctx.extra_conf = {}
    rng = random.Random(ctx.seed)
    reg = _registry()

    # the JVM launch is not a set-up: each set-up restarts the session on
    # it and writes the tables
    per_layer = {} if short else {"session.launch_s": ctx.start_session()}
    setups, starts = [], []
    for i in range(1 if short else SETUPS["analytics"]):
        starts.append(ctx.start_session())
        t0 = time.perf_counter()
        data = os.path.join(ctx.work, f"data-{i}")
        datagen.generate(data, ctx.seed, SF)
        setups.append(starts[-1] + time.perf_counter() - t0)
    if not short:
        per_layer["session.start_s"] = statistics.median(starts)
    ctx.note("analytics set-ups done")

    # untimed warm-up: the queries once on a cold JIT, the serving indexes
    # (ApiServer.warm), then one call per route (a route's first call runs
    # ~10-15% slower than its later ones)
    order = list(SUBSET)
    rng.shuffle(order)
    with ctx.tracer.paused():
        _run_queries(ctx, data, order, reg)
    t0 = time.perf_counter()
    srv = ApiServer(ctx.spark, data)
    srv.warm()
    per_layer["serving.warm_s"] = time.perf_counter() - t0
    routes = _routes(srv, sorted(datagen.doc_ids(data)), _sketch_keys(srv), rng)
    with ctx.tracer.paused():
        for _, fn, _ in routes:
            fn()
    ctx.note("warm-up done")

    cpu0 = ctx.sampler.cpu_s()
    t_wall0 = time.time()
    t_start = time.perf_counter()
    passes = []
    for _ in range(1 if ctx.traced else PASSES):
        t0 = time.perf_counter()
        results = _run_queries(ctx, data, order, reg)
        passes.append((time.perf_counter() - t0, results))
    lat, failed, by_route = _lookup_loop(ctx, "analytics", short, t_start, routes, rng)
    timed_s = time.perf_counter() - t_start
    t_wall1, cpu1, peak_mb = time.time(), ctx.sampler.cpu_s(), _peak_mb(ctx)
    ctx.note(f"timed region done: passes {[round(p, 3) for p, _ in passes]}, "
             f"lookups {[round(x, 3) for x in lat]}")

    pass_s = statistics.median(p for p, _ in passes)
    q_s = [b + c for _, r in passes for b, c, _ in r.values()]
    attempted = len(q_s) + len(lat)
    oracle = _oracle(data, {q: reg[q][2] for q in results})
    for n, bad in (_oracle_gates(ctx, results, oracle),
                   _serve_gates(ctx, srv, results, data)):
        attempted, failed = attempted + n, failed + bad
    ctx.note("analytics gates done")
    qs, lk = summarize(q_s), summarize(lat)
    e2e = {
        "setup_s": statistics.median(setups),
        "pass_s": pass_s,
        "op_s": kind_mean({q: [r[q][0] + r[q][1] for _, r in passes] for q in order}),
        "lookup_s": kind_mean(by_route),
        "work_per_s": (len(q_s) + len(lat)) / timed_s,
        "peak_rss_mb": peak_mb,
    }
    if not short:
        ctx.line("analytics", "queries_total_s", round(pass_s, 3), "s",
                 f"median of {len(passes)} passes over {len(order)} queries")
        ctx.line("analytics", "query_p50_s", round(qs["p50"], 4), "s", f"n={qs['n']}")
        ctx.line("analytics", "query_tail_s", round(qs["tail"], 4), "s",
                 f"p{qs['tail_pct']}, n={qs['n']}")
        ctx.line("analytics", "serve_p50_s", round(lk["p50"], 4), "s", f"n={lk['n']}")
        ctx.line("analytics", "serve_tail_s", round(lk["tail"], 4), "s",
                 f"p{lk['tail_pct']}, n={lk['n']}")

    if ctx.traced:
        def twin():
            t0 = time.perf_counter()
            _run_queries(ctx, data, order, reg)
            return time.perf_counter() - t0

        per_layer["trace.overhead_s"] = _overhead(ctx, pass_s, twin)
        per_layer.update(_query_route_layers(results, by_route))
    return {
        "e2e": e2e, "per_layer": per_layer, "from_evlog": lambda ev: {},
        "window": (cpu0, cpu1, t_wall0, t_wall1),
        "attempted": attempted, "failed": failed,
    }


FLOWS = {"crawl": crawl, "analytics": analytics}
