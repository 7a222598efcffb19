"""``crawl_deep``: CrawlEngine over a page store, small BFS rounds.

Closed loop with one client: the benchmark calls ``run_round(r)`` and
issues round r+1 only after round r returns. A crawl runs the first
``ROUNDS`` BFS levels from a freshly seeded frontier (the bench.py
shape: one root seed per host, ``host_budget=2000``,
``levels_per_commit=2``); crawls repeat, each on a fresh engine, until
``--seconds`` of crawl wall have been measured.

The round count is capped because the convergence tail (1-14 URLs over
1-3 extra rounds) depends on the seed: a ±1-round tail would move the
crawl wall by ~15% between seeds without any change to the program.

Traced runs additionally replay each layer on the pre-round state,
outside the round span (see ``replay_layers``), and run every round
under its own Spark job group so the event log attributes jobs, stages
and tasks to rounds.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time

N_PAGES = 3000
N_HOSTS = 40
HOST_BUDGET = 2000
LEVELS_PER_COMMIT = 2
ROUNDS = 4
# the engine's default heavy-host salting threshold (CrawlEngine
# salt_threshold); HOST_BUDGET exceeds it, so the engine salts and the
# replayed pick does too
SALT_THRESHOLD = 1000
MIN_SETUPS = 5
PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
SEEDS_SCHEMA = "url string, depth int"
ROBOTS_SCHEMA = (
    "registered_domain string, skip_pattern string, "
    "no_recurse_prefix string, crawl_delay double, max_pages int"
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def setup(ctx, inputs_pd, workdir):
    """One set-up: session (cold the first time), input load + cache,
    engine construction and ``init_from_seeds`` (which warms executors
    once per session). Returns (engine, pages, robots)."""
    from pygeodatacrawler_spark.plans.crawl import CrawlEngine

    pages_pd, seeds_pd, robots_pd = inputs_pd
    t0 = time.time()
    spark = ctx.session()
    pages = spark.createDataFrame(pages_pd, schema=PAGES_SCHEMA).cache()
    pages.count()
    seeds = spark.createDataFrame(seeds_pd, schema=SEEDS_SCHEMA)
    robots = spark.createDataFrame(
        robots_pd.astype(object).where(robots_pd.notna(), None), schema=ROBOTS_SCHEMA
    )
    eng = CrawlEngine(
        spark, workdir, pages, robots, host_budget=HOST_BUDGET,
        bloom_buckets=16, levels_per_commit=LEVELS_PER_COMMIT,
    )
    eng.init_from_seeds(seeds)
    ctx.setups.append(time.time() - t0)
    return eng, pages, robots


def replay_layers(ctx, eng, pages, robots, est_rows, trace) -> dict:
    """Replay one round's layers on the pre-round state, each to a noop
    sink. Each layer reads the previous layer's cached output, so a span
    times its own layer (plus caching its output) only. Returns counts
    measured on the way."""
    import pyspark.sql.functions as F

    from pygeodatacrawler_spark.functions.text import (
        EXTRACT_SCHEMA,
        extract_pages_batches,
    )
    from pygeodatacrawler_spark.functions.urls import (
        canonicalize_url_named,
        registered_domain_named,
        url_hash,
    )
    from pygeodatacrawler_spark.operators.frontier import (
        pick_batch,
        repartition_for_fetch,
    )

    tr = ctx.tracer
    cached = []

    def layer(name, df):
        df = df.cache()
        cached.append(df)
        tr.timed(name, lambda: _noop(df), trace)
        return df

    frontier = layer("tables.resolve", eng.frontier.read())
    if est_rows is None:
        est_rows = frontier.count()
    pending = frontier.filter(F.col("state") == "pending")
    batch = pick_batch(pending, robots, HOST_BUDGET, salt_threshold=SALT_THRESHOLD)
    batch = layer("frontier.pick", repartition_for_fetch(batch, est_rows=est_rows))
    html = layer("fetch.fetch", pages.join(
        F.broadcast(batch.select(F.col("canon_url").alias("page_url"))),
        pages["url"] == F.col("page_url"),
    ).select(F.col("page_url").alias("url"), "html"))
    ext = layer("text.extract", html.mapInPandas(extract_pages_batches, schema=EXTRACT_SCHEMA))
    links = layer("urls.canon", ext.select(F.explode_outer("links").alias("link"))
                  .filter(F.col("link").isNotNull())
                  .select(canonicalize_url_named("link").alias("canon_url"))
                  .withColumn("url_hash", url_hash(F.col("canon_url")))
                  .withColumn("registered_domain", registered_domain_named("canon_url")))
    tr.timed("seen.probe", lambda: _noop(
        links.join(frontier.select("url_hash"), "url_hash", "left_anti")), trace)
    counts = {
        "links": links.count(),
        "html_bytes": ext.agg(F.sum("n_bytes")).first()[0] or 0,
    }
    for df in cached:
        df.unpersist()
    return counts


def crawl(ctx, ci: int, eng, pages, robots) -> dict:
    """Rounds 0..ROUNDS-1 of one crawl; returns its walls and lines."""
    sc = eng.spark.sparkContext
    tr = ctx.tracer
    trace = f"c{ci}"
    rounds, replays, counts = [], [], []
    t0 = time.time()
    r, est = 0, None
    while r < ROUNDS:
        if tr.enabled:
            rs = time.time()
            sc.setJobGroup(f"{trace}.r{r}.replay", f"crawl_deep replay {r}")
            counts.append(replay_layers(ctx, eng, pages, robots, est, trace))
            replays.append((rs, time.time()))
        sc.setJobGroup(f"{trace}.r{r}", f"crawl_deep round {r}")
        rs = time.time()
        ctx.attempted += 1
        try:
            line = eng.run_round(r)
        except Exception as ex:  # a raising round is a failed operation
            ctx.failed += 1
            ctx.log.setdefault("problems", []).append(f"round {r}: {type(ex).__name__}: {ex}")
            break
        re_ = time.time()
        if line.get("done"):  # nothing left to fetch: no round committed
            break
        rounds.append({"r": r, "start": rs, "end": re_, "line": line})
        est = line["rows_in"]
        r += line.get("levels", 1)
    end = time.time()
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)
    replay_s = sum(e - s for s, e in replays)
    return {
        "trace": trace, "start": t0, "end": end, "wall": end - t0 - replay_s,
        "levels": r, "rounds": rounds, "replays": replays, "counts": counts,
    }


def check(eng, oracle) -> list[str]:
    """Visit order, seen set and per-URL text sha against the oracle."""
    problems = []
    got = sorted((v["round"], v["rank_in_round"], v["canon_url"])
                 for v in eng.visits_view().collect())
    want = sorted((v["round"], v["rank_in_round"], v["canon_url"]) for v in oracle.visits)
    if got != want:
        problems.append(f"visit order: {len(got)} visits vs oracle {len(want)}")
    seen = {r["canon_url"] for r in eng.frontier.read().select("canon_url").collect()}
    if seen != oracle.seen:
        problems.append(f"seen set: {len(seen)} urls vs oracle {len(oracle.seen)}")
    shas = {r["canon_url"]: r["text_sha2"]
            for r in eng.records.read().select("canon_url", "text_sha2").collect()}
    if shas != oracle.text_sha:
        bad = sum(shas.get(k) != v for k, v in oracle.text_sha.items())
        problems.append(f"text sha: {bad} of {len(oracle.text_sha)} differ, {len(shas)} records")
    return problems


def table_stats(workdir: str) -> dict:
    """Parquet files and bytes under the crawl's workdir."""
    files = glob.glob(os.path.join(workdir, "**", "*.parquet"), recursive=True)
    return {"files": len(files), "bytes": sum(os.path.getsize(p) for p in files)}


def run(ctx):
    """Returns the end-to-end metrics and a callable that computes the
    per-layer ones once the session (and so its event log) is closed."""
    from pygeodatacrawler_spark.oracle.refcrawl import crawl_oracle

    from pygeodatacrawler_spark.fixtures import generate_pages

    from perfbench.system import tree_cpu_s

    t = time.time()
    inputs_pd = generate_pages(N_PAGES, N_HOSTS, seed=ctx.seed)
    ctx.log["gen_s"] = time.time() - t

    crawls = []
    measured = 0.0
    while not crawls or measured < ctx.seconds:
        ci = len(crawls)
        workdir = os.path.join(ctx.work, f"crawl{ci}")
        eng, pages, robots = setup(ctx, inputs_pd, workdir)
        cpu0 = tree_cpu_s()
        c = crawl(ctx, ci, eng, pages, robots)
        c["cpu_s"] = tree_cpu_s() - cpu0
        measured += c["wall"]
        t = time.time()
        oracle = crawl_oracle(*inputs_pd, host_budget=HOST_BUDGET, max_rounds=c["levels"])
        ctx.log["oracle_s"] = ctx.log.get("oracle_s", 0.0) + time.time() - t
        problems = check(eng, oracle)
        if problems:
            ctx.failed += len(c["rounds"])
            ctx.log.setdefault("problems", []).extend(problems)
        c["urls"] = sum(x["line"]["rows_in"] for x in c["rounds"])
        c["tables"] = table_stats(workdir)
        crawls.append(c)
        eng.spark.catalog.clearCache()
        shutil.rmtree(workdir, ignore_errors=True)
    while len(ctx.setups) < MIN_SETUPS:
        workdir = os.path.join(ctx.work, f"setup{len(ctx.setups)}")
        eng, _, _ = setup(ctx, inputs_pd, workdir)
        eng.spark.catalog.clearCache()
        shutil.rmtree(workdir, ignore_errors=True)

    walls = [c["wall"] for c in crawls]
    round_walls = [x["end"] - x["start"] for c in crawls for x in c["rounds"]]
    e2e = {
        "items_per_s": sum(c["urls"] for c in crawls) / sum(walls),
        "work_s": statistics.median(walls),
        "op_p50_s": statistics.median(round_walls),
        "cpu_ms_per_item": 1e3 * sum(c["cpu_s"] for c in crawls) / sum(c["urls"] for c in crawls),
    }
    ctx.log["crawls"] = [
        {"wall_s": c["wall"], "cpu_s": c["cpu_s"], "urls": c["urls"], "levels": c["levels"],
         "round_s": [x["end"] - x["start"] for x in c["rounds"]]}
        for c in crawls
    ]
    return e2e, lambda: layer_metrics(ctx, crawls)


def layer_metrics(ctx, crawls) -> dict:
    """Per-layer numbers of a traced run, per crawl (mean over crawls).
    Reads the closed event log."""
    from perfbench.metrics import spark_totals
    from perfbench.tracing import Span, read_event_logs, self_time, union_length

    groups = read_event_logs(ctx.event_log_dir)
    per = []
    for c in crawls:
        lines = [x["line"] for x in c["rounds"]]
        rstats = [groups.get(f"{c['trace']}.r{x['r']}") for x in c["rounds"]]
        rstats = [g for g in rstats if g is not None]
        n = len(c["rounds"])
        gap = sum(
            (x["end"] - x["start"]) - union_length(g.jobs, x["start"], x["end"])
            for x, g in zip(c["rounds"], rstats)
        )
        span = Span("crawl", c["start"], c["end"])
        kids = [Span("round", x["start"], x["end"]) for x in c["rounds"]]
        kids += [Span("replay", s, e) for s, e in c["replays"]]
        spans = [s for s in ctx.tracer.spans if s.trace == c["trace"]]
        lay = lambda name: sum(s.dur for s in spans if s.name == name)
        links = sum(k["links"] for k in c["counts"])
        new = sum(l["rows_out"] for l in lines)
        per.append({
            "crawl.rounds": n,
            "crawl.fused_rounds": sum(1 for l in lines if l.get("levels", 1) > 1),
            "crawl.jobs_per_round": sum(len(g.jobs) for g in rstats) / n,
            "crawl.stages_per_round": sum(g.stages for g in rstats) / n,
            "crawl.tasks_per_round": sum(g.tasks for g in rstats) / n,
            "crawl.tasks_last_round": rstats[-1].tasks if rstats else 0,
            "crawl.driver_gap_s": gap,
            "crawl.unaccounted_s": self_time(span, kids),
            "frontier.pick_s": lay("frontier.pick"),
            "frontier.batch_rows": sum(l["rows_in"] for l in lines) / n,
            "frontier.write_skew": sum(l["skew"] for l in lines) / n,
            "fetch.fetch_s": lay("fetch.fetch"),
            "text.extract_s": lay("text.extract"),
            "text.html_mb": sum(k["html_bytes"] for k in c["counts"]) / 1e6,
            "urls.canon_s": lay("urls.canon"),
            "urls.links": links,
            "seen.probe_s": lay("seen.probe"),
            "seen.new_ratio": new / links if links else 0.0,
            "tables.bytes_per_url": c["tables"]["bytes"] / c["urls"],
            "tables.files_written": c["tables"]["files"],
            "tables.resolve_s": lay("tables.resolve"),
            **spark_totals(rstats),
        })
    return {k: statistics.fmean(p[k] for p in per) for k in per[0]}
