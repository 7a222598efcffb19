"""``index_neardup``: the crawl-and-index queries over a seeded corpus.

Closed loop with one client: each query of ``INDEX_QUERIES`` runs to a noop
sink, the next one starts when it returns. A first pass collects every
query's rows and checks them against the query's DuckDB oracle
(``__spark_entry__.oracle_sql()``); it also compiles and warms each
plan. Timed passes then repeat until ``--seconds`` of query wall have
been measured. The DuckDB oracle runs in a background thread while that
first pass runs (neither is timed) and is cached per seed and size.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import math
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench.metrics import INDEX_QUERIES, SHUFFLE_QUERIES, spark_totals
from perfbench.system import tree_cpu_s

N_DOCS = 1000
N_EMB = 500
EMB_QUERIES = {"ann_topk", "embedding_near_dupes"}
TABLES = ["documents", "embeddings"]
MIN_SETUPS = 5


def normalize(df) -> list[tuple]:
    """Order-insensitive, column-order-insensitive row list; floats at 6
    decimals (the rule of tools/check_correctness.py)."""
    import pandas as pd

    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else f"{v:.6f}")
            elif v is None or v is pd.NaT:
                vals.append("NULL")
            else:
                vals.append(str(v))
        rows.append(vals)
    return sorted(rows)


def oracle_rows(data_dir: str, sqls: dict, cache_path: str) -> dict:
    """Normalized DuckDB oracle rows per query, cached on disk."""
    if os.path.exists(cache_path):
        with gzip.open(cache_path, "rt") as f:
            return json.load(f)
    import duckdb

    con = duckdb.connect()
    con.sql("SET threads=2")
    for t in TABLES:
        con.sql(f"create view {t} as select * from '{data_dir}/{t}.parquet'")
    out = {}
    for q in INDEX_QUERIES:
        df = con.sql(sqls[q]).df()
        out[q] = {"cols": sorted(df.columns), "rows": normalize(df)}
    con.close()
    tmp = cache_path + ".tmp"
    with gzip.open(tmp, "wt") as f:
        json.dump(out, f)
    os.replace(tmp, cache_path)
    return out


def compare(got, want: dict) -> str | None:
    if sorted(got.columns) != want["cols"]:
        return f"columns {sorted(got.columns)} != {want['cols']}"
    rows = [list(r) for r in normalize(got)]
    if len(rows) != len(want["rows"]):
        return f"{len(rows)} rows vs oracle {len(want['rows'])}"
    if rows != want["rows"]:
        return "values differ"
    return None


def setup(ctx, data_dir: str) -> None:
    """One set-up: session (cold the first time) and input load."""
    t0 = time.time()
    spark = ctx.session()
    for t in TABLES:
        spark.read.parquet(f"{data_dir}/{t}.parquet").count()
    ctx.setups.append(time.time() - t0)


def run(ctx):
    """Returns the end-to-end metrics and a callable that computes the
    per-layer ones once the session (and so its event log) is closed."""
    import __spark_entry__ as entry

    from perfbench.inputs import write_index_inputs

    tag = f"index-{ctx.seed}-{N_DOCS}-{N_EMB}"
    data_dir = os.path.join(ctx.cache, tag)
    t = time.time()
    if not all(os.path.exists(f"{data_dir}/{n}.parquet") for n in TABLES):
        write_index_inputs(data_dir, ctx.seed, N_DOCS, N_EMB)
    ctx.log["gen_s"] = time.time() - t

    while len(ctx.setups) < MIN_SETUPS:
        setup(ctx, data_dir)
    spark = ctx.session()
    sc = spark.sparkContext
    qs = entry.queries()

    sqls = entry.oracle_sql()
    sql_text = "\n".join(sqls[q] for q in INDEX_QUERIES)
    sql_tag = hashlib.sha256(sql_text.encode()).hexdigest()[:12]

    def timed_oracle():
        t0 = time.time()
        cache = os.path.join(ctx.cache, f"{tag}-{sql_tag}.oracle.json.gz")
        rows = oracle_rows(data_dir, sqls, cache)
        return rows, time.time() - t0

    got = {}
    with ThreadPoolExecutor(max_workers=1) as pool:
        oracle_f = pool.submit(timed_oracle)
        for q in INDEX_QUERIES:
            sc.setJobGroup(f"check.{q}", f"index_neardup check {q}")
            ctx.attempted += 1
            try:
                got[q] = qs[q](spark, data_dir).toPandas()
            except Exception as ex:  # a failing query is a failed operation
                ctx.failed += 1
                ctx.log.setdefault("problems", []).append(f"{q}: {type(ex).__name__}: {ex}")
        oracle, ctx.log["oracle_s"] = oracle_f.result()
    for q, df in got.items():
        problem = compare(df, oracle[q])
        if problem:
            ctx.failed += 1
            ctx.log.setdefault("problems", []).append(f"{q}: {problem}")
    del got

    passes: list[dict[str, float]] = []
    measured = 0.0
    cpu0 = tree_cpu_s()
    while not passes or measured < ctx.seconds:
        k = len(passes)
        walls = {}
        for q in INDEX_QUERIES:
            sc.setJobGroup(f"p{k}.{q}", f"index_neardup pass {k} {q}")
            ctx.attempted += 1
            t0 = time.time()
            try:
                qs[q](spark, data_dir).write.format("noop").mode("overwrite").save()
            except Exception as ex:
                ctx.failed += 1
                ctx.log.setdefault("problems", []).append(f"{q}: {type(ex).__name__}: {ex}")
            walls[q] = time.time() - t0
        passes.append(walls)
        measured += sum(walls.values())
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)

    cpu_s = (tree_cpu_s() - cpu0) / len(passes)
    sums = [sum(p.values()) for p in passes]
    rows = sum(N_EMB if q in EMB_QUERIES else N_DOCS for q in INDEX_QUERIES)
    e2e = {
        "items_per_s": rows * len(passes) / sum(sums),
        "work_s": statistics.median(sums),
        "op_p50_s": statistics.median(w for p in passes for w in p.values()),
        "cpu_ms_per_item": 1e3 * cpu_s / rows,
    }
    ctx.log["passes"] = passes
    ctx.log["work_cpu_s"] = cpu_s
    n_pairs = candidate_pairs(spark, data_dir) if ctx.tracer.enabled else 0
    return e2e, lambda: layer_metrics(ctx, passes, n_pairs)


def candidate_pairs(spark, data_dir: str) -> int:
    """LSH candidate pairs that enter ngram_jaccard's verify: the same
    ``minhash_lsh_pairs`` call the query makes, counted."""
    from pygeodatacrawler_spark.entry_queries import _MH_K
    from pygeodatacrawler_spark.operators.dedup import minhash_lsh_pairs

    spark.sparkContext.setJobGroup("replay.lsh", "index_neardup candidate pairs")
    docs = spark.read.parquet(f"{data_dir}/documents.parquet")
    return minhash_lsh_pairs(docs, "doc_id", "text", k=_MH_K, bands=_MH_K, shingle_n=3).count()


def layer_metrics(ctx, passes, n_pairs: int) -> dict:
    """Per-query walls (median over passes) and shuffle volume, the
    candidate pairs into the ngram verify, and the Spark runtime totals
    of one pass (mean over passes). Reads the closed event log."""
    from perfbench.tracing import read_event_logs

    groups = read_event_logs(ctx.event_log_dir)
    out = {"dedup.ngram_pairs": n_pairs}
    out |= {f"q.{q}_s": statistics.median(p[q] for p in passes) for q in INDEX_QUERIES}
    n = len(passes)
    for q in SHUFFLE_QUERIES:
        gs = [groups[f"p{k}.{q}"] for k in range(n) if f"p{k}.{q}" in groups]
        out[f"q.{q}_shuffle_mb"] = sum(g.shuffle_write_b for g in gs) / 1e6 / max(1, len(gs))
    timed = [g for name, g in groups.items() if name.startswith("p")]
    totals = spark_totals(timed)
    out.update({k: v / n for k, v in totals.items()})
    return out
