"""Metric names, units and directions, shared by both workloads.

End-to-end metrics come from untraced runs (``--trace 0``); per-layer
metrics from traced runs (``--trace 1``). Every workload reports every
metric of its list; a layer the workload never reaches reads 0.
``BENCHMARK.json`` at the repository root declares the same lists (a
test keeps the two in step).
"""

from __future__ import annotations

# name -> (unit, better)
END_TO_END = {
    "items_per_s": ("1/s", "higher"),
    "work_s": ("s", "lower"),
    "op_p50_s": ("s", "lower"),
    "cpu_ms_per_item": ("ms", "lower"),
    "setup_s": ("s", "lower"),
}

# minhash_lsh_pairs is left out: on a 4-core box its Spark run (~9 s)
# and its recursive-closure DuckDB oracle (~13 s) alone would overrun the
# per-run time budget; its LSH candidate step still runs inside
# ngram_jaccard, and dedup.ngram_pairs counts that step's output.
INDEX_QUERIES = [
    "dedup_exact", "minhash_signature", "ngram_jaccard",
    "simhash", "fingerprint", "lang_id", "quality", "canonicalize", "ann_topk",
    "embedding_near_dupes", "trap_detect", "seen_filter", "export_render",
]
SHUFFLE_QUERIES = ["ngram_jaccard", "embedding_near_dupes"]

PER_LAYER = {
    # plans.crawl
    "crawl.rounds": ("count", "lower"),
    "crawl.fused_rounds": ("count", "higher"),
    "crawl.jobs_per_round": ("count", "lower"),
    "crawl.stages_per_round": ("count", "lower"),
    "crawl.tasks_per_round": ("count", "lower"),
    "crawl.tasks_last_round": ("count", "lower"),
    "crawl.driver_gap_s": ("s", "lower"),
    "crawl.unaccounted_s": ("s", "lower"),
    # operators.frontier
    "frontier.pick_s": ("s", "lower"),
    "frontier.batch_rows": ("count", "higher"),
    "frontier.write_skew": ("ratio", "lower"),
    # pages-store probe and functions.text
    "fetch.fetch_s": ("s", "lower"),
    "text.extract_s": ("s", "lower"),
    "text.html_mb": ("MB", "lower"),
    # functions.urls
    "urls.canon_s": ("s", "lower"),
    "urls.links": ("count", "lower"),
    # seen filter (the anti-join in plans.crawl)
    "seen.probe_s": ("s", "lower"),
    "seen.new_ratio": ("ratio", "higher"),
    # tables
    "tables.bytes_per_url": ("B", "lower"),
    "tables.files_written": ("count", "lower"),
    "tables.resolve_s": ("s", "lower"),
    # operators.dedup / similarity, functions.quality, sources.export
    **{f"q.{q}_s": ("s", "lower") for q in INDEX_QUERIES},
    **{f"q.{q}_shuffle_mb": ("MB", "lower") for q in SHUFFLE_QUERIES},
    "dedup.ngram_pairs": ("count", "lower"),
    # Spark runtime (session), over the measured operations
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_read_mb": ("MB", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "spark.python_udf_s": ("s", "lower"),
    "spark.python_io_mb": ("MB", "lower"),
    "spark.failed_tasks": ("count", "lower"),
    # process, set-up parts and the traced run's own end-to-end numbers
    "proc.peak_rss_mb": ("MB", "lower"),
    "setup.session_s": ("s", "lower"),
    "setup.gen_s": ("s", "lower"),
    "setup.oracle_s": ("s", "lower"),
    "trace.items_per_s": ("1/s", "higher"),
    "trace.work_s": ("s", "lower"),
    "trace.op_p50_s": ("s", "lower"),
}

def spark_totals(groups) -> dict:
    """``spark.*`` metrics summed over event-log job groups."""
    return {
        "spark.executor_run_s": sum(g.run_ms for g in groups) / 1e3,
        "spark.executor_cpu_s": sum(g.cpu_ns for g in groups) / 1e9,
        "spark.gc_s": sum(g.gc_ms for g in groups) / 1e3,
        "spark.shuffle_read_mb": sum(g.shuffle_read_b for g in groups) / 1e6,
        "spark.shuffle_write_mb": sum(g.shuffle_write_b for g in groups) / 1e6,
        "spark.spill_mb": sum(g.spill_b for g in groups) / 1e6,
        "spark.python_udf_s": sum(g.python_ms for g in groups) / 1e3,
        "spark.python_io_mb": sum(g.python_io_b for g in groups) / 1e6,
        "spark.failed_tasks": sum(g.failed_tasks for g in groups),
    }


def result_line(correct: bool, attempted: int, failed: int, values: dict,
                spec: dict) -> dict:
    """The benchmark's last output line: every metric of ``spec``, 0 for
    one the workload does not reach."""
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, (unit, _) in spec.items()
        },
    }
