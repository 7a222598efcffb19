"""Round-6 optimization harness: per-query isolation bench + plan dumps.

bench.py is FROZEN (driver contract); this file holds the extra
measurement machinery the optimization round needs (guide §1.4):

- noop-sink isolation per query with N repeats (min + median reported),
  identical warm-count-then-time methodology to bench.py;
- full ``explain("formatted")`` capture into plans/r06/<query>_<tag>.txt;
- job descriptions per query so the UI/event log is attributable.

Usage:
  python bench_extra.py [--sf-dir /root/testdata/sf1.0] [--repeats 3]
                        [--plans before|after] [--crawl] [query ...]
"""

from __future__ import annotations

import argparse
import io
import json
import os
import statistics
import sys
import tempfile
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "pricing_summary",
    "market_share",
    "topk_per_group",
    "first_match",
    "tumbling_window",
    "sessionize",
    "dedup_exact",
    "minhash_signature",
    "ngram_jaccard",
    "simhash",
    "ann_topk",
    "lang_id",
    "quality",
    "fingerprint",
    "canonicalize",
    "crawl_bfs",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0"))
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--plans", default=None, help="tag: write plans/r06/<q>_<tag>.txt")
    ap.add_argument("--crawl", action="store_true", help="also time the crawl loop")
    ap.add_argument("--crawl-pages", type=int, default=6000)
    ap.add_argument("queries", nargs="*", default=None)
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from pygeodatacrawler_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("bench_extra", master=f"local[{cpus}]")
    qs = entrymod.queries()
    names = args.queries or HEADLINE

    results: dict[str, dict] = {}
    for name in names:
        df = qs[name](spark, args.sf_dir)
        if args.plans:
            os.makedirs("plans/r06", exist_ok=True)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(f"plans/r06/{name}_{args.plans}.txt", "w") as f:
                f.write(buf.getvalue())
        spark.sparkContext.setJobDescription(f"warm:{name}")
        df.count()
        samples = []
        for i in range(args.repeats):
            spark.sparkContext.setJobDescription(f"noop:{name}#{i}")
            t0 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.monotonic() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        results[name] = {
            "min": min(samples),
            "median": round(statistics.median(samples), 3),
            "samples": samples,
        }
        print(f"{name}: min={min(samples)} median={results[name]['median']} {samples}", flush=True)

    if args.crawl:
        from pygeodatacrawler_spark.fixtures import load_pages
        from pygeodatacrawler_spark.plans.crawl import CrawlEngine

        pages, seeds, robots = load_pages(spark, n_pages=args.crawl_pages, n_hosts=40)
        pages = pages.cache()
        pages.count()
        with tempfile.TemporaryDirectory() as tmp:
            eng = CrawlEngine(
                spark, tmp, pages, robots, host_budget=2000, bloom_buckets=16,
            )
            eng.init_from_seeds(seeds)
            t0 = time.monotonic()
            stats = eng.run(max_rounds=50)
            wall = round(time.monotonic() - t0, 3)
        results["crawl_loop"] = {
            "min": wall, "median": wall, "samples": [wall],
            "urls_fetched": stats.urls_fetched, "rounds": stats.rounds,
        }
        print(f"crawl_loop: {wall}s rounds={stats.rounds} fetched={stats.urls_fetched}", flush=True)

    print(json.dumps({"sf_dir": args.sf_dir, "cpus": cpus, "results": results}))
    spark.stop()


if __name__ == "__main__":
    main()
