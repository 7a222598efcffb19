"""CLI — the spark-submit entry points mirroring the reference's
`crawl-metadata` / `crawl-maps` commands (pyproject.toml:35-38 of the
reference declares Click CLIs; here one argparse module, submitted as
``spark-submit --py-files pygeodatacrawler_spark.zip -m`` or plain
``python -m pygeodatacrawler_spark.cli``).

Subcommands:
  crawl    — run the frontier loop over a pages parquet (or the
             synthetic fixture corpus) into a workdir of snapshot
             tables; resumable by re-running with the same workdir.
  harvest  — metadata harvest pass over pages parquet -> records
             parquet (sniff + checkId + optional config inheritance).
  export   — render records to a profile (iso19139/dcat/stac/oarec/json) sink.
  catalog  — per-domain catalog rollup + rendered catalog documents
             (the crawl-maps analog).
"""

from __future__ import annotations

import argparse
import json
import sys


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--master", default=None, help="spark master (default local[$SPARK_GRAFT_CPUS])")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="pygeodatacrawler-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("crawl", help="run the distributed crawl loop")
    c.add_argument("--pages", help="pages parquet path (default: synthetic fixture corpus)")
    c.add_argument("--seeds", help="seeds parquet path (url, depth)")
    c.add_argument("--robots", help="robots parquet path")
    c.add_argument("--workdir", required=True, help="snapshot-table directory (resume point)")
    c.add_argument("--host-budget", type=int, default=100)
    c.add_argument("--max-rounds", type=int, default=100)
    c.add_argument("--fixture-pages", type=int, default=2000)
    c.add_argument(
        "--fetch",
        choices=["store", "synth", "http"],
        default="store",
        help="store: probe the pages table per round; synth: per-URL "
        "fetch UDF regenerating fixture pages from the URL (production "
        "shape — O(batch) rounds, no page store); http: real HTTP GETs "
        "with the reference's fetchUrl semantics (requires --seeds)",
    )
    c.add_argument("--fixture-hosts", type=int, default=20)
    c.add_argument(
        "--contact", default=None,
        help="mailto contact for the http fetch UA (default $pgdc_contact)",
    )
    c.add_argument(
        "--trap-every", type=int, default=None,
        help="crawl-trap defense: recompute the URL-template trap table "
        "every N rounds from committed records",
    )
    c.add_argument(
        "--recrawl", action="store_true",
        help="before the loop, flip fetched URLs whose adaptive revisit "
        "interval elapsed back to pending (freshness pass)",
    )
    c.add_argument("--recrawl-base", type=int, default=4)
    c.add_argument("--recrawl-max", type=int, default=64)
    _add_common(c)

    h = sub.add_parser("harvest", help="metadata harvest pass")
    h.add_argument("--pages", required=True)
    h.add_argument("--config", help="config parquet (prefix, title, abstract, keywords)")
    h.add_argument("--out", required=True, help="records parquet output")
    _add_common(h)

    e = sub.add_parser("export", help="render records to a profile sink")
    e.add_argument("--records", required=True)
    e.add_argument(
        "--profile",
        choices=["iso19139", "dcat", "stac", "oarec", "json"],
        default="iso19139",
    )
    e.add_argument("--out", required=True)
    _add_common(e)

    g = sub.add_parser("catalog", help="per-domain catalog rollup + render")
    g.add_argument("--records", required=True)
    g.add_argument("--out", required=True)
    _add_common(g)

    w = sub.add_parser(
        "archive",
        help="export a crawl workdir's records as Common-Crawl-style "
        "WET (extracted text) / WAT (metadata JSON) archives",
    )
    w.add_argument("--workdir", required=True)
    w.add_argument("--out", required=True)
    w.add_argument(
        "--format", choices=["wet", "wat", "both"], default="both"
    )
    w.add_argument(
        "--partitions", type=int, default=None,
        help="archives to write (default: records' partitioning)",
    )
    _add_common(w)

    args = ap.parse_args(argv)

    from pygeodatacrawler_spark.session import get_spark

    spark = get_spark(f"pygdc-{args.cmd}", master=args.master)
    try:
        if args.cmd == "crawl":
            from pygeodatacrawler_spark.fixtures import load_pages
            from pygeodatacrawler_spark.plans.crawl import CrawlEngine

            fetch_fn = None
            if args.fetch == "synth":
                from pygeodatacrawler_spark.fixtures import (
                    generate_pages_distributed,
                    make_fetch_fn,
                )

                _, seeds, robots = generate_pages_distributed(
                    spark,
                    n_pages=args.fixture_pages,
                    n_hosts=args.fixture_hosts,
                )
                if args.seeds:
                    seeds = spark.read.parquet(args.seeds)
                if args.robots:
                    robots = spark.read.parquet(args.robots)
                pages = None
                fetch_fn = make_fetch_fn(args.fixture_pages, args.fixture_hosts)
            elif args.fetch == "http":
                from pygeodatacrawler_spark.operators.fetch import (
                    make_http_fetch_fn,
                )

                if not args.seeds:
                    raise SystemExit("--fetch http requires --seeds")
                seeds = spark.read.parquet(args.seeds)
                robots = spark.read.parquet(args.robots) if args.robots else None
                delays = None
                if robots is not None:
                    # host-scoped tables key delays on hostname; the
                    # fetch fn looks delays up host-first either way
                    keycol = (
                        "host" if "host" in robots.columns
                        else "registered_domain"
                    )
                    delays = {
                        r[keycol]: float(r["crawl_delay"])
                        for r in robots.select(
                            keycol, "crawl_delay"
                        ).collect()
                        if r["crawl_delay"]
                    }
                pages = None
                fetch_fn = make_http_fetch_fn(
                    contact=args.contact, crawl_delays=delays
                )
            elif args.pages:
                pages = spark.read.parquet(args.pages)
                seeds = spark.read.parquet(args.seeds) if args.seeds else None
                robots = spark.read.parquet(args.robots) if args.robots else None
            else:
                pages, seeds, robots = load_pages(spark, n_pages=args.fixture_pages)
            eng = CrawlEngine(
                spark,
                args.workdir,
                pages,
                robots,
                host_budget=args.host_budget,
                fetch_fn=fetch_fn,
                trap_every=args.trap_every,
            )
            if not eng.frontier.exists():
                if seeds is None:
                    raise SystemExit("--seeds required for a fresh workdir")
                eng.init_from_seeds(seeds)
            recrawled = 0
            if args.recrawl:
                eng.reconcile()
                recrawled = eng.enqueue_recrawl(
                    base_interval=args.recrawl_base,
                    max_interval=args.recrawl_max,
                )
            stats = eng.run(max_rounds=args.max_rounds)
            print(
                json.dumps(
                    {
                        "rounds": stats.rounds,
                        "urls_fetched": stats.urls_fetched,
                        "urls_discovered": stats.urls_discovered,
                        "recrawled": recrawled,
                    }
                )
            )
        elif args.cmd == "harvest":
            from pygeodatacrawler_spark.operators.harvest import (
                apply_config,
                harvest_metadata,
            )

            pages = spark.read.parquet(args.pages)
            recs = harvest_metadata(pages)
            if args.config:
                recs = apply_config(recs, spark.read.parquet(args.config))
            recs.write.mode("overwrite").parquet(args.out)
            print(json.dumps({"records": spark.read.parquet(args.out).count()}))
        elif args.cmd == "export":
            from pygeodatacrawler_spark.operators.harvest import valid_records
            from pygeodatacrawler_spark.sources.export import write_exports

            recs = valid_records(spark.read.parquet(args.records))
            write_exports(recs, args.out, args.profile)
            print(json.dumps({"exported": spark.read.parquet(args.out).count()}))
        elif args.cmd == "catalog":
            from pygeodatacrawler_spark.operators.harvest import (
                render_catalog,
                valid_records,
            )

            recs = valid_records(spark.read.parquet(args.records))
            render_catalog(recs).write.mode("overwrite").parquet(args.out)
            print(json.dumps({"catalogs": spark.read.parquet(args.out).count()}))
        elif args.cmd == "archive":
            import os

            import pyspark.sql.functions as F

            from pygeodatacrawler_spark.plans.crawl import (
                RecordsView,
                frontier_table,
            )
            from pygeodatacrawler_spark.sources.wet import (
                write_wat,
                write_wet,
            )

            ft = frontier_table(spark, args.workdir)
            # NOTE (documented divergence, round-6 advice): WARC-Date
            # here is EXPORT time, not fetch time — the records delta
            # does not persist a per-fetch wall timestamp (rounds are
            # deterministic and wall-clock-free by design), so
            # re-exports of the same workdir produce byte-different
            # archives. Downstream consumers needing capture dates
            # should treat WARC-Date as the archive's creation time.
            recs = RecordsView(ft).read().withColumn(
                "warc_ts", F.current_timestamp()
            )
            if args.partitions:
                recs = recs.repartition(args.partitions)
            recs = recs.cache()
            out = {}
            if args.format in ("wet", "both"):
                man = write_wet(
                    recs.select(
                        F.col("canon_url").alias("url"), "warc_ts", "text"
                    ),
                    os.path.join(args.out, "wet"),
                )
                out["wet"] = sum(m["n_records"] for m in man)
            if args.format in ("wat", "both"):
                man = write_wat(
                    recs.select(
                        F.col("canon_url").alias("url"), "warc_ts",
                        "links", "n_bytes", "depth", "round",
                    ),
                    os.path.join(args.out, "wat"),
                )
                out["wat"] = sum(m["n_records"] for m in man)
            print(json.dumps(out))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
