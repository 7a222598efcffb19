"""The distributed crawl loop: round-based frontier expansion.

Each round is the declarative rebuild of one level of the reference's
recursive traversal (/root/reference/geodatacrawler/metadata.py:96-461):

    pending frontier
      -> politeness batch  (robots broadcast join + per-host rank/budget,
                            operators/frontier.py)
      -> seen pre-filter   (bloom probe prunes; exact url_hash anti-join
                            removes bloom false positives — parity stays
                            exact, like the reference's exists-check)
      -> "fetch"           (equi-join canon_url = pages.url; a real
                            deployment swaps this join for the HTTP
                            mapInPandas stage, same schema)
      -> extract           (one mapInPandas pass: text + links + bytes,
                            functions/text.py — byte-identical extractor)
      -> expand            (explode links, canonicalize, depth+1,
                            dedupe, MERGE into frontier as pending)
      -> commit            (ONE unified delta write: frontier flip rows
                            carry the record payload; visits derive at
                            read time; one fsync'd lineage line)

Determinism: ordering keys are (depth, discovery_round, canon_url) —
no wall clock, no uuid, no partition-order dependence; a killed run
resumed from the last committed snapshot replays to identical tables
(test_crawl_resume). Visit rank is assigned per round from
(depth, canon_url), matching the sequential oracle exactly.

Scale design (10^10 frontier): frontier snapshots partition by
bucket(url_hash); the only large-large interaction is new-links vs
seen, which the bloom probe turns into a map-only stage for the
definitely-new majority; robots and host-count tables are broadcast;
heavy hosts are salted before the fetch stage (operators/frontier.py).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window
import pyspark.sql.functions as F

from pygeodatacrawler_spark.functions.text import EXTRACT_SCHEMA, extract_pages_batches
from pygeodatacrawler_spark.functions.urls import (
    canonicalize_url_named,
    registered_domain_named,
    url_hash,
)
from pygeodatacrawler_spark.operators.frontier import (
    pick_batch,
    repartition_for_fetch,
)
from pygeodatacrawler_spark.operators.seen import (
    BROADCAST_MAX_BITMAP_BYTES,
    bloom_geometry,
    build_bloom,
    merge_blooms,
    probe_bloom,
)
from pygeodatacrawler_spark.tables import SnapshotTable

FRONTIER_COLS = [
    "url_hash",
    "url",
    "canon_url",
    "registered_domain",
    "depth",
    "discovery_ts",
    "state",
]

# explicit read schema for frontier resolution: delta versions carry
# the record payload columns too (unified round commit), but frontier
# state is exactly these — parquet column pruning means the payload
# bytes are never read by a resolve
FRONTIER_SCHEMA = (
    "url_hash long, url string, canon_url string, "
    "registered_domain string, depth int, discovery_ts long, state string"
)

# the records log view: payload columns written into the frontier
# delta by the SAME single write action that commits the round
RECORD_COLS = [
    "url_hash", "canon_url", "registered_domain", "depth", "round",
    "text", "text_sha2", "links", "n_bytes", "fetch_ms",
]
RECORD_SCHEMA = (
    "url_hash long, canon_url string, registered_domain string, "
    "depth int, round int, text string, text_sha2 string, "
    "links array<string>, n_bytes long, fetch_ms double, state string"
)


def frontier_table(spark: SparkSession, workdir: str) -> SnapshotTable:
    """The crawl's frontier table under ``workdir``.

    Merge-on-read: each round appends ONE delta carrying BOTH the
    frontier flip rows (state) and the record payload (text/links/
    latency) — the round's single write action. State resolves at read
    time (last version wins per url_hash, over the narrow
    FRONTIER_SCHEMA projection — payload columns are pruned at the
    parquet scan) and compacts to a narrow base every compact_every
    rounds; payload rows stay in their delta files forever (RecordsView
    reads the delta log), so the commit cost is O(batch) and payload
    bytes are written ONCE and never rewritten."""
    return SnapshotTable(
        spark, workdir, "frontier",
        key="url_hash", order_col="canon_url", read_schema=FRONTIER_SCHEMA,
    )


class RecordsView:
    """The records 'table' as a read-side projection of the frontier
    table's delta log. A round's records ARE its frontier delta's
    state='fetched' rows (the unified commit writes extraction payload
    and frontier flip in ONE action); compaction rewrites only the
    narrow frontier columns into bases, so payload rows live in their
    original delta files forever — append-log semantics without a
    second table or a second write job per round."""

    def __init__(self, frontier: SnapshotTable):
        self._frontier = frontier

    def read(self) -> DataFrame:
        return (
            self._frontier.read_delta_log(RECORD_SCHEMA)
            .filter(F.col("state") == "fetched")
            .select(*RECORD_COLS)
        )


def _min_row_per_hash(df: DataFrame) -> DataFrame:
    """Deterministic dedup on url_hash: keep the min-(depth, url) row.

    The oracle's enqueue keeps the first enqueue of a URL — i.e. the
    minimum parent depth (refcrawl.py:59-71); lexicographic raw url
    breaks exact-depth ties with no partition-order dependence
    (dropDuplicates would keep an arbitrary row)."""
    rest = [c for c in FRONTIER_COLS if c not in ("url_hash", "depth", "url")]
    return (
        df.groupBy("url_hash")
        .agg(F.min(F.struct("depth", "url", *rest)).alias("s"))
        .select("url_hash", "s.*")
        .select(*FRONTIER_COLS)
    )


def seeds_to_frontier(seeds: DataFrame) -> DataFrame:
    """seeds(url, depth) -> pending frontier rows (deterministic dedup)."""
    rows = (
        seeds.select(
            canonicalize_url_named("url").alias("canon_url"),
            F.col("url"),
            F.col("depth").cast("int").alias("depth"),
        )
        .withColumn("url_hash", url_hash(F.col("canon_url")))
        .withColumn("registered_domain", registered_domain_named("canon_url"))
        .withColumn("discovery_ts", F.lit(0).cast("long"))
        .withColumn("state", F.lit("pending"))
    )
    return _min_row_per_hash(rows)


_WARMED_APPS: set[str] = set()


def _warm_executors(spark: SparkSession) -> None:
    """One-time executor warmup at engine initialization.

    The first crawl round otherwise pays cluster cold-start inside the
    loop: every Python worker forks and imports pandas/pyarrow on its
    first extract batch, and the Arrow serialization path initializes
    lazily — measured ~2.5-3 s added to round 1 at 32 cores. A
    long-running crawl service does this once at startup, not once per
    measurement window, so the engine warms explicitly: one tiny
    map-only job that pushes a row through the extract UDF and the
    URL-canonicalization expressions on every core. No crawl state or
    corpus data is touched or retained — this spins up workers and JIT
    paths only. Once per SparkContext (keyed by applicationId)."""
    app = spark.sparkContext.applicationId
    if app in _WARMED_APPS:
        return
    _WARMED_APPS.add(app)
    n = spark.sparkContext.defaultParallelism
    rows = [(f"http://warm.example.org/{i}", b"<html><a href='/x'>x</a></html>")
            for i in range(n)]
    df = (
        spark.createDataFrame(rows, "url string, html binary")
        .repartition(n, "url")
        .mapInPandas(extract_pages_batches, schema=EXTRACT_SCHEMA)
        .select(canonicalize_url_named("url").alias("canon_url"))
        .withColumn("registered_domain", registered_domain_named("canon_url"))
        .withColumn("url_hash", url_hash(F.col("canon_url")))
    )
    df.write.format("noop").mode("overwrite").save()


@dataclass
class CrawlStats:
    rounds: int = 0
    urls_fetched: int = 0
    urls_discovered: int = 0
    lineage: list[dict] = field(default_factory=list)


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        pages: DataFrame | None,
        robots: DataFrame | None = None,
        host_budget: int = 100,
        bloom_buckets: int = 16,
        salt_threshold: int = 1000,
        fetch_fn=None,
        bloom_min_frontier: int = 4_000_000,
        levels_per_commit: int = 1,  # accepted and ignored: one level per commit
        host_priority: DataFrame | None = None,
        trap_every: int | None = None,
        trap_min_urls: int = 100,
        trap_max_diversity: float = 0.1,
    ):
        self.spark = spark
        self.pages = pages
        # per-URL fetch function (mapInPandas body url -> url, html):
        # the production shape — an HTTP client in the UDF — and the
        # O(batch) bench stand-in (fixtures.make_fetch_fn). When set,
        # rounds never touch a page store; cost scales with the batch,
        # not the corpus. ``pages`` join mode remains for parity tests
        # against a materialized store.
        self.fetch_fn = fetch_fn
        if pages is None and fetch_fn is None:
            raise ValueError("need a pages store or a fetch_fn")
        self.robots = robots
        self.host_budget = host_budget
        self.bloom_buckets = bloom_buckets
        self.salt_threshold = salt_threshold
        # the round delta is written with the fetch+extract stage's
        # natural partitioning (a coalesce here would propagate up and
        # collapse the extract parallelism), and its per-file footer
        # rows double as the lineage partition-balance metric with NO
        # extra Spark action
        self.frontier = frontier_table(spark, workdir)
        # the records log is a VIEW of the frontier delta log — same
        # files, zero extra writes
        self.records = RecordsView(self.frontier)
        # lineage is the SINGLE COMMIT POINT of a round: the fsync'd
        # JSONL line carries the frontier snapshot version the round
        # produced; resume rolls back any snapshot version not covered
        # by a lineage line, so a crash mid-round (between the unified
        # delta write and the lineage write) replays the round on
        # exactly the pre-round state
        self.lineage_path = os.path.join(workdir, "lineage.jsonl")
        # below this, the exact anti-join is strictly cheaper than the
        # bloom machinery: url_hash keys are 8 B, so a 4M-key frontier
        # side is a ~32 MB broadcast (half the configured 64 MB
        # autoBroadcast ceiling) and the seen check is ONE map-only
        # broadcast-anti-join — versus the bloom's per-round delta
        # build + merge + ship/probe stages. Above it, keys stop being
        # broadcastable and the bloom prunes the shuffle; a per-key-
        # size scale threshold, not a tuning knob.
        self.bloom_min_frontier = bloom_min_frontier
        # rank-weighted budgets: (registered_domain, budget_factor),
        # e.g. linkrank.budget_factors_from_pagerank over a previous
        # crawl's host graph — broadcast into pick_batch
        self.host_priority = host_priority
        # crawl-trap defense (operators/traps.py): every trap_every
        # rounds, templates are recomputed from the records committed
        # BEFORE the last trap_every boundary — a pure function of
        # committed state, so kill/resume replays to identical tables
        self.trap_every = trap_every
        self.trap_min_urls = trap_min_urls
        self.trap_max_diversity = trap_max_diversity
        # resolved-frontier cache, maintained INCREMENTALLY across
        # rounds: applying the committed delta to the cached state
        # (broadcast state-flip + O(batch) union) replaces re-running
        # the merge-on-read resolve — a key-window over base+deltas,
        # i.e. O(frontier) shuffle — every round. The disk table stays
        # the source of truth (resume/reconcile drop the cache); the
        # cache is refreshed from disk at every compaction, which both
        # truncates the lineage chain (≤ compact_every rounds deep, so
        # an evicted cache recomputes through at most one compact cycle
        # — DataFrame cache is MEMORY_AND_DISK, so at 10^10 rows the
        # frontier spills rather than OOMs) and keeps the two in sync.
        self._frontier_df: DataFrame | None = None
        self._frontier_prev: DataFrame | None = None
        self._bloom: DataFrame | None = None
        self._bloom_prev: DataFrame | None = None
        self._reset_crawl_state()

    def _reset_crawl_state(self) -> None:
        """Drop every driver-side value derived from the crawl on disk
        (all of it is rebuilt lazily from the committed tables): a new
        engine starts here, and so does a re-seeded one."""
        self._drop_frontier_cache()
        for df in (self._bloom, self._bloom_prev):
            if df is not None:
                df.unpersist()
        self.stats = CrawlStats()
        # driver-side frontier-size counter: sizes the bloom without a
        # count() action per round; re-derived from the snapshot on resume
        self._n_frontier: int | None = None
        # incremental seen-bloom: rebuilt from the full frontier only
        # when capacity is exceeded (amortized doubling); otherwise each
        # round folds ONLY its frontier delta in with merge_blooms —
        # O(batch) per round, never O(frontier). 10^10-scale argument:
        # re-setting k bits per key for the whole frontier each round is
        # an O(N·k)/round scan; the incremental fold touches only the
        # round's new keys plus B bucket rows.
        self._bloom = None
        self._bloom_prev = None
        self._bloom_geom: tuple[int, int] | None = None
        self._bloom_capacity = 0
        self._bloom_pending_delta: int | None = None
        self._bloom_folds = 0
        self._last_batch: int | None = None
        self._trap_templates: list[str] | None = None
        self._traps_boundary = -1

    # -- bootstrap ---------------------------------------------------------
    def init_from_seeds(self, seeds: DataFrame) -> None:
        """seeds(url, depth) -> frontier v1 (all pending, round 0).
        Re-seeding a used workdir starts a new crawl: the old frontier,
        lineage and per-crawl state are discarded."""
        self.frontier.rollback(0)
        # truncate before the new snapshot exists: the old lineage would
        # otherwise make resume_round() continue the old numbering
        open(self.lineage_path, "w").close()
        self._reset_crawl_state()
        v = self.frontier.write_snapshot(seeds_to_frontier(seeds))
        self._n_frontier = self.frontier.read().count()
        self.commit_external(frontier_v=v)
        _warm_executors(self.spark)

    def commit_external(self, frontier_v: int | None = None) -> None:
        """Commit a non-round table write (seed init / streaming seed
        merge) to lineage so reconcile won't roll it back."""
        v = (
            frontier_v
            if frontier_v is not None
            else (self.frontier.latest_version() or 0)
        )
        # records_v mirrors frontier_v (one unified table since round
        # 5); kept in the line for lineage-format stability
        self._append_lineage({"round": -1, "frontier_v": v, "records_v": v})

    def resume_round(self) -> int:
        """Next round number implied by committed lineage (for resume).
        Lineage written by earlier versions may carry ``levels`` (BFS
        levels fused into one commit); such a line advances by that."""
        nxt = [
            l["round"] + l.get("levels", 1)
            for l in self._read_lineage()
            if l["round"] >= 0
        ]
        return max(nxt) if nxt else 0

    def reconcile(self) -> None:
        """Roll back table versions newer than the last committed
        lineage line — the crash-recovery half of atomic round commit.
        No-op after a clean shutdown."""
        lines = self._read_lineage()
        if not lines:
            return
        last = lines[-1]
        if "frontier_v" not in last:  # pre-upgrade lineage format
            return
        # one table since round 5: rolling the frontier back also
        # discards the uncommitted round's record rows (same files)
        if self.frontier.rollback(int(last["frontier_v"])):
            self._n_frontier = None  # recount from the reconciled snapshot
            self._drop_frontier_cache()

    def _drop_frontier_cache(self) -> None:
        for df in (self._frontier_df, self._frontier_prev):
            if df is not None:
                df.unpersist()
        self._frontier_df = None
        self._frontier_prev = None

    def _read_lineage(self) -> list[dict]:
        if not os.path.exists(self.lineage_path):
            return []
        with open(self.lineage_path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def _append_lineage(self, line: dict) -> None:
        with open(self.lineage_path, "a") as f:
            f.write(json.dumps(line) + "\n")
            f.flush()
            os.fsync(f.fileno())

    def lineage_df(self) -> DataFrame:
        """Lineage as a DataFrame (for export/inspection). External
        commit markers (round=-1) are bookkeeping, not round metrics."""
        fields = [
            "round", "rows_in", "rows_out", "n_records",
            "n_parts", "skew", "wall_s", "lat_hist", "lat_mean",
        ]
        rows = [
            {k: l.get(k) for k in fields}
            for l in self._read_lineage()
            if l["round"] >= 0
        ]
        return self.spark.createDataFrame(
            rows,
            schema=(
                "round int, rows_in long, rows_out long, n_records long, "
                "n_parts int, skew double, wall_s double, "
                "lat_hist array<long>, lat_mean double"
            ),
        )

    def _current_bloom(self, frontier: DataFrame) -> DataFrame:
        """Seen-bloom for this round, maintained incrementally.

        Full build (one O(frontier) pass) happens only when the bloom
        does not exist or the frontier outgrew the capacity the bitmaps
        were sized for — capacity doubles, so full rebuilds are
        amortized O(1) per key, like a growable hash table. Every other
        round ORs in ONLY the previous round's frontier delta
        (merge_blooms over the delta's bucket rows — O(batch)); the
        merged table materializes lazily inside this round's probe
        action, no extra job. State-flip rows in the delta re-set bits
        that are already set (idempotent).

        The branch structure is EXHAUSTIVE: any state that is not
        provably fold-able (no bloom, outgrown capacity, or no pending
        delta recorded — a fresh, resumed or re-seeded engine) falls
        into a full rebuild. A silent stale-bloom return would turn
        bloom false negatives into re-fetches of seen URLs.

        Every 8th fold localCheckpoints the merged bloom instead of
        caching it: each fold adds a merge + delta-scan layer to the
        cached plan's lineage, and after hundreds of rounds a cache
        eviction would recompute through the whole chain (the
        capacity-doubling rebuild stops truncating it once the frontier
        growth plateaus). The checkpoint bounds recompute depth at 8
        folds; it is tiny (B bucket rows).
        """
        can_fold = (
            self._bloom is not None
            and self._n_frontier <= self._bloom_capacity
            and self._bloom_pending_delta is not None
        )
        if self._bloom_prev is not None:
            self._bloom_prev.unpersist()
        self._bloom_prev = self._bloom
        if can_fold:
            delta_keys = self.frontier.read_version_only(
                self._bloom_pending_delta
            ).select("url_hash")
            inc = build_bloom(
                delta_keys,
                n_buckets=self.bloom_buckets,
                geometry=self._bloom_geom,
            )
            merged = merge_blooms(self._bloom, inc)
            self._bloom_folds += 1
            if self._bloom_folds % 8 == 0:
                self._bloom = merged.localCheckpoint(eager=False)
            else:
                self._bloom = merged.cache()
        else:
            if self._n_frontier > self._bloom_capacity:
                self._bloom_capacity = max(
                    2 * self._n_frontier, 2 * self.bloom_min_frontier
                )
                self._bloom_geom = bloom_geometry(
                    int(self._bloom_capacity / self.bloom_buckets) + 1, 0.01
                )
            self._bloom = build_bloom(
                frontier.select("url_hash"),
                n_buckets=self.bloom_buckets,
                geometry=self._bloom_geom,
            ).cache()
        self._bloom_pending_delta = None
        return self._bloom

    # -- one round ---------------------------------------------------------
    def _round_batch(self, pending: DataFrame) -> DataFrame:
        """The round's fetch batch: politeness + priority + salt +
        fetch-width repartition (cached)."""
        # pick_batch caps every host at host_budget rows, so no host can
        # exceed the heavy threshold unless the budget itself does — a
        # driver-side check that skips the salt window entirely in the
        # common small-budget config; otherwise the salt decision rides
        # the SAME exchange as the priority window (no agg, no join)
        salt_thr = (
            self.salt_threshold
            if self.host_budget > self.salt_threshold
            else None
        )
        batch = pick_batch(
            pending, self.robots, self.host_budget, salt_threshold=salt_thr,
            host_priority=self.host_priority,
        )
        if salt_thr is None:
            batch = batch.withColumn("salt", F.lit(0))
        # width from last round's batch size (known from footers — no
        # job); first round falls back to the frontier size bound
        batch = repartition_for_fetch(
            batch, est_rows=self._last_batch or self._n_frontier
        )
        return batch.select(*FRONTIER_COLS, "host_rank", "salt").cache()

    def _round_records(self, batch: DataFrame, round_no: int) -> DataFrame:
        # fetch (HTTP stand-in): probe the pages store with the batch keys.
        # The batch side is tiny (hosts x budget keys) -> broadcast it and
        # INNER-join so the big pages side is a map-only scan-probe (no
        # shuffle of page bytes, ever); batch rows without a page fall out
        # here and come back as null-text records via the left join below
        # (the 404 analog). Extraction runs directly on the probe output,
        # so html bytes die in the same stage they were read.
        #
        # url / discovery_ts ride along: the unified round commit
        # turns these record rows directly into the frontier delta's
        # state='fetched' rows (no join back to the batch).
        id_cols = ["url_hash", "url", "canon_url", "registered_domain",
                   "depth", "discovery_ts"]
        if self.fetch_fn is not None:
            # per-URL fetch (production shape), FUSED with extraction in
            # one map-only UDF over the batch: fetch -> extract -> record
            # row, html dying inside the task. Batch identity columns
            # pass through, so there is NO join at all — a join here
            # would tempt Catalyst to broadcast the multi-GB extracted
            # side (unknown stats after mapInPandas) through the driver.
            fetch_fn = self.fetch_fn
            passthrough = list(id_cols)

            def _fetch_extract(pdf_iter):
                import pandas as pd  # noqa: PLC0415 (executor-side)

                for pdf in pdf_iter:
                    fetched = pd.concat(
                        list(
                            fetch_fn(
                                iter([pdf[["canon_url"]].rename(columns={"canon_url": "url"})])
                            )
                        ),
                        ignore_index=True,
                    )
                    ext = pd.concat(
                        list(extract_pages_batches(iter([fetched]))),
                        ignore_index=True,
                    ).set_index("url")
                    out = pdf[passthrough].reset_index(drop=True)
                    aligned = ext.reindex(out["canon_url"])
                    # 404 rows: NaN -> None so Arrow writes proper nulls
                    out["text"] = [
                        t if isinstance(t, str) else None
                        for t in aligned["text"]
                    ]
                    out["links"] = [
                        l if isinstance(l, list) else None
                        for l in aligned["links"]
                    ]
                    out["n_bytes"] = aligned["n_bytes"].astype("Int64").values
                    yield out

            records = batch.select(*id_cols).mapInPandas(
                _fetch_extract,
                schema=(
                    "url_hash long, url string, canon_url string, "
                    "registered_domain string, depth int, discovery_ts long, "
                    "text string, links array<string>, n_bytes long"
                ),
            )
        else:
            hits = self.pages.join(
                F.broadcast(batch.select(F.col("canon_url").alias("page_url"))),
                self.pages["url"] == F.col("page_url"),
                "inner",
            ).select(F.col("page_url").alias("url"), "html")
            extracted = hits.mapInPandas(
                extract_pages_batches, schema=EXTRACT_SCHEMA
            )
            records = batch.select(*id_cols).join(
                extracted.withColumnRenamed("url", "canon_url"),
                "canon_url",
                "left",
            )
        return records.withColumn("round", F.lit(round_no))

    def _round_new_links(
        self,
        records: DataFrame,
        round_no: int,
        frontier: DataFrame,
        bloom: DataFrame | None,
    ) -> DataFrame:
        """Expand the round's records into seen-filtered new frontier
        rows. ``bloom`` is the round's seen-bloom (None below the
        exact-anti-join threshold)."""
        links = (
            records.select("depth", F.explode_outer("links").alias("link"))
            .filter(F.col("link").isNotNull())
            .select(
                # memoized named-column expressions: constructing the
                # canonicalize/PSL trees costs ~0.5 s of driver py4j
                # per build and this runs EVERY round (guide §7.3)
                canonicalize_url_named("link").alias("canon_url"),
                F.col("link").alias("url"),
                (F.col("depth") + 1).cast("int").alias("depth"),
            )
            .withColumn("url_hash", url_hash(F.col("canon_url")))
            .withColumn(
                "registered_domain", registered_domain_named("canon_url")
            )
            .withColumn("discovery_ts", F.lit(round_no + 1).cast("long"))
            .withColumn("state", F.lit("pending"))
        )
        links = _min_row_per_hash(links)

        # seen filter. Large frontier: bloom prefilter turns the seen
        # check into a map-only stage for the definitely-new majority,
        # exact anti-join only on the maybes (parity stays exact).
        # Small frontier: the anti-join alone is cheaper than building
        # and shipping bitmaps — adaptive, like the reference checking
        # os.path.exists only because it is cheap.
        if bloom is not None:
            # physical strategy from geometry alone (driver-side math,
            # no extra job): small total bitmap -> broadcast (map-only
            # probe); big -> bucket-co-partitioned cogroup, which never
            # collects bitmaps to the driver (the 10^10-key path)
            m_bits, _ = self._bloom_geom
            via = (
                "cogroup"
                if m_bits // 8 * self.bloom_buckets > BROADCAST_MAX_BITMAP_BYTES
                else "broadcast"
            )
            probed = probe_bloom(links, bloom, n_buckets=self.bloom_buckets, via=via)
            definitely_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
            maybes = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
            confirmed_new = maybes.join(
                frontier.select("url_hash"), "url_hash", "left_anti"
            )
            new_links = definitely_new.unionByName(confirmed_new)
        else:
            new_links = links.join(
                frontier.select("url_hash"), "url_hash", "left_anti"
            )
        return new_links

    def enqueue_recrawl(
        self,
        base_interval: int = 4,
        max_interval: int = 64,
    ) -> int:
        """Freshness pass (operators/recrawl.py): flip fetched URLs
        whose adaptive revisit interval has elapsed back to pending.
        O(due) delta append through the same last-writer-wins merge +
        lineage commit as a streaming seed merge, so a crash between
        the two rolls the flip back atomically. Returns #re-enqueued;
        the next run() picks them up as ordinary pending rows (links
        they re-discover stay deduped by the frontier anti-join, and
        the records log keeps BOTH fetches — change history)."""
        from pygeodatacrawler_spark.operators.recrawl import recrawl_due

        cur = self.resume_round()
        due = recrawl_due(
            self.records.read(), cur, base_interval, max_interval
        )
        return self._flip_to_pending(due.select("url_hash"))

    def _flip_to_pending(self, hashes: DataFrame) -> int:
        """Flip already-fetched frontier rows whose url_hash is in
        ``hashes`` back to pending, through the same last-writer-wins
        merge + lineage commit as a streaming seed merge (a crash
        between the two rolls the flip back atomically). Returns the
        number re-enqueued; the next run() picks them up as ordinary
        pending rows and the records log keeps every fetch."""
        flips = (
            self.frontier.read()
            .filter(F.col("state") == "fetched")
            .join(hashes.distinct(), "url_hash")
            .withColumn("state", F.lit("pending"))
            .select(*FRONTIER_COLS)
            # cache: the count below and merge_upsert's delta write
            # would otherwise each run the full merge-on-read frontier
            # resolve + join — O(due) rows, so the cache is tiny
            .cache()
        )
        n = flips.count()
        if n == 0:
            flips.unpersist()
            return 0
        v = self.frontier.merge_upsert(flips)
        flips.unpersist()
        self._drop_frontier_cache()
        self._n_frontier = None
        self.commit_external(frontier_v=v)
        return n

    def enqueue_sitemap_changes(
        self, prev_seeds: DataFrame, cur_seeds: DataFrame
    ) -> int:
        """Publisher-side freshness (operators/recrawl.sitemap_delta):
        re-enqueue fetched URLs whose sitemap <lastmod> advanced
        between two sitemap ingests. Brand-new sitemap URLs are NOT
        seeded here — route them through merge_seeds/seeds_from_
        sitemaps like any discovery, so depth/dedup semantics stay in
        one place. O(changed) flip commit, resume-safe."""
        from pygeodatacrawler_spark.operators.recrawl import sitemap_delta

        changed = sitemap_delta(prev_seeds, cur_seeds)
        keyed = changed.select(
            url_hash(canonicalize_url_named("url")).alias("url_hash")
        )
        return self._flip_to_pending(keyed)

    def refresh_robots(self, robots: DataFrame) -> None:
        """Swap the politeness rules table mid-crawl. RFC 9309 §2.4:
        robots.txt answers are cacheable but SHOULD be refreshed
        (typically within 24h); a long-running crawl calls this with a
        re-fetched fetch_robots_table() every ttl rounds. Takes effect
        at the next pick_batch — no cached state derives from the old
        table (the politeness join reads self.robots per round)."""
        self.robots = robots

    def _current_traps(self, round_no: int) -> DataFrame | None:
        """Trap-template table in force at ``round_no``: recomputed
        from records with round < the last trap_every boundary — a
        pure function of COMMITTED state (records rows carry their
        round), so an interrupted-and-resumed crawl derives
        exactly the tables an uninterrupted one does. The collected
        template list is O(#templates) (the explosion asymmetry is the
        signal: few templates, many URLs)."""
        if not self.trap_every:
            return None
        boundary = (round_no // self.trap_every) * self.trap_every
        if boundary <= 0:
            return None
        if self._traps_boundary != boundary:
            from pygeodatacrawler_spark.operators.traps import (
                trap_candidates,
            )

            recs = self.records.read().filter(F.col("round") < boundary)
            cand = trap_candidates(
                recs.select(F.col("canon_url").alias("url"), "text"),
                min_urls=self.trap_min_urls,
                max_diversity=self.trap_max_diversity,
            )
            self._trap_templates = sorted(
                r["template"] for r in cand.collect()
            )
            self._traps_boundary = boundary
        if not self._trap_templates:
            return None
        return self.spark.createDataFrame(
            [(t,) for t in self._trap_templates], "template string"
        )

    def run_round(self, round_no: int) -> dict:
        """One committed crawl round: one BFS level through pick ->
        fetch+extract -> expand -> seen-filter, then ONE unified delta
        write + ONE lineage line."""
        t0 = time.monotonic()
        if self._frontier_df is None:  # fresh engine / post-reconcile
            self._frontier_df = self.frontier.read().cache()
        frontier = self._frontier_df
        if self._n_frontier is None:
            self._n_frontier = frontier.count()  # resume path
        pending = frontier.filter(F.col("state") == "pending")
        traps = self._current_traps(round_no)
        if traps is not None:
            from pygeodatacrawler_spark.operators.traps import (
                apply_trap_filter,
            )

            pending = apply_trap_filter(pending, traps, url_col="canon_url")

        use_bloom = self._n_frontier >= self.bloom_min_frontier
        bloom = self._current_bloom(frontier) if use_bloom else None
        batch = self._round_batch(pending)
        # cache the records: inside the unified commit the fetch+extract
        # UDF subtree is referenced by TWO branches of the single write
        # job — the fetched delta rows and the expand (whose dedup
        # shuffle-map stage runs first by dependency order and populates
        # the cache) — so the UDF runs exactly once and no URL is ever
        # fetched twice
        records = self._round_records(batch, round_no).cache()
        new_links = self._round_new_links(records, round_no, frontier, bloom)
        records_out = (
            records.withColumn("text_sha2", F.sha2(F.coalesce(F.col("text"), F.lit("")), 256))
            # fetch latency: with a real HTTP fetch the mapInPandas UDF
            # stamps measured wall-ms per URL; the stand-in derives a
            # deterministic value from key + payload size (misses = the
            # 1000 ms timeout analog) so the histogram machinery is
            # exercised end-to-end
            .withColumn(
                "fetch_ms",
                F.when(F.col("text").isNull(), F.lit(1000.0)).otherwise(
                    F.round(
                        F.pmod(F.xxhash64("canon_url"), F.lit(180)).cast("double")
                        + 20.0
                        + F.col("n_bytes") / 10240.0,
                        1,
                    )
                ),
            )
        )

        # THE round commit: ONE unified delta = record rows
        # (state='fetched', carrying the extraction payload) + the
        # surviving new links (state='pending', payload null) — one
        # write action per round runs the whole pipeline (pick ->
        # fetch+extract -> expand -> seen filter) and writes frontier
        # flip + records payload into the same files. Delta rows are
        # one per key: new links passed the seen filter, so none is in
        # the batch. The previous shape (separate records append +
        # frontier merge) paid a second job that re-ran the expand
        # pipeline from cache — measured at ~1/3 of the small-round
        # loop wall.
        rec_only = ["round", "text", "text_sha2", "links", "n_bytes", "fetch_ms"]
        delta_in = (
            records_out.withColumn("state", F.lit("fetched"))
            .select(*FRONTIER_COLS, *rec_only)
            .unionByName(
                new_links.select(*FRONTIER_COLS),
                allowMissingColumns=True,  # payload cols -> null
            )
        )
        # round metrics ride an Observation on the single write action
        # — batch size, fetch-latency histogram (pending rows carry
        # null fetch_ms and fall out of every count) and new-key total;
        # zero extra jobs
        obs = Observation(f"commit-r{round_no}")
        fetched = F.col("state") == "fetched"
        delta_in = delta_in.observe(
            obs,
            F.count(F.when(fetched, 1)).alias("n_batch"),
            F.count(F.when(F.col("fetch_ms") < 50, 1)).alias("lat_050"),
            F.count(
                F.when((F.col("fetch_ms") >= 50) & (F.col("fetch_ms") < 100), 1)
            ).alias("lat_100"),
            F.count(
                F.when((F.col("fetch_ms") >= 100) & (F.col("fetch_ms") < 500), 1)
            ).alias("lat_500"),
            F.count(F.when(F.col("fetch_ms") >= 500, 1)).alias("lat_inf"),
            F.round(F.avg("fetch_ms"), 2).alias("lat_mean"),
            F.count(F.when(F.col("state") == "pending", 1)).alias("n_new"),
        )
        prev_frontier_v = self.frontier.latest_version() or 0
        frontier_v = self.frontier.merge_upsert(delta_in)
        delta_v = self.frontier.last_delta_version
        metrics = obs.get  # materialized by the write action
        n_batch = int(metrics["n_batch"] or 0)
        if n_batch == 0:
            # nothing pending: drop the empty version(s), converged
            self.frontier.rollback(prev_frontier_v)
            batch.unpersist()
            records.unpersist()
            return {"round": round_no, "rows_in": 0, "rows_out": 0, "done": True}
        self._last_batch = n_batch
        # partition balance of the round's single write, straight from
        # the delta version's parquet footers (no Spark job). Includes
        # the pending rows — it measures the write stage's balance.
        file_rows = [n for n in self.frontier.version_file_rows(delta_v) if n > 0]
        n_delta_rows = sum(file_rows)
        n_parts = len(file_rows)
        skew = max(file_rows) / (n_delta_rows / n_parts)
        n_new = int(metrics["n_new"] or 0)
        self._n_frontier += n_new
        # fold this round's delta into the seen-bloom NEXT round
        # (O(batch) incremental update instead of a full rebuild)
        self._bloom_pending_delta = delta_v

        # maintain the resolved-frontier cache incrementally: apply the
        # committed delta last-writer-wins (broadcast O(batch) anti-join
        # on the delta keys + union of the delta rows) — NO merge-on-
        # read window, no frontier rescan. Reading the delta back from
        # its files (not from `batch`) keeps the next frontier's lineage
        # anchored on disk, so an evicted cache replays a cheap scan
        # instead of the whole fetch pipeline.
        if self._frontier_prev is not None:
            self._frontier_prev.unpersist()
        self._frontier_prev = self._frontier_df
        if frontier_v != delta_v:
            # compaction wrote a full base snapshot: refresh from disk —
            # a single-version scan with no resolve window — which also
            # truncates the cache's lineage chain
            self._frontier_df = self.frontier.read().cache()
        else:
            delta = self.frontier.read_version_only(delta_v)
            # anti-join ONLY on the fetched flip keys (= this round's
            # batch, bounded by hosts x budget): the pending delta rows
            # are new keys by construction (the seen filter guarantees
            # they are not in the committed frontier), so they need no
            # anti-join — and with high link fan-out the full delta key
            # set can be many times the batch, exactly the thing NOT to
            # broadcast. Above the batch-side broadcast gate (same 4M
            # keys = 32 MB rationale as bloom_min_frontier) drop the
            # hint and let AQE choose the join.
            flips = delta.filter(F.col("state") == "fetched").select("url_hash")
            if n_batch <= self.bloom_min_frontier:
                flips = F.broadcast(flips)
            kept = frontier.join(flips, "url_hash", "left_anti")
            self._frontier_df = kept.unionByName(
                delta.select(*FRONTIER_COLS)
            ).cache()

        wall = time.monotonic() - t0
        line = {
            "round": round_no,
            "rows_in": n_batch,
            "rows_out": n_new,
            "n_records": n_batch,
            "n_parts": n_parts,
            "skew": float(skew),
            "wall_s": wall,
            # histogram buckets [<50, 50-100, 100-500, >=500) ms + mean,
            # collected by the Observation during the single write action
            "lat_hist": [
                int(metrics["lat_050"]),
                int(metrics["lat_100"]),
                int(metrics["lat_500"]),
                int(metrics["lat_inf"]),
            ],
            "lat_mean": (
                float(metrics["lat_mean"])
                if metrics["lat_mean"] is not None
                else None
            ),
            # snapshot version this round produced — the atomic commit
            # point: until this line is fsync'd, reconcile() rolls the
            # unified write above back and the round replays cleanly
            # (records_v mirrors frontier_v: one table since round 5)
            "frontier_v": frontier_v,
            "records_v": frontier_v,
        }
        self._append_lineage(line)
        batch.unpersist()
        records.unpersist()
        self.stats.rounds += 1
        self.stats.urls_fetched += n_batch
        self.stats.urls_discovered += n_new
        self.stats.lineage.append(line)
        line["done"] = False
        return line

    # -- derived views ------------------------------------------------------
    def visits_view(self) -> DataFrame:
        """Visit order, derived from the records log: rank within each
        round by (depth, canon_url) — the deterministic ordering the
        sequential oracle reproduces. Computed at read time instead of
        written per round (one fewer sink in the hot loop; the rank is
        a pure function of committed state)."""
        w = Window.partitionBy("round").orderBy("depth", "canon_url")
        return self.records.read().select(
            "canon_url",
            "registered_domain",
            "depth",
            "round",
            F.row_number().over(w).alias("rank_in_round"),
        )

    # -- full run ----------------------------------------------------------
    def run(self, max_rounds: int = 100) -> CrawlStats:
        self.reconcile()
        start = self.resume_round()
        r = start
        while r < start + max_rounds:
            res = self.run_round(r)
            if res.get("done") or res["rows_in"] == 0:
                break
            r += 1
        return self.stats
