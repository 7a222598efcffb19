"""Driver-contract queries: one entry per implemented operator family
(SURVEY.md §2), each with a DuckDB-oracle SQL twin.

Conventions that make the driver's comparison (row-count + schema +
order-insensitive value hash) deterministic:
- every computed column is aliased IDENTICALLY in Spark and SQL;
- money/float aggregates are rounded (2-4 dp) so IEEE summation-order
  drift can't flip the hash;
- every window/top-k has a total tie-break (id column);
- all hash-derived operators use the md5-based 60-bit hash, identical
  on both engines (functions/hashes.py).
"""

from __future__ import annotations

import math as _math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from pygeodatacrawler_spark.functions.hashes import (
    MINHASH_PRIME,
    md5_long,
    minhash_params,
)
from pygeodatacrawler_spark.functions.quality import (
    STOPWORDS,
    lang_id,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
    tokens,
    word_ngrams,
)
from pygeodatacrawler_spark.functions.urls import (
    PSL_MULTI_SUFFIXES,
    canonicalize_url,
    registered_domain,
    safe_filename,
    url_depth,
)
from pygeodatacrawler_spark.operators.dedup import (
    connected_components,
    dedup_exact,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_verify,
    simhash_buckets,
)
from pygeodatacrawler_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dupes,
    lsh_topk,
)
from pygeodatacrawler_spark.operators.windows import (
    sessionize,
    token_budget,
    topk_per_group,
)

P = MINHASH_PRIME

# ---------------------------------------------------------------- SQL helpers
# DuckDB fragments mirrored against the Column functions they twin.
SQL_TOKS = "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')"
SQL_MD5 = "(('0x' || substring(md5({e}), 1, 15))::BIGINT)"


def _sql_grams(n: int) -> str:
    """3-gram (or n-gram) table fragment over documents -> (doc_id, g)."""
    parts = ", ".join(f"s[i+{j + 1}]" for j in range(n))
    return (
        f"with toks as (select doc_id, {SQL_TOKS} as s from documents), "
        f"grams as (select doc_id, concat_ws(' ', {parts}) as g "
        f"from toks, unnest(range(greatest(len(s)-{n - 1}, 0))) as t(i))"
    )


def _table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _warm_through(df: DataFrame, col_name: str) -> DataFrame:
    """Attach an ``observe`` metric over a computed column.

    bench.py warms each query with ``df.count()`` before the timed
    noop run ("warm plan+scan once so timing is the operator, not
    JIT") — but for a map-only projection Catalyst prunes the computed
    columns out of the count, so the timed run is the FIRST execution
    of the query's codegen: janino compile + cold-JIT measured at
    +1.0-2.2 s on lang_id/fingerprint/canonicalize at sf1.0, pure
    first-run artifact (steady-state 0.3-0.5 s). A CollectMetrics node
    referencing the column blocks that pruning — the warm pass then
    compiles, JITs and evaluates exactly the operator pipeline the
    timed run executes — while rows and columns pass through
    untouched. Unlike a row-preserving filter (first attempt), observe
    cannot be split, pushed below the projection, or alias-substituted
    by the optimizer, so the expression is never duplicated.
    Steady-state cost: one count accumulator per row. Nothing is
    cached; every run recomputes from the parquet input."""
    return df.observe(f"warm_{col_name}", F.count(F.col(col_name)).alias("n"))


def _spread(
    spark: SparkSession, df: DataFrame, key: str | None = None
) -> DataFrame:
    """Scan-parallelism guard for compute-heavy map stages (guide §2.5
    input skew / §6 input splits): the documents table is ONE parquet
    file with ONE row group, so the scan is 1-2 tasks no matter what
    ``maxPartitionBytes`` says — every per-row-expensive pipeline
    (tokenize/hash/UDF) downstream of it was running on 1-2 of 32
    cores. A deterministic hash repartition on the key spreads the
    ~16 MB of text across the cluster for a few ms of shuffle.
    Cluster-size-derived (defaultParallelism), not a local constant;
    on a many-file corpus at scale the scan already has >= cores
    splits and the guard is a no-op."""
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    key = key or df.columns[0]
    return df.repartition(n, F.col(key))


# =====================================================================
# aggregations (SURVEY §2.4)
# =====================================================================
def q_pricing_summary(spark, sf_dir):
    li = _table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1999-06-30")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


SQL_PRICING = """
select l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) as sum_qty,
       round(sum(l_extendedprice), 2) as sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) as sum_disc_price,
       round(avg(l_quantity), 4) as avg_qty,
       round(avg(l_extendedprice), 4) as avg_price,
       count(*) as count_order
from lineitem where l_shipdate <= timestamp '1999-06-30'
group by l_returnflag, l_linestatus
"""


def q_minmax_by_group(spark, sf_dir):
    # A1 bbox-union analog: min/max accumulation per group (mapfile.py:486-495)
    return (
        _table(spark, sf_dir, "part")
        .groupBy("p_brand")
        .agg(
            F.min("p_size").alias("min_size"),
            F.max("p_size").alias("max_size"),
            F.round(F.min("p_retailprice"), 2).alias("min_price"),
            F.round(F.max("p_retailprice"), 2).alias("max_price"),
            F.count("*").alias("n"),
        )
    )


SQL_MINMAX = """
select p_brand, min(p_size) as min_size, max(p_size) as max_size,
       round(min(p_retailprice), 2) as min_price,
       round(max(p_retailprice), 2) as max_price, count(*) as n
from part group by p_brand
"""


def q_keyword_collect(spark, sf_dir):
    # A3: flatten+dedupe keyword lists -> comma-joined (mapfile.py:80-87)
    return (
        _table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.array_join(F.array_sort(F.collect_set("lang")), ",").alias("langs"),
            F.count("*").alias("n_docs"),
        )
    )


SQL_KEYWORD_COLLECT = """
select source, string_agg(distinct lang, ',' order by lang) as langs,
       count(*) as n_docs
from documents group by source
"""


def q_histogram(spark, sf_dir):
    # C7 colorCoding: equal-width classes over [min,max] (mapfile.py:386-442)
    ev = _table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")
    )
    return (
        ev.crossJoin(F.broadcast(bounds))
        .withColumn(
            "bucket",
            F.least(
                F.floor((F.col("value") - F.col("mn")) / ((F.col("mx") - F.col("mn")) / 10)),
                F.lit(9),
            ).cast("long"),
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


SQL_HISTOGRAM = """
with b as (select min(value) as mn, max(value) as mx from events)
select least(floor((value - mn) / ((mx - mn) / 10)), 9)::BIGINT as bucket,
       count(*) as n
from events, b group by 1
"""


# =====================================================================
# joins (SURVEY §2.3)
# =====================================================================
def q_market_share(spark, sf_dir):
    # J4/J5 broadcast dims: orders x customer x nation x region
    o = _table(spark, sf_dir, "orders")
    c = _table(spark, sf_dir, "customer")
    n = _table(spark, sf_dir, "nation")
    r = _table(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
        )
    )


SQL_MARKET_SHARE = """
select r_name, n_name, count(*) as n_orders,
       round(sum(o_totalprice), 2) as sum_total
from orders
join customer on o_custkey = c_custkey
join nation on c_nationkey = n_nationkey
join region on n_regionkey = r_regionkey
group by r_name, n_name
"""


def q_semi_join(spark, sf_dir):
    # J2: left semi — customers having >=1 order (isDistributionLocal)
    c = _table(spark, sf_dir, "customer")
    o = _table(spark, sf_dir, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select(
        "c_custkey", "c_name"
    )


SQL_SEMI = """
select c_custkey, c_name from customer
where exists (select 1 from orders where o_custkey = c_custkey)
"""


def q_anti_join(spark, sf_dir):
    # F6/U1: seen-set anti-join — customers with no orders
    c = _table(spark, sf_dir, "customer")
    o = _table(spark, sf_dir, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_acctbal"
    )


SQL_ANTI = """
select c_custkey, c_acctbal from customer
where not exists (select 1 from orders where o_custkey = c_custkey)
"""


def q_first_match(spark, sf_dir):
    # J1: first-match-wins by priority order (INDEX_FILE_TYPES order,
    # metadata.py:258-268) — first lineitem per order by linenumber.
    #
    # Round 6 (guide §2.3 "aggregate before you shuffle"): argmin by
    # min(struct(order keys)) instead of sort+window. The order keys
    # ARE the projected columns, so the lexicographic struct-min picks
    # exactly the row_number()=1 row (ties agree because tied rows are
    # identical in every output column; verified value-for-value
    # against the window form and the DuckDB oracle). The window shape
    # paid a full sort per side plus a post-shuffle sort that AQE
    # serialized onto 1-2 reducers; the agg is hash-based, partially
    # aggregated map-side, and _spread first parallelizes the map work
    # out of the single-row-group scan task: 8.1 s -> 2.2 s at sf1.0.
    # The argmin key packs (l_linenumber, l_partkey) into one int64
    # (linenumber<<48 | partkey): min(struct) plans as SortAggregate
    # (struct has no mutable hash-agg buffer), min(long) as a codegen'd
    # HashAggregate with map-side partial agg — no sorts anywhere in
    # the plan. Lexicographic equivalence holds because l_linenumber
    # fits 15 bits and l_partkey 48 bits with room to spare at any
    # TPC-H-like scale (sf 10^6 still < 2^38 parts); both non-negative.
    li = _spread(
        spark,
        _table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            (
                F.shiftleft(F.col("l_linenumber").cast("long"), 48)
                + F.col("l_partkey")
            ).alias("_p"),
        ),
    )
    return (
        li.groupBy("l_orderkey")
        .agg(F.min("_p").alias("_p"))
        .select(
            "l_orderkey",
            F.col("_p").bitwiseAND(F.lit((1 << 48) - 1)).alias("l_partkey"),
            F.shiftrightunsigned(F.col("_p"), 48).cast("int").alias(
                "l_linenumber"
            ),
        )
    )


SQL_FIRST_MATCH = """
select l_orderkey, l_partkey, l_linenumber from (
  select l_orderkey, l_partkey, l_linenumber,
         row_number() over (partition by l_orderkey
                            order by l_linenumber, l_partkey) as rn
  from lineitem) where rn = 1
"""


# =====================================================================
# windows / sorts / limits (SURVEY §2.5, §2.6)
# =====================================================================
def q_topk_per_group(spark, sf_dir):
    # O4: per-host top-k frontier batch analog.
    # _spread on o_orderkey (round 6, guide §2.5 input skew): without
    # it the window's map-side Sort + partial WindowGroupLimit run
    # inside the single-row-group scan task (a ~2.5 s one-core
    # straggler at sf1.0); spread first, each task sorts ~1/cores of
    # the rows and ships <= k rows per group per task to the final
    # window. 2.5 s -> ~1.2 s; output unchanged (same window, same
    # order keys).
    o = _spread(
        spark,
        _table(spark, sf_dir, "orders").select(
            "o_orderpriority", "o_orderkey", "o_totalprice"
        ),
        key="o_orderkey",
    )
    return topk_per_group(
        o,
        ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=3,
        rank_col="rk",
    ).select(
        "o_orderpriority", "o_orderkey", F.round("o_totalprice", 2).alias("total"), "rk"
    )


SQL_TOPK = """
select o_orderpriority, o_orderkey, round(o_totalprice, 2) as total, rk
from (select o_orderpriority, o_orderkey, o_totalprice,
             row_number() over (partition by o_orderpriority
                                order by o_totalprice desc, o_orderkey) as rk
      from orders) where rk <= 3
"""


def q_token_budget(spark, sf_dir):
    # token-bucket politeness budget: running cost per host <= budget
    ev = _spread(spark, _table(spark, sf_dir, "events"), key="user_id")
    return token_budget(
        ev,
        ["user_id"],
        [F.col("ts"), F.col("event_id")],
        "value",
        budget=500.0,
    ).select("user_id", "event_id", F.round("cum_cost", 2).alias("cum_cost"))


SQL_TOKEN_BUDGET = """
select user_id, event_id, round(cum_cost, 2) as cum_cost from (
  select user_id, event_id,
         sum(value) over (partition by user_id order by ts, event_id
                          rows unbounded preceding) as cum_cost
  from events) where cum_cost <= 500.0
"""


def q_sessionize(spark, sf_dir):
    # session windows (gap 30 min) over the event stream.
    # _spread on user_id (round 6): the repartition key equals the
    # window partition key, so Catalyst reuses the exchange — same
    # shuffle count, but the per-user sort runs on every core instead
    # of inside the single-row-group scan task; project to the three
    # needed columns first (§2.3).
    ev = _spread(
        spark,
        _table(spark, sf_dir, "events").select("user_id", "event_id", "ts"),
        key="user_id",
    )
    # _warm_through: a window preserves row count, so the harness's
    # warm count() prunes it entirely and the timed run paid the
    # window pipeline's first-execution codegen (~2x)
    return _warm_through(
        sessionize(ev, "user_id", "ts", gap_seconds=1800).select(
            "user_id", "event_id", "session_id"
        ),
        "session_id",
    )


SQL_SESSIONIZE = """
with g as (
  select user_id, event_id, ts,
         case when lag(ts) over w is null
                or epoch(ts) - epoch(lag(ts) over w) > 1800
              then 1 else 0 end as is_new
  from events window w as (partition by user_id order by ts)
)
select user_id, event_id,
       (sum(is_new) over (partition by user_id order by ts
                          rows unbounded preceding))::BIGINT as session_id
from g
"""


def q_top_orders(spark, sf_dir):
    # O2: maxrecords cap — global sort + limit (utils.py:357,399)
    o = _table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(250)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
    )


SQL_TOP_ORDERS = """
select o_orderkey, round(o_totalprice, 2) as total
from orders order by o_totalprice desc, o_orderkey limit 250
"""


def q_tumbling_window(spark, sf_dir):
    # streaming analog: 1h tumbling windows (crawl rounds per §2.9)
    ev = _table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
        )
    )


SQL_TUMBLING = """
select date_trunc('hour', ts) as window_start, event_type,
       count(*) as n, round(sum(value), 2) as sum_value
from events group by 1, 2
"""


# =====================================================================
# set ops (SURVEY §2.7)
# =====================================================================
def q_set_ops(spark, sf_dir):
    c = _table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    ).distinct()
    s = _table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    ).distinct()
    both = c.intersect(s).withColumn("op", F.lit("both"))
    c_only = c.exceptAll(s).withColumn("op", F.lit("cust_only"))
    s_only = s.exceptAll(c).withColumn("op", F.lit("supp_only"))
    return both.unionByName(c_only).unionByName(s_only).select("op", "nationkey")


SQL_SET_OPS = """
with c as (select distinct c_nationkey as nationkey from customer),
     s as (select distinct s_nationkey as nationkey from supplier)
select 'both' as op, nationkey from (select nationkey from c intersect select nationkey from s)
union all
select 'cust_only' as op, nationkey from (select nationkey from c except select nationkey from s)
union all
select 'supp_only' as op, nationkey from (select nationkey from s except select nationkey from c)
"""


# =====================================================================
# dedup family
# =====================================================================
def q_dedup_exact(spark, sf_dir):
    d = _table(spark, sf_dir, "documents")
    return dedup_exact(d, "text", "doc_id").select("doc_id", "n_chars")


SQL_DEDUP_EXACT = """
select doc_id, n_chars from documents
where doc_id in (select min(doc_id) from documents group by text)
"""


_MH_K = 4
_MH_PARAMS = minhash_params(_MH_K)


def q_minhash_signature(spark, sf_dir):
    d = _spread(spark, _table(spark, sf_dir, "documents"))
    return minhash_signature(d, "doc_id", "text", k=_MH_K, shingle_n=3)


def _sql_minhash_sig() -> str:
    mins = ", ".join(
        f"min(((hm * {a}) + {b}) % {P}) as mh{i}"
        for i, (a, b) in enumerate(_MH_PARAMS)
    )
    return (
        _sql_grams(3)
        + f", h as (select doc_id, {SQL_MD5.format(e='g')} % {P} as hm from grams) "
        + f"select doc_id, {mins} from h group by doc_id"
    )


def q_minhash_lsh_pairs(spark, sf_dir):
    """Tagged union: LSH candidate PAIRS + transitive CLUSTER labels.

    tag='pair' rows are the banded-LSH candidate pairs (id_a < id_b);
    tag='cluster' rows label EVERY doc with its near-dup component's
    min doc id (large-star/small-star connected components over the
    pairs — the canonical-document-selection step a transitive dedup
    needs; pairs alone keep B twice when A~B~C). Singletons label
    themselves. One query so both stay inside the driver's 50-query
    correctness window."""
    d = _spread(spark, _table(spark, sf_dir, "documents"))
    pairs = minhash_lsh_pairs(d, "doc_id", "text", k=_MH_K, bands=_MH_K, shingle_n=3)
    labels = connected_components(pairs, "id_a", "id_b")
    clusters = (
        d.select("doc_id")
        .join(F.broadcast(labels), F.col("doc_id") == F.col("node"), "left")
        .select(
            F.col("doc_id").alias("a"),
            F.coalesce(F.col("component"), F.col("doc_id")).alias("b"),
        )
    )
    return (
        pairs.select(
            F.lit("pair").alias("tag"),
            F.col("id_a").alias("a"),
            F.col("id_b").alias("b"),
        )
        .unionByName(clusters.select(F.lit("cluster").alias("tag"), "a", "b"))
    )


def _sql_lsh_pairs() -> str:
    # bands of 1 row: collide iff any single minhash matches; cluster
    # rows are the min-reachable-node label via a recursive closure
    # over the symmetrized pair edges (the oracle twin of
    # connected_components' large-star/small-star fixpoint)
    band_rows = " union all ".join(
        f"select doc_id, {b} as band, md5(concat_ws(',', mh{b})) as bh from sig"
        for b in range(_MH_K)
    )
    return (
        f"with recursive sig as ({_sql_minhash_sig()}), "
        f"banded as ({band_rows}), "
        "pairs as (select distinct a.doc_id as id_a, b.doc_id as id_b "
        "from banded a join banded b on a.band = b.band and a.bh = b.bh "
        "and a.doc_id < b.doc_id), "
        "edges(u, v) as (select id_a, id_b from pairs "
        "union select id_b, id_a from pairs), "
        "reach(node, r) as (select u, v from edges "
        "union select re.node, e.v from reach re join edges e on re.r = e.u), "
        "comp as (select node, least(node, min(r)) as c "
        "from reach group by node) "
        "select 'pair' as tag, id_a as a, id_b as b from pairs "
        "union all "
        "select 'cluster' as tag, d.doc_id as a, "
        "coalesce(comp.c, d.doc_id) as b "
        "from documents d left join comp on d.doc_id = comp.node"
    )


def q_ngram_jaccard(spark, sf_dir):
    """Composed near-dup default: LSH candidates -> exact verify.

    The standalone exact self-join (ngram_jaccard_pairs) is O(D^2) per
    hot shingle — 23.6 s at sf0.1 vs LSH-bounded here. The exact form
    stays available as an explicit opt-in for small corpora."""
    d = _spread(spark, _table(spark, sf_dir, "documents"))
    cand = minhash_lsh_pairs(d, "doc_id", "text", k=_MH_K, bands=_MH_K, shingle_n=3)
    return ngram_jaccard_verify(d, cand, "doc_id", "text", shingle_n=2, threshold=0.05)


def _sql_ngram_jaccard_composed() -> str:
    """LSH candidates (3-gram minhash bands) verified by exact 2-gram
    Jaccard — CTE-merged twin of q_ngram_jaccard."""
    mins = ", ".join(
        f"min(((hm * {a}) + {b}) % {P}) as mh{i}"
        for i, (a, b) in enumerate(_MH_PARAMS)
    )
    band_rows = " union all ".join(
        f"select doc_id, {b} as band, md5(concat_ws(',', mh{b})) as bh from sig"
        for b in range(_MH_K)
    )
    return f"""
with toks as (select doc_id, {SQL_TOKS} as s from documents),
grams3 as (select doc_id, concat_ws(' ', s[i+1], s[i+2], s[i+3]) as g
           from toks, unnest(range(greatest(len(s)-2, 0))) as t(i)),
h as (select doc_id, {SQL_MD5.format(e='g')} % {P} as hm from grams3),
sig as (select doc_id, {mins} from h group by doc_id),
banded as ({band_rows}),
cand as (select distinct a.doc_id as id_a, b.doc_id as id_b
         from banded a join banded b
           on a.band = b.band and a.bh = b.bh and a.doc_id < b.doc_id),
grams2 as (select doc_id, concat_ws(' ', s[i+1], s[i+2]) as g
           from toks, unnest(range(greatest(len(s)-1, 0))) as t(i)),
dg as (select distinct doc_id as id, g from grams2),
sizes as (select id, count(*) as n from dg group by id),
inter as (select x.id as id_a, y.id as id_b, count(*) as n_inter
          from dg x
          join dg y on x.g = y.g and x.id < y.id
          join cand on cand.id_a = x.id and cand.id_b = y.id
          group by 1, 2)
select c.id_a, c.id_b,
       round(coalesce(n_inter, 0) / (sa.n + sb.n - coalesce(n_inter, 0))::DOUBLE, 4) as jaccard
from cand c
left join inter on inter.id_a = c.id_a and inter.id_b = c.id_b
join sizes sa on sa.id = c.id_a
join sizes sb on sb.id = c.id_b
where round(coalesce(n_inter, 0) / (sa.n + sb.n - coalesce(n_inter, 0))::DOUBLE, 4) >= 0.05
"""


_SH_BITS = 16


def q_simhash(spark, sf_dir):
    d = _spread(spark, _table(spark, sf_dir, "documents"))
    return _warm_through(
        simhash_buckets(d, "doc_id", "text", prefix_bits=_SH_BITS),
        "simhash",
    )


def _sql_simhash() -> str:
    votes = ", ".join(
        f"sum(case when (hh >> {i}) & 1 = 1 then 1 else -1 end) as v{i}"
        for i in range(_SH_BITS)
    )
    sig = " + ".join(
        f"(case when v{i} > 0 then {1 << i} else 0 end)" for i in range(_SH_BITS)
    )
    return (
        f"with t as (select doc_id, unnest({SQL_TOKS}) as tok from documents), "
        f"h as (select doc_id, {SQL_MD5.format(e='tok')} as hh from t), "
        f"bits as (select doc_id, {votes} from h group by doc_id) "
        f"select doc_id, ({sig})::BIGINT as simhash from bits"
    )


# =====================================================================
# similarity search
# =====================================================================
_SQL_COS = """
round(
  list_sum(list_transform(range(64), i -> qv[i+1]::DOUBLE * cv[i+1]::DOUBLE)) /
  (sqrt(list_sum(list_transform(range(64), i -> qv[i+1]::DOUBLE * qv[i+1]::DOUBLE))) *
   sqrt(list_sum(list_transform(range(64), i -> cv[i+1]::DOUBLE * cv[i+1]::DOUBLE)))), 4)
"""


def q_ann_topk(spark, sf_dir):
    e = _table(spark, sf_dir, "embeddings")
    return brute_force_topk(e, e.filter(F.col("vec_id") < 5), k=3)


SQL_ANN_TOPK = f"""
with q as (select vec_id as query_id, embedding as qv from embeddings where vec_id < 5),
     c as (select vec_id as neighbor_id, embedding as cv from embeddings),
     s as (select query_id, neighbor_id, {_SQL_COS} as cos_sim
           from c join q on neighbor_id <> query_id)
select query_id, neighbor_id, cos_sim, rank from (
  select *, row_number() over (partition by query_id
                               order by cos_sim desc, neighbor_id) as rank
  from s) where rank <= 3
"""


def q_embedding_near_dupes(spark, sf_dir):
    e = _table(spark, sf_dir, "embeddings")
    return embedding_near_dupes(e, threshold=0.25, n_planes=4, n_dims=64)


def _sql_near_dupes() -> str:
    from pygeodatacrawler_spark.operators.similarity import plane_components

    planes = plane_components(4, 64)
    bucket_terms = []
    for p in range(4):
        lits = ", ".join(str(v) for v in planes[p])
        bucket_terms.append(
            f"(case when list_sum(list_transform(range(64), "
            f"i -> v[i+1]::DOUBLE * ([{lits}])[i+1])) > 0 then {1 << p} else 0 end)"
        )
    bucket = " + ".join(bucket_terms)
    cos = _SQL_COS.replace("qv", "x.v").replace("cv", "y.v")
    return f"""
with b as (select vec_id as id, embedding as v, ({bucket}) as bucket from embeddings)
select x.id as id_a, y.id as id_b, {cos} as cos_sim
from b x join b y on x.bucket = y.bucket and x.id < y.id
where {cos} >= 0.25
"""


# =====================================================================
# text analysis
# =====================================================================
def q_lang_id(spark, sf_dir):
    d = _spread(spark, _table(spark, sf_dir, "documents"))
    return _warm_through(
        d.select("doc_id", lang_id(F.col("text")).alias("lang_pred")),
        "lang_pred",
    )


def _sql_lang_id() -> str:
    counts = {
        code: f"len(list_filter(s, x -> lower(x) in ({', '.join(repr(w) for w in ws)})))"
        for code, ws in STOPWORDS.items()
    }
    return f"""
with t as (select doc_id, {SQL_TOKS} as s from documents),
c as (select doc_id, {counts['en']} as en, {counts['es']} as es,
             {counts['de']} as de, {counts['fr']} as fr from t)
select doc_id,
  case when en >= es and en >= de and en >= fr then 'en'
       when es >= de and es >= fr then 'es'
       when de >= fr then 'de'
       else 'fr' end as lang_pred
from c
"""


def q_quality(spark, sf_dir):
    """Quality signals: composite score + Gopher repetition rules
    (duplicate-line fraction; top-bigram token coverage, capped at 1)
    + C4 line-filter signals (kept-line fraction and the >=3-line page
    gate, Raffel et al. 2020 §2.2). All columns are codegen'd
    array/scalar math over ONE tokenize — no shuffle, no UDF."""
    from pygeodatacrawler_spark.functions.quality import (
        c4_keep_doc,
        c4_kept_fraction,
        dup_line_fraction,
        top_ngram_count_from_tokens,
    )

    d = _spread(spark, _table(spark, sf_dir, "documents"))
    staged = d.select(
        "doc_id",
        F.col("text"),
        tokens(F.col("text")).alias("_toks"),
    )
    nt = F.size(F.col("_toks"))
    top2 = top_ngram_count_from_tokens(F.col("_toks"), 2)
    return _warm_through(
        staged.select(
            "doc_id",
            nt.alias("token_cnt"),
            quality_score(F.col("text")).alias("q_score"),
            F.round(dup_line_fraction(F.col("text")), 4).alias("dup_line_frac"),
            F.when(
                nt > 0,
                F.least(
                    F.lit(1.0), F.round(F.lit(2.0) * top2 / nt.cast("double"), 4)
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("top_bigram_frac"),
            F.round(c4_kept_fraction(F.col("text")), 4).alias("c4_line_frac"),
            c4_keep_doc(F.col("text")).alias("c4_keep"),
        ),
        "q_score",
    )


def _sql_quality() -> str:
    en = ", ".join(repr(w) for w in STOPWORDS["en"])
    return f"""
with t as (select doc_id, text, {SQL_TOKS} as s from documents),
m as (select doc_id, len(s) as token_cnt,
        case when len(s) = 0 then 0.0
             else len(list_filter(s, x -> lower(x) in ({en}))) / len(s)::DOUBLE end as stop_ratio,
        case when length(text) = 0 then 0.0
             else len(regexp_extract_all(text, '[^\\w\\s]')) / length(text)::DOUBLE end as punct,
        length(text) as chars,
        list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                    l -> l <> '') as lines
      from t),
big as (select doc_id, concat_ws(' ', s[i+1], s[i+2]) as g
        from t, unnest(range(greatest(len(s)-1, 0))) as u(i)),
bc as (select doc_id, g, count(*) as c from big group by doc_id, g),
top as (select doc_id, max(c) as topc from bc group by doc_id)
select m.doc_id, m.token_cnt,
  round(0.3 * least(1.0, chars / 500.0)
      + 0.4 * least(1.0, 4.0 * stop_ratio)
      + 0.3 * (1.0 - least(1.0, 4.0 * punct)), 4) as q_score,
  round(case when len(lines) > 0
             then 1.0 - len(list_distinct(lines)) / len(lines)::DOUBLE
             else 0.0 end, 4) as dup_line_frac,
  case when m.token_cnt > 0
       then least(1.0, round(2.0 * coalesce(top.topc, 0) / m.token_cnt::DOUBLE, 4))
       else 0.0 end as top_bigram_frac,
  round(case when len(lines) > 0
             then len(list_filter(lines, l ->
                    regexp_matches(l, '[.!?"”]$')
                    and len(string_split_regex(l, '\\s+')) >= 5
                    and not contains(lower(l), 'lorem ipsum')
                    and not contains(l, '{{')))
                  / len(lines)::DOUBLE
             else 0.0 end, 4) as c4_line_frac,
  len(list_filter(lines, l ->
        regexp_matches(l, '[.!?"”]$')
        and len(string_split_regex(l, '\\s+')) >= 5
        and not contains(lower(l), 'lorem ipsum')
        and not contains(l, '{{'))) >= 3 as c4_keep
from m left join top on m.doc_id = top.doc_id
"""


def q_fingerprint(spark, sf_dir):
    from pygeodatacrawler_spark.functions.quality import fingerprint_from_tokens

    d = _spread(spark, _table(spark, sf_dir, "documents"))
    return _warm_through(
        d.select("doc_id", tokens(F.col("text")).alias("_toks")).select(
            "doc_id", fingerprint_from_tokens(F.col("_toks"), 3).alias("fp")
        ),
        "fp",
    )


SQL_FINGERPRINT = (
    _sql_grams(3)
    + f" select doc_id, min({SQL_MD5.format(e='g')}) as fp from grams group by doc_id"
)


# =====================================================================
# scalar functions: URL canonicalization / checkId / dict_merge
# =====================================================================
def _synth_url(spark, sf_dir):
    d = _spread(spark, _table(spark, sf_dir, "documents"))
    suffix = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(".html?service=WMS&request=GetCapabilities&map=1"))
        .when(F.col("doc_id") % 3 == 1, F.lit(".html#sec"))
        .otherwise(F.lit(".html"))
    )
    tld = (
        F.when(F.col("doc_id") % 6 == 0, F.lit(".Example.ORG"))
        .when(F.col("doc_id") % 6 == 1, F.lit(".Example.co.uk"))
        .when(F.col("doc_id") % 6 == 2, F.lit(".example.com.au"))
        .when(F.col("doc_id") % 6 == 3, F.lit(".Example.de"))
        # 3-label public suffixes (round 5): register at the 4th label
        .when(F.col("doc_id") % 6 == 4, F.lit(".South.act.edu.au"))
        .otherwise(F.lit(".district.k12.ca.us"))
    )
    return d.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), tld, F.lit("/docs/"),
            F.col("doc_id").cast("string"), suffix,
        ).alias("url"),
    )


SQL_SYNTH_URL = """
select doc_id,
  'https://' || source ||
  case (doc_id % 6) when 0 then '.Example.ORG'
                    when 1 then '.Example.co.uk'
                    when 2 then '.example.com.au'
                    when 3 then '.Example.de'
                    when 4 then '.South.act.edu.au'
                    else '.district.k12.ca.us' end ||
  '/docs/' || doc_id ||
  case (doc_id % 3) when 0 then '.html?service=WMS&request=GetCapabilities&map=1'
                    when 1 then '.html#sec' else '.html' end as url
from documents
"""

_STRIP_SQL = "(?i:request|service|version|layers|typenames|exceptions|outputformat)"

# literal IN-list twins of urls._PSL_SET / _PSL3_SET (DuckDB
# hash-probes them like Catalyst's InSet)
from pygeodatacrawler_spark.functions.urls import (  # noqa: E402
    PSL_THREE_LABEL_SUFFIXES,
    _PSL_SET,
)

PSL_IN_LIST = ", ".join(f"'{s}'" for s in sorted(_PSL_SET))
PSL3_IN_LIST = ", ".join(f"'{s}'" for s in sorted(PSL_THREE_LABEL_SUFFIXES))


def q_canonicalize(spark, sf_dir):
    u = _synth_url(spark, sf_dir)
    canon = canonicalize_url(F.col("url"))
    return _warm_through(
        u.select(
            "doc_id",
            canon.alias("canon"),
            registered_domain(canon).alias("domain"),
            url_depth(canon).alias("depth"),
            safe_filename(canon).alias("fname"),
        ),
        "fname",
    )


SQL_CANONICALIZE = f"""
with u as ({SQL_SYNTH_URL}),
c1 as (select doc_id, regexp_replace(url, '#.*$', '', 'g') as u from u),
c2 as (select doc_id, regexp_replace(u, '\\?', '?&', 'g') as u from c1),
c3 as (select doc_id, regexp_replace(u, '&{_STRIP_SQL}=[^&]*', '', 'g') as u from c2),
c4 as (select doc_id, regexp_replace(u, '\\?&', '?', 'g') as u from c3),
c5 as (select doc_id, regexp_replace(u, '[?&]+$', '', 'g') as u from c4),
c6 as (select doc_id,
         lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)', 1)) as head,
         regexp_replace(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*', '') as tail,
         u from c5),
canon as (select doc_id,
    case when head = '' then u
         else head || (case when tail = '' then '/'
                            when starts_with(tail, '?') then '/' || tail
                            else tail end) end as canon
  from c6),
hosted as (select doc_id, canon,
    lower(regexp_extract(canon, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) as h
  from canon)
select doc_id, canon,
  case when regexp_extract(h, '([^.]+\\.[^.]+\\.[^.]+)$', 1) in ({PSL3_IN_LIST})
        and regexp_extract(h, '([^.]+\\.[^.]+\\.[^.]+\\.[^.]+)$', 1) <> ''
       then regexp_extract(h, '([^.]+\\.[^.]+\\.[^.]+\\.[^.]+)$', 1)
       when regexp_extract(h, '([^.]+\\.[^.]+)$', 1) in ({PSL_IN_LIST})
        and regexp_extract(h, '([^.]+\\.[^.]+\\.[^.]+)$', 1) <> ''
       then regexp_extract(h, '([^.]+\\.[^.]+\\.[^.]+)$', 1)
       when regexp_extract(h, '([^.]+\\.[^.]+)$', 1) = '' then h
       else regexp_extract(h, '([^.]+\\.[^.]+)$', 1) end as domain,
  len(list_filter(string_split(regexp_extract(canon, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/'),
                  x -> x <> '')) as depth,
  translate(canon, '# !/\\:;()[]{{}}&~%+,', '-------') as fname
from hosted
"""


def q_checkid_cascade(spark, sf_dir):
    # C2 checkId: id cascade with '' treated as absent (metadata.py:543-560)
    d = _table(spark, sf_dir, "documents")
    ident = F.coalesce(
        F.nullif(F.regexp_extract(F.col("source"), r"zzz(\d+)", 1), F.lit("")),
        F.nullif(F.regexp_extract(F.col("source"), r"src(\d+)", 1), F.lit("")),
        F.concat(F.lit("u"), F.col("doc_id").cast("string")),
    )
    return d.select("doc_id", ident.alias("ident"))


SQL_CHECKID = r"""
select doc_id,
  coalesce(nullif(regexp_extract(source, 'zzz(\d+)', 1), ''),
           nullif(regexp_extract(source, 'src(\d+)', 1), ''),
           'u' || doc_id) as ident
from documents
"""


def q_dict_merge(spark, sf_dir):
    # C3 dict_merge: empty incoming never clobbers non-empty existing
    # (utils.py:199-202) — coalesce(nullif(trim(new),''), old)
    d = _table(spark, sf_dir, "documents")
    new = d.withColumn(
        "new_lang",
        F.when(F.col("doc_id") % 5 == 0, F.lit("")).otherwise(F.col("lang")),
    )
    old = d.groupBy("source").agg(F.min("lang").alias("old_lang"))
    return (
        new.join(F.broadcast(old), "source")
        .select(
            "doc_id",
            F.coalesce(
                F.nullif(F.trim(F.col("new_lang")), F.lit("")), F.col("old_lang")
            ).alias("merged_lang"),
        )
    )


SQL_DICT_MERGE = """
with old as (select source, min(lang) as old_lang from documents group by source),
 new as (select doc_id, source,
                case when doc_id % 5 = 0 then '' else lang end as new_lang
         from documents)
select doc_id,
       coalesce(nullif(trim(new_lang), ''), old_lang) as merged_lang
from new join old using (source)
"""


# =====================================================================
# crawl-trap detection (operators/traps.py) — URL-template explosion
# with low content diversity, oracled on ground-truth templates
# =====================================================================
def q_trap_detect(spark, sf_dir):
    """Three synthesized URL populations over documents: a calendar
    trap (digit-run path, constant text), a session mill (query-param
    URL space, 7 distinct texts), and a healthy post section (distinct
    real texts). trap_candidates must flag exactly the low-diversity
    explosions; oracle recomputes the aggregation from the templates
    each row was constructed from (same ground-truth pattern as
    crs_codes). exact=True swaps the scale path's HLL for
    COUNT(DISTINCT) so the oracle is portable."""
    from pygeodatacrawler_spark.operators.traps import trap_candidates

    d = _table(spark, sf_dir, "documents")
    m3 = F.col("doc_id") % 3
    # digit runs capped below 8 chars (mod 1e6): an 8+-digit run is
    # also a hex run, which url_template collapses to ~h, not the ~d
    # the oracle's ground-truth templates assume — without the cap the
    # populations split at doc_id >= 1,428,572 (big sf only)
    seg = (F.col("doc_id") % 1000000).cast("string")
    seg7 = ((F.col("doc_id") * 7) % 1000000).cast("string")
    seg13 = ((F.col("doc_id") * 13) % 1000000).cast("string")
    url = (
        F.when(
            m3 == 0,
            F.concat(
                F.lit("http://trap.example.org/cal/"),
                seg,
                F.lit("/"),
                seg7,
                F.lit("/"),
            ),
        )
        .when(
            m3 == 1,
            F.concat(
                F.lit("http://sess.example.org/view?page="),
                seg,
                F.lit("&sid="),
                seg13,
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://good.example.org/post/"),
                seg,
            )
        )
    )
    content = (
        F.when(m3 == 0, F.lit("empty calendar"))
        .when(
            m3 == 1,
            F.concat(F.lit("item "), (F.col("doc_id") % 7).cast("string")),
        )
        .otherwise(F.col("text"))
    )
    pages = d.select(url.alias("url"), content.alias("text"))
    return trap_candidates(
        pages, min_urls=50, max_diversity=0.1, exact=True
    ).select(
        "template",
        "n_urls",
        "n_distinct",
        F.round("diversity", 6).alias("diversity"),
    )


SQL_TRAP_DETECT = """
with u as (
  select doc_id,
    case (doc_id % 3)
      when 0 then 'trap.example.org/cal/~d/~d/'
      when 1 then 'sess.example.org/view?page&sid'
      else 'good.example.org/post/~d' end as template,
    case (doc_id % 3)
      when 0 then 'empty calendar'
      when 1 then 'item ' || (doc_id % 7)::varchar
      else text end as content
  from documents)
select template, count(*) as n_urls,
       count(distinct content) as n_distinct,
       round(count(distinct content) * 1.0 / count(*), 6) as diversity
from u
group by template
having count(*) >= 50
   and count(distinct content) * 1.0 / count(*) <= 0.1
order by template
"""


# =====================================================================
# host-graph PageRank (operators/linkrank.py) — iterative power method
# oracled by unrolling the iterations into nested SQL
# =====================================================================
_PR_ITERS = 3
_PR_DAMPING = 0.85


def q_host_pagerank(spark, sf_dir):
    """PageRank over the nation-to-nation trade graph (edge weight =
    lineitems shipped from supplier nation to customer nation,
    self-trade excluded) — the same iterative-join pagerank() the
    crawler uses for host prioritization, on a graph derivable in
    SQL. Fixed 3 iterations; ranks rounded to 9 dp for cross-engine
    float portability."""
    from pygeodatacrawler_spark.operators.linkrank import pagerank

    li = _table(spark, sf_dir, "lineitem")
    o = _table(spark, sf_dir, "orders")
    c = _table(spark, sf_dir, "customer")
    s = _table(spark, sf_dir, "supplier")
    n = _table(spark, sf_dir, "nation")
    cn = n.select(
        F.col("n_nationkey").alias("cust_nation"), F.col("n_name").alias("src")
    )
    sn = n.select(
        F.col("n_nationkey").alias("supp_nation"), F.col("n_name").alias("dst")
    )
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(cn), c["c_nationkey"] == F.col("cust_nation"))
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(sn), s["s_nationkey"] == F.col("supp_nation"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    ranks = pagerank(edges, iterations=_PR_ITERS, damping=_PR_DAMPING)
    return ranks.select(
        "host", F.round("rank", 9).alias("pr")
    ).orderBy("host")


def _sql_host_pagerank() -> str:
    """Unroll pagerank's power iterations into SQL: each iteration is
    the same (1-d)/n + d*(contributions + dangling/n) update the Spark
    operator computes, expressed over the previous iteration's CTE."""
    d = _PR_DAMPING
    sql = """
with edges as (
  select cn.n_name as src, sn.n_name as dst, count(*)::double as w
  from lineitem l
  join orders o on l.l_orderkey = o.o_orderkey
  join customer c on o.o_custkey = c.c_custkey
  join nation cn on c.c_nationkey = cn.n_nationkey
  join supplier s on l.l_suppkey = s.s_suppkey
  join nation sn on s.s_nationkey = sn.n_nationkey
  where cn.n_name <> sn.n_name
  group by 1, 2),
hosts as (
  select src as host from edges union select dst from edges),
nn as (select count(*)::double as n from hosts),
outw as (select src, sum(w) as ow from edges group by src),
trans as (
  select e.src as host, e.dst, e.w / o.ow as p
  from edges e join outw o on e.src = o.src),
r0 as (select host, 1.0 / nn.n as rank from hosts, nn)"""
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        sql += f""",
c{i} as (
  select t.dst as host, sum(r.rank * t.p) as in_rank
  from {prev} r join trans t on r.host = t.host group by t.dst),
d{i} as (
  select (1.0 - coalesce((select sum(r.rank) from {prev} r
                          where r.host in (select host from trans)), 0))
         / nn.n as dangling
  from nn),
r{i} as (
  select h.host,
         (1.0 - {d}) / nn.n
         + {d} * (coalesce(c.in_rank, 0) + dg.dangling) as rank
  from hosts h
  left join c{i} c on h.host = c.host
  cross join d{i} dg cross join nn)"""
        prev = f"r{i}"
    sql += f"""
select host, round(rank, 9) as pr from {prev} order by host
"""
    return sql


# =====================================================================
# frontier BFS (the crawl loop's relational core, oracled recursively)
# =====================================================================
def q_crawl_bfs(spark, sf_dir):
    """Iterative frontier expansion over a link graph derived from events
    (edge user_id -> event_id % 20), seeds = {0}, max depth 4 — the same
    loop shape as plans/crawl.py, oracled by a recursive CTE."""
    ev = _table(spark, sf_dir, "events")
    edges = ev.select(
        F.col("user_id").cast("long").alias("src"),
        (F.col("event_id") % 20).cast("long").alias("dst"),
    ).distinct().cache()
    visited = spark.createDataFrame([(0, 0)], "node long, depth int")
    frontier = visited
    for depth in range(1, 5):
        nxt = (
            edges.join(frontier, edges["src"] == frontier["node"])
            .select(F.col("dst").alias("node"), F.lit(depth).alias("depth"))
            .distinct()
        )
        new = nxt.join(visited, "node", "left_anti").cache()
        if new.isEmpty():
            break
        visited = visited.unionByName(new)
        frontier = new
    return visited.select("node", F.col("depth").cast("long").alias("depth"))


SQL_CRAWL_BFS = """
with recursive edges as (
  select distinct user_id::BIGINT as src, (event_id % 20)::BIGINT as dst from events
), bfs(node, depth) as (
  select 0::BIGINT, 0
  union all
  select e.dst, b.depth + 1 from bfs b join edges e on e.src = b.node
  where b.depth < 4
)
select node, min(depth)::BIGINT as depth from bfs group by node
"""


# =====================================================================
# explode / flatten (A4 contact split analog)
# =====================================================================
def q_explode_tokens(spark, sf_dir):
    d = _spread(spark, _table(spark, sf_dir, "documents"))
    return (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok").startswith("s"))
    )


SQL_EXPLODE = f"""
select doc_id, tok from (
  select doc_id, unnest({SQL_TOKS}) as tok from documents)
where starts_with(tok, 's')
"""


# =====================================================================
# cascade match (J3), hexcolor (C6), json extract (C15), rollup,
# distinct agg, lag deltas, media decode plumbing
# =====================================================================
def q_cascade_match(spark, sf_dir):
    # J3 checkOWSLayer 3-stage fallback: match each order to a customer
    # name by (1) custkey + BUILDING segment, (2) custkey + AUTOMOBILE,
    # (3) custkey any segment — first stage with a match wins
    from pygeodatacrawler_spark.operators.joins import cascade_match

    o = _spread(
        spark, _table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    )
    c = _table(spark, sf_dir, "customer")
    stages = [
        (
            "building",
            c.filter(F.col("c_mktsegment") == "BUILDING"),
            F.col("l.o_custkey") == F.col("r.c_custkey"),
        ),
        (
            "automobile",
            c.filter(F.col("c_mktsegment") == "AUTOMOBILE"),
            F.col("l.o_custkey") == F.col("r.c_custkey"),
        ),
        ("any", c, F.col("l.o_custkey") == F.col("r.c_custkey")),
    ]
    return cascade_match(o, "o_orderkey", stages, pick="c_name")


SQL_CASCADE = """
with s1 as (select o_orderkey, min(c_name) as m1 from orders
            join customer on o_custkey = c_custkey and c_mktsegment = 'BUILDING'
            group by o_orderkey),
     s2 as (select o_orderkey, min(c_name) as m2 from orders
            join customer on o_custkey = c_custkey and c_mktsegment = 'AUTOMOBILE'
            group by o_orderkey),
     s3 as (select o_orderkey, min(c_name) as m3 from orders
            join customer on o_custkey = c_custkey group by o_orderkey)
select o.o_orderkey, o.o_custkey,
       coalesce(m1, m2, m3) as matched,
       case when m1 is not null then 'building'
            when m2 is not null then 'automobile'
            when m3 is not null then 'any' end as match_stage
from orders o
left join s1 using (o_orderkey)
left join s2 using (o_orderkey)
left join s3 using (o_orderkey)
"""


def q_rollup(spark, sf_dir):
    ev = _table(spark, sf_dir, "events")
    return (
        ev.rollup("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            "n",
            "sum_value",
        )
    )


SQL_ROLLUP = """
select coalesce(event_type, 'ALL') as event_type, count(*) as n,
       round(sum(value), 2) as sum_value
from events group by rollup(event_type)
"""


def q_distinct_agg(spark, sf_dir):
    ev = _table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


SQL_DISTINCT_AGG = """
select event_type, count(distinct user_id) as n_users, count(*) as n_events
from events group by event_type
"""


def q_value_delta(spark, sf_dir):
    # lag/lead deltas per user over the event stream; the C15 JSON
    # response parse (parseDataCite/parseCrossref shape) rides along
    # as the k column — merged from the round-1 json_extract entry to
    # free a slot in the driver's 50-entry window
    ev = _spread(spark, _table(spark, sf_dir, "events"), key="user_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.round(
            F.col("value") - F.coalesce(F.lag("value").over(w), F.lit(0.0)), 2
        ).alias("delta"),
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"),
    )


SQL_VALUE_DELTA = """
select user_id, event_id,
       round(value - coalesce(lag(value) over
             (partition by user_id order by ts, event_id), 0.0), 2) as delta,
       (props->>'k')::BIGINT as k
from events
"""


def q_media_decode(spark, sf_dir):
    # S4/S6 real decode: per-row GeoTIFF / XLSX payloads are SYNTHESIZED
    # from doc_id (encode_*_fixture), pushed through the binary column
    # and decoded back by the dependency-free parsers
    # (functions/media_codecs.py) — decode(encode(x)) == x, with x
    # derivable in SQL. n_bytes is only oracled for the opaque branch
    # (header sizes aren't SQL-derivable).
    import pandas as pd

    from pygeodatacrawler_spark.functions.media_codecs import (
        encode_geotiff_fixture,
        encode_xlsx_fixture,
    )
    from pygeodatacrawler_spark.functions.media_codecs import (
        encode_shapefile_fixture,
    )
    from pygeodatacrawler_spark.operators.media import (
        GEOJSON_TYPE,
        SHAPEFILE_TYPE,
        XLSX_TYPE,
        decode_media,
    )

    d = _spread(
        spark, _table(spark, sf_dir, "documents").select("doc_id", "text")
    )

    def _make(pdf_iter):
        import json as _json

        for pdf in pdf_iter:
            payloads, types = [], []
            for i, txt in zip(pdf["doc_id"], pdf["text"]):
                i = int(i)
                if i % 5 == 0:
                    # real pixel data (band ramp, one nodata pixel),
                    # cycling the strip layouts the decoder supports:
                    # raw / deflate / deflate+horizontal-predictor
                    payloads.append(
                        encode_geotiff_fixture(
                            width=i % 48 + 1,
                            height=i % 32 + 1,
                            n_bands=i % 4 + 1,
                            ulx=float(i % 360 - 180),
                            uly=float(i % 140 - 60),
                            xres=0.5,
                            yres=-0.25,
                            epsg=4326 if i % 2 == 0 else 32633,
                            projected=(i % 2 == 1),
                            nodata=float(i % 7) if i % 2 == 0 else None,
                            byte_order="<" if i % 4 < 2 else ">",
                            band_base=i % 1000 + 10,
                            compression="none" if i % 3 == 0 else "deflate",
                            predictor=2 if i % 3 == 2 else 1,
                        )
                    )
                    types.append("image/tiff")
                elif i % 5 == 1:
                    payloads.append(
                        encode_xlsx_fixture(
                            title=f"doc-{i}",
                            creator="crawler",
                            sheets=[f"s{j}" for j in range(i % 4 + 1)],
                        )
                    )
                    types.append(XLSX_TYPE)
                elif i % 5 == 2:
                    payloads.append((txt or "").encode())
                    types.append("application/octet-stream")
                elif i % 5 == 3:
                    gtype = ["Point", "LineString", "Polygon", "MultiPoint"][i % 4]
                    base = float(i % 100)
                    n = i % 4 + 1
                    feats = []
                    for j in range(n):
                        pt = [base + j, 2.0 * j]
                        coords = {
                            "Point": pt,
                            "LineString": [pt, pt],
                            "Polygon": [[pt, pt, pt]],
                            "MultiPoint": [pt],
                        }[gtype]
                        feats.append(
                            {
                                "type": "Feature",
                                "geometry": {"type": gtype, "coordinates": coords},
                                "properties": {
                                    "name": f"f{j}", "score": 0.5, "rank": j
                                },
                            }
                        )
                    payloads.append(
                        _json.dumps(
                            {"type": "FeatureCollection", "features": feats}
                        ).encode()
                    )
                    types.append(GEOJSON_TYPE)
                else:
                    minx, miny = float(i % 100), -1.0 * (i % 40)
                    payloads.append(
                        encode_shapefile_fixture(
                            shp_type=[1, 3, 5][i % 3],
                            n_features=i % 6 + 1,
                            bounds=(minx, miny, minx + 2.5, miny + 1.25),
                        )
                    )
                    types.append(SHAPEFILE_TYPE)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": payloads,
                    "media_type": types,
                }
            )

    enc = d.mapInPandas(
        _make, schema="doc_id long, payload binary, media_type string"
    )
    out = decode_media(enc, "payload", "media_type", "doc_id")
    return out.select(
        "doc_id",
        "media_type",
        F.when(F.col("media_type") == "application/octet-stream", F.col("n_bytes"))
        .alias("raw_bytes"),
        "width", "height", "n_bands", "epsg", "nodata",
        F.element_at("bounds", 1).alias("b0"),
        F.element_at("bounds", 2).alias("b1"),
        F.element_at("bounds", 3).alias("b2"),
        F.element_at("bounds", 4).alias("b3"),
        F.try_element_at("band_min", F.lit(1)).alias("bmin1"),
        F.try_element_at("band_min", F.lit(2)).alias("bmin2"),
        F.try_element_at("band_min", F.lit(3)).alias("bmin3"),
        F.try_element_at("band_min", F.lit(4)).alias("bmin4"),
        F.try_element_at("band_max", F.lit(1)).alias("bmax1"),
        F.try_element_at("band_max", F.lit(2)).alias("bmax2"),
        F.try_element_at("band_max", F.lit(3)).alias("bmax3"),
        F.try_element_at("band_max", F.lit(4)).alias("bmax4"),
        "title", "creator", "n_sheets",
        "geomtype", "n_features", "attrs",
    )


SQL_MEDIA_DECODE = """
select doc_id,
  case doc_id % 5
    when 0 then 'image/tiff'
    when 1 then 'application/vnd.openxmlformats-officedocument.spreadsheetml.sheet'
    when 2 then 'application/octet-stream'
    when 3 then 'application/geo+json'
    else 'application/x-esri-shape' end as media_type,
  case when doc_id % 5 = 2 then octet_length(encode(text))::BIGINT end as raw_bytes,
  case when doc_id % 5 = 0 then (doc_id % 48 + 1)::INT end as width,
  case when doc_id % 5 = 0 then (doc_id % 32 + 1)::INT end as height,
  case when doc_id % 5 = 0 then (doc_id % 4 + 1)::INT end as n_bands,
  case when doc_id % 5 = 0 then
    (case when doc_id % 2 = 0 then 'EPSG:4326' else 'EPSG:32633' end) end as epsg,
  case when doc_id % 5 = 0 and doc_id % 2 = 0 then (doc_id % 7)::double end as nodata,
  case when doc_id % 5 = 0 then (doc_id % 360 - 180)::double
       when doc_id % 5 = 3 then (doc_id % 100)::double
       when doc_id % 5 = 4 then (doc_id % 100)::double end as b0,
  case when doc_id % 5 = 0 then
         (doc_id % 140 - 60) - (doc_id % 32 + 1) * 0.25
       when doc_id % 5 = 3 then 0.0
       when doc_id % 5 = 4 then -1.0 * (doc_id % 40) end as b1,
  case when doc_id % 5 = 0 then
         (doc_id % 360 - 180) + (doc_id % 48 + 1) * 0.5
       when doc_id % 5 = 3 then (doc_id % 100 + doc_id % 4)::double
       when doc_id % 5 = 4 then (doc_id % 100) + 2.5 end as b2,
  case when doc_id % 5 = 0 then (doc_id % 140 - 60)::double
       when doc_id % 5 = 3 then (2 * (doc_id % 4))::double
       when doc_id % 5 = 4 then -1.0 * (doc_id % 40) + 1.25 end as b3,
  -- band ramp stats: band b holds base*b + (0 .. w*h-1); pixel (0,0)
  -- is nodata when set and the raster has >1 pixel
  case when doc_id % 5 = 0 then
    ((doc_id % 1000 + 10) * 1
     + case when doc_id % 2 = 0
                 and (doc_id % 48 + 1) * (doc_id % 32 + 1) > 1
            then 1 else 0 end)::double end as bmin1,
  case when doc_id % 5 = 0 and doc_id % 4 + 1 >= 2 then
    ((doc_id % 1000 + 10) * 2
     + case when doc_id % 2 = 0
                 and (doc_id % 48 + 1) * (doc_id % 32 + 1) > 1
            then 1 else 0 end)::double end as bmin2,
  case when doc_id % 5 = 0 and doc_id % 4 + 1 >= 3 then
    ((doc_id % 1000 + 10) * 3
     + case when doc_id % 2 = 0
                 and (doc_id % 48 + 1) * (doc_id % 32 + 1) > 1
            then 1 else 0 end)::double end as bmin3,
  case when doc_id % 5 = 0 and doc_id % 4 + 1 >= 4 then
    ((doc_id % 1000 + 10) * 4
     + case when doc_id % 2 = 0
                 and (doc_id % 48 + 1) * (doc_id % 32 + 1) > 1
            then 1 else 0 end)::double end as bmin4,
  case when doc_id % 5 = 0 then
    ((doc_id % 1000 + 10) * 1
     + (doc_id % 48 + 1) * (doc_id % 32 + 1) - 1)::double end as bmax1,
  case when doc_id % 5 = 0 and doc_id % 4 + 1 >= 2 then
    ((doc_id % 1000 + 10) * 2
     + (doc_id % 48 + 1) * (doc_id % 32 + 1) - 1)::double end as bmax2,
  case when doc_id % 5 = 0 and doc_id % 4 + 1 >= 3 then
    ((doc_id % 1000 + 10) * 3
     + (doc_id % 48 + 1) * (doc_id % 32 + 1) - 1)::double end as bmax3,
  case when doc_id % 5 = 0 and doc_id % 4 + 1 >= 4 then
    ((doc_id % 1000 + 10) * 4
     + (doc_id % 48 + 1) * (doc_id % 32 + 1) - 1)::double end as bmax4,
  case when doc_id % 5 = 1 then 'doc-' || doc_id::varchar end as title,
  case when doc_id % 5 = 1 then 'crawler' end as creator,
  case when doc_id % 5 = 1 then (doc_id % 4 + 1)::INT end as n_sheets,
  case when doc_id % 5 = 3 then
         (['point','curve','surface','point'])[doc_id % 4 + 1]
       when doc_id % 5 = 4 then
         (['point','curve','surface'])[doc_id % 3 + 1] end as geomtype,
  case when doc_id % 5 = 3 then (doc_id % 4 + 1)::INT
       when doc_id % 5 = 4 then (doc_id % 6 + 1)::INT end as n_features,
  case when doc_id % 5 = 3 then 'name:String,score:Real,rank:Integer'
  end as attrs
from documents
"""


def q_scalar_cleanup(spark, sf_dir):
    # O3 filename truncation, C19 concat_ws skipping empties, C11 safe
    # element_at with default, F9 content sniff (xml vs json vs invalid)
    d = _spread(spark, _table(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    payload = F.when(F.col("doc_id") % 3 == 0, F.lit('  <x a="1"/>')).when(
        F.col("doc_id") % 3 == 1, F.lit(' {"a": 1}')
    ).otherwise(F.lit("plain words"))
    return d.select(
        "doc_id",
        F.substring(F.col("text"), 1, 32).alias("short_name"),
        F.concat_ws(
            " ", F.nullif(F.col("lang"), F.lit("")), F.nullif(F.col("source"), F.lit(""))
        ).alias("abstract_cat"),
        F.element_at(F.concat(toks, F.array(F.lit("default"))), 1).alias("first_tok"),
        F.when(F.regexp_like(F.ltrim(payload), F.lit(r"^<")), "xml")
        .when(F.regexp_like(F.ltrim(payload), F.lit(r"^[{\[]")), "json")
        .otherwise("invalid")
        .alias("sniffed"),
    )


SQL_SCALAR_CLEANUP = r"""
with p as (select doc_id, text, lang, source,
  case when doc_id % 3 = 0 then '  <x a="1"/>'
       when doc_id % 3 = 1 then ' {"a": 1}'
       else 'plain words' end as payload
  from documents)
select doc_id,
  substring(text, 1, 32) as short_name,
  concat_ws(' ', nullif(lang, ''), nullif(source, '')) as abstract_cat,
  (list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')
     || ['default'])[1] as first_tok,
  case when regexp_matches(ltrim(payload), '^<') then 'xml'
       when regexp_matches(ltrim(payload), '^[{\[]') then 'json'
       else 'invalid' end as sniffed
from p
"""


def q_percentile(spark, sf_dir):
    # exact interpolated median per group (colorCoding class-bound math)
    ev = _table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("median_value"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90_value"),
    )


SQL_PERCENTILE = """
select event_type,
       round(quantile_cont(value, 0.5), 4) as median_value,
       round(quantile_cont(value, 0.9), 4) as p90_value
from events group by event_type
"""


# =====================================================================
# A4 contact split/collect (parseDC utils.py:715-728)
# =====================================================================
def q_contact_collect(spark, sf_dir):
    """Multi-valued author/publisher/creator strings -> one contact row
    per surviving (doc, key): split on ';'/' and ', safeFileName key,
    email routing on '@', last role wins on key collision."""
    from pygeodatacrawler_spark.operators.harvest import contact_entries

    d = _spread(spark, _table(spark, sf_dir, "documents"))
    i = F.col("doc_id")
    base = d.select(
        "doc_id",
        F.concat(F.lit("Alice Smith and Bob-"), (i % 7).cast("string")).alias(
            "author"
        ),
        F.concat(F.lit("Pub "), (i % 3).cast("string")).alias("publisher"),
        F.when(
            i % 2 == 0, F.lit("alice.smith@example.org;Alice Smith")
        ).otherwise(F.lit("")).alias("creator"),
    )
    return contact_entries(base, "doc_id")


_SQL_SAFE_FNAME = "translate({e}, '# !/\\:;()[]{{}}&~%+,', '-------')"

SQL_CONTACT_COLLECT = f"""
with base as (
  select doc_id,
    'Alice Smith and Bob-' || (doc_id % 7) as author,
    'Pub ' || (doc_id % 3) as publisher,
    case when doc_id % 2 = 0 then 'alice.smith@example.org;Alice Smith' else '' end as creator
  from documents),
a as (select doc_id, string_split(regexp_replace(author, ' and ', ';', 'g'), ';') as l from base),
p as (select doc_id, string_split(regexp_replace(publisher, ' and ', ';', 'g'), ';') as l from base),
c as (select doc_id, string_split(regexp_replace(creator, ' and ', ';', 'g'), ';') as l from base),
names as (
  select doc_id, 0 as ord, 'author' as role, trim(l[i+1]) as name, i as pos
    from a, unnest(range(len(l))) as t(i)
  union all
  select doc_id, 1 as ord, 'publisher' as role, trim(l[i+1]) as name, i as pos
    from p, unnest(range(len(l))) as t(i)
  union all
  select doc_id, 2 as ord, 'creator' as role, trim(l[i+1]) as name, i as pos
    from c, unnest(range(len(l))) as t(i)),
kept as (
  select doc_id, name, role,
    {_SQL_SAFE_FNAME.format(e='name')} as contact_key,
    row_number() over (
      partition by doc_id, {_SQL_SAFE_FNAME.format(e='name')}
      order by ord desc, pos desc) as rn
  from names where name <> '')
select doc_id, contact_key,
  case when name like '%@%' then name end as email,
  case when name not like '%@%' then name end as individualname,
  role
from kept where rn = 1
"""


# =====================================================================
# WMS capabilities per-layer fan-out (S9; utils.py:798-850)
# =====================================================================
def q_layer_explode(spark, sf_dir):
    """Capabilities doc -> one row per NAMED layer (unnamed group
    layers dropped), layer title falling back to the service title,
    service/provider fields carried onto every row."""
    from pygeodatacrawler_spark.operators.ows import layer_explode

    d = _spread(spark, _table(spark, sf_dir, "documents"))
    i = F.col("doc_id").cast("string")
    caps = F.concat(
        F.lit('{"identification":{"title":"Svc '), i,
        F.lit('","abstract":"SA '), i,
        F.lit('","accessconstraints":"none","fees":"none"},'
              '"provider":{"name":"Prov '),
        (F.col("doc_id") % 4).cast("string"),
        F.lit('","url":"https://prov.org"},"layers":['
              '{"name":"","title":"group"},'
              '{"name":"lyr'), i,
        F.lit('_a","title":"","keywords":["k1","k2"],"bbox":[0.0,0.0,'),
        (F.col("doc_id") % 90).cast("string"),
        F.lit('.5,45.0],"metadataUrls":[{"url":"https://cat/rec'), i,
        F.lit('","format":"text/xml"}]},'
              '{"name":"lyr'), i,
        F.lit('_b","title":"B title '), i, F.lit('"}]}'),
    )
    df = d.select(
        F.concat(F.lit("https://wms.example.org/"), i).alias("service_url"),
        "doc_id",
        caps.alias("capabilities"),
    )
    out = layer_explode(df)
    return out.select(
        F.col("service_url"),
        "layer_name",
        "layer_title",
        "provider_name",
        F.size("layer_keywords").alias("n_keywords"),
        F.size("metadataUrls").alias("n_meta"),
        F.round(F.coalesce(F.element_at("bbox", 3), F.lit(-1.0)), 1).alias("maxx"),
    )


SQL_LAYER_EXPLODE = """
with caps as (
  select doc_id,
    'https://wms.example.org/' || doc_id as service_url,
    '{"identification":{"title":"Svc ' || doc_id || '","abstract":"SA ' || doc_id ||
    '","accessconstraints":"none","fees":"none"},"provider":{"name":"Prov ' || (doc_id % 4) ||
    '","url":"https://prov.org"},"layers":[{"name":"","title":"group"},{"name":"lyr' || doc_id ||
    '_a","title":"","keywords":["k1","k2"],"bbox":[0.0,0.0,' || (doc_id % 90) ||
    '.5,45.0],"metadataUrls":[{"url":"https://cat/rec' || doc_id ||
    '","format":"text/xml"}]},{"name":"lyr' || doc_id || '_b","title":"B title ' || doc_id || '"}]}' as j
  from documents),
lyr as (
  select service_url, j, i,
    json_extract_string(j, '$.layers[' || i || '].name') as layer_name,
    json_extract_string(j, '$.layers[' || i || '].title') as raw_title
  from caps, unnest(range(json_array_length(j, '$.layers')::BIGINT)) as t(i))
select service_url, layer_name,
  case when raw_title is null or raw_title = ''
       then json_extract_string(j, '$.identification.title')
       else raw_title end as layer_title,
  json_extract_string(j, '$.provider.name') as provider_name,
  coalesce(json_array_length(j, '$.layers[' || i || '].keywords'), 0)::INT as n_keywords,
  coalesce(json_array_length(j, '$.layers[' || i || '].metadataUrls'), 0)::INT as n_meta,
  round(coalesce((j->>('$.layers[' || i || '].bbox[2]'))::DOUBLE, -1.0), 1) as maxx
from lyr
where layer_name is not null and layer_name <> ''
"""


# =====================================================================
# CSV-import filename rule (C17/O3; reference metadata.py:525-534)
# =====================================================================
def q_import_filename(spark, sf_dir):
    """safeFileName + ascii fold, clip-to-32, extend-if-under-8 with
    '--' + folded letters[:16] — the import sink's filename rule over
    synthesized identifiers covering all three branches."""
    from pygeodatacrawler_spark.sources.csv_import import import_filename

    d = _table(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    b = F.col("doc_id") % 3
    ident = (
        F.when(b == 0, F.concat(F.lit("ídx"), i))
        .when(b == 1, F.concat(F.lit("L" * 20), i))
        .otherwise(F.lit("X" * 40))
    )
    letters = F.concat(F.lit("Páblito Org "), (F.col("doc_id") % 10).cast("string"))
    return d.select("doc_id", import_filename(ident, letters).alias("fname"))


SQL_IMPORT_FILENAME = """
with s as (select doc_id,
    case when doc_id % 3 = 0 then 'ídx' || doc_id
         when doc_id % 3 = 1 then repeat('L', 20) || doc_id
         else repeat('X', 40) end as ident,
    'Páblito Org ' || (doc_id % 10) as letters
  from documents),
t as (select doc_id,
    strip_accents(translate(ident, '# !/\\:;()[]{}&~%+,', '-------')) as fn,
    substring(strip_accents(translate(letters, '# !/\\:;()[]{}&~%+,', '-------')), 1, 16) as ext
  from s)
select doc_id,
  case when len(fn) > 32 then substring(fn, 1, 32)
       when len(fn) < 8 then fn || '--' || ext
       else fn end as fname
from t
"""


# =====================================================================
# DOI resolution cascade (C15 full form; reference utils.py:509-663)
# =====================================================================
def q_doi_cascade(spark, sf_dir):
    """DataCite -> Crossref -> bibtex short-circuit over synthesized API
    responses (deterministic JSON built from documents), flattened to
    oracle-comparable columns. doc_id%4 plants one row per cascade
    branch: 0 datacite-valid, 1 blocklisted prefix (skips DataCite even
    though its response is valid), 2 datacite-invalid, 3 bibtex-only."""
    from pygeodatacrawler_spark.operators.doi import resolve_doi

    d = _spread(spark, _table(spark, sf_dir, "documents"))
    i = F.col("doc_id").cast("string")
    b = F.col("doc_id") % 4
    prefix = F.when(b == 1, F.lit("10.1002")).otherwise(F.lit("10.5281"))
    url = F.concat(F.lit("https://doi.org/"), prefix, F.lit("/item."), i)
    dctitle = F.when(b.isin(2, 3), F.lit("")).otherwise(
        F.concat(F.lit("DC title "), i)
    )
    crtitle = F.when(b == 3, F.lit("")).otherwise(F.concat(F.lit("CR title "), i))
    dc_resp = F.concat(
        F.lit('{"data":[{"attributes":{"titles":[{"title":"'), dctitle,
        F.lit('"}],"descriptions":[{"description":"Desc '), i,
        F.lit('"}],"creators":[{"name":"Ada Lovelace","affiliation":["Org'),
        (F.col("doc_id") % 5).cast("string"),
        F.lit('"]}],"contributors":[{"familyName":"Curie","contributorType":"Editor"}],'
              '"licenses":[{"title":"CC-BY-4.0"}],'
              '"dates":[{"date":"2019-05-01","dateType":"Issued"}],'
              '"publicationYear":2020,'
              '"subjects":[{"subject":"geo"},{"subject":"data"}],'
              '"types":{"resourceTypeGeneral":"Dataset","resourceType":"grid"},'
              '"relatedIdentifiers":[{"relatedIdentifier":"10.1/rel'), i,
        F.lit('","relatedIdentifierType":"DOI","relationType":"IsSupplementTo"},'
              '{"relatedIdentifier":"x","relatedIdentifierType":"URL"}]}}]}'),
    )
    cr_resp = F.concat(
        F.lit('{"message":{"type":"journal-article","title":["'), crtitle,
        F.lit('"],"abstract":"jats:Abstract '), i,
        F.lit('","publisher":"Pub '), (F.col("doc_id") % 3).cast("string"),
        F.lit('","created":{"date-time":"2021-01-01T00:00:00Z"},'
              '"published":{"date-parts":[[2021,'),
        (F.col("doc_id") % 12 + 1).cast("string"),
        F.lit(',2]]},"license":[{"URL":"https://lic/'), i,
        F.lit('"}],"author":[{"given":"Grace","family":"Hopper",'
              '"affiliation":[{"Name":"Navy"}]},{"given":"Alan","family":"Turing"}],'
              '"indexed":{"date-time":"2022-02-02T00:00:00Z"}}}'),
    )
    bt_resp = F.concat(
        F.lit("@article{bib"), i, F.lit(", title = {BT title "), i,
        F.lit("}, year = {1999}}"),
    )
    df = d.select(
        "doc_id",
        url.alias("url"),
        dc_resp.alias("datacite_resp"),
        cr_resp.alias("crossref_resp"),
        bt_resp.alias("bibtex_resp"),
    )
    out = resolve_doi(df)
    return out.select(
        "doc_id",
        F.col("resolve_stage").alias("stage"),
        F.col("mcf.metadata.identifier").alias("identifier"),
        F.col("mcf.identification.title").alias("title"),
        F.element_at(F.col("mcf.identification.dates"), F.lit("publication")).alias(
            "publication"
        ),
        F.size("mcf.contact").alias("n_contacts"),
    )


SQL_DOI_CASCADE = """
with synth as (
  select doc_id,
    doc_id % 4 as b,
    case when doc_id % 4 = 1 then '10.1002' else '10.5281' end as prefix,
    case when doc_id % 4 in (2, 3) then '' else 'DC title ' || doc_id end as dctitle,
    case when doc_id % 4 = 3 then '' else 'CR title ' || doc_id end as crtitle
  from documents),
resp as (
  select doc_id, b, prefix,
    prefix || '/item.' || doc_id as doi,
    '{"data":[{"attributes":{"titles":[{"title":"' || dctitle ||
    '"}],"descriptions":[{"description":"Desc ' || doc_id ||
    '"}],"creators":[{"name":"Ada Lovelace","affiliation":["Org' || (doc_id % 5) ||
    '"]}],"contributors":[{"familyName":"Curie","contributorType":"Editor"}],"licenses":[{"title":"CC-BY-4.0"}],"dates":[{"date":"2019-05-01","dateType":"Issued"}],"publicationYear":2020,"subjects":[{"subject":"geo"},{"subject":"data"}],"types":{"resourceTypeGeneral":"Dataset","resourceType":"grid"},"relatedIdentifiers":[{"relatedIdentifier":"10.1/rel' || doc_id ||
    '","relatedIdentifierType":"DOI","relationType":"IsSupplementTo"},{"relatedIdentifier":"x","relatedIdentifierType":"URL"}]}}]}' as dc,
    '{"message":{"type":"journal-article","title":["' || crtitle ||
    '"],"abstract":"jats:Abstract ' || doc_id ||
    '","publisher":"Pub ' || (doc_id % 3) ||
    '","created":{"date-time":"2021-01-01T00:00:00Z"},"published":{"date-parts":[[2021,' || (doc_id % 12 + 1) ||
    ',2]]},"license":[{"URL":"https://lic/' || doc_id ||
    '"}],"author":[{"given":"Grace","family":"Hopper","affiliation":[{"Name":"Navy"}]},{"given":"Alan","family":"Turing"}],"indexed":{"date-time":"2022-02-02T00:00:00Z"}}}' as cr,
    '@article{bib' || doc_id || ', title = {BT title ' || doc_id || '}, year = {1999}}' as bt
  from synth),
staged as (
  select doc_id, doi, dc, cr, bt,
    case
      when b <> 1 and (dc->>'$.data[0].attributes.titles[0].title') <> '' then 'datacite'
      when (cr->>'$.message.title[0]') <> '' then 'crossref'
      when regexp_extract(bt, '@\\w+\\s*\\{\\s*([^,\\s]+)\\s*,', 1) <> '' then 'bibtex'
    end as stage
  from resp)
select doc_id, stage,
  case stage
    when 'datacite' then translate('doi.org/' || doi, '# !/\\:;()[]{}&~%+,', '-------')
    when 'crossref' then doi
    else translate(regexp_extract(bt, '@\\w+\\s*\\{\\s*([^,\\s]+)\\s*,', 1), '# !/\\:;()[]{}&~%+,', '-------')
  end as identifier,
  case stage
    when 'datacite' then dc->>'$.data[0].attributes.titles[0].title'
    when 'crossref' then cr->>'$.message.title[0]'
    else regexp_extract(bt, 'title\\s*=\\s*\\{([^}]*)\\}', 1)
  end as title,
  case stage
    when 'datacite' then (dc->>'$.data[0].attributes.publicationYear')
    when 'crossref' then (cr->>'$.message.published."date-parts"[0][0]') || '-' ||
                         (cr->>'$.message.published."date-parts"[0][1]') || '-' ||
                         (cr->>'$.message.published."date-parts"[0][2]')
  end as publication,
  case stage
    when 'datacite' then json_array_length(dc, '$.data[0].attributes.creators')
                       + json_array_length(dc, '$.data[0].attributes.contributors')
    when 'crossref' then 1 + json_array_length(cr, '$.message.author')
    else 0
  end as n_contacts
from staged
"""


def q_approx_distinct(spark, sf_dir):
    # HLL sketch — algorithm-specific, so no value oracle (driver runs
    # the weaker rows-only check); exactness is covered by distinct_agg
    ev = _table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users")
    )


def q_hll_distinct(spark, sf_dir):
    # PORTABLE HyperLogLog (Flajolet et al. 2007, public): the sketch
    # itself is built from engine-portable primitives — the md5 60-bit
    # hash (functions/hashes.py), m=512 registers from the low 9 bits,
    # rank via length(bin(w)) (string-exact, no float log on the hash
    # path) — so unlike approx_count_distinct (engine-specific HLL,
    # rows-only check), the ESTIMATE is value-oracled: DuckDB computes
    # the identical sketch and the identical bias-corrected estimate.
    ev = _spread(spark, _table(spark, sf_dir, "events"))
    m = 512
    h = md5_long(F.col("user_id").cast("string"))
    w = F.shiftright(h, 9)
    rho = F.when(w > 0, F.lit(52) - F.length(F.bin(w))).otherwise(F.lit(52))
    regs = (
        ev.select(
            "event_type",
            F.pmod(h, F.lit(m)).alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("mr"))
    )
    agg = regs.groupBy("event_type").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("mr"))).alias("s"),
        F.count("*").alias("nb"),
    )
    alpha_mm = (0.7213 / (1 + 1.079 / m)) * m * m
    raw = F.lit(alpha_mm) / (F.col("s") + (F.lit(m) - F.col("nb")))
    zeros = F.lit(m) - F.col("nb")
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return agg.select("event_type", F.round(est, 2).alias("hll_users"))


SQL_HLL_DISTINCT = f"""
with h as (
  select event_type, {SQL_MD5.format(e="user_id::varchar")} as h from events
), r as (
  select event_type, h % 512 as bucket,
         case when (h >> 9) > 0 then 52 - length(bin(h >> 9)) else 52 end as rho
  from h
), regs as (
  select event_type, bucket, max(rho) as mr from r group by 1, 2
), agg as (
  select event_type, sum(pow(2.0, -mr)) as s, count(*) as nb
  from regs group by 1
)
select event_type,
  round(case when ((0.7213 / (1 + 1.079 / 512)) * 512 * 512 / (s + (512 - nb)))
                  <= 2.5 * 512 and (512 - nb) > 0
             then 512.0 * ln(512.0 / (512 - nb))
             else (0.7213 / (1 + 1.079 / 512)) * 512 * 512 / (s + (512 - nb))
        end, 2) as hll_users
from agg
"""


# =====================================================================
# mapfile class generation (C7 full) + CRS math (C4/C5)
# =====================================================================
_CLASS_COLORS = ("#ff0000", "#ffff00", "#00ff00", "#00ffff")


def q_color_classes(spark, sf_dir):
    # C7 colorCoding, ALL three modes in one tagged union (merged from
    # the separate round-3 color_classes + style_classes entries so both
    # stay inside the driver's 50-entry correctness window):
    #   kind='range'  mode 1 (mapfile.py:403-425): per-layer equal-width
    #                 classes, DECIMAL(38,4) labels, range EXPRESSIONs;
    #                 extra = class color.
    #   kind='style'  modes 2+3 (mapfile.py:430-440) rendered to full
    #                 CLASS blocks with msStyler polygon STYLE bodies
    #                 (mapfile.py:448-465); extra = the CLASS block.
    from pygeodatacrawler_spark.functions.mapfile import (
        config_classes,
        equal_width_classes,
        render_class_block,
    )

    part = _table(spark, sf_dir, "part")
    bounds = part.groupBy("p_brand").agg(
        F.round(F.min("p_retailprice"), 2).alias("mn"),
        F.round(F.max("p_retailprice"), 2).alias("mx"),
    )
    ranges = equal_width_classes(
        bounds, "pixel", colors=_CLASS_COLORS, group_name="Default"
    ).select(
        F.col("p_brand").alias("layer"),
        F.lit("range").alias("kind"),
        "idx", "label", "expression", "grp",
        F.col("color").alias("extra"),
    )

    docs = _table(spark, sf_dir, "documents")
    layers = docs.select(F.col("source").alias("layer")).distinct()
    classes = spark.createDataFrame(
        [
            (0, "urban", "Urban areas", None, None, "#ff0000"),
            (1, "42", None, None, None, "255 128 0"),
            (2, None, None, 0.0, 0.5, "#00ff00"),
            (3, None, None, 0.5, 1.0, None),
        ],
        "cfg_id int, val string, lbl string, cmin double, cmax double, color string",
    )
    styled = render_class_block(
        config_classes(layers, classes, "score", group_name="Styled"),
        "polygon",
    ).select(
        "layer",
        F.lit("style").alias("kind"),
        F.col("cfg_id").alias("idx"),
        "label", "expression", "grp",
        F.col("class_block").alias("extra"),
    )
    #   kind='hex'   C6 hexcolor (mapfile.py:471-481): rgb ints ->
    #                #rrggbb (merged from the round-1 hexcolor entry to
    #                free a slot in the driver's 50-entry window);
    #                layer = partkey, extra = the hex color.
    hexes = part.select(
        F.col("p_partkey").cast("string").alias("layer"),
        F.lit("hex").alias("kind"),
        F.lit(None).cast("int").alias("idx"),
        F.lit(None).cast("string").alias("label"),
        F.lit(None).cast("string").alias("expression"),
        F.lit(None).cast("string").alias("grp"),
        F.format_string(
            "#%02x%02x%02x",
            F.pmod(F.col("p_partkey"), F.lit(256)).cast("int"),
            F.pmod(F.col("p_size") * 7, F.lit(256)).cast("int"),
            F.pmod(F.col("p_retailprice").cast("int"), F.lit(256)).cast("int"),
        ).alias("extra"),
    )
    return ranges.unionByName(styled).unionByName(hexes)


SQL_COLOR_CLASSES = """
with bounds as (
  select p_brand, round(min(p_retailprice), 2) as mn,
         round(max(p_retailprice), 2) as mx
  from part group by p_brand
), expl as (
  select p_brand, mn, mx, unnest([0,1,2,3]) as idx from bounds
  where mx - mn > 0
), cls as (
  select p_brand, idx,
         round(mn + idx * (mx - mn) / 4, 4) as lo,
         round(mn + (idx + 1) * (mx - mn) / 4, 4) as hi,
         (['#ff0000','#ffff00','#00ff00','#00ffff'])[idx + 1] as color
  from expl
  union all
  select p_brand, 0 as idx, round(mn, 4) as lo, round(mn, 4) as hi,
         '#ff0000' as color
  from bounds where mx - mn = 0
),
layers as (select distinct source as layer from documents),
cfg(cfg_id, val, lbl, cmin, cmax, color) as (values
  (0, 'urban', 'Urban areas', null, null, '#ff0000'),
  (1, '42', null, null, null, '255 128 0'),
  (2, null, null, 0.0, 0.5, '#00ff00'),
  (3, null, null, 0.5, 1.0, null)
), rendered as (
  select cfg_id,
    case when val is not null then
      '( [score] = "' || val || '" )'
    when cmin is not null and cmax is not null then
      '( [score] >= ' || cmin::varchar || ' AND [score] <= ' ||
      cmax::varchar || ' )'
    end as expression,
    coalesce(lbl, val, cmin::varchar || ' - ' || cmax::varchar) as label,
    case
      when color is null then '#eeeeee'
      when trim(color) = '' then '#CCCCCC'
      when len(string_split_regex(trim(color), '\\s+')) = 3 then
        '#' || lpad(format('{:x}', string_split_regex(trim(color), '\\s+')[1]::int), 2, '0')
            || lpad(format('{:x}', string_split_regex(trim(color), '\\s+')[2]::int), 2, '0')
            || lpad(format('{:x}', string_split_regex(trim(color), '\\s+')[3]::int), 2, '0')
      else color end as hex
  from cfg
)
select p_brand as layer, 'range' as kind, idx,
  case when hi > lo
       then lo::decimal(38,4)::varchar || ' - ' || hi::decimal(38,4)::varchar
       else lo::decimal(38,4)::varchar end as label,
  case when hi > lo
       then '( [pixel] >= ' || lo::decimal(38,4)::varchar ||
            ' AND [pixel] <= ' || hi::decimal(38,4)::varchar || ' )'
       else '( [pixel] = ' || lo::decimal(38,4)::varchar || ' )' end
    as expression,
  'Default' as grp, color as extra
from cls
union all
select layer, 'style' as kind, cfg_id as idx, label, expression,
  'Styled' as grp,
  'CLASS' || chr(10) || 'NAME "' || label || '"' || chr(10) ||
  'GROUP "Styled"' || chr(10) || 'EXPRESSION ' || expression || chr(10) ||
  'STYLE' || chr(10) ||
  'COLOR "' || hex || '"' || chr(10) ||
  'OUTLINECOLOR "#232323"' || chr(10) || 'OUTLINEWIDTH 0.1' || chr(10) ||
  'END' || chr(10) || 'END' || chr(10) || chr(10) as extra
from layers, rendered
where expression is not null
union all
select p_partkey::varchar as layer, 'hex' as kind, null::int as idx,
  null::varchar as label, null::varchar as expression, null::varchar as grp,
  printf('#%02x%02x%02x',
         (p_partkey % 256)::INT,
         ((p_size * 7) % 256)::INT,
         (floor(p_retailprice)::INT % 256)::INT) as extra
from part
"""


def q_crs_codes(spark, sf_dir):
    # C4 crs2code (utils.py:207-229): authority recovery from every
    # textual CRS form OSR round-trips, plus the FindMatches fuzzy path
    # (utils.py:219-227) on non-authoritative WKT; oracle = the
    # ground-truth code each row was constructed from (stronger than
    # re-running the regex).
    from pygeodatacrawler_spark.functions.geo import crs2code

    n = _table(spark, sf_dir, "nation")
    code = (F.lit(4000) + F.col("n_nationkey")).cast("string")
    zone = (F.col("n_nationkey") % 60 + 1).cast("string")
    form = F.col("n_nationkey") % 6
    crs_str = (
        F.when(form == 0, F.concat(F.lit("EPSG:"), code))
        .when(form == 1, F.concat(F.lit("urn:ogc:def:crs:EPSG::"), code))
        .when(
            form == 2,
            F.concat(
                F.lit('PROJCS["local",GEOGCS["WGS 84",'
                      'AUTHORITY["EPSG","4326"]],AUTHORITY["EPSG","'),
                code,
                F.lit('"]]'),
            ),
        )
        .when(
            form == 3,
            F.concat(F.lit("http://www.opengis.net/def/crs/EPSG/0/"), code),
        )
        # non-authoritative WKT -> FindMatches-style fuzzy recovery
        .when(
            form == 4,
            F.concat(
                F.lit('PROJCS["WGS 84 / UTM zone '), zone,
                F.lit('N",GEOGCS["WGS 84",DATUM["WGS_1984"]]]'),
            ),
        )
        .otherwise(F.lit("not a known crs"))
    )
    return n.select(
        "n_nationkey",
        crs_str.alias("crs_str"),
        crs2code(crs_str).alias("code"),
    )


SQL_CRS_CODES = """
select n_nationkey,
  case n_nationkey % 6
    when 0 then 'EPSG:' || (4000 + n_nationkey)::varchar
    when 1 then 'urn:ogc:def:crs:EPSG::' || (4000 + n_nationkey)::varchar
    when 2 then 'PROJCS["local",GEOGCS["WGS 84",AUTHORITY["EPSG","4326"]],' ||
                'AUTHORITY["EPSG","' || (4000 + n_nationkey)::varchar || '"]]'
    when 3 then 'http://www.opengis.net/def/crs/EPSG/0/' ||
                (4000 + n_nationkey)::varchar
    when 4 then 'PROJCS["WGS 84 / UTM zone ' ||
                (n_nationkey % 60 + 1)::varchar ||
                'N",GEOGCS["WGS 84",DATUM["WGS_1984"]]]'
    else 'not a known crs' end as crs_str,
  case n_nationkey % 6
    when 4 then 'EPSG:' || (32600 + n_nationkey % 60 + 1)::varchar
    when 5 then ''
    else 'EPSG:' || (4000 + n_nationkey)::varchar end as code
from nation
"""


# Conic-family test grids: family -> (epsg, lon0_in, lon_step, lat0_in,
# lat_step, control point lon/lat). All steps are dyadic rationals so the
# nation-keyed inputs are exactly representable and inverse(forward(p))
# rounds back to p exactly at 6 dp. The control point pins the forward
# transform absolutely (the LAEA one is the EPSG Guidance Note 7-2
# worked example, 50N 5E -> 3962799.45 E / 2999718.85 N; the LCC/Albers
# ones are the projection origins, exact by definition).
_CONIC_GRIDS: dict[str, tuple[int, float, float, float, float, tuple[float, float]]] = {
    "lcc2154": (2154, -4.0, 0.375, 42.0, 0.25, (3.0, 46.5)),
    "lcc3034": (3034, 0.0, 0.8125, 38.0, 1.0, (10.0, 52.0)),
    "lcc3978": (3978, -130.0, 2.875, 46.0, 1.0, (-95.0, 49.0)),
    "albers5070": (5070, -120.0, 2.0, 25.0, 0.9375, (-96.0, 23.0)),
    "albers3577": (3577, 116.0, 1.375, -40.0, 1.125, (132.0, 0.0)),
    "laea3035": (3035, -10.0, 1.625, 36.0, 1.375, (5.0, 50.0)),
    # RD New oblique stereographic; control = the EPSG GN7-2 §1.3.7.1
    # worked example (53N 6E -> 196105.28 E / 557057.74 N)
    "rdnew28992": (28992, 3.25, 0.15625, 50.75, 0.109375, (6.0, 53.0)),
    # round-5 PROJ_DEFS additions (parameter-driven registry): RGF93
    # CC48 conic-conformal zone + California Albers, controls at the
    # projection origins (exact by definition)
    "cc48_3948": (3948, -1.0, 0.3125, 47.25, 0.0625, (3.0, 48.0)),
    "albers3310": (3310, -124.0, 0.3125, 32.5, 0.375, (-120.0, 0.0)),
}

# National transverse-mercator grids: oracled like the 'utm' family —
# roundtrip identity on dyadic inputs + a control point (OSGB uses the
# Ordnance Survey worked example, Caister water tower -> 651409.903 E
# 313177.270 N; the others pin the grid origin, exact by definition).
_TMNAT_GRIDS: dict[str, tuple[int, float, float, float, float, tuple[float, float]]] = {
    "osgb27700": (27700, -5.5, 0.25, 50.0, 0.25,
                  (1.0 + 43.0 / 60 + 4.5177 / 3600,
                   52.0 + 39.0 / 60 + 27.2531 / 3600)),
    # grids stay within ~4 deg of each central meridian — beyond that
    # the truncated TM series' forward/inverse residual (~1e-6 deg)
    # crosses the 6-dp roundtrip rounding threshold
    "nztm2193": (2193, 169.5, 0.25, -46.0, 0.375, (173.0, 0.0)),
    "sweref3006": (3006, 11.0, 0.3125, 55.25, 0.5, (15.0, 0.0)),
    "cs92_2180": (2180, 15.5, 0.25, 49.0, 0.25, (19.0, 0.0)),
    # round-5 PROJ_DEFS additions: TM35FIN, an MGA94 zone (southern
    # false northing), a DHDN Gauss-Krüger zone (Bessel, k0=1) —
    # controls pin each grid origin (exact by definition)
    "tm35fin3067": (3067, 23.5, 0.3125, 60.0, 0.375, (27.0, 0.0)),
    "mga28355": (28355, 143.5, 0.3125, -44.0, 0.375, (147.0, 0.0)),
    "gk31467": (31467, 5.5, 0.3125, 47.5, 0.25, (9.0, 0.0)),
}


def q_reproject_bounds(spark, sf_dir):
    # C5 reprojectBounds (utils.py:240-256), all supported families in
    # one tagged union (merged from the separate round-3 reproject_bounds
    # + reproject_utm queries so every oracled query fits the driver's
    # 50-entry correctness window):
    #   merc       4326->3857 forward (c1..c4) + inverse roundtrip (c5,c6)
    #   utm        4326<->32633 roundtrip (c1..c4) + CN Tower control
    #              point in 32617 (c5,c6: published 630084.30 E
    #              4833438.59 N)
    #   lcc*/albers*/laea*  forward E,N at 2 dp (DuckDB evaluates the
    #              same closed form, c1,c2), roundtrip (c3,c4), control
    #              point (c5,c6)
    from pygeodatacrawler_spark.functions.geo import reproject_bounds

    part = _spread(spark, _table(spark, sf_dir, "part"))
    nation = _table(spark, sf_dir, "nation")

    # + 0.0 collapses IEEE negative zero after rounding (both engines)
    def r(col, nd):
        return F.round(col, nd) + 0.0

    lon = (F.col("p_partkey") % 340 - 170).cast("double")
    lat = (F.col("p_partkey") % 160 - 80).cast("double")
    fwd = reproject_bounds(lon, lat, lon + 5, lat + 5, 4326, 3857)
    inv = reproject_bounds(
        F.element_at(fwd, 1), F.element_at(fwd, 2),
        F.element_at(fwd, 3), F.element_at(fwd, 4),
        3857, 4326,
    )
    merc = part.select(
        F.col("p_partkey").alias("k"),
        F.lit("merc").alias("family"),
        r(F.element_at(fwd, 1), 4).alias("c1"),
        r(F.element_at(fwd, 2), 4).alias("c2"),
        r(F.element_at(fwd, 3), 4).alias("c3"),
        r(F.element_at(fwd, 4), 4).alias("c4"),
        r(F.element_at(inv, 1), 6).alias("c5"),
        r(F.element_at(inv, 2), 6).alias("c6"),
    )

    # UTM roundtrip staged through a projection (same reason as the
    # conic/TM-national families: the TM inverse references its inputs
    # ~10x through the footpoint-latitude series, so feeding it the raw
    # forward EXPRESSION replicates that whole subtree per reference —
    # measured as ~200 s of analyzer time on the unstaged round-3 shape)
    from pygeodatacrawler_spark.functions.geo import (
        tm_forward as _tmf,
        tm_inverse as _tmi,
        utm_params,
    )

    up33 = utm_params(32633)
    ubase = part.select(
        F.col("p_partkey").alias("k"),
        (F.lit(12.0) + (F.col("p_partkey") % 40) * 0.125)
        .cast("double").alias("_lon"),
        (F.lit(-80.0) + (F.col("p_partkey") % 321) * 0.5)
        .cast("double").alias("_lat"),
    )
    ux0, uy0 = _tmf(F.col("_lon"), F.col("_lat"), *up33)
    ux1, uy1 = _tmf(F.col("_lon") + 0.25, F.col("_lat") + 0.25, *up33)
    ufwd_df = ubase.select(
        "k", ux0.alias("_x0"), uy0.alias("_y0"),
        ux1.alias("_x1"), uy1.alias("_y1"),
    )
    rl0, rp0 = _tmi(F.col("_x0"), F.col("_y0"), *up33)
    rl1, rp1 = _tmi(F.col("_x1"), F.col("_y1"), *up33)
    cn = reproject_bounds(
        F.lit(-79.387139), F.lit(43.642567),
        F.lit(-79.387139), F.lit(43.642567),
        4326, 32617,
    )
    utm = ufwd_df.select(
        "k",
        F.lit("utm").alias("family"),
        r(rl0, 6).alias("c1"),
        r(rp0, 6).alias("c2"),
        r(rl1, 6).alias("c3"),
        r(rp1, 6).alias("c4"),
        r(F.element_at(cn, 1), 2).alias("c5"),
        r(F.element_at(cn, 2), 2).alias("c6"),
    )

    # Conic families are staged through explicit projections: the
    # iterative conformal-latitude inverse references its input many
    # times, so feeding it the raw forward EXPRESSION would replicate
    # that whole subtree per reference (exponential analyzer blowup).
    # Materializing _fx/_fy as named columns keeps every stage's trees
    # small — CollapseProject won't inline a non-cheap alias referenced
    # more than once, so the boundary survives optimization.
    from pygeodatacrawler_spark.functions.geo import _CONIC_FWD, _CONIC_INV

    out = merc.unionByName(utm)

    # national TM grids: staged through a projection like the conics —
    # the TM inverse is a closed series but references its inputs many
    # times, so the forward result must be a named column, not a raw
    # expression, to keep the analyzer's trees small
    from pygeodatacrawler_spark.functions.geo import (
        tm_forward,
        tm_inverse,
        tm_national_params,
    )

    for fam, (code, ln0, lns, lt0, lts, (clon, clat)) in _TMNAT_GRIDS.items():
        nk = F.col("n_nationkey")
        params = tm_national_params(code)
        base = nation.select(
            nk.cast("long").alias("k"),
            (F.lit(ln0) + nk * lns).cast("double").alias("_lon"),
            (F.lit(lt0) + nk * lts).cast("double").alias("_lat"),
        )
        fx, fy = tm_forward(F.col("_lon"), F.col("_lat"), *params)
        fwd_df = base.select("k", fx.alias("_fx"), fy.alias("_fy"))
        rlon, rlat = tm_inverse(F.col("_fx"), F.col("_fy"), *params)
        cx, cy = tm_forward(F.lit(clon), F.lit(clat), *params)
        out = out.unionByName(
            fwd_df.select(
                "k",
                F.lit(fam).alias("family"),
                r(rlon, 6).alias("c1"),
                r(rlat, 6).alias("c2"),
                r(rlon, 6).alias("c3"),
                r(rlat, 6).alias("c4"),
                r(cx, 2).alias("c5"),
                r(cy, 2).alias("c6"),
            )
        )

    for fam, (code, ln0, lns, lt0, lts, (clon, clat)) in _CONIC_GRIDS.items():
        nk = F.col("n_nationkey")
        base = nation.select(
            nk.cast("long").alias("k"),
            (F.lit(ln0) + nk * lns).cast("double").alias("_lon"),
            (F.lit(lt0) + nk * lts).cast("double").alias("_lat"),
        )
        fx, fy = _CONIC_FWD[code](F.col("_lon"), F.col("_lat"))
        fwd_df = base.select("k", fx.alias("_fx"), fy.alias("_fy"))
        rlon, rlat = _CONIC_INV[code](F.col("_fx"), F.col("_fy"))
        cx, cy = _CONIC_FWD[code](F.lit(clon), F.lit(clat))
        out = out.unionByName(
            fwd_df.select(
                "k",
                F.lit(fam).alias("family"),
                r(F.col("_fx"), 2).alias("c1"),
                r(F.col("_fy"), 2).alias("c2"),
                r(rlon, 6).alias("c3"),
                r(rlat, 6).alias("c4"),
                r(cx, 2).alias("c5"),
                r(cy, 2).alias("c6"),
            )
        )
    return out


def _sql_reproject_composed() -> str:
    """Oracle for the merged reproject query. Mercator forward is
    evaluated natively by DuckDB; the conic forwards are evaluated by
    DuckDB with the SAME closed form (constants inlined from
    geo.lcc_constants/albers_constants/laea_constants); roundtrips are
    identity on exactly-representable inputs; control points are
    literals from the pure-Python mirror (the LAEA one equals the
    published EPSG GN7-2 example to the cm)."""
    from pygeodatacrawler_spark.functions import geo

    parts = ["""
with pts as (
  select p_partkey,
         (p_partkey % 340 - 170)::double as lon,
         (p_partkey % 160 - 80)::double as lat
  from part
), fwd as (
  select p_partkey,
         radians(lon) * 6378137 as fx0,
         ln(tan(pi()/4 + radians(lat)/2)) * 6378137 as fy0,
         radians(lon + 5) * 6378137 as fx1,
         ln(tan(pi()/4 + radians(lat + 5)/2)) * 6378137 as fy1
  from pts
)
select p_partkey as k, 'merc' as family,
       round(fx0, 4) + 0.0 as c1, round(fy0, 4) + 0.0 as c2,
       round(fx1, 4) + 0.0 as c3, round(fy1, 4) + 0.0 as c4,
       round(degrees(fx0 / 6378137), 6) + 0.0 as c5,
       round(degrees(2 * atan(exp(fy0 / 6378137)) - pi()/2), 6) + 0.0 as c6
from fwd
""", """
select p_partkey as k, 'utm' as family,
       12.0 + (p_partkey % 40) * 0.125 as c1,
       -80.0 + (p_partkey % 321) * 0.5 as c2,
       12.25 + (p_partkey % 40) * 0.125 as c3,
       -79.75 + (p_partkey % 321) * 0.5 as c4,
       630084.30 as c5,
       4833438.59 as c6
from part
"""]
    for fam, (code, ln0, lns, lt0, lts, (clon, clat)) in _TMNAT_GRIDS.items():
        ce, cn_ = (
            round(v, 2) + 0.0
            for v in geo.tm_national_forward_py(clon, clat, code)
        )
        parts.append(f"""
select n_nationkey::bigint as k, '{fam}' as family,
       ({ln0!r} + n_nationkey * {lns!r})::double as c1,
       ({lt0!r} + n_nationkey * {lts!r})::double as c2,
       ({ln0!r} + n_nationkey * {lns!r})::double as c3,
       ({lt0!r} + n_nationkey * {lts!r})::double as c4,
       {ce!r} as c5, {cn_!r} as c6
from nation
""")
    for fam, (code, ln0, lns, lt0, lts, (clon, clat)) in _CONIC_GRIDS.items():
        ce, cn_ = (round(v, 2) + 0.0 for v in geo._forward_py(clon, clat, code))
        if code in geo._LCC2SP_DEFS:
            k = geo.lcc_constants(code)
            e, n, aF = k["e"], k["n"], k["aF"]
            fwd_en = f"""
         {k['fe']!r} + ({aF!r} * pow(tan(pi()/4 - phi/2) /
             pow((1 - {e!r}*sin(phi)) / (1 + {e!r}*sin(phi)), {e/2!r}), {n!r}))
           * sin({n!r} * radians(lon - {k['lon0']!r})) as fe,
         {k['fn']!r} + {k['rho0']!r} - ({aF!r} * pow(tan(pi()/4 - phi/2) /
             pow((1 - {e!r}*sin(phi)) / (1 + {e!r}*sin(phi)), {e/2!r}), {n!r}))
           * cos({n!r} * radians(lon - {k['lon0']!r})) as fn"""
        elif code in geo._ALBERS_DEFS:
            k = geo.albers_constants(code)
            e, n = k["e"], k["n"]
            q = (f"(1 - {e*e!r}) * (sin(phi)/(1 - {e*e!r}*sin(phi)*sin(phi)) "
                 f"- (1/(2*{e!r})) * ln((1 - {e!r}*sin(phi))/(1 + {e!r}*sin(phi))))")
            rho = f"({k['a']!r} * sqrt({k['c']!r} - {n!r} * {q}) / {n!r})"
            fwd_en = f"""
         {k['fe']!r} + {rho} * sin({n!r} * radians(lon - {k['lon0']!r})) as fe,
         {k['fn']!r} + {k['rho0']!r} - {rho} * cos({n!r} * radians(lon - {k['lon0']!r})) as fn"""
        elif code in geo._OBL_STEREO_DEFS:
            k = geo.stereo_constants(code)
            e, n_, c_ = k["e"], k["n"], k["c"]
            sx0, cx0 = _math.sin(k["chi0"]), _math.cos(k["chi0"])
            rk2 = 2 * k["r"] * k["k0"]
            w = (f"({c_!r} * pow(((1 + sin(phi))/(1 - sin(phi)))"
                 f" * pow((1 - {e!r}*sin(phi))/(1 + {e!r}*sin(phi)), {e!r}), {n_!r}))")
            chi = f"asin(({w} - 1) / ({w} + 1))"
            dl = f"({n_!r} * (radians(lon) - {k['lon0']!r}))"
            bb = f"(1 + sin({chi})*{sx0!r} + cos({chi})*{cx0!r}*cos({dl}))"
            fwd_en = f'''
         {k['fe']!r} + {rk2!r} * cos({chi}) * sin({dl}) / {bb} as fe,
         {k['fn']!r} + {rk2!r} * (sin({chi})*{cx0!r}
           - cos({chi})*{sx0!r}*cos({dl})) / {bb} as fn'''
        else:
            k = geo.laea_constants(code)
            e = k["e"]
            sb0, cb0 = _math.sin(k["beta0"]), _math.cos(k["beta0"])
            q = (f"(1 - {e*e!r}) * (sin(phi)/(1 - {e*e!r}*sin(phi)*sin(phi)) "
                 f"- (1/(2*{e!r})) * ln((1 - {e!r}*sin(phi))/(1 + {e!r}*sin(phi))))")
            beta = f"asin({q} / {k['qp']!r})"
            b = (f"({k['rq']!r} * sqrt(2.0 / (1 + {sb0!r}*sin({beta}) "
                 f"+ {cb0!r}*cos({beta})*cos(radians(lon - {k['lon0']!r})))))")
            fwd_en = f"""
         {k['fe']!r} + {b} * {k['d']!r} * cos({beta})
           * sin(radians(lon - {k['lon0']!r})) as fe,
         {k['fn']!r} + ({b} / {k['d']!r}) * ({cb0!r}*sin({beta})
           - {sb0!r}*cos({beta})*cos(radians(lon - {k['lon0']!r}))) as fn"""
        parts.append(f"""
select k, family, round(fe, 2) + 0.0 as c1, round(fn, 2) + 0.0 as c2,
       lon as c3, lat as c4, {ce!r} as c5, {cn_!r} as c6
from (
  select n_nationkey::bigint as k, '{fam}' as family,
         ({ln0!r} + n_nationkey * {lns!r})::double as lon,
         ({lt0!r} + n_nationkey * {lts!r})::double as lat,
         radians(({lt0!r} + n_nationkey * {lts!r})::double) as phi
  from nation
) g, lateral (select {fwd_en}) f
""")
    return "\nunion all\n".join(parts)


def _seen_filter(spark, sf_dir, kind: str):
    # F6/U1 composed seen-set path exactly as the crawl round runs it:
    # approximate filter (no false negatives) prunes, exact anti-join
    # verifies only the maybes; the union must equal a plain anti-join
    # — which is the oracle. Probes via the scale-path cogroup (no
    # driver collection).
    d = _table(spark, sf_dir, "documents")
    key = F.xxhash64(F.col("doc_id").cast("string")).alias("url_hash")
    seen = d.filter(F.col("doc_id") % 3 == 0).select(key)
    cand = d.filter(F.col("doc_id") % 2 == 0).select("doc_id", key)
    if kind == "cuckoo":
        from pygeodatacrawler_spark.operators.cuckoo import (
            build_cuckoo,
            probe_cuckoo,
        )

        filt = build_cuckoo(seen, n_buckets=8)
        probed = probe_cuckoo(cand, filt, n_buckets=8, via="cogroup")
    else:
        from pygeodatacrawler_spark.operators.seen import (
            build_bloom,
            probe_bloom,
        )

        filt = build_bloom(seen, n_buckets=8)
        probed = probe_bloom(cand, filt, n_buckets=8, via="cogroup")
    definite = probed.filter(~F.col("maybe_seen"))
    confirmed = probed.filter(F.col("maybe_seen")).join(
        seen, "url_hash", "left_anti"
    )
    return definite.unionByName(confirmed).select("doc_id")


def q_seen_filter(spark, sf_dir):
    # Both approximate-filter flavours value-verified in ONE query (a
    # tagged union, merged from the separate round-3 seen_filter_bloom /
    # seen_filter_cuckoo entries so both stay inside the driver's
    # 50-entry correctness window): each method's surviving doc_ids must
    # independently equal the plain anti-join the oracle computes.
    bloom = _seen_filter(spark, sf_dir, "bloom").select(
        F.lit("bloom").alias("method"), "doc_id"
    )
    cuckoo = _seen_filter(spark, sf_dir, "cuckoo").select(
        F.lit("cuckoo").alias("method"), "doc_id"
    )
    return bloom.unionByName(cuckoo)


SQL_SEEN_FILTER = """
select 'bloom' as method, doc_id from documents
where doc_id % 2 = 0 and doc_id % 3 <> 0
union all
select 'cuckoo' as method, doc_id from documents
where doc_id % 2 = 0 and doc_id % 3 <> 0
"""


def q_token_stats(spark, sf_dir):
    # token counting both ways (LLM-pipeline op): whitespace split and
    # the GPT2-shaped BPE pretokenizer regex — all JVM-side regexp
    from pygeodatacrawler_spark.functions.quality import bpe_token_count

    d = _spread(spark, _table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("ws_tokens"),
        bpe_token_count(F.col("text")).alias("bpe_tokens"),
    )


def _sql_token_stats() -> str:
    from pygeodatacrawler_spark.functions.quality import BPE_RE

    pat = BPE_RE.replace("'", "''")
    return f"""
select doc_id,
  len({SQL_TOKS}) as ws_tokens,
  len(list_filter(regexp_extract_all(text, '({pat})', 1),
                  x -> not regexp_matches(x, '^\\s+$'))) as bpe_tokens
from documents
"""


def q_dc_normalize(spark, sf_dir):
    # C13 parseDC full normalization (utils.py:688-769): 25-key
    # default-fill, name->title->fname cascade, identifier-as-dataseturi,
    # license url-vs-name split, modified/year datestamp fallback,
    # distribution www row. DC fields synthesized deterministically from
    # documents; all Column exprs, codegen'd.
    from pygeodatacrawler_spark.functions.metadata import parse_dc_fields

    d = _table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    fname = F.concat(F.lit("doc_"), did.cast("string"), F.lit(".csv"))
    title = F.concat(F.lit("Doc "), did.cast("string"))
    dct = {
        "title": title,
        "name": F.when(did % 4 == 0, F.lit("")).otherwise(title),
        "identifier": F.when(
            did % 3 == 0, F.concat(F.lit("https://example.org/id/"), did.cast("string"))
        ).when(did % 3 == 1, F.concat(F.lit("ID-"), did.cast("string"))).otherwise(
            F.lit("")
        ),
        "description": F.substring(F.col("text"), 1, 20),
        "abstract": F.when(did % 2 == 0, F.lit("More.")).otherwise(F.lit("")),
        "modified": F.when(did % 2 == 0, F.lit("2021-03-04")).otherwise(F.lit("")),
        "year": F.lit("2019"),
        "created": F.lit(""),
        "license": F.when(
            did % 3 == 0, F.lit("https://creativecommons.org/licenses/by/4.0/")
        ).when(did % 3 == 1, F.lit("CC-BY-4.0")).otherwise(F.lit("")),
        "copyright": F.col("source"),
        "url": F.when(did % 5 == 0, F.lit("")).otherwise(
            F.concat(F.lit("https://example.org/d/"), did.cast("string"))
        ),
    }
    fields = parse_dc_fields(dct, fname, safe_filename(title))
    return d.select(
        "doc_id", *[c.alias(k) for k, c in fields.items()]
    )


SQL_DC_NORMALIZE = """
with dc as (
  select doc_id,
    'doc_' || doc_id::varchar || '.csv' as fname,
    'Doc ' || doc_id::varchar as title,
    case when doc_id % 4 = 0 then '' else 'Doc ' || doc_id::varchar end as name,
    case doc_id % 3
      when 0 then 'https://example.org/id/' || doc_id::varchar
      when 1 then 'ID-' || doc_id::varchar else '' end as identifier,
    substring(text, 1, 20) as description,
    case when doc_id % 2 = 0 then 'More.' else '' end as abstract,
    case when doc_id % 2 = 0 then '2021-03-04' else '' end as modified,
    '2019' as year, '' as created,
    case doc_id % 3
      when 0 then 'https://creativecommons.org/licenses/by/4.0/'
      when 1 then 'CC-BY-4.0' else '' end as license,
    source as copyright,
    case when doc_id % 5 = 0 then ''
         else 'https://example.org/d/' || doc_id::varchar end as url
  from documents
), norm as (
  select doc_id, fname,
    coalesce(nullif(trim(name), ''), nullif(trim(title), ''), fname) as title,
    coalesce(nullif(trim(identifier), ''),
             translate(title, '# !/\\:;()[]{}&~%+,', '-------')) as identifier,
    nullif(trim(description), '') as description_ne,
    nullif(trim(abstract), '') as abstract_ne,
    nullif(trim(modified), '') as modified_ne,
    nullif(trim(year), '') as year_ne,
    nullif(trim(created), '') as created_ne,
    copyright,
    nullif(trim(license), '') as license_ne,
    nullif(trim(url), '') as url_ne
  from dc
)
select doc_id, title, identifier,
  case when starts_with(identifier, 'http') then identifier end as dataseturi,
  concat_ws(' ', description_ne, abstract_ne) as abstract,
  coalesce(modified_ne, year_ne) as datestamp,
  coalesce(created_ne, year_ne) as creation,
  coalesce(copyright, '') as rights,
  case when starts_with(license_ne, 'http') then license_ne end as license_url,
  case when not coalesce(starts_with(license_ne, 'http'), false)
       then license_ne end as license_name,
  'dataset' as hierarchylevel,
  url_ne as dist_url,
  case when url_ne is not null then fname end as dist_name,
  case when url_ne is not null then 'www' end as dist_type
from norm
"""


def _export_mcf(spark, sf_dir):
    """Deterministic MCF-shaped records from documents — fields chosen
    to exercise every renderer branch: XML/JSON escaping (& < > \"),
    empty vs populated keywords, null distribution, all three
    identifier shapes safeFileName must clean."""
    d = _spread(spark, _table(spark, sf_dir, "documents"))
    did = F.col("doc_id")
    ds = did.cast("string")
    return d.select(
        "doc_id",
        F.when(did % 3 == 0, F.concat(F.lit("https://example.org/id/"), ds))
        .when(did % 3 == 1, F.concat(F.lit("ID-"), ds))
        .otherwise(F.concat(F.lit("rec "), ds, F.lit(" (x)")))
        .alias("identifier"),
        F.concat(F.lit("Doc "), ds, F.lit(' <&> "q"')).alias("title"),
        F.substring(F.col("text"), 1, 40).alias("abstract"),
        F.when(did % 4 == 0, F.array().cast("array<string>"))
        .otherwise(
            F.array(
                F.concat(F.lit("kw"), (did % 7).cast("string")),
                F.concat(F.lit("tag"), (did % 3).cast("string")),
            )
        )
        .alias("keywords"),
        F.concat(F.lit("2021-11-0"), (did % 9 + 1).cast("string")).alias(
            "datestamp"
        ),
        F.concat(F.lit("2019-0"), (did % 9 + 1).cast("string"), F.lit("-15"))
        .alias("creation"),
        F.concat(F.lit("Org "), F.col("source")).alias("contact_org"),
        F.concat(F.col("source"), F.lit("@example.org")).alias("contact_email"),
        F.when(
            did % 3 == 0, F.lit("https://creativecommons.org/licenses/by/4.0/")
        ).when(did % 3 == 1, F.lit("CC-BY-4.0")).otherwise(F.lit(""))
        .alias("license"),
        F.when(did % 5 != 0, F.concat(F.lit("https://example.org/d/"), ds))
        .alias("dist_url"),
        F.concat(F.lit("doc_"), ds, F.lit(".csv")).alias("dist_name"),
        F.lit("WWW:LINK").alias("dist_type"),
        ((did % 36) * 10 - 180 + 0.5).cast("double").alias("minx"),
        ((did % 17) * 10 - 85 + 0.25).cast("double").alias("miny"),
        ((did % 36) * 10 - 180 + 2.0).cast("double").alias("maxx"),
        ((did % 17) * 10 - 85 + 1.0).cast("double").alias("maxy"),
    )


def q_export_render(spark, sf_dir):
    # S11 full export profiles (metadata.py:199-230): every record
    # rendered through all four pygeometa-analog output schemas —
    # iso19139 XML, dcat/stac/oarec JSON — with the reference's
    # safeFileName(identifier)+ext filename. Pure string-building
    # column expressions (sources/export.py), DuckDB assembles the
    # byte-identical payloads.
    from pygeodatacrawler_spark.sources import export as ex

    rec = ex.ensure_mcf(_export_mcf(spark, sf_dir))
    outs = []
    for prof, (renderer, extn) in ex._RENDERERS.items():
        outs.append(
            rec.select(
                "doc_id",
                F.lit(prof).alias("profile"),
                F.concat(
                    safe_filename(F.col("identifier")), F.lit(f".{extn}")
                ).alias("filename"),
                renderer(rec).alias("payload"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# mirror of sources/export._js: backslash + quote, RFC 8259 short
# escapes for \b \t \n \f \r, remaining C0 controls stripped — format
# with .format(x=<sql expr>)
SQL_JS_ESCAPE = (
    "regexp_replace("
    "replace(replace(replace(replace(replace(replace(replace("
    """{x}, '\\', '\\\\'), '"', '\\"'), chr(8), '\\b'), """
    "chr(9), '\\t'), chr(10), '\\n'), chr(12), '\\f'), "
    "chr(13), '\\r'), "
    "'[\\x00-\\x07\\x0b\\x0e-\\x1f]', '', 'g')"
)


def _sql_export_render() -> str:
    esc_j = SQL_JS_ESCAPE
    esc_x = (
        "replace(replace(replace({x}, '&', '&amp;'), '<', '&lt;'),"
        " '>', '&gt;')"
    )

    def j(x: str) -> str:
        return esc_j.format(x=x)

    def x_(x: str) -> str:
        return esc_x.format(x=x)

    def d6(x: str) -> str:
        return f"({x})::decimal(38,6)::varchar"

    poly = (
        '\'{"type":"Polygon","coordinates":[[[\' || '
        f"{d6('minx')} || ',' || {d6('miny')} || '],[' || "
        f"{d6('maxx')} || ',' || {d6('miny')} || '],[' || "
        f"{d6('maxx')} || ',' || {d6('maxy')} || '],[' || "
        f"{d6('minx')} || ',' || {d6('maxy')} || '],[' || "
        f"{d6('minx')} || ',' || {d6('miny')} || ']]]}}'"
    )
    bbox = (
        f"'[' || {d6('minx')} || ',' || {d6('miny')} || ',' || "
        f"{d6('maxx')} || ',' || {d6('maxy')} || ']'"
    )
    return f"""
with mcf as (
  select doc_id,
    case when doc_id % 3 = 0 then 'https://example.org/id/' || doc_id
         when doc_id % 3 = 1 then 'ID-' || doc_id
         else 'rec ' || doc_id || ' (x)' end as identifier,
    'Doc ' || doc_id || ' <&> "q"' as title,
    substr(text, 1, 40) as abstract,
    case when doc_id % 4 = 0 then '[]'
         else '["kw' || (doc_id % 7) || '","tag' || (doc_id % 3) || '"]'
    end as kw_json,
    case when doc_id % 4 = 0 then ''
         else '<gmd:keyword><gco:CharacterString>kw' || (doc_id % 7)
           || '</gco:CharacterString></gmd:keyword>'
           || '<gmd:keyword><gco:CharacterString>tag' || (doc_id % 3)
           || '</gco:CharacterString></gmd:keyword>'
    end as kw_xml,
    '2021-11-0' || (doc_id % 9 + 1) as datestamp,
    '2019-0' || (doc_id % 9 + 1) || '-15' as creation,
    'Org ' || source as contact_org,
    source || '@example.org' as contact_email,
    case when doc_id % 3 = 0
           then 'https://creativecommons.org/licenses/by/4.0/'
         when doc_id % 3 = 1 then 'CC-BY-4.0' else '' end as license,
    case when doc_id % 5 <> 0 then 'https://example.org/d/' || doc_id
    end as dist_url,
    'doc_' || doc_id || '.csv' as dist_name,
    'WWW:LINK' as dist_type,
    ((doc_id % 36) * 10 - 180 + 0.5)::double as minx,
    ((doc_id % 17) * 10 - 85 + 0.25)::double as miny,
    ((doc_id % 36) * 10 - 180 + 2.0)::double as maxx,
    ((doc_id % 17) * 10 - 85 + 1.0)::double as maxy,
    translate(identifier, '# !/\\:;()[]{{}}&~%+,', '-------') as fname
  from documents
)
select doc_id, 'iso19139' as profile, fname || '.xml' as filename,
  '<gmd:MD_Metadata'
  || ' xmlns:gmd="http://www.isotc211.org/2005/gmd"'
  || ' xmlns:gco="http://www.isotc211.org/2005/gco">'
  || '<gmd:fileIdentifier><gco:CharacterString>'
  || {x_('identifier')}
  || '</gco:CharacterString></gmd:fileIdentifier>'
  || '<gmd:hierarchyLevel><gmd:MD_ScopeCode>dataset'
  || '</gmd:MD_ScopeCode></gmd:hierarchyLevel>'
  || '<gmd:contact><gmd:CI_ResponsibleParty>'
  || '<gmd:organisationName><gco:CharacterString>'
  || {x_('contact_org')}
  || '</gco:CharacterString></gmd:organisationName>'
  || '<gmd:electronicMailAddress><gco:CharacterString>'
  || {x_('contact_email')}
  || '</gco:CharacterString></gmd:electronicMailAddress>'
  || '</gmd:CI_ResponsibleParty></gmd:contact>'
  || '<gmd:dateStamp><gco:Date>' || datestamp
  || '</gco:Date></gmd:dateStamp>'
  || '<gmd:identificationInfo><gmd:MD_DataIdentification>'
  || '<gmd:title><gco:CharacterString>' || {x_('title')}
  || '</gco:CharacterString></gmd:title>'
  || '<gmd:abstract><gco:CharacterString>' || {x_('abstract')}
  || '</gco:CharacterString></gmd:abstract>'
  || '<gmd:descriptiveKeywords>' || kw_xml || '</gmd:descriptiveKeywords>'
  || '<gmd:resourceConstraints><gmd:MD_LegalConstraints>'
  || '<gmd:otherConstraints><gco:CharacterString>' || {x_('license')}
  || '</gco:CharacterString></gmd:otherConstraints>'
  || '</gmd:MD_LegalConstraints></gmd:resourceConstraints>'
  || '<gmd:extent><gmd:EX_GeographicBoundingBox>'
  || '<gmd:westBoundLongitude><gco:Decimal>' || {d6('minx')}
  || '</gco:Decimal></gmd:westBoundLongitude>'
  || '<gmd:eastBoundLongitude><gco:Decimal>' || {d6('maxx')}
  || '</gco:Decimal></gmd:eastBoundLongitude>'
  || '<gmd:southBoundLatitude><gco:Decimal>' || {d6('miny')}
  || '</gco:Decimal></gmd:southBoundLatitude>'
  || '<gmd:northBoundLatitude><gco:Decimal>' || {d6('maxy')}
  || '</gco:Decimal></gmd:northBoundLatitude>'
  || '</gmd:EX_GeographicBoundingBox></gmd:extent>'
  || '</gmd:MD_DataIdentification></gmd:identificationInfo>'
  || coalesce('<gmd:distributionInfo><gmd:MD_Distribution>'
     || '<gmd:transferOptions><gmd:CI_OnlineResource>'
     || '<gmd:linkage><gmd:URL>' || {x_('dist_url')}
     || '</gmd:URL></gmd:linkage><gmd:name><gco:CharacterString>'
     || {x_('dist_name')}
     || '</gco:CharacterString></gmd:name>'
     || '<gmd:protocol><gco:CharacterString>' || {x_('dist_type')}
     || '</gco:CharacterString></gmd:protocol>'
     || '</gmd:CI_OnlineResource></gmd:transferOptions>'
     || '</gmd:MD_Distribution></gmd:distributionInfo>', '')
  || '</gmd:MD_Metadata>' as payload
from mcf
union all
select doc_id, 'dcat' as profile, fname || '.json' as filename,
  '{{"@type":"dcat:Dataset","dct:identifier":"' || {j('identifier')}
  || '","dct:title":"' || {j('title')}
  || '","dct:description":"' || {j('abstract')}
  || '","dcat:keyword":' || kw_json
  || ',"dct:issued":"' || creation
  || '","dct:modified":"' || datestamp
  || '","dct:license":"' || {j('license')}
  || '","dcat:contactPoint":{{"vcard:fn":"' || {j('contact_org')}
  || '","vcard:hasEmail":"' || {j('contact_email')}
  || '"}},"dcat:distribution":'
  || coalesce('[{{"@type":"dcat:Distribution","dcat:accessURL":"'
       || {j('dist_url')} || '","dct:title":"' || {j('dist_name')}
       || '","dct:format":"' || {j('dist_type')} || '"}}]', '[]')
  || ',"dct:spatial":{{"bbox":' || {bbox} || '}}}}' as payload
from mcf
union all
select doc_id, 'stac' as profile, fname || '.json' as filename,
  '{{"type":"Feature","stac_version":"1.0.0","id":"' || {j('identifier')}
  || '","bbox":' || {bbox}
  || ',"geometry":' || {poly}
  || ',"properties":{{"title":"' || {j('title')}
  || '","description":"' || {j('abstract')}
  || '","datetime":"' || datestamp
  || 'T00:00:00Z","created":"' || creation
  || '"}},"links":[],"assets":'
  || coalesce('{{"data":{{"href":"' || {j('dist_url')} || '","title":"'
       || {j('dist_name')} || '"}}}}', '{{}}')
  || '}}' as payload
from mcf
union all
select doc_id, 'oarec' as profile, fname || '.json' as filename,
  '{{"id":"' || {j('identifier')}
  || '","type":"Feature","geometry":' || {poly}
  || ',"properties":{{"type":"dataset","title":"' || {j('title')}
  || '","description":"' || {j('abstract')}
  || '","keywords":' || kw_json
  || ',"created":"' || creation
  || '","updated":"' || datestamp
  || '","contactPoint":"' || {j('contact_org')}
  || '","license":"' || {j('license')}
  || '"}},"links":'
  || coalesce('[{{"href":"' || {j('dist_url')}
       || '","rel":"item","title":"' || {j('dist_name')} || '"}}]', '[]')
  || '}}' as payload
from mcf
"""


SQL_EXPORT_RENDER = _sql_export_render()


# =====================================================================
# registry
# =====================================================================
def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pricing_summary": q_pricing_summary,
        "minmax_by_group": q_minmax_by_group,
        "keyword_collect": q_keyword_collect,
        "histogram": q_histogram,
        "market_share": q_market_share,
        "semi_join": q_semi_join,
        "anti_join": q_anti_join,
        "first_match": q_first_match,
        "topk_per_group": q_topk_per_group,
        "token_budget": q_token_budget,
        "sessionize": q_sessionize,
        "top_orders": q_top_orders,
        "tumbling_window": q_tumbling_window,
        "set_ops": q_set_ops,
        "dedup_exact": q_dedup_exact,
        "minhash_signature": q_minhash_signature,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "ngram_jaccard": q_ngram_jaccard,
        "simhash": q_simhash,
        "ann_topk": q_ann_topk,
        "embedding_near_dupes": q_embedding_near_dupes,
        "lang_id": q_lang_id,
        "quality": q_quality,
        "fingerprint": q_fingerprint,
        "canonicalize": q_canonicalize,
        "checkid_cascade": q_checkid_cascade,
        "dict_merge": q_dict_merge,
        "crawl_bfs": q_crawl_bfs,
        "explode_tokens": q_explode_tokens,
        "cascade_match": q_cascade_match,
        "trap_detect": q_trap_detect,
        "host_pagerank": q_host_pagerank,
        "rollup": q_rollup,
        "distinct_agg": q_distinct_agg,
        "value_delta": q_value_delta,
        "media_decode": q_media_decode,
        "scalar_cleanup": q_scalar_cleanup,
        "percentile": q_percentile,
        "contact_collect": q_contact_collect,
        "import_filename": q_import_filename,
        "layer_explode": q_layer_explode,
        "doi_cascade": q_doi_cascade,
        "color_classes": q_color_classes,
        "crs_codes": q_crs_codes,
        "reproject_bounds": q_reproject_bounds,
        "dc_normalize": q_dc_normalize,
        "token_stats": q_token_stats,
        "seen_filter": q_seen_filter,
        "hll_distinct": q_hll_distinct,
        "export_render": q_export_render,
        # rows-only (no oracle by design: Spark's engine-specific HLL
        # sketch) — kept LAST so the driver's 50-entry correctness
        # window always covers every oracled query above.
        "approx_distinct": q_approx_distinct,
    }


def all_oracle_sql() -> dict[str, str]:
    return {
        "pricing_summary": SQL_PRICING,
        "minmax_by_group": SQL_MINMAX,
        "keyword_collect": SQL_KEYWORD_COLLECT,
        "histogram": SQL_HISTOGRAM,
        "market_share": SQL_MARKET_SHARE,
        "semi_join": SQL_SEMI,
        "anti_join": SQL_ANTI,
        "first_match": SQL_FIRST_MATCH,
        "topk_per_group": SQL_TOPK,
        "token_budget": SQL_TOKEN_BUDGET,
        "sessionize": SQL_SESSIONIZE,
        "top_orders": SQL_TOP_ORDERS,
        "tumbling_window": SQL_TUMBLING,
        "set_ops": SQL_SET_OPS,
        "dedup_exact": SQL_DEDUP_EXACT,
        "minhash_signature": _sql_minhash_sig(),
        "minhash_lsh_pairs": _sql_lsh_pairs(),
        "ngram_jaccard": _sql_ngram_jaccard_composed(),
        "simhash": _sql_simhash(),
        "ann_topk": SQL_ANN_TOPK,
        "embedding_near_dupes": _sql_near_dupes(),
        "lang_id": _sql_lang_id(),
        "quality": _sql_quality(),
        "fingerprint": SQL_FINGERPRINT,
        "canonicalize": SQL_CANONICALIZE,
        "checkid_cascade": SQL_CHECKID,
        "dict_merge": SQL_DICT_MERGE,
        "crawl_bfs": SQL_CRAWL_BFS,
        "explode_tokens": SQL_EXPLODE,
        "cascade_match": SQL_CASCADE,
        "trap_detect": SQL_TRAP_DETECT,
        "host_pagerank": _sql_host_pagerank(),
        "rollup": SQL_ROLLUP,
        "distinct_agg": SQL_DISTINCT_AGG,
        "value_delta": SQL_VALUE_DELTA,
        "media_decode": SQL_MEDIA_DECODE,
        "scalar_cleanup": SQL_SCALAR_CLEANUP,
        "percentile": SQL_PERCENTILE,
        "contact_collect": SQL_CONTACT_COLLECT,
        "import_filename": SQL_IMPORT_FILENAME,
        "layer_explode": SQL_LAYER_EXPLODE,
        "doi_cascade": SQL_DOI_CASCADE,
        "color_classes": SQL_COLOR_CLASSES,
        "crs_codes": SQL_CRS_CODES,
        "reproject_bounds": _sql_reproject_composed(),
        "hll_distinct": SQL_HLL_DISTINCT,
        "dc_normalize": SQL_DC_NORMALIZE,
        "token_stats": _sql_token_stats(),
        "seen_filter": SQL_SEEN_FILTER,
        "export_render": SQL_EXPORT_RENDER,
        # approx_distinct: intentionally no oracle (HLL is
        # algorithm-specific); the driver records a rows-only check
    }
