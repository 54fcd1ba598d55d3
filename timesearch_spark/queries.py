"""t2 query registry: every SURVEY.md §2 operator as a named (spark_fn,
oracle_sql) pair over the driver's synthetic tables (FIXTURES.md §3).

Each spark function takes (spark, sf_dir) → DataFrame.  Each oracle is
ANSI SQL for DuckDB over the same parquet (views pre-registered by the
driver).  Column names and types are aligned on both sides:

- DuckDB ``SUM(bigint)`` returns HUGEINT → always CAST sums explicitly.
- Spark truncates parquet ns-timestamps to µs → timestamps are compared
  as epoch seconds or formatted strings, never raw.
- Doubles are ROUND()ed on both sides to dodge FP-associativity noise.
- Rankings/limits carry full deterministic tie-breakers.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from timesearch_spark import functions as tsf
from timesearch_spark.operators.breakdown import breakdown, breakdown_sorted
from timesearch_spark.operators.merge import anti_join_merge
from timesearch_spark.tables import (
    NANOS_PER_SEC,
    event_ts_bound,
    event_ts_sec,
    load,
    spread,
    ts_dtype,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def q(name: str, sql: str | None = None):
    """Register a t2 query (and optionally its DuckDB oracle)."""

    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


# =========================================================================
# D1/D4/F4 — breakdown (flagship): zero-filled dual group-count
# =========================================================================

def breakdown_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: per customer ('author'), count of orders ('submissions') and of
    lineitems ('comments'), zero-filled (breakdown.py:8-42).

    Driver-checked through ``sort_computed_key``, which returns exactly
    these rows plus the F4 ordering (the driver's value hash is
    order-insensitive, so one registry slot covers both)."""
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    li_cust = lineitem.join(
        orders.select("o_orderkey", "o_custkey"),
        lineitem.l_orderkey == orders.o_orderkey,
    )
    return breakdown(
        orders, li_cust, key="o_custkey",
        left_name="submissions", right_name="comments", key_name="custkey",
    )


@q(
    "sort_computed_key",
    """
    WITH o AS (
      SELECT o_custkey AS custkey, COUNT(*) AS submissions
      FROM orders GROUP BY 1
    ), l AS (
      SELECT o.o_custkey AS custkey, COUNT(*) AS comments
      FROM lineitem li JOIN orders o ON li.l_orderkey = o.o_orderkey
      GROUP BY 1
    ), bd AS (
      SELECT COALESCE(o.custkey, l.custkey) AS custkey,
             COALESCE(o.submissions, 0) AS submissions,
             COALESCE(l.comments, 0) AS comments,
             CAST(COALESCE(o.submissions, 0) + COALESCE(l.comments, 0) AS BIGINT)
               AS total_posts
      FROM o FULL OUTER JOIN l ON o.custkey IS NOT DISTINCT FROM l.custkey
    )
    SELECT * FROM bd
    ORDER BY total_posts DESC, LOWER(CAST(custkey AS VARCHAR)) ASC
    """,
)
def sort_computed_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/D4 + F4: the zero-filled dual group-count breakdown (flagship)
    sorted by -total with lower(name) tiebreak (breakdown.py:55-82)."""
    bd = breakdown_counts(spark, sf_dir)
    return breakdown_sorted(bd, sort="total_posts", key_name="custkey")


# =========================================================================
# A1/B1 — scan + projection
# =========================================================================

@q("point_lookup", "SELECT * FROM orders WHERE o_orderkey = 7"
                   )
def point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: point probe by key (tsdb.py:391).  The timestamp column flows
    through natively — the driver's canonicalizer renders both engines'
    timestamps identically, so no stringification is needed."""
    return load(spark, sf_dir, "orders").filter(F.col("o_orderkey") == 7)


# =========================================================================
# B2-B7 — filters / predicates / CASE projection
# =========================================================================

@q(
    "filter_threshold",
    """
    SELECT l_orderkey, l_linenumber, ROUND(l_quantity, 2) AS quantity
    FROM lineitem WHERE l_quantity >= 30
    """,
)
def filter_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2: WHERE score >= threshold (index.py:107-108)."""
    return (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 30)
        .select("l_orderkey", "l_linenumber", F.round("l_quantity", 2).alias("quantity"))
    )


@q(
    "filter_timerange",
    """
    SELECT event_id, epoch_ns(ts) // 1000000000 AS ts_sec, event_type,
           STRFTIME(ts, '%Y %b %d') AS listing_ts,
           STRFTIME(ts, '%b %d %Y %H:%M:%S') AS human_ts
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
      AND ts <  TIMESTAMP '2024-01-05 00:00:00'
    """,
)
def filter_timerange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3 (+ H6/H7/H18, r15 consolidation): half-open [lower, upper)
    time-range (pushshift.py:114-117), projecting — since r15 — the
    scalar_datefmt family over the selected rows: the listing
    '%Y %b %d' and human '%b %d %Y %H:%M:%S' strftime formats
    (common.py:94-97, index.py:17) of the int-truncated epoch seconds
    (pushshift.py:81).  Same table, same grain, same Column expressions
    as the demoted scalar_datefmt (function-identity pinned in pytest);
    the consolidation freed its oracle slot for text_clf_score
    (HEADROOM POLICY).  The bound literals are built for the table's
    actual ts encoding (tables.event_ts_bound) so the predicate is
    foldable and reaches the parquet scan — INT64 nano comparisons or
    timestamp comparisons, both row-group-prunable by Catalyst."""
    ev = load(spark, sf_dir, "events")
    dt = ts_dtype(ev)
    lo = event_ts_bound(1704240000, dt)  # 2024-01-03 00:00:00 UTC
    hi = event_ts_bound(1704412800, dt)  # 2024-01-05 00:00:00 UTC
    ts_sec = event_ts_sec("ts", dt)
    return ev.filter((F.col("ts") >= lo) & (F.col("ts") < hi)).select(
        "event_id",
        ts_sec.alias("ts_sec"),
        "event_type",
        tsf.listing_time(ts_sec).alias("listing_ts"),
        tsf.human_time(ts_sec).alias("human_ts"),
    )


@q(
    "filter_sentinel",
    """
    SELECT doc_id, lang FROM documents
    WHERE lang IS NULL OR lang IN ('zh', 'fr')
       OR text LIKE '%merge batch%'
    """,
)
def filter_sentinel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: null/sentinel/membership/substring predicates — the shape of the
    deleted-author + vandalism guard (tsdb.py:527-545: ``author is None and
    body in [...] or greasy in body``), re-keyed onto the synthetic
    documents table so the predicate actually selects rows."""
    d = load(spark, sf_dir, "documents")
    return d.filter(
        F.col("lang").isNull()
        | F.col("lang").isin("zh", "fr")
        | F.col("text").contains("merge batch")
    ).select("doc_id", "lang")


@q(
    "filter_prefix",
    "SELECT event_id, event_type FROM events WHERE event_type LIKE 'c%'",
)
def filter_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5: prefix-discrimination (startswith 't3_', ingest_jsonfile.py:12-23)."""
    return (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").startswith("c"))
        .select("event_id", "event_type")
    )


@q(
    "project_case",
    """
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderstatus = 'F' THEN NULL
                WHEN o_orderpriority LIKE '1%' THEN 'urgent:' || o_orderpriority
                ELSE LOWER(o_orderpriority) END AS routed
    FROM orders
    """,
)
def project_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/B1 + B7/H16: bare column projection off the scan (SELECT author
    FROM submissions, breakdown.py:29-35) and the CASE-chain projection
    (url normalization, tsdb.py:399-409) in the same single-scan pass."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.when(F.col("o_orderstatus") == "F", F.lit(None).cast("string"))
        .when(
            F.col("o_orderpriority").startswith("1"),
            F.concat(F.lit("urgent:"), F.col("o_orderpriority")),
        )
        .otherwise(F.lower(F.col("o_orderpriority")))
        .alias("routed"),
    )


# =========================================================================
# C1-C6 — joins
# =========================================================================

@q(
    "merge_anti_join",
    """
    WITH existing AS (SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
         incoming AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0)
    SELECT o_orderkey, o_custkey, o_orderstatus FROM existing
    UNION ALL
    SELECT i.o_orderkey, i.o_custkey, i.o_orderstatus FROM incoming i
    WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.o_orderkey = i.o_orderkey)
    """,
)
def merge_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1/G2: insert-only merge — existing ∪ (incoming anti existing)
    (merge_db.py:7-12)."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus")
    existing = o.filter(F.col("o_orderkey") % 3 != 0)
    incoming = o.filter(F.col("o_orderkey") % 2 == 0)
    return anti_join_merge(existing, incoming, key="o_orderkey")


@q(
    "anti_not_exists",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
    )
    """,
)
def anti_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2: anti join via NOT EXISTS (get_comments.py:47-61)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@q(
    "upsert_merge",
    """
    WITH old AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 3 <> 0
    ), new AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 4 = 0 THEN NULL ELSE o_orderstatus END
               AS o_orderstatus,
             o_totalprice + 1.0 AS o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
           COALESCE(old.o_custkey, new.o_custkey) AS o_custkey,
           CASE WHEN old.o_orderkey IS NOT NULL AND new.o_orderkey IS NOT NULL
                THEN COALESCE(new.o_orderstatus, old.o_orderstatus)
                ELSE COALESCE(old.o_orderstatus, new.o_orderstatus) END
             AS o_orderstatus,
           ROUND(CASE WHEN old.o_orderkey IS NOT NULL AND new.o_orderkey IS NOT NULL
                THEN COALESCE(new.o_totalprice, old.o_totalprice)
                ELSE COALESCE(old.o_totalprice, new.o_totalprice) END, 2)
             AS o_totalprice
    FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
    """,
)
def upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: upsert join — matched rows take coalesce(new, old) per mutable
    column (tsdb.py:389-461).  Expressed directly (the generic writer is
    operators.upsert; this is its SQL-checkable skeleton)."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    old = o.filter(F.col("o_orderkey") % 3 != 0).alias("old")
    new = (
        o.filter(F.col("o_orderkey") % 2 == 0)
        .withColumn(
            "o_orderstatus",
            F.when(F.col("o_orderkey") % 4 == 0, F.lit(None)).otherwise(
                F.col("o_orderstatus")
            ),
        )
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
        .alias("new")
    )
    joined = old.join(new, F.col("old.o_orderkey") == F.col("new.o_orderkey"), "full_outer")
    matched = F.col("old.o_orderkey").isNotNull() & F.col("new.o_orderkey").isNotNull()

    def merged(c, mutable=True):
        if mutable:
            return F.when(
                matched, F.coalesce(F.col(f"new.{c}"), F.col(f"old.{c}"))
            ).otherwise(F.coalesce(F.col(f"old.{c}"), F.col(f"new.{c}")))
        return F.coalesce(F.col(f"old.{c}"), F.col(f"new.{c}"))

    return joined.select(
        merged("o_orderkey", mutable=False).alias("o_orderkey"),
        merged("o_custkey", mutable=False).alias("o_custkey"),
        merged("o_orderstatus").alias("o_orderstatus"),
        F.round(merged("o_totalprice"), 2).alias("o_totalprice"),
    )


@q(
    "window_latest_version",
    """
    WITH tagged AS (
      SELECT o_orderkey, o_totalprice, 1 AS source_priority FROM orders
      UNION ALL
      SELECT o_orderkey, o_totalprice + 5.0 AS o_totalprice, 2 AS source_priority
      FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice, source_priority
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_orderkey ORDER BY source_priority DESC) AS rn
      FROM tagged
    ) WHERE rn = 1
    """,
)
def window_latest_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/E3: enrichment later-wins — live copy (priority 2) supersedes the
    dummy (pushshift.py:224-243)."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    dummy = o.withColumn("source_priority", F.lit(1))
    live = (
        o.filter(F.col("o_orderkey") % 2 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 5.0)
        .withColumn("source_priority", F.lit(2))
    )
    tagged = dummy.unionByName(live)
    w = Window.partitionBy("o_orderkey").orderBy(F.col("source_priority").desc())
    return (
        tagged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "source_priority")
    )


# Same operator, exposed under the FIXTURES alias.  Rows-only BY
# DESIGN (r13): it is the SAME function object as window_latest_version
# (asserted in tests/test_queries.py), so oracling it burned one of the
# driver's 50 CORRECTNESS slots hash-checking an identical plan twice —
# that slot now grades text_lm_ppl (the HEADROOM POLICY's demote path;
# the exactness pin is the identity itself plus window_latest_version's
# own green oracle row).
QUERIES["enrich_join"] = window_latest_version


@q(
    "upsert_edits",
    """
    WITH snap AS (
      SELECT 't1_' || LOWER(TO_BASE(o_orderkey, 36)) AS idstr,
             'user' || (o_custkey % 7) AS author,
             o_orderpriority AS body, o_totalprice AS score,
             CAST(FLOOR(EPOCH(o_orderdate)) AS BIGINT) AS created
      FROM orders WHERE o_orderkey % 3 <> 0
    ), batch AS (
      SELECT 't1_' || LOWER(TO_BASE(o_orderkey, 36)) AS idstr,
             CASE WHEN o_orderkey % 5 = 0 THEN NULL
                  ELSE 'user' || (o_custkey % 7) END AS author,
             CASE WHEN o_orderkey % 5 = 0 THEN '[removed]'
                  WHEN o_orderkey % 2 = 0 THEN 'EDITED:' || o_orderpriority
                  ELSE o_orderpriority END AS body,
             o_totalprice AS score,
             CAST(FLOOR(EPOCH(o_orderdate)) AS BIGINT) AS created
      FROM orders WHERE o_orderkey % 2 = 0 OR o_orderkey % 5 = 0
    )
    SELECT s.idstr, s.body AS previous_body, CAST(777 AS BIGINT) AS replaced_at
    FROM snap s JOIN batch b ON s.idstr = b.idstr
    WHERE b.body IS NOT NULL
      AND (s.body IS NULL OR s.body <> b.body)
      -- deletion mask (tsdb.py:527-545): author gone + removal placeholder
      AND NOT (
        (b.author IS NULL OR LOWER(b.author) = '[deleted]')
        AND b.body IN ('[removed]', '[deleted]')
      )
      AND NOT b.body LIKE '%pastebin.com/64GuVi2F%'
    """,
)
def upsert_edits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I3/I4: the CDC half of the upsert — edit rows hold the OLD text
    with replaced_at, and deletion-masked rows produce no edit
    (tsdb.py:303-324,361-387,527-545).  Built on the real upsert operator;
    the oracle re-states the changed-and-not-masked predicate in SQL."""
    from timesearch_spark.operators.upsert import upsert_snapshot

    o = load(spark, sf_dir, "orders")
    b36 = F.concat(F.lit("t1_"), tsf.base36_encode("o_orderkey"))
    base = o.select(
        "o_orderkey",
        b36.alias("idstr"),
        F.concat(F.lit("user"), (F.col("o_custkey") % 7).cast("string")).alias("author"),
        F.col("o_orderpriority").alias("body"),
        F.col("o_totalprice").alias("score"),
        F.col("o_orderdate").cast("timestamp_ltz").cast("long").alias("created"),
    )
    snap = base.filter(F.col("o_orderkey") % 3 != 0).drop("o_orderkey")
    batch = base.filter((F.col("o_orderkey") % 2 == 0) | (F.col("o_orderkey") % 5 == 0)).select(
        "idstr",
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(None)).otherwise(F.col("author")).alias("author"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("[removed]"))
        .when(F.col("o_orderkey") % 2 == 0, F.concat(F.lit("EDITED:"), F.col("body")))
        .otherwise(F.col("body"))
        .alias("body"),
        "score",
        "created",
    )
    res = upsert_snapshot(
        snap, batch, key="idstr", text_col="body", author_col="author",
        edited_ts_col=None, observed_at=777,
    )
    return res.edits


@q(
    "equi_join_thread",
    """
    SELECT l.l_orderkey, l.l_linenumber, o.o_custkey, o.o_orderstatus,
           ROUND(l.l_extendedprice, 2) AS price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def equi_join_thread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: submission↔comments equi-join (offline_reading.py:319-326).
    Orders side is the small one → broadcast at this SF; sort-merge with
    co-located buckets at 100 TB."""
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    return l.join(o, l.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_linenumber", "o_custkey", "o_orderstatus",
        F.round("l_extendedprice", 2).alias("price"),
    )


@q(
    "self_join_parent",
    """
    SELECT c.l_orderkey, c.l_linenumber,
           p.l_linenumber AS parent_linenumber,
           ROUND(p.l_extendedprice, 2) AS parent_price
    FROM lineitem c
    LEFT JOIN lineitem p
      ON c.l_orderkey = p.l_orderkey AND p.l_linenumber = c.l_linenumber - 1
    """,
)
def self_join_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: parent-child self-join — comment→parent adjacency resolution
    (offline_reading.py:346-367); lineitem(n) → lineitem(n-1) in-order."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    c = li.alias("c")
    p = li.alias("p")
    return c.join(
        p,
        (F.col("c.l_orderkey") == F.col("p.l_orderkey"))
        & (F.col("p.l_linenumber") == F.col("c.l_linenumber") - 1),
        "left",
    ).select(
        F.col("c.l_orderkey").alias("l_orderkey"),
        F.col("c.l_linenumber").alias("l_linenumber"),
        F.col("p.l_linenumber").alias("parent_linenumber"),
        F.round(F.col("p.l_extendedprice"), 2).alias("parent_price"),
    )


# =========================================================================
# D2/D3/F2 — scalar aggregates
# =========================================================================

@q(
    "count_max",
    """
    SELECT (SELECT COUNT(*) FROM lineitem) AS n,
           (SELECT MAX(epoch_ns(ts) // 1000000000) FROM events) AS max_ts
    """,
)
def count_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 + D3/E1/F2: SELECT count(*) (merge_db.py:18-22) and the resume
    checkpoint — ORDER BY created DESC LIMIT 1 rewritten as MAX
    (get_submissions.py:53-59).  Two single-row partial aggregates
    cross-joined; each side is a map-side-combined global agg, so the
    plan is two scans + two 1-row exchanges at any scale."""
    n = load(spark, sf_dir, "lineitem").agg(F.count("*").alias("n"))
    ev = load(spark, sf_dir, "events")
    mx = ev.agg(F.max(event_ts_sec("ts", ts_dtype(ev))).alias("max_ts"))
    return n.crossJoin(mx)


# =========================================================================
# E2 — window rank
# =========================================================================

@q(
    "window_rank_children",
    """
    SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice, 2) AS price, rn
    FROM (
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             ROW_NUMBER() OVER (
               PARTITION BY l_orderkey
               ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rn
      FROM lineitem
    ) WHERE rn <= 3
    """,
)
def window_rank_children(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2: per-group child ordering by score desc (offline_reading.py:211),
    with deterministic linenumber tiebreak."""
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_linenumber").asc()
    )
    return (
        load(spark, sf_dir, "lineitem")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "l_orderkey", "l_linenumber",
            F.round("l_extendedprice", 2).alias("price"), "rn",
        )
    )


# =========================================================================
# F1/F3 — sorts
# =========================================================================

@q(
    "sort_score_desc",
    """
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
    FROM orders WHERE o_totalprice >= 1000
    ORDER BY o_totalprice DESC, o_orderkey ASC
    """,
)
def sort_score_desc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: threshold + ORDER BY score DESC (index.py:68-92,107-108)."""
    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") >= 1000)
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
    )


@q(
    "sort_null_marshal",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'F' THEN NULL ELSE o_orderstatus END AS flair
    FROM orders
    ORDER BY (CASE WHEN o_orderstatus = 'F' THEN NULL ELSE o_orderstatus END IS NULL)
             ASC, o_orderdate ASC, o_orderkey ASC
    """,
)
def sort_null_marshal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: ORDER BY flair IS NULL ASC, created ASC (index.py:89-92) —
    non-null group first, each time-ordered."""
    o = load(spark, sf_dir, "orders").withColumn(
        "flair",
        F.when(F.col("o_orderstatus") == "F", F.lit(None)).otherwise(
            F.col("o_orderstatus")
        ),
    )
    return o.orderBy(
        F.col("flair").isNull().cast("int").asc(),
        F.col("o_orderdate").asc(),
        F.col("o_orderkey").asc(),
    ).select("o_orderkey", "flair")


# =========================================================================
# G1/G3 — dedup / union
# =========================================================================

@q(
    "dedup_ids",
    """
    WITH unioned AS (
      SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT DISTINCT o_orderkey FROM unioned
    """,
)
def dedup_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1: cross-batch id dedup (pushshift.py:119-145)."""
    o = load(spark, sf_dir, "orders").select("o_orderkey")
    a = o.filter(F.col("o_orderkey") % 2 == 0)
    b = o.filter(F.col("o_orderkey") % 3 == 0)
    return a.unionByName(b).dropDuplicates(["o_orderkey"])


@q(
    "union_tagged",
    """
    SELECT o_orderkey AS key, CAST(FLOOR(EPOCH(o_orderdate)) AS BIGINT) AS ts,
           'submission' AS kind
    FROM orders
    UNION ALL
    SELECT l_orderkey AS key, CAST(FLOOR(EPOCH(l_shipdate)) AS BIGINT) AS ts,
           'comment' AS kind
    FROM lineitem
    """,
)
def union_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3: union of heterogeneous streams with a type tag
    (livestream.py:185-194)."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderdate").cast("timestamp_ltz").cast("long").alias("ts"),
        F.lit("submission").alias("kind"),
    )
    l = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("key"),
        F.col("l_shipdate").cast("timestamp_ltz").cast("long").alias("ts"),
        F.lit("comment").alias("kind"),
    )
    return o.unionByName(l)


# =========================================================================
# H — scalar functions
# =========================================================================

@q(
    "scalar_base36",
    """
    SELECT o_orderkey,
           LOWER(TO_BASE(o_orderkey, 36)) AS b36,
           o_orderkey AS roundtrip,
           't3_' || LOWER(TO_BASE(o_orderkey, 36)) AS fullname,
           SUBSTRING('t3_' || LOWER(TO_BASE(o_orderkey, 36)), 4) AS bare,
           ('t3_' || LOWER(TO_BASE(o_orderkey, 36)) LIKE 't3_%') AS is_sub,
           'https://redd.it/' || SUBSTRING('t3_' || LOWER(TO_BASE(o_orderkey, 36)), 4)
             AS permalink,
           PRINTF('%d: %s [%s]', o_orderkey, o_orderpriority, o_orderstatus)
             AS line
    FROM orders
    """,
)
def scalar_base36(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1 + H2 + H17 + H14: base36 encode/decode (common.py:43-65) via
    F.conv, fullname prefix add/strip (common.py:147-150), the redd.it
    permalink built from the stripped id (index.py:134-138), and the
    listing-line string templating (index.py:148-161, formerly the
    separate ``scalar_format`` registry entry — same table, same grain,
    merged to stay inside the driver's 50-query oracle window) — one
    map-only pass."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderstatus"
    )
    enc = tsf.base36_encode("o_orderkey")
    fullname = F.concat(F.lit("t3_"), enc)
    return o.select(
        "o_orderkey",
        enc.alias("b36"),
        tsf.base36_decode(enc).alias("roundtrip"),
        fullname.alias("fullname"),
        tsf.strip_prefix(fullname).alias("bare"),
        tsf.is_submission_id(fullname).alias("is_sub"),
        F.concat(
            F.lit("https://redd.it/"), tsf.strip_prefix(fullname)
        ).alias("permalink"),
        F.format_string(
            "%d: %s [%s]", F.col("o_orderkey"), F.col("o_orderpriority"),
            F.col("o_orderstatus"),
        ).alias("line"),
    )


@q(
    "scalar_escape",
    """
    SELECT doc_id,
           REPLACE(REPLACE(text, '<', '&lt;'), '>', '&rt;') AS escaped,
           REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(
               REPLACE(REPLACE(text, '<', '&lt;'), '>', '&rt;'),
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
               '&amp;', '&') AS unescaped,
           LENGTH(text) AS textlen,
           REPLACE(text, CHR(10), ' ') AS flat_text,
           REPLACE(REPLACE('{' || text || '}', '{', '{{'), '}', '}}')
             AS braced,
           ARRAY_TO_STRING(
             LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '[+ ,]'),
                         x -> x <> ''), chr(1)) AS parts
    FROM documents
    """,
)
def scalar_escape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H4 + H3 + H8 (+ H10/H15/H12, r15 consolidation): HTML escape
    with the reference's '&rt;' typo (offline_reading.py:285-290), the
    entity unescape (pushshift.py:72-73) applied on top, textlen =
    len(body) (tsdb.py:424,485) — plus, since r15, the scalar_newline
    family on the SAME text column: newline→space (index.py:159), brace
    sanitize for str.format templates (offline_reading.py:293-296,
    exercised on a brace-wrapped text so the doubling is visible) and
    the multi-delimiter split on '+', ' ', ',' (common.py:135-140),
    \\x01-joined because the driver's canonicalizer can't hash list
    cells.  One map-only pass; the consolidation freed scalar_newline's
    oracle slot for text_html_extract (HEADROOM POLICY).  '&lt;'
    round-trips to '<'; the '&rt;' typo survives unescaping by design
    (it isn't an entity), so ``unescaped`` differs from ``text``
    exactly where the reference's own render-then-unescape would."""
    d = load(spark, sf_dir, "documents")
    esc = tsf.html_escape_ref("text")
    wrapped = F.concat(F.lit("{"), F.col("text"), F.lit("}"))
    return d.select(
        "doc_id",
        esc.alias("escaped"),
        tsf.html_unescape_basic(esc).alias("unescaped"),
        F.length("text").cast("long").alias("textlen"),
        tsf.flatten_newlines("text").alias("flat_text"),
        tsf.sanitize_braces(wrapped).alias("braced"),
        F.array_join(tsf.split_any("text"), "\x01").alias("parts"),
    )


@q("scalar_datefmt")  # DEMOTED r15 (rows-only): its formatting columns
# are graded through filter_timerange, which since r15 projects the
# SAME tsf.listing_time/human_time/event_ts_sec expressions over the
# selected events — function identity pinned in tests/test_queries.py
def scalar_datefmt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6/H7 + H18: strftime '%b %d %Y %H:%M:%S' and '%Y %b %d'
    (common.py:94-97, index.py:17), plus the int-seconds truncation of
    sub-second timestamps (int(created_utc), pushshift.py:81) — here
    true-floor nano→second division (tables.py event_ts_sec).  Demoted
    from the oracle window r15: the identical Column expressions are
    hash-graded inside filter_timerange (whole-corpus coverage stays
    here, rows-only)."""
    ev = load(spark, sf_dir, "events")
    ts_sec = event_ts_sec("ts", ts_dtype(ev))
    return ev.select(
        "event_id",
        tsf.listing_time(ts_sec).alias("listing_ts"),
        tsf.human_time(ts_sec).alias("human_ts"),
        ts_sec.alias("ts_sec"),
    )


@q("scalar_newline")  # DEMOTED r15 (rows-only): the same
# flatten_newlines/sanitize_braces/split_any Column expressions are
# hash-graded inside scalar_escape (documents.text) since r15 —
# function identity pinned in tests/test_queries.py; this entry keeps
# the part.p_name coverage rows-only
def scalar_newline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H10 + H15 + H12: newline→space in titles (index.py:159), brace
    sanitizing for str.format templates (offline_reading.py:293-296,
    exercised on a brace-wrapped name so the doubling is visible), and
    the multi-delimiter split on '+', ' ', ',' (common.py:135-140) —
    all map-only string ops over the same column.  Demoted from the
    oracle window r15 (see the consolidation note on scalar_escape).

    split_any produces array<string>; the registered query serializes it
    with a \\x01 joiner because the driver's canonicalizer can't hash
    list cells (CORRECTNESS_r01 err) — semantics unchanged.
    """
    p = load(spark, sf_dir, "part")
    wrapped = F.concat(F.lit("{"), F.col("p_name"), F.lit("}"))
    return p.select(
        "p_partkey",
        tsf.flatten_newlines("p_name").alias("flat_name"),
        tsf.sanitize_braces(wrapped).alias("braced"),
        F.array_join(tsf.split_any("p_name"), "\x01").alias("parts"),
    )


# ``scalar_format`` (H14) was merged into ``scalar_base36`` above — same
# table, same grain, one map-only pass — to keep the oracled registry
# inside the driver's 50-query CORRECTNESS window.


# =========================================================================
# Extensions: dedup / similarity / text analysis / event-time windows
# (LLM-training-pipeline surface; SURVEY §7 M5)
# =========================================================================

from timesearch_spark.operators import dedup as dd  # noqa: E402
from timesearch_spark.operators import similarity as sim  # noqa: E402
from timesearch_spark.operators import textstats as tx  # noqa: E402
from timesearch_spark.operators import asof as aso  # noqa: E402
from timesearch_spark.operators import scd  # noqa: E402
from timesearch_spark.operators import sketches as sk  # noqa: E402
from timesearch_spark.operators import windows as win  # noqa: E402

#: DuckDB mirror of dedup.tokens(text): lowercased whitespace split,
#: empties dropped.
_TOK_SQL = r"list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')"


def _grams_sql(n: int, rel: str = "documents") -> str:
    """DuckDB mirror of dedup.shingles_from(tokens(text), n) over
    relation ``rel``: word n-grams, whole-text fallback below n tokens,
    distinct per doc."""
    return f"""
    tok AS (SELECT doc_id, {_TOK_SQL} AS t FROM {rel}),
    g AS (
      SELECT doc_id, array_to_string(t[i:i+{n - 1}], ' ') AS gram
      FROM tok, UNNEST(range(1, len(t) - {n} + 2)) AS u(i)
      WHERE len(t) >= {n}
      UNION ALL
      SELECT doc_id, array_to_string(t, ' ') AS gram FROM tok WHERE len(t) < {n}
    ),
    dg AS (SELECT DISTINCT doc_id, gram FROM g)
    """


def _docs_with_exact_copies(spark, sf_dir):
    """documents ∪ verbatim copies of every 10th doc (ids +1,000,000) —
    deterministic exact-duplicate groups for the dedup oracles."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    copies = (
        d.filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return d.unionByName(copies)


_DOCS_COPIES_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
"""


@q(
    "dedup_exact",
    f"""
    WITH u AS ({_DOCS_COPIES_SQL})
    SELECT MD5(LOWER(TRIM(COALESCE(text, '')))) AS content_hash,
           MIN(doc_id) AS keeper_id,
           COUNT(*) AS dup_count
    FROM u GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by normalized-content hash; the shuffle key is
    the 32-char digest, never the document text."""
    return dd.exact_dedup_groups(_docs_with_exact_copies(spark, sf_dir))


@q(
    "dedup_incremental",
    r"""
    WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
    b AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 1
    ),
    bf AS (
      SELECT doc_id,
             MD5(REGEXP_REPLACE(LOWER(TRIM(COALESCE(text, ''))), '\s+', ' ', 'g')) AS fp
      FROM b
    ),
    idx AS (
      SELECT MD5(REGEXP_REPLACE(LOWER(TRIM(COALESCE(text, ''))), '\s+', ' ', 'g')) AS fp,
             MIN(doc_id) AS keeper
      FROM corpus GROUP BY 1
    ),
    first AS (SELECT fp, MIN(doc_id) AS f FROM bf GROUP BY fp)
    SELECT bf.doc_id, bf.fp,
           (idx.keeper IS NULL AND bf.doc_id = first.f) AS is_new,
           COALESCE(idx.keeper,
                    CASE WHEN bf.doc_id <> first.f THEN first.f END) AS dup_of
    FROM bf LEFT JOIN idx USING (fp) JOIN first USING (fp)
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run exact dedup (operators.dedup.incremental_dedup): a new
    batch is tagged against the already-ingested corpus via the narrow
    fingerprint index — the continuous-pipeline form of the reference's
    insert-only-new EXCEPT (merge_db.py:56-80), on content fingerprints
    instead of ids.  Corpus = documents with doc_id % 5 ≠ 0; the batch
    mixes genuinely-new docs (% 5 = 0), re-ingested corpus docs
    (% 7 = 1, ids + 1,000,000 → dup_of the corpus keeper), and docs
    satisfying both predicates, which therefore appear in the batch
    twice (within-batch dup → dup_of the first batch holder)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    batch = d.filter(F.col("doc_id") % 5 == 0).unionByName(
        d.filter(F.col("doc_id") % 7 == 1).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    return dd.incremental_dedup(batch, corpus=corpus)


@q(
    "dedup_ngram_jaccard",
    """
    WITH t AS (
      SELECT source, doc_id,
             list_distinct(list_filter(
               string_split_regex(lower(trim(text)), '\\s+'), x -> x <> ''))
               AS toks
      FROM documents
    )
    SELECT a.source AS block, a.doc_id AS a, b.doc_id AS b,
           ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))),
             6) AS jaccard
    FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))),
             6) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard for every pair within a source block,
    threshold 0.5 (dedup ladder rung 3: blocked exact similarity).
    Runs the PPJoin prefix-filtered method — the 100 TB-safe default —
    against the same brute-force DuckDB oracle.  Threshold pushed into
    the operator so the prefix + size filters prune inside the candidate
    join (exact; rounding cannot cross the 0.5 boundary because
    token-set unions are small, so |J − 0.5| is either 0 or
    ≥ 1/(2·|A∪B|) ≫ 5e-7)."""
    d = load(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(
        d, block_col="source", threshold=0.5, n=1
    )
    out = pairs.withColumn("jaccard", F.round("jaccard", 6)).filter(
        F.col("jaccard") >= 0.5
    )
    out._pinned = list(getattr(pairs, "_pinned", []))
    return out


#: documents ∪ mutated copies (every 10th doc with tokens appended →
#: known high-jaccard / low-hamming planted pairs).
def _docs_with_mutations(spark, sf_dir, suffix: str):
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(suffix)).alias("text"),
    )
    return d.unionByName(mutated)


def _mutated_docs_sql(suffix: str) -> str:
    return f"""
    docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text || '{suffix}' AS text
      FROM documents WHERE doc_id % 10 = 0
    )"""


@q(
    "dedup_minhash_lsh",
    f"""
    WITH {_mutated_docs_sql(' zzq wwx vvy')},
    {_grams_sql(3, 'docs')},
    perm AS (
      -- permutation i = 4j+k: 8-hex-char slice k of md5("{{j}}:{{gram}}")
      -- (32 permutations = 8 md5 calls per gram: the replay family is
      -- bench drag, not a production path — r9 verdict item 5)
      SELECT doc_id, 4 * rj.j + rk.k AS i,
             MIN(substring(md5(CAST(rj.j AS VARCHAR) || ':' || gram),
                           1 + 8 * rk.k, 8)) AS mh
      FROM dg CROSS JOIN range(0, 8) AS rj(j) CROSS JOIN range(0, 4) AS rk(k)
      GROUP BY 1, 2
    ),
    band AS (
      SELECT doc_id, CAST(i // 4 AS INT) AS band,
             md5(CAST(i // 4 AS VARCHAR) || '|' ||
                 string_agg(mh, '|' ORDER BY i)) AS bucket
      FROM perm GROUP BY doc_id, i // 4
    ),
    cand AS (
      SELECT DISTINCT b1.doc_id AS a, b2.doc_id AS b
      FROM band b1 JOIN band b2 ON b1.band = b2.band AND b1.bucket = b2.bucket
      WHERE b1.doc_id < b2.doc_id
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM dg GROUP BY 1),
    ins AS (
      SELECT c.a, c.b, COUNT(*) AS inter
      FROM cand c
      JOIN dg da ON da.doc_id = c.a
      JOIN dg db ON db.doc_id = c.b AND db.gram = da.gram
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT c.a, c.b,
             ROUND(CAST(COALESCE(i.inter, 0) AS DOUBLE)
                   / (sa.n + sb.n - COALESCE(i.inter, 0)), 6) AS jaccard
      FROM cand c
      JOIN sz sa ON sa.doc_id = c.a
      JOIN sz sb ON sb.doc_id = c.b
      LEFT JOIN ins i ON i.a = c.a AND i.b = c.b
    )
    SELECT a, b, jaccard FROM jac WHERE jaccard >= 0.7
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dups over documents ∪ mutated copies (every 10th
    doc with 3 tokens appended → known jaccard≈0.9 pairs).  Candidates
    from 8×4 banding (32 permutations — halved from 64 in r10 to cut the
    replay family's bench drag; the xx64 production twin keeps 64),
    verified with exact shingle Jaccard ≥ 0.7.

    Registered with ``hash_family="md5"`` so the DuckDB oracle replays
    the ENTIRE pipeline — permutation mins, band buckets, candidate
    join, exact verify — not just the final filter (banding recall is
    <100%, so a brute-force oracle would not match).  The production
    default stays xxhash64 (``dedup_minhash_xx64`` below, same plan
    shape); pytest asserts planted-pair recall for both families
    (test_dedup.py).

    ORACLE-REPLAY ONLY — do not recommend this entry for production
    corpora: md5 is the steepest 100× scaler left in SCALING_r08
    (12.7× vs the xx64 twin's 5.7×, the 128-bit hash paying ~2× per
    gram plus wider shuffle rows).  Production users run
    ``dedup_minhash_xx64`` (or ``dd.minhash_near_dups`` with its
    default family)."""
    u = _docs_with_mutations(spark, sf_dir, " zzq wwx vvy")
    return dd.minhash_near_dups(
        u, threshold=0.7, hash_family="md5", num_hashes=32, bands=8
    ).withColumn("jaccard", F.round("jaccard", 6))


@q(
    "dedup_simhash",
    f"""
    WITH {_mutated_docs_sql(' zzq')},
    tk AS (SELECT doc_id, unnest({_TOK_SQL}) AS t FROM docs),
    contrib AS (
      -- bit b of token = bit (b%4) of hex digit (b//4) of md5(token)
      SELECT doc_id, r.b,
             SUM(CASE WHEN
                   ((strpos('0123456789abcdef',
                            substring(md5(t), CAST(r.b // 4 AS INT) + 1, 1)) - 1)
                    // CAST(2 ** (r.b % 4) AS INT)) % 2 = 1
                 THEN 1 ELSE -1 END) AS s
      FROM tk CROSS JOIN range(0, 64) AS r(b)
      GROUP BY 1, 2
    ),
    sgn AS (
      SELECT doc_id, b, CASE WHEN s >= 0 THEN 1 ELSE 0 END AS bit FROM contrib
    ),
    ham AS (
      SELECT x.doc_id AS a, y.doc_id AS b,
             SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS hamming
      FROM sgn x JOIN sgn y ON x.b = y.b AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT a, b, CAST(hamming AS BIGINT) AS hamming FROM ham WHERE hamming <= 3
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups (Hamming ≤ 3) over documents ∪ mutated copies;
    pigeonhole band blocking, no cross product.

    Registered with ``hash_family="md5"`` (per-bit md5-sign family) so
    the DuckDB oracle can rebuild the per-bit sign table and cross-check
    every pair's Hamming distance.  The oracle needs NO blocking of its
    own: 4-chunk pigeonhole blocking has exact recall at hamming ≤ 3, so
    all-pairs-over-signatures is the same answer.  Production default
    stays xxhash64 (``dedup_simhash_xx64`` below)."""
    u = _docs_with_mutations(spark, sf_dir, " zzq")
    return dd.simhash_near_dups(u, max_hamming=3, hash_family="md5").select(
        "a", "b", F.col("hamming").cast("long").alias("hamming")
    )


@q(
    "dedup_cluster",
    """
    WITH RECURSIVE t AS (
      SELECT source, doc_id,
             list_distinct(list_filter(
               string_split_regex(lower(trim(text)), '\\s+'), x -> x <> ''))
               AS toks
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
               / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))),
               6) >= 0.5
    ),
    edges AS (
      SELECT a AS src, b AS dst FROM pairs
      UNION SELECT b AS src, a AS dst FROM pairs
    ),
    reach(doc_id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc_id
    )
    SELECT doc_id, MIN(r) AS cluster_id, (MIN(r) = doc_id) AS is_keeper
    FROM reach GROUP BY doc_id
    """,
)
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering (dedup ladder top rung): source-blocked exact
    Jaccard pairs at 0.5 → connected components via iterative hash-min
    label propagation → deterministic keeper (min id per cluster).
    Transitive closure matters: a~b, b~c keeps ONE of {a,b,c} even when
    a and c don't pair directly.  The oracle closes the same edge set
    with a recursive CTE and takes MIN over reachable ids — exercising
    the one operator class Spark must iterate for (no recursive SQL)."""
    return dd.dedup_cluster_assignments(
        load(spark, sf_dir, "documents"), block_col="source", threshold=0.5, n=1
    )


@q("dedup_minhash_xx64")  # production hash family — not in the oracle's reach
def dedup_minhash_xx64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The xxhash64 production path of dedup_minhash_lsh: one string hash
    per shingle + 64 long re-hashes (vs 64 md5 string hashes).  Same plan
    shape as the oracled md5 twin; benched as the scale default."""
    u = _docs_with_mutations(spark, sf_dir, " zzq wwx vvy")
    return dd.minhash_near_dups(u, threshold=0.7).withColumn(
        "jaccard", F.round("jaccard", 6)
    )


@q("dedup_simhash_xx64")  # production hash family — not in the oracle's reach
def dedup_simhash_xx64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The xxhash64 production path of dedup_simhash (one token hash, 64
    bit_gets).  Same plan shape as the oracled md5 twin."""
    u = _docs_with_mutations(spark, sf_dir, " zzq")
    return dd.simhash_near_dups(u, max_hamming=3)


# =========================================================================
# C6/J2 — comment-forest assembly (offline_reading parity)
# =========================================================================

from timesearch_spark.operators import trees as tr  # noqa: E402

#: lineitem → comment adjacency: linenumber 1 is top-level, node k hangs
#: under k//2; linenumber 3 is dropped so its children become orphans.
#: Together with the naturally-sparse linenumbers this exercises the
#: phantom-parent path (offline_reading.py:360-366) heavily.
_TREE_CTE = """
WITH RECURSIVE c AS (
  SELECT l_orderkey AS o, l_linenumber AS k,
         't1_' || l_orderkey || '_' || l_linenumber AS idstr,
         CASE WHEN l_linenumber = 1 THEN 't3_' || l_orderkey
              ELSE 't1_' || l_orderkey || '_' || (l_linenumber // 2) END AS parent
  FROM lineitem WHERE l_linenumber <> 3
),
nodes AS (
  SELECT o, idstr, 0 AS depth, FALSE AS phantom FROM c WHERE parent LIKE 't3_%'
  UNION ALL
  SELECT DISTINCT o, parent AS idstr, 0 AS depth, TRUE AS phantom FROM c
  WHERE parent NOT LIKE 't3_%' AND parent NOT IN (SELECT idstr FROM c)
  UNION ALL
  SELECT c.o, c.idstr, n.depth + 1, FALSE FROM c JOIN nodes n ON c.parent = n.idstr
)
"""


def _tree_comments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") != 3)
    o = F.col("l_orderkey").cast("string")
    k = F.col("l_linenumber")
    return li.select(
        F.concat(F.lit("t1_"), o, F.lit("_"), k.cast("string")).alias("idstr"),
        F.when(k == 1, F.concat(F.lit("t3_"), o))
        .otherwise(
            F.concat(F.lit("t1_"), o, F.lit("_"), F.floor(k / 2).cast("string"))
        )
        .alias("parent"),
        o.alias("submission"),
        k.cast("long").alias("created"),
        F.col("l_extendedprice").cast("long").alias("score"),
    )


@q(
    "tree_depth",
    # phantom included since r14: tree_stats is a pure rollup of this
    # relation (count / max depth / phantom count per thread), so hash-
    # checking (submission, idstr, depth, phantom) here checks the
    # rollup's full input and frees tree_stats' window slot.
    _TREE_CTE + "SELECT CAST(o AS VARCHAR) AS submission, idstr, depth, "
                "phantom FROM nodes",
)
def tree_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: per-node depth from the applyInPandas forest walk, checked
    against a recursive-CTE oracle (phantom parents sit at depth 0)."""
    forest = tr.comment_forest(_tree_comments(spark, sf_dir))
    return forest.select("submission", "idstr", "depth", "phantom")


@q("tree_stats")  # rows-only since r14: a pure rollup of the oracled
# tree_depth relation (which now hash-checks the phantom column too) —
# derivability pinned in tests/test_queries.py; the freed slot grades
# dedup_intra_lines
def tree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 rollup: thread size / max depth / phantom count per submission."""
    forest = tr.comment_forest(_tree_comments(spark, sf_dir))
    return tr.thread_stats(forest)


@q(
    "tree_render",
    # Preorder positions in SQL: sibling rank by (score desc, idstr) is
    # static (the tree shape doesn't depend on the walk), so each node's
    # preorder path is the concatenation of fixed-width sibling ranks
    # down from the root; ORDER BY path is exactly the DFS visit order
    # (a parent's path is a strict prefix of its children's).  Phantom
    # parents score 0 and render a literal 'null' body — Spark's
    # format_string prints Java's "null" for a NULL argument.  Real
    # bodies pass through the markdown renderer (reference composition:
    # bracket-escape then markdown, offline_reading.py:285-291), which
    # wraps the single-paragraph synthetic bodies in <p>…</p>.
    """
    WITH RECURSIVE c AS (
      -- comments are PK-unique on idstr in the reference (tsdb.py DDL);
      -- the synthetic lineitem has dup (orderkey, linenumber) rows, so
      -- dedup with MAX(score) to a deterministic one-row-per-comment set
      SELECT l_orderkey AS o,
             't1_' || l_orderkey || '_' || l_linenumber AS idstr,
             CASE WHEN l_linenumber = 1 THEN 't3_' || l_orderkey
                  ELSE 't1_' || l_orderkey || '_' || (l_linenumber // 2) END
               AS parent,
             MAX(CAST(l_extendedprice AS BIGINT)) AS score
      FROM lineitem WHERE l_linenumber <> 3
      GROUP BY l_orderkey, l_linenumber
    ),
    realnodes AS (
      SELECT o, idstr,
             CASE WHEN parent LIKE 't3_%' THEN 't3_' || o ELSE parent END
               AS parent,
             score, FALSE AS phantom
      FROM c
    ),
    ph AS (
      SELECT DISTINCT o, parent AS idstr, 't3_' || o AS parent,
             CAST(0 AS BIGINT) AS score, TRUE AS phantom
      FROM c
      WHERE parent NOT LIKE 't3_%' AND parent NOT IN (SELECT idstr FROM c)
    ),
    ranked AS (
      SELECT o, idstr, parent, phantom,
             ROW_NUMBER() OVER (PARTITION BY o, parent
                                ORDER BY score DESC, idstr ASC) AS rnk
      FROM (SELECT * FROM realnodes UNION ALL SELECT * FROM ph)
    ),
    walk AS (
      SELECT o, idstr, phantom, 0 AS depth, printf('%06d', rnk) AS path
      FROM ranked WHERE parent LIKE 't3_%'
      UNION ALL
      SELECT r.o, r.idstr, r.phantom, w.depth + 1,
             w.path || printf('%06d', r.rnk)
      FROM ranked r JOIN walk w ON r.o = w.o AND r.parent = w.idstr
    )
    SELECT CAST(o AS VARCHAR) AS submission, idstr,
           CAST(depth AS INT) AS depth,
           CAST(ROW_NUMBER() OVER (PARTITION BY o ORDER BY path) - 1 AS INT)
             AS position,
           phantom,
           printf('<div class="comment" id="%s" style="margin-left:%dem">%s</div>',
                  idstr, depth,
                  CASE WHEN phantom THEN 'null'
                       ELSE '<p>body of ' || idstr || '</p>' END) AS html
    FROM walk
    """,
)
def tree_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+J2: full walk with preorder positions and the per-comment HTML
    div (score-desc render order, offline_reading.py:211,178-199)."""
    # Comments are PK-unique on idstr in the reference (tsdb.py DDL);
    # the synthetic lineitem has duplicate (orderkey, linenumber) rows
    # with differing scores, so collapse them deterministically
    # (max score) before the walk — otherwise render order is defined
    # per-row while the walk's score lookup is per-id.
    comments = (
        _tree_comments(spark, sf_dir)
        .groupBy("idstr", "parent", "submission", "created")
        .agg(F.max("score").alias("score"))
        .withColumn("body", F.concat(F.lit("body of "), F.col("idstr")))
    )
    forest = tr.comment_forest(comments)
    enriched = forest.join(
        comments.select("idstr", "body"), on="idstr", how="left"
    )
    return tr.render_comment_html(enriched).select(
        "submission", "idstr", "depth", "position", "phantom", "html"
    )


@q("thread_pages")  # rows-only: the A10 reference-parity page pipeline —
# walk + per-node blocks + nested assembly + full-page concat; byte
# parity vs the recursive oracle is pinned in tests/test_trees.py, so
# this entry exists for the SCALE story (bench + 10x probe), returning
# per-page byte counts to keep the materialized result narrow
def thread_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 flagship at scale: one complete reference-parity page per
    submission (header + submission block + nested comment forest +
    footer, trees.render_thread_pages).  Submissions synthesize from
    orders, comments from the lineitem tree fixture."""
    submissions, comments = _page_inputs(spark, sf_dir)
    pages = tr.render_thread_pages(submissions, comments)
    return pages.select(
        "submission", F.octet_length("doc").alias("doc_bytes")
    )


def _page_inputs(spark: SparkSession, sf_dir: str):
    """(submissions, comments) page-pipeline fixture shared by the fused
    (`thread_pages`) and streamed (`thread_page_frags`) arms — identical
    inputs so their measured difference is the ARM, not the data."""
    comments = (
        _tree_comments(spark, sf_dir)
        .groupBy("idstr", "parent", "submission", "created")
        .agg(F.max("score").alias("score"))
        .withColumn("body", F.concat(F.lit("body of *"), F.col("idstr"), F.lit("*")))
        .withColumn("author", F.concat(F.lit("u"), (F.col("created") % 7).cast("string")))
        .withColumn("subreddit", F.lit("t"))
    )
    submissions = load(spark, sf_dir, "orders").select(
        F.concat(F.lit("t3_"), F.col("o_orderkey").cast("string")).alias("idstr"),
        F.concat(F.lit("u"), (F.col("o_custkey") % 1000).cast("string")).alias("author"),
        F.concat(F.col("o_orderpriority"), F.lit(" order "),
                 F.col("o_orderkey").cast("string")).alias("title"),
        F.lit(None).cast("string").alias("url"),
        F.concat(F.lit("status *"), F.col("o_orderstatus"), F.lit("*")).alias("selftext"),
        F.col("o_totalprice").cast("long").alias("score"),
        F.col("o_orderkey").cast("long").alias("created"),
        F.lit("t").alias("subreddit"),
    )
    return submissions, comments


@q("thread_page_frags")  # rows-only: the streamed NO-CEILING page arm —
# distributed page-order walk (pointer doubling, orphan subtrees
# dropped) + per-node block render to ordered (pre, post) fragments; an
# O(depth) stack writer folds them to byte-identical pages
# (tests/test_trees.py pins parity against the fused arm on every
# fixture incl. past-the-bound threads).  Registered for the SCALE
# story: this is the arm a 10M-comment mega-thread takes.
def thread_page_frags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10/J2 scale arm: trees.thread_page_fragments over the same
    synthesized inputs as `thread_pages`, reduced to per-thread fragment
    counts + byte totals so the materialized result stays narrow."""
    submissions, comments = _page_inputs(spark, sf_dir)
    frags = tr.thread_page_fragments(submissions, comments)
    return frags.groupBy("submission").agg(
        F.count("*").alias("n_frags"),
        F.sum(F.octet_length("pre") + F.octet_length("post")).alias("frag_bytes"),
    )


@q("thread_page_frags_mega")  # rows-only: the streamed arm on its
# POST-ROUTING workload (r14, VERDICT r13 #3) — since the r13
# auto-router, production only ever sends OVER-BOUND threads to this
# arm, so benching it on the whole small-thread archive measured a
# configuration the code no longer chooses.  This entry is the arm's
# actual use case: ONE mega-thread holding every lineitem comment.
def thread_page_frags_mega(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streamed no-ceiling arm on a single mega-thread: every
    lineitem becomes a comment of ONE submission — per-order chains
    (l_linenumber k under k−1, TPC-H linenumbers are consecutive so
    every parent exists) all rooted at the one head, i.e. the
    depth-chain fixture scaled wide (sf0.1: ~600k comments in one
    thread, ~150k chains of depth ≤ 7).  Reduced to fragment counts +
    byte totals so the materialized result stays narrow; byte parity
    of the arm itself is pinned in tests/test_trees.py."""
    submissions, comments = _mega_page_inputs(spark, sf_dir)
    frags = tr.thread_page_fragments(submissions, comments)
    return frags.groupBy("submission").agg(
        F.count("*").alias("n_frags"),
        F.sum(F.octet_length("pre") + F.octet_length("post"))
        .alias("frag_bytes"),
    )


def _mega_page_inputs(spark: SparkSession, sf_dir: str):
    """(submissions, comments) for ONE over-bound mega thread: every
    lineitem becomes a comment of a single submission — per-order
    chains rooted at the one head.  Shared by `thread_page_frags_mega`
    and the routed-export scaling probe (tools/bench_scaling.py)."""
    li = load(spark, sf_dir, "lineitem")
    o = F.col("l_orderkey").cast("string")
    # per-order rank, not l_linenumber: the synthetic generator draws
    # linenumbers without consecutiveness, and a chain parent must
    # EXIST or the walk drops the subtree as an orphan.  One
    # partitioned (never global) window over the fixture.
    rk = F.row_number().over(
        Window.partitionBy("l_orderkey").orderBy("l_linenumber"))
    comments = (
        li.withColumn("__rk", rk)
        .select(
            F.concat(F.lit("t1_"), o, F.lit("_"),
                     F.col("__rk").cast("string")).alias("idstr"),
            F.when(F.col("__rk") == 1, F.lit("t3_mega")).otherwise(
                F.concat(F.lit("t1_"), o, F.lit("_"),
                         (F.col("__rk") - 1).cast("string"))).alias("parent"),
            F.lit("t3_mega").alias("submission"),
            F.col("__rk").cast("long").alias("created"),
            F.col("l_extendedprice").cast("long").alias("score"),
        )
        .withColumn("body", F.concat(F.lit("body of *"), F.col("idstr"),
                                     F.lit("*")))
        .withColumn("author", F.concat(F.lit("u"),
                                       (F.col("created") % 7).cast("string")))
        .withColumn("subreddit", F.lit("t"))
    )
    submissions = spark.createDataFrame(
        [("t3_mega", "u0", "mega thread", None, "status *M*", 1, 9, "t")],
        "idstr string, author string, title string, url string, "
        "selftext string, score long, created long, subreddit string",
    )
    return submissions, comments


@q("similarity_topk")  # rows-only since r14: graded through the merged
# similarity_brute oracle below (same rows, relabeled — the slot freed
# by the consolidation now grades text_lm_ppl_bigram); pytest pins the
# partition exactly (tests/test_queries.py)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10, BOTH plans under one oracle: qid 0 runs the
    single-query broadcast + TakeOrderedAndProject path (cosine_topk —
    only k rows per partition cross to the driver), qids 1-3 run the
    batch path (cosine_topk_batch — one corpus pass scores all queries
    with fold-order float64 math, local per-query top-k, survivors-only
    window).  Ranking happens at full precision on both sides (the fold
    order is engine-identical), so the oracle needs no rounding games
    until display."""
    from pyspark.sql import Window

    emb = load(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    w0 = Window.partitionBy(F.lit(0)).orderBy(F.desc("cos"), F.asc("vec_id"))
    single = (
        sim.cosine_topk(emb, qv, k=10)
        .select(
            F.lit(0).cast("long").alias("qid"),
            "vec_id",
            "cos",
            F.row_number().over(w0).alias("rn"),  # 10 rows: trivial window
        )
    )
    queries = emb.filter((F.col("vec_id") > 0) & (F.col("vec_id") < 4)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q")
    )
    batch = sim.cosine_topk_batch(emb, queries, k=10)
    return single.unionByName(batch).withColumn("cos", F.round("cos", 6))


@q("similarity_neardup_brute")  # rows-only since r14: graded through
# the merged similarity_brute oracle below (same rows, relabeled — the
# slot freed by the consolidation now grades pipeline_dsir); pytest
# pins the partition exactly (tests/test_queries.py)
def similarity_neardup_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine near-dups (≥0.4) — the correctness baseline
    for the LSH scale path."""
    emb = load(spark, sf_dir, "embeddings")
    pairs = sim.embedding_near_dups(emb, threshold=-2.0).withColumn(
        "cos", F.round("cos", 6)
    )
    return pairs.filter(F.col("cos") >= 0.4)


@q(
    "similarity_brute",
    # r14 consolidation (VERDICT r13 #1): similarity_topk and
    # similarity_neardup_brute share the brute-cosine plan family, so
    # ONE oracle grades both row groups — 'topk' rows are the exact
    # top-10 (single-query + batch paths), 'neardup' rows the exact
    # all-pairs ≥ 0.4 — and the two slots they burned now grade
    # text_lm_ppl_bigram and pipeline_dsir.
    """
    WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 4),
    scored AS (
      SELECT q.qid, e.vec_id,
             list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS cos
      FROM embeddings e, q
    ), ranked AS (
      SELECT qid, vec_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                  ORDER BY cos DESC, vec_id ASC) AS INT) AS rn
      FROM scored)
    SELECT 'topk' AS mode, qid AS a, vec_id AS b, ROUND(cos, 6) AS cos, rn
    FROM ranked WHERE rn <= 10
    UNION ALL
    SELECT 'neardup' AS mode, a.vec_id AS a, b.vec_id AS b,
           ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]), 6) AS cos,
           CAST(NULL AS INT) AS rn
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                       b.embedding::DOUBLE[]), 6) >= 0.4
    """,
)
def similarity_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-cosine family under ONE oracle (r14 consolidation): the
    exact top-10 rows of :func:`similarity_topk` (mode='topk', a=qid,
    b=vec_id) unioned with the exact all-pairs near-dup rows of
    :func:`similarity_neardup_brute` (mode='neardup') — literally those
    registry functions relabeled, so the oracle graded here is the
    oracle that graded them (partition pinned in tests/test_queries.py)."""
    topk = similarity_topk(spark, sf_dir)
    nd = similarity_neardup_brute(spark, sf_dir)
    return topk.select(
        F.lit("topk").alias("mode"),
        F.col("qid").cast("long").alias("a"),
        F.col("vec_id").cast("long").alias("b"),
        "cos",
        F.col("rn").cast("int").alias("rn"),
    ).unionByName(nd.select(
        F.lit("neardup").alias("mode"),
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        "cos",
        F.lit(None).cast("int").alias("rn"),
    ))


@q("similarity_neardup_blas")  # float64-matmul scores — rows-only check
def similarity_neardup_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs near-dups via broadcast-matrix BLAS matmul in mapInPandas
    — the brute-force path at production throughput (pytest asserts pair
    parity with similarity_neardup_brute)."""
    emb = load(spark, sf_dir, "embeddings")
    pairs = sim.embedding_near_dups_blas(emb, threshold=0.4)
    return pairs.withColumn("cos", F.round("cos", 6))


@q("similarity_topk_lsh")  # LSH probe structure — rows-only check
def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via random-hyperplane LSH (6 bits × 16 tables,
    Hamming-1 multiprobe — the operator defaults), exact verify on
    candidates.  Pytest asserts recall vs the brute-force path."""
    emb = load(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    out = sim.cosine_topk_lsh(emb, qv, k=10)
    return out.withColumn("cos", F.round("cos", 6))


def _emb_with_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ perturbed copies of every 10th vector (+1e-3 per
    component → cosine ≈ 1): the synthetic embeddings have no pair
    above cosine 0.52, so near-dup queries get deterministic planted
    positives — the `_docs_with_mutations` pattern for vectors.  Shared
    by `similarity_neardup_lsh` and its scaling candidate counter."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(1e-3))
        .alias("embedding"),
    )
    return emb.unionByName(planted)


@q("similarity_neardup_lsh")  # bucketed all-pairs scale path — rows-only
# (recall + pair-precision pinned in tests/test_similarity.py); benched
# with a bucket-candidate counter so a future wall drift is attributable
# to collision growth vs load (the dedup-family pattern, r14)
def similarity_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dups AT SCALE: self-join per (table, signature)
    bucket — the shuffle key is the signature, never the cross product —
    then exact-cosine verification (similarity.embedding_near_dups_lsh)
    over embeddings ∪ planted near-identical copies (known cosine≈1
    pairs).  ``bits="auto"`` scales signature width with corpus size
    (the LSH density rule — the r14 probe caught fixed 12-bit buckets
    at 84× candidate fanout for 10× rows) and re-derives the table
    count for ≥0.9 recall at the threshold.  This is the arm a 100 TB
    corpus takes where similarity_neardup_brute/_blas are the bounded
    correctness baselines."""
    u = _emb_with_planted(spark, sf_dir)
    # precomputed n (ADVICE r14): two column-pruned parquet counts are
    # far cheaper than bits="auto" re-evaluating the union+transform
    # plan once for its own count and again for the join
    base = load(spark, sf_dir, "embeddings")
    n = base.count() + base.filter(F.col("vec_id") % 10 == 0).count()
    return sim.embedding_near_dups_lsh(u, threshold=0.9, bits="auto", n=n) \
        .withColumn("cos", F.round("cos", 6))


@q("window_rank_salted")  # exact twin of window_rank_children — rows-only
def window_rank_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 at hot-key scale: the salted two-phase top-k
    (operators.skew.topk_per_group) — identical rows to the oracled
    ``window_rank_children`` (pytest asserts exact equality), but a
    dominant group splits across salt shards instead of serializing one
    task."""
    from timesearch_spark.operators.skew import topk_per_group

    return topk_per_group(
        load(spark, sf_dir, "lineitem"),
        ["l_orderkey"],
        [F.col("l_extendedprice").desc(), F.col("l_linenumber").asc()],
        k=3,
    ).select(
        "l_orderkey", "l_linenumber",
        F.round("l_extendedprice", 2).alias("price"), "rn",
    )


@q("similarity_topk_ivf_batch")  # cell-pruned batched ANN — rows-only + pytest
def similarity_topk_ivf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched IVF ANN (similarity.cosine_topk_ivf_batch): one
    cell-pruned corpus pass answers four queries — IVF probe pruning
    picks the scan fraction, the batch scorer shares the pass.  Exactness
    when probing all cells is pytest-pinned against cosine_topk_batch."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q")
    )
    out = sim.cosine_topk_ivf_batch(emb, queries, k=10, n_cells=16, n_probe=4)
    return out.withColumn("cos", F.round("cos", 6))


@q("similarity_topk_q8")  # int8 rounding noise — rows-only check + pytest
def similarity_topk_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 by cosine over symmetric int8-quantized
    vectors (similarity.quantize_embeddings / cosine_topk_quantized) —
    the 4× memory form of ANN state.  Pytest bounds reconstruction
    error (≤ scale/2 per component) and recall vs exact brute force."""
    emb = load(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    out = sim.cosine_topk_quantized(emb, qv, k=10)
    return out.withColumn("cos_q8", F.round("cos_q8", 4))


@q(
    "similarity_topk_ivf",
    """
    WITH cent AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
        FROM embeddings ORDER BY vec_id LIMIT 16
    ),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    assign AS (
        SELECT e.vec_id, cent.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                                         cent.cv), 6) DESC,
                            cent.cid ASC
               ) AS rn
        FROM embeddings e CROSS JOIN cent
    ),
    cells AS (SELECT vec_id, cid AS cell FROM assign WHERE rn = 1),
    qcells AS (
        SELECT cid AS cell FROM (
            SELECT cent.cid,
                   ROW_NUMBER() OVER (
                       ORDER BY ROUND(list_cosine_similarity(q.qv, cent.cv), 6) DESC,
                                cent.cid ASC
                   ) AS rn
            FROM cent CROSS JOIN q
        ) WHERE rn <= 4
    )
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS cos
    FROM embeddings e
    JOIN cells ON e.vec_id = cells.vec_id
    JOIN qcells ON cells.cell = qcells.cell
    CROSS JOIN q
    ORDER BY cos DESC, e.vec_id ASC LIMIT 10
    """,
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via an IVF coarse quantizer (16 cells, 4 probed).  Cell
    assignment is a shuffle-free per-row argmax against the broadcast
    codebook; probing = partition pruning at scale.  Fully oracle-checked
    because seeds, tie-breaks, and rounded-cosine argmax are deterministic
    across engines."""
    emb = load(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    out = sim.cosine_topk_ivf(emb, qv, k=10, n_cells=16, n_probe=4)
    return out.withColumn("cos", F.round("cos", 6))


# =========================================================================
# Multimodal columns (binary payload + typed metadata; decode stubbed)
# =========================================================================

from timesearch_spark.operators import multimodal as mm  # noqa: E402


@q(
    "media_stats",
    """
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'video'
                WHEN doc_id % 3 = 1 THEN 'image'
                ELSE 'audio' END AS kind,
           CASE WHEN doc_id % 3 = 1 THEN 'image/jpeg'
                ELSE 'application/octet-stream' END AS mime,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS digest,
           CAST(doc_id % 64 + 8 AS INT) AS width,
           CAST(doc_id % 48 + 8 AS INT) AS height,
           CAST(doc_id % 10000 AS BIGINT) AS duration_ms
    FROM documents
    """,
)
def media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata/digest projection over binary payloads — JVM-only map
    stage (octet_length + sha2), binary column never reaches Python."""
    docs = load(spark, sf_dir, "documents")
    return mm.media_stats(mm.media_from_documents(docs))


@q("media_features")  # rows-only since r14: graded through the merged
# media_decode oracle below (same rows, relabeled); partition pinned in
# tests/test_queries.py
def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + 8x8 luminance-grid features over image payloads via
    mapInPandas (Arrow binary batches); decoder is a deterministic stub
    (no image libs in this container), plumbing is real.  The feature
    array is serialized %.4f-CSV for the canonicalizer (float64 grid
    means of integer pixels are exact, so both engines format the same
    double; format_string, not format_number — grouping separators
    would corrupt the CSV for values >= 1000)."""
    docs = load(spark, sf_dir, "documents")
    media = mm.filter_media(mm.media_from_documents(docs), kinds=("image",))
    feats = mm.image_features(media)
    return feats.select(
        "media_id",
        "kind",
        # round(x,4) BEFORE %.4f on both sides: grid means can be exact
        # dyadic .xxxx5 values (e.g. sum/32 = 136.03125) where Java's
        # HALF_UP and C's half-even disagree; round() is half-away-from-
        # zero in both engines, and its output is never a boundary case.
        F.array_join(
            F.transform("feature", lambda x: F.format_string("%.4f", F.round(x, 4))),
            ",",
        ).alias("feature_csv"),
        "feat_dim",
    )


@q("media_frames")  # rows-only since r14: graded through the merged
# media_decode oracle below (same rows, relabeled); partition pinned in
# tests/test_queries.py
def media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: 1 row → N frame rows inside mapInPandas (the
    UDTF fan-out shape a frame-level training pipeline needs).  The frame
    binary is hex-serialized for the value-hash compare."""
    docs = load(spark, sf_dir, "documents")
    media = mm.filter_media(mm.media_from_documents(docs), kinds=("video",))
    frames = mm.sample_video_frames(media, every_ms=1000, max_frames=8)
    return frames.select(
        "media_id", "frame_index", "ts_ms",
        F.lower(F.hex("frame")).alias("frame_hex"),
    )


@q(
    "media_decode",
    # r14 consolidation (VERDICT r13 #1): media_features and
    # media_frames are one Arrow-decode family over the same stub
    # decoder, so ONE oracle grades both column groups (images emit
    # their 8x8 luminance-grid CSV as payload, videos their sampled
    # frame hex) and the slot the second entry burned is freed.
    #
    # Image arm: the stub decode is closed-form (pixel (y,x) = digest
    # byte (y*w+x)%32, gray), so the 8x8 average-pool is
    # SQL-expressible: rebuild the pixel grid from the hex digest and
    # aggregate the same cells.  Cell bounds replicate
    # np.linspace(0,h,9).astype(int) = floor(i*h/8) (exact: h/8 is
    # dyadic for h<=128).
    # Video arm: the stub frame payload is digest || LE-uint32(index),
    # so the fan-out is closed-form: n = min(8, dur//1000 + 1) frames
    # per video, ts = i*1000, frame hex = sha256 hex || %02x000000.
    """
    WITH mi AS (
      SELECT doc_id AS media_id, 'image' AS kind, sha256(text) AS dig,
             CAST(doc_id % 64 + 8 AS INT) AS w, CAST(doc_id % 48 + 8 AS INT) AS h
      FROM documents
      WHERE doc_id % 3 = 1 AND octet_length(encode(text)) BETWEEN 1 AND 67108864
    ),
    px AS (
      SELECT media_id, w, h, y.y AS y, x.x AS x,
             CAST('0x' || substr(dig, 2 * ((y.y * w + x.x) % 32) + 1, 2) AS INT) AS v
      FROM mi
      JOIN range(0, 128) y(y) ON y.y < h
      JOIN range(0, 128) x(x) ON x.x < w
    ),
    cells AS (
      SELECT px.media_id, i.i, j.j, AVG(v) AS cellmean
      FROM px
      JOIN range(0, 8) i(i)
        ON y >= (i.i * h) // 8 AND y < ((i.i + 1) * h) // 8
      JOIN range(0, 8) j(j)
        ON x >= (j.j * w) // 8 AND x < ((j.j + 1) * w) // 8
      GROUP BY 1, 2, 3
    ),
    mv AS (
      SELECT doc_id AS media_id, sha256(text) AS dig,
             CAST(doc_id % 10000 AS BIGINT) AS dur
      FROM documents
      WHERE doc_id % 3 = 0 AND octet_length(encode(text)) BETWEEN 1 AND 67108864
    )
    SELECT mi.media_id, mi.kind,
           CAST(NULL AS INT) AS item_index, CAST(NULL AS BIGINT) AS ts_ms,
           (SELECT string_agg(printf('%.4f', round(cellmean, 4)), ',' ORDER BY i, j)
            FROM cells WHERE cells.media_id = mi.media_id) AS payload,
           CAST(64 AS INT) AS feat_dim
    FROM mi
    UNION ALL
    SELECT media_id, 'video' AS kind,
           CAST(t.i AS INT) AS item_index,
           CAST(t.i * 1000 AS BIGINT) AS ts_ms,
           dig || printf('%02x000000', t.i) AS payload,
           CAST(NULL AS INT) AS feat_dim
    FROM mv JOIN range(0, 8) t(i)
      ON t.i < LEAST(8, GREATEST(1, dur // 1000 + 1))
    """,
)
def media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-decode family under ONE oracle (r14 consolidation):
    :func:`media_features`' image rows (payload = 8x8 luminance-grid
    %.4f-CSV, item_index/ts_ms null) unioned with
    :func:`media_frames`' video rows (payload = frame hex, feat_dim
    null) — literally those registry functions relabeled, so the
    oracle graded here is the oracle that graded them (partition
    pinned in tests/test_queries.py)."""
    feats = media_features(spark, sf_dir)
    frames = media_frames(spark, sf_dir)
    return feats.select(
        F.col("media_id").cast("long").alias("media_id"),
        "kind",
        F.lit(None).cast("int").alias("item_index"),
        F.lit(None).cast("long").alias("ts_ms"),
        F.col("feature_csv").alias("payload"),
        F.col("feat_dim").cast("int").alias("feat_dim"),
    ).unionByName(frames.select(
        F.col("media_id").cast("long").alias("media_id"),
        F.lit("video").alias("kind"),
        F.col("frame_index").cast("int").alias("item_index"),
        F.col("ts_ms").cast("long").alias("ts_ms"),
        F.col("frame_hex").alias("payload"),
        F.lit(None).cast("int").alias("feat_dim"),
    ))


_LANG_HITS_SQL = {
    lang: (
        "len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), "
        f"x -> list_contains({words!r}, x)))"
    )
    for lang, words in [
        ("de", ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "im"]),
        ("en", ["the", "a", "and", "of", "to", "in", "is", "that", "it", "for"]),
        ("es", ["el", "la", "de", "que", "y", "en", "un", "los", "por", "con"]),
        ("fr", ["le", "la", "de", "et", "les", "des", "en", "un", "du", "que"]),
        ("zh", ["的", "了", "是", "在", "我", "有", "和", "就", "不", "人"]),
    ]
}

@q(
    "text_profile",
    f"""
    WITH t AS (
      SELECT doc_id, text,
             len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             x -> x <> '')) AS n_ws,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
               AS n_bpe,
             length(text) AS n_chars,
             length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS n_clean,
             list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS ls,
             {_LANG_HITS_SQL['de']} AS h_de,
             {_LANG_HITS_SQL['en']} AS h_en,
             {_LANG_HITS_SQL['es']} AS h_es,
             {_LANG_HITS_SQL['fr']} AS h_fr,
             {_LANG_HITS_SQL['zh']} AS h_zh
      FROM documents
    ),
    tok2 AS (SELECT doc_id, {_TOK_SQL} AS tt FROM documents),
    bg AS (
      SELECT doc_id, array_to_string(tt[i:i+1], ' ') AS gram
      FROM tok2, UNNEST(range(1, len(tt))) AS u(i)
      WHERE len(tt) >= 2
    ),
    bgc AS (SELECT doc_id, gram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
    bga AS (
      SELECT doc_id, ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6)
               AS top_bigram_frac
      FROM bgc GROUP BY 1
    )
    SELECT t.doc_id, n_ws, n_bpe, h_en AS sw_hits,
           ROUND(CAST(n_chars - n_clean AS DOUBLE) / n_chars, 6) AS punct_ratio,
           ROUND(CAST(h_en AS DOUBLE) / n_ws, 6) AS stopword_ratio,
           CASE WHEN GREATEST(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
                WHEN h_de = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'de'
                WHEN h_en = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
                WHEN h_es = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
                WHEN h_fr = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
                ELSE 'zh' END AS lang_guess,
           MD5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
           CASE WHEN len(ls) > 0
                THEN ROUND(1.0 - CAST(len(list_distinct(ls)) AS DOUBLE) / len(ls), 6)
                END AS dup_line_frac,
           bga.top_bigram_frac
    FROM t LEFT JOIN bga ON t.doc_id = bga.doc_id
    """,
)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis profile over documents: whitespace + BPE-ish-regex
    token counts (training-data budgeting), quality signals (stopword
    hits/ratio, punct ratio), stopword-hit language ID (argmax over
    per-language hit counts, first-in-code-order tie-break, 'und' when
    no hits), the md5 content fingerprint of whitespace-normalized
    lowercase text, and the Gopher-rule repetition signals (duplicate
    non-blank-line fraction, top word-bigram fraction).
    Runs textstats.text_profile_table — the narrow-relation form (one
    explode + one codegen'd hash-agg for every token signal, scalar
    signals joined back) — which beats the per-column HOF expressions
    ~2× because interpreted array walks collapse into codegen; see the
    operator docstring for the scale analysis."""
    return tx.text_profile_table(load(spark, sf_dir, "documents"))


@q(
    "events_windows",
    """
    WITH e AS (
      SELECT epoch_ns(ts) // 1000000000 AS ts_sec,
             event_type,
             CAST(FLOOR(value * 1000000) AS BIGINT) AS value_micros
      FROM events
    )
    SELECT 'tumbling_1h' AS grain,
           (ts_sec // 3600) * 3600 AS window_start_sec,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(value_micros) AS BIGINT) AS value_sum_micros
    FROM e GROUP BY 2, 3
    UNION ALL
    SELECT 'sliding_1h_15m' AS grain, window_start_sec, event_type,
           COUNT(*) AS n, CAST(NULL AS BIGINT) AS value_sum_micros
    FROM (
      SELECT event_type,
             UNNEST(generate_series(
               (ts_sec // 900) * 900 - 2700,
               (ts_sec // 900) * 900,
               900)) AS window_start_sec
      FROM e
    ) GROUP BY 2, 3
    """,
)
def events_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain event-time rollup (the hypertable-rollup pattern):
    tumbling 1-hour counts + value sums per event_type, unioned with
    sliding 1-hour / 15-minute counts where each event lands in 4
    overlapping windows (the oracle enumerates them with
    generate_series).  Both grains shuffle once on (window, event_type)
    with map-side partial aggregation; the union is plan-level only (two
    independent stages), so at cluster scale each grain parallelizes
    independently.  Streaming forms: streaming.windows
    .tumbling_counts_stream / .sliding_counts_stream.

    Cross-engine determinism: every event-time value is integer-derived
    (``epoch_ns // 1e9`` on the oracle side, exact long floor on the
    Spark side — never the EPOCH() double, which loses nanosecond
    precision above 2^53 and can floor an exact-second boundary into the
    previous window), and the value sum is ``SUM(FLOOR(value * 1e6))``
    as BIGINT — the double multiply is bit-identical IEEE in both
    engines and long addition is exact and order-independent, unlike
    double→decimal casts whose rounding mode is an engine detail (Spark
    HALF_UP vs banker's)."""
    ev = load(spark, sf_dir, "events").withColumn(
        "value_micros", F.floor(F.col("value") * 1000000).cast("long")
    )
    tumb = win.tumbling_counts(
        ev.withColumn("value", F.col("value_micros")),
        "1 hour",
        "event_type",
    ).select(
        F.lit("tumbling_1h").alias("grain"),
        F.col("window_start").cast("long").alias("window_start_sec"),
        "event_type",
        "n",
        F.col("value_sum").cast("long").alias("value_sum_micros"),
    )
    slid = (
        ev.withColumn(
            "event_time", F.timestamp_seconds(event_ts_sec("ts", ts_dtype(ev)))
        )
        .groupBy(
            F.window("event_time", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("sliding_1h_15m").alias("grain"),
            F.col("w.start").cast("long").alias("window_start_sec"),
            "event_type",
            "n",
            F.lit(None).cast("long").alias("value_sum_micros"),
        )
    )
    return tumb.unionByName(slid)


@q("events_percentiles")  # per-window quantile sketches — rows-only + pytest
def events_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly p50/p95/p99 of event values per type
    (windows.window_percentiles): percentile_approx sketches partial-
    merge map-side, so the shuffle carries bounded sketches, never raw
    values — the latency-rollup shape at any scale."""
    ev = win.window_percentiles(load(spark, sf_dir, "events"), "1 hour")
    return ev.withColumn("window_start", F.col("window_start").cast("long"))


@q("events_anomalies")  # rate-anomaly flags — rows-only + pytest
def events_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type event-rate anomalies (windows.rate_anomalies): hourly
    counts vs the trailing-24h mean, two-sided 3-sigma flags, cold-start
    guarded.  The ops-observability rollup over the same tumbling agg
    every events query shares."""
    ev = win.rate_anomalies(load(spark, sf_dir, "events"), "1 hour")
    return ev.withColumn("window_start", F.col("window_start").cast("long"))


@q("events_session_funnel")  # in-session conversion ladder — rows-only + pytest
def events_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped funnel (windows.session_funnel): progression resets
    at every 30-min-gap session boundary; a user counts at the deepest
    stage any single session reached — the did-they-convert-in-one-
    sitting ladder the all-time funnel can't answer."""
    return win.session_funnel(
        load(spark, sf_dir, "events"),
        ["view", "click", "signup", "purchase"], gap_sec=1800,
    )


@q("events_session_funnel_salted")  # skew-immune twin — rows-only + pytest
def events_session_funnel_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`events_session_funnel` through the chunk-transition plan
    (windows.session_funnel_salted): sessions computed per (user,
    time-bucket), seams merged by composing per-session funnel
    transition vectors in one bounded per-user fold.  Byte-identical
    ladder to the plain query (exactness fuzz-pinned in
    tests/test_operators.py); registered so the driver exercises the
    hot-user-immune plan on real data."""
    return win.session_funnel_salted(
        load(spark, sf_dir, "events"),
        ["view", "click", "signup", "purchase"], gap_sec=1800,
    )


@q("sessionize_salted")  # skew-immune twin — rows-only + pytest
def sessionize_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`sessionize` through the chunk-merged plan
    (windows.sessionize_salted): the per-user ordered window is
    replaced by (user, bucket) chunk windows plus a calendar-bounded
    seam merge, ids reconstructed arithmetically.  Output (ids
    included) byte-identical to the plain query — fuzz-pinned."""
    return win.sessionize_salted(
        load(spark, sf_dir, "events"), gap_sec=1800, bucket_sec=3600
    )


@q("tree_depth_dist")  # mega-thread-immune twin — rows-only + pytest
def tree_depth_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`tree_depth` through the distributed pointer-doubling walk
    (trees.comment_forest_big) instead of the per-partition Python
    walk — the plan comment_forest_auto routes oversized threads to.
    Same rows (parity fuzz-pinned in tests/test_trees.py)."""
    forest = tr.comment_forest_big(_tree_comments(spark, sf_dir))
    return forest.select("submission", "idstr", "depth")


@q("events_trending")  # per-window top-k keys — rows-only + pytest
def events_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending rollup (windows.trending_topk): top-3 event types per
    tumbling hour — one map-side-combined (window, key) agg, rank over
    the tiny per-window counts, key-asc tie-break."""
    ev = win.trending_topk(load(spark, sf_dir, "events"), "1 hour", k=3)
    return ev.withColumn("window_start", F.col("window_start").cast("long"))


@q("events_funnel")  # ordered funnel ladder — rows-only + pytest
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → signup → purchase funnel over events
    (windows.funnel_progression): per-user ordered progression via one
    shuffle + a codegen'd fold over each user's sorted event array, then
    the cumulative per-stage user counts."""
    return win.funnel_progression(
        load(spark, sf_dir, "events"), ["view", "click", "signup", "purchase"]
    )


@q("events_retention")  # cohort retention rollup — rows-only + pytest
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention over events (windows.retention_cohorts):
    users keyed by first-activity day, distinct-counted in each day they
    return.  One user-period distinct agg sees raw events; everything
    after is narrow and keys on user_id."""
    return win.retention_cohorts(load(spark, sf_dir, "events"))


@q("orders_scd2")  # SCD2 history from a change stream — rows-only + pytest
def orders_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 materialization (scd.scd2_build): each customer's
    order-priority/status change stream becomes versioned
    [valid_from, valid_to) history — one key shuffle, lag-dedup of
    no-op changes, lead-closed intervals.  This is the history table
    the reference's edit-capture CDC rows (operators/upsert.py, I3)
    imply but never build; point-in-time lookup (scd2_lookup) rides
    asof_join.  Exactness vs a DuckDB restatement and the
    interval-tiling invariant are pinned in tests/test_scd.py."""
    o = load(spark, sf_dir, "orders")
    changes = o.select(
        F.col("o_custkey").alias("custkey"),
        F.unix_timestamp("o_orderdate").alias("ts"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderkey").alias("seq"),
    )
    return scd.scd2_build(
        changes, key_cols=["custkey"], ts_col="ts",
        attr_cols=["priority", "status"], order_cols=["seq"],
    ).drop("ts", "seq")


@q("events_unique_sketch")  # mergeable HLL distinct rollup — rows-only + pytest
def events_unique_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily distinct users per event_type AND overall, from mergeable
    HLL sketches (sketches.distinct_rollup): ONE raw-event pass —
    rollup(period, key) grouping sets inside a single
    ObjectHashAggregate — where the overall row is a sketch union that
    per-key COUNT(DISTINCT) results could never produce.  Equality with
    the two-step distinct_sketches → rollup_estimates composition (the
    persisted-artifact flow), estimate-vs-exact tolerance, and the
    SketchStore's incremental-refresh contract are pinned in
    tests/test_sketches.py."""
    return sk.distinct_rollup(load(spark, sf_dir, "events"))


@q("events_asof")  # point-in-time attribution join — rows-only + pytest
def events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (asof.asof_join): each purchase attributed to the
    user's latest click at-or-before it, within a 24 h tolerance — the
    union-trick linear plan (ONE shuffle on user_id, running
    last(payload, ignorenulls) window), never a quadratic theta-join.
    Exactness vs DuckDB's native ASOF JOIN is pinned in
    tests/test_asof.py across backward/forward × strict × tolerance."""
    ev = win.with_event_time(load(spark, sf_dir, "events"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_sec"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts_sec").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    return aso.asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts_sec",
        right_ts="click_ts",
        right_cols=["click_id"],
        tolerance=86400,
    )


@q("events_interval")  # bucketed range join — rows-only + pytest
def events_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment join (asof.interval_join): purchases placed
    inside the user's view-session windows (sessionize over views, 2 h
    gap).  Time-bucket blocking turns the range predicate into a hash
    equi-join on (user, bucket) + exact BETWEEN filter; each point owns
    one bucket so pairs meet exactly once.  Exactness vs a DuckDB range
    join is pinned in tests/test_asof.py."""
    ev = win.with_event_time(load(spark, sf_dir, "events"))
    sessions = win.sessionize(
        ev.filter(F.col("event_type") == "view"), gap_sec=7200
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_sec"
    )
    return aso.interval_join(
        purchases,
        sessions,
        point_ts="ts_sec",
        start_col="session_start",
        end_col="session_end",
        on=["user_id"],
        bucket_sec=7200,
        how="left",
        point_id_cols=["event_id"],
    )


@q(
    "sessionize",
    """
    WITH e AS (
      SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS ts_sec
      FROM events
    ), flagged AS (
      SELECT user_id, event_id, ts_sec,
             CASE WHEN ts_sec - LAG(ts_sec) OVER w > 1800 OR
                       LAG(ts_sec) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
    ), numbered AS (
      SELECT user_id, ts_sec,
             CAST(SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts_sec, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           MIN(ts_sec) AS session_start, MAX(ts_sec) AS session_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY 1, 2
    """,
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based (30 min) sessionization per user: lag + running sum, one
    shuffle on user_id.  Oracle determinism: ts_sec is integer-derived
    (epoch_ns, no EPOCH double) and BOTH window passes — the lag flags
    and the running sum — order by (ts_sec, event_id), matching the
    Spark side, so same-second events are totally ordered regardless of
    the engine's physical row order."""
    return win.sessionize(load(spark, sf_dir, "events"), gap_sec=1800)


# =========================================================================
# Training-pipeline operators: split / pack / decontaminate / sample /
# redact / corpus stats (operators/pipeline.py).
# =========================================================================

from timesearch_spark.operators import pipeline as pl  # noqa: E402


@q(
    "pipeline_split",
    """
    SELECT doc_id,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'
                  THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'f3333333'
                  THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def pipeline_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test split (90/5/5): the md5
    hex prefix of the id against fixed-width hex thresholds, stable
    under reruns and incremental appends (pipeline.split_column)."""
    d = load(spark, sf_dir, "documents")
    return pl.train_val_test_split(d).select("doc_id", "split")


@q(
    "pipeline_pack",
    rf"""
    WITH tok AS (
      SELECT source, doc_id, CAST(len({_TOK_SQL}) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT source AS block, doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before,
             CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
               AS BIGINT) AS chunk_pos
      FROM tok
    )
    SELECT block, doc_id, n_tokens,
           CAST(cum_before // 512 AS BIGINT) AS chunk_id, chunk_pos
    FROM c
    """,
)
def pipeline_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing into 512-token training chunks: per-source
    contiguous greedy layout via a running token sum — chunks pack in
    parallel across sources, deterministic in the data
    (pipeline.pack_sequences)."""
    d = load(spark, sf_dir, "documents")
    return pl.pack_sequences(d, budget=512)


@q(
    "decontaminate",
    f"""
    WITH {_grams_sql(8)},
    bg AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 50 = 0),
    tot AS (SELECT doc_id, CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_total
            FROM dg GROUP BY 1)
    SELECT d.doc_id, CAST(COUNT(DISTINCT d.gram) AS BIGINT) AS n_shared,
           t.n_total
    FROM dg d JOIN bg ON d.gram = bg.gram JOIN tot t ON d.doc_id = t.doc_id
    GROUP BY 1, 3
    """,
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag documents sharing any 8-word gram
    with the benchmark set (stand-in: every 50th doc), with the doc's
    own distinct-gram total alongside so overlap FRACTIONS stay an
    integer-only cross-engine comparison.  Benchmark grams broadcast;
    document grams probe map-side (pipeline.decontaminate)."""
    d = load(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    return pl.decontaminate(d, bench, n=8)


@q(
    "quota_sample",
    """
    SELECT source, doc_id FROM (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 16), doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 40
    """,
)
def quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified quota sampling: exactly min(40, |stratum|) docs per
    source, membership a pure function of the id via md5 ordering
    (pipeline.quota_sample)."""
    d = load(spark, sf_dir, "documents")
    return pl.quota_sample(d, k=40).select("source", "doc_id")


@q(
    "redact_pii",
    r"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.com or +1 555-123-4567 from 192.168.0.1',
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '(\+?\d{1,2}[ -])?\(?\d{3}\)?[ -]\d{3}[ -]\d{4}', '[PHONE]', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g')
             AS redacted
    FROM documents
    """,
)
def redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails / phones / IPv4 → typed placeholders) over
    text with a deterministic planted contact line, so the patterns
    provably fire on every row (pipeline.redact_pii).  RE2-compatible
    patterns run identically under Java regex and DuckDB's RE2."""
    d = load(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1 555-123-4567 from 192.168.0.1"),
    )
    return d.select("doc_id", pl.redact_pii(planted).alias("redacted"))


@q("pipeline_chunk")  # rows-only (oracle window full); exactness in pytest
def pipeline_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-budget token chunking with overlap (pipeline.chunk_documents)
    — the pre-embedding split.  Pytest pins exact chunk boundaries,
    overlap windows, and de-overlapped reconstruction."""
    return pl.chunk_documents(
        load(spark, sf_dir, "documents"), max_tokens=64, overlap=16
    )


@q("pipeline_bm25")  # float accumulation order — rows-only check + pytest
def pipeline_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranking of the corpus against a fixed query-term bag
    (pipeline.bm25_scores) — the corpus-curation retrieval scorer.
    Rows-only: the score is a float sum whose grouping order Spark
    doesn't fix; pytest checks hand-computed values on a tiny corpus."""
    scores = pl.bm25_scores(
        load(spark, sf_dir, "documents"),
        ["merge", "batch", "window", "stream"],
    )
    return scores.select("doc_id", F.round("score", 4).alias("score"))


@q(
    "ngram_top",
    f"""
    WITH {_grams_sql(3)}
    SELECT gram, CAST(COUNT(*) AS BIGINT) AS df
    FROM dg GROUP BY 1
    ORDER BY df DESC, gram ASC
    LIMIT 20
    """,
)
def ngram_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics: top-20 3-grams by document frequency with a
    total tie-break order (pipeline.ngram_top)."""
    return pl.ngram_top(load(spark, sf_dir, "documents"), n=3, k=20)


@q("dedup_semantic")  # text -> embedding-space clusters — rows-only + pytest
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup clustering straight from text
    (embed.semantic_dedup): hashed-BoW embeddings (deterministic model
    stand-in; a real encoder swaps into the same batch loop) -> LSH
    pairs -> hash-min clusters.  Complements the token-level ladder —
    cosine over embeddings catches word-order-insensitive similarity a
    shingle set misses."""
    from timesearch_spark.operators.embed import semantic_dedup

    return semantic_dedup(load(spark, sf_dir, "documents"), threshold=0.9)


@q("dedup_incremental_minhash")  # cross-run NEAR-dup vs stored index — rows-only + pytest
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy analog of dedup_incremental: a batch (docs with odd ids)
    tagged against the persisted minhash index of the even-id corpus —
    banding collision + signature-estimated Jaccard, corpus text never
    re-read (dedup.incremental_minhash_dedup)."""
    from timesearch_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_index,
    )

    d = load(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1)
    buckets, sigs = minhash_index(corpus)
    return incremental_minhash_dedup(batch, buckets, sigs, threshold=0.5)


@q("dedup_paragraphs")  # paragraph-grain boilerplate removal — rows-only + pytest
def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus repeated-paragraph (boilerplate) removal
    (dedup.remove_repeated_paragraphs): paragraphs whose normalized
    fingerprint appears in >2 documents are dropped and each document is
    reassembled in order — the CCNet/RefinedWeb curation rung below
    whole-document dedup.  Row count is input-preserving by contract."""
    from timesearch_spark.operators.dedup import remove_repeated_paragraphs

    return remove_repeated_paragraphs(load(spark, sf_dir, "documents"))


@q("dedup_spans")  # repeated token-window removal — rows-only + pytest
def dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-span removal (dedup.remove_repeated_spans): any
    20-token window (stride 10) whose normalized fingerprint recurs in
    the corpus is removed from every occurrence except the lowest
    (doc, position) winner — the window-fingerprint approximation of
    exact-substring dedup (Lee et al. 2021), structure-free where the
    paragraph rung needs newlines.  Row count is input-preserving;
    exactness vs a pure-Python reference is pinned in
    tests/test_dedup.py."""
    from timesearch_spark.operators.dedup import remove_repeated_spans

    return remove_repeated_spans(
        load(spark, sf_dir, "documents"), n=20, stride=10
    )


@q(
    "dedup_intra_lines",
    # Promoted r14 (slot freed by the tree_stats demotion).  The twin
    # mirrors the inline arm exactly: keep line i iff it is
    # whitespace-trim-empty or its FIRST occurrence index equals i
    # (DuckDB lambdas are 1-based, list_position returns the first
    # 1-based hit — Spark's array_position(lines, x) == i+1 with the
    # 0-based filter index is the same predicate); trim strips spaces
    # only in both engines, so tab-only lines are "non-blank" and
    # dedupe like any other line.  NULL text flows through as NULL on
    # both sides (the r14 null-safe routing).
    """
    WITH ls AS (
      SELECT doc_id, string_split(text, chr(10)) AS lines FROM documents
    ),
    kept AS (
      SELECT doc_id, lines,
             list_filter(lines,
                         (x, i) -> trim(x) = '' OR
                                   list_position(lines, x) = i) AS kl
      FROM ls
    )
    SELECT doc_id,
           CAST(octet_length(encode(array_to_string(kl, chr(10))))
                AS INT) AS text_bytes,
           CAST(len(lines) - len(kl) AS INT) AS n_removed_lines
    FROM kept
    """,
)
def dedup_intra_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repeated-line removal
    (dedup.remove_repeated_lines_within): the Gopher-family repetition
    REWRITE complementing text_profile's dup_line_frac FILTER — every
    exact-duplicate non-blank line after its first occurrence inside
    one document is dropped, blank lines kept, order preserved.  Pure
    map-side (zero shuffle, plan-pinned in pytest); exactness vs a
    pure-Python twin is pinned in tests/test_dedup.py."""
    from timesearch_spark.operators.dedup import remove_repeated_lines_within

    out = remove_repeated_lines_within(load(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", F.octet_length("text").alias("text_bytes"),
        "n_removed_lines",
    )


@q("pipeline_cluster_sample")  # topic-balanced quota — rows-only + pytest
def pipeline_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-balanced sampling (pipeline.cluster_balanced_sample):
    embeddings assigned to 8 nearest-centroid clusters (deterministic
    seed codebook), then an md5-deterministic quota of 25 per cluster —
    the diversity-balancing rung of a training mix, composed from the
    oracled IVF assignment and quota-sample primitives.  Exactness of
    the quota/assignment contract is pinned in tests/test_pipeline.py."""
    return pl.cluster_balanced_sample(
        load(spark, sf_dir, "embeddings"), per_cluster=25, n_clusters=8
    )


@q("decontaminate_semantic")  # embedding-cosine contamination — rows-only + pytest
def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space contamination check (embed.semantic_decontaminate):
    every 50th document stands in as the benchmark; corpus docs whose
    hashed-BoW cosine vs any benchmark doc reaches 0.9 flag as leaks —
    the paraphrase-shaped contamination the n-gram `decontaminate` rung
    misses.  One corpus scan against the broadcast benchmark matrix, no
    shuffle, no top-k cap.  Semantics pinned in tests/test_similarity.py."""
    from timesearch_spark.operators.embed import semantic_decontaminate

    d = load(spark, sf_dir, "documents")
    return semantic_decontaminate(
        d, d.filter(F.col("doc_id") % 50 == 0), threshold=0.9
    ).orderBy("doc_id", "bench_id")


@q("table_quality")  # one-pass per-column profile — rows-only + pytest
def table_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of lineitem (quality.table_profile): null
    counts, HLL++ approximate distincts, min/max per column — ONE
    map-side-combined aggregate job for every column together, the
    pre-ingest health check a pipeline runs on each new data drop
    (pair with quality.drift_report against an accepted baseline)."""
    from timesearch_spark.operators.quality import table_profile

    return table_profile(load(spark, sf_dir, "lineitem"))


@q("pipeline_mix")  # weighted resampling + token budgets — rows-only + pytest
def pipeline_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing (pipeline.weighted_resample → pipeline.budget_sample):
    src0 upweighted 2.5×, src1 downsampled to 30%, everything else kept,
    then each source filled to a 2,000-token budget in deterministic hash
    order.  Both memberships are pure functions of (seed, id) — never
    rand() — so the mix is replayable and append-stable."""
    d = load(spark, sf_dir, "documents")
    mixed = pl.weighted_resample(d, {"src0": 2.5, "src1": 0.3})
    # copies count toward the budget as distinct docs: re-key by (id, copy)
    rekeyed = mixed.select(
        (F.col("doc_id") * 10 + F.col("copy")).alias("doc_id"),
        "source", "text",
    )
    return pl.budget_sample(rekeyed, token_budget=2000)


@q(
    "text_lm_ppl",
    # Cross-engine determinism recipe (each step pinned by the sf0.1
    # zero-mismatch probe in tools/proto_lm_oracle.py):
    # - per-token logp doubles are bit-identical: the Spark side builds
    #   the vocab DRIVER-side with libm log (unigram_lm), and DuckDB's
    #   ln() is the same libm on the same rational inputs;
    # - Spark's round(double, N) rounds the SHORTEST DECIMAL REPR of
    #   the double HALF_UP (java BigDecimal.valueOf semantics), NOT the
    #   exact binary value — DuckDB's round() scales by 10^N first and
    #   diverges on boundary values, so every rounding below goes
    #   through CAST(double AS VARCHAR) (shortest repr) then
    #   VARCHAR→DECIMAL (HALF_UP): exactly the Spark semantics;
    # - the per-doc sum is DECIMAL(28,9) (order-independent, exact) and
    #   the mean is ONE IEEE division of identical doubles;
    # - explode_outer (zero-token docs keep a null-token row) is
    #   emulated by substituting [NULL] for the empty token list.
    f"""
    WITH ref_tok AS (
      SELECT unnest({_TOK_SQL}) AS token FROM documents WHERE doc_id % 2 = 0
    ),
    counts AS (SELECT token, COUNT(*) AS c FROM ref_tok GROUP BY token),
    tot AS (
      SELECT CAST(SUM(c) AS DOUBLE) + (LEAST(COUNT(*), 2000) + 1) AS denom
      FROM counts
    ),
    model AS (
      SELECT token, ln((c + 1.0) / (SELECT denom FROM tot)) AS logp
      FROM counts ORDER BY c DESC, token ASC LIMIT 2000
    ),
    dt AS (
      SELECT doc_id,
             CASE WHEN len(t) = 0 THEN [CAST(NULL AS VARCHAR)] ELSE t END AS t
      FROM (SELECT doc_id, {_TOK_SQL} AS t FROM documents)
    ),
    tok AS (SELECT doc_id, unnest(t) AS token FROM dt),
    lp AS (
      SELECT doc_id, token,
             CAST(CAST(COALESCE(m.logp, (SELECT ln(1.0 / denom) FROM tot))
                       AS VARCHAR)
                  AS DECIMAL(28,9)) AS lp
      FROM tok LEFT JOIN model m USING (token)
    ),
    agg AS (
      SELECT doc_id, COUNT(token) AS n_tok,
             SUM(CASE WHEN token IS NOT NULL THEN lp END) AS s
      FROM lp GROUP BY doc_id
    ),
    avg9 AS (
      -- ppl derives from the 9-dp ROUNDED avg_logp (not the raw
      -- quotient) so both engines feed exp() the identical pinned
      -- double; residual 1-ulp exp risk documented in lm_score.
      SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
             CASE WHEN n_tok > 0
                  THEN CAST(CAST(CAST(CAST(s AS DOUBLE) / n_tok AS VARCHAR)
                                 AS DECIMAL(38,9)) AS DOUBLE)
             END AS avg_logp
      FROM agg
    ),
    fin AS (
      SELECT doc_id, n_tok, avg_logp,
             CASE WHEN n_tok > 0
                  THEN CAST(CAST(CAST(exp(-avg_logp)
                                      AS VARCHAR) AS DECIMAL(38,6)) AS DOUBLE)
             END AS ppl
      FROM avg9
    )
    SELECT doc_id, n_tok, avg_logp, ppl,
           CASE WHEN ppl <= 300.0 THEN 'head'
                WHEN ppl <= 1000.0 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM fin
    """,
)
# Oracled since r13 (slot recovered by demoting the enrich_join alias):
# CCNet-style unigram-LM perplexity filter — vocab built from the
# even-id half of the corpus, every doc scored by mean token log-prob
# (decimal-exact sum, so values are run-stable) and bucketed
# head/middle/tail; pytest additionally pins exactness against a
# pure-Python twin and clean<garbage separation
def text_lm_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline quality filter (public recipe: CCNet, Wenzek
    et al. 2020): reference LM from half the corpus, per-doc perplexity
    over all of it.  One explode + broadcast vocab join + hash-agg —
    map-side at any scale, the vocabulary is the only state."""
    from timesearch_spark.operators import textstats as ts

    docs = load(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    vocab, oov = ts.unigram_lm(ref, vocab_size=2000)
    scored = ts.lm_score(docs, vocab, oov)
    return ts.lm_bucket(scored, 300.0, 1000.0).select(
        "doc_id", "n_tok", "avg_logp", "ppl", "bucket"
    )


@q(
    "text_lm_ppl_bigram",
    # Promoted r14 (slot freed by the similarity_brute consolidation).
    # Same cross-engine determinism recipe as text_lm_ppl — libm logs
    # (Spark computes BOTH model tables driver-side since r14, DuckDB's
    # ln is the same libm on the same rational inputs), shortest-repr
    # HALF_UP 9-dp rounding via VARCHAR→DECIMAL, decimal(28,9) sums,
    # ONE IEEE division, ppl from the pinned avg — plus the bigram
    # specifics:
    # - adjacent pairs via parallel unnest of t[1:n-1] and t[2:n]
    #   (equal lengths — exact zip, zero rows for docs under 2 tokens);
    # - scoring rows via parallel unnest of t and NULL-prepended t:
    #   DuckDB pads the shorter list with NULL, reproducing Spark's
    #   arrays_zip trailing (null token, t[n]) row; the agg's
    #   count(token)/sum-if-token filters ignore it on both sides;
    # - stupid backoff: lp = logp2 if the bigram is in the table, else
    #   ln(0.4) + p_uni when a prev exists, else p_uni (first token);
    #   ln(0.4) is one libm call on both engines.
    f"""
    WITH ref_tok AS (
      SELECT unnest({_TOK_SQL}) AS token FROM documents WHERE doc_id % 2 = 0
    ),
    counts AS (SELECT token, COUNT(*) AS c FROM ref_tok GROUP BY token),
    tot AS (
      SELECT CAST(SUM(c) AS DOUBLE) + (LEAST(COUNT(*), 2000) + 1) AS denom,
             CAST(LEAST(COUNT(*), 2000) + 1 AS DOUBLE) AS vp1
      FROM counts
    ),
    model AS (
      SELECT token, ln((c + 1.0) / (SELECT denom FROM tot)) AS logp
      FROM counts ORDER BY c DESC, token ASC LIMIT 2000
    ),
    ref_docs AS (
      SELECT doc_id, {_TOK_SQL} AS t FROM documents WHERE doc_id % 2 = 0
    ),
    ref_pairs AS (
      SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
      FROM ref_docs
    ),
    bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM ref_pairs GROUP BY 1, 2),
    bimodel AS (
      SELECT bc.w1, bc.w2,
             ln((c12 + 1.0) / (counts.c + (SELECT vp1 FROM tot))) AS logp2
      FROM bc JOIN counts ON counts.token = bc.w1
      ORDER BY c12 DESC, bc.w1 ASC, bc.w2 ASC LIMIT 20000
    ),
    dt AS (
      SELECT doc_id,
             CASE WHEN len(t) = 0 THEN [CAST(NULL AS VARCHAR)] ELSE t END AS t
      FROM (SELECT doc_id, {_TOK_SQL} AS t FROM documents)
    ),
    tok AS (
      SELECT doc_id, unnest(t) AS token,
             unnest(list_prepend(CAST(NULL AS VARCHAR), t)) AS prev
      FROM dt
    ),
    lp AS (
      SELECT doc_id, tok.token,
             CAST(CAST(
               CASE WHEN b.logp2 IS NOT NULL THEN b.logp2
                    WHEN tok.prev IS NOT NULL THEN
                      ln(0.4) + COALESCE(m.logp,
                                         (SELECT ln(1.0 / denom) FROM tot))
                    ELSE COALESCE(m.logp,
                                  (SELECT ln(1.0 / denom) FROM tot))
               END AS VARCHAR) AS DECIMAL(28,9)) AS lpd
      FROM tok
      LEFT JOIN model m ON m.token = tok.token
      LEFT JOIN bimodel b ON b.w1 = tok.prev AND b.w2 = tok.token
    ),
    agg AS (
      SELECT doc_id, COUNT(token) AS n_tok,
             SUM(CASE WHEN token IS NOT NULL THEN lpd END) AS s
      FROM lp GROUP BY doc_id
    ),
    avg9 AS (
      SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
             CASE WHEN n_tok > 0
                  THEN CAST(CAST(CAST(CAST(s AS DOUBLE) / n_tok AS VARCHAR)
                                 AS DECIMAL(38,9)) AS DOUBLE)
             END AS avg_logp
      FROM agg
    )
    SELECT doc_id, n_tok, avg_logp,
           CASE WHEN n_tok > 0
                THEN CAST(CAST(CAST(exp(-avg_logp)
                                    AS VARCHAR) AS DECIMAL(38,6)) AS DOUBLE)
           END AS ppl
    FROM avg9
    """,
)
def text_lm_ppl_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram stupid-backoff perplexity (public recipe: Brants et al.
    2007) over the same half-corpus reference as `text_lm_ppl`: one
    shifted-zip explode into (token, prev) rows, two broadcast joins
    against the bounded (vocab, bigram) tables, one hash-agg — still
    map-side at any corpus size; only the model tables are state."""
    from timesearch_spark.operators import textstats as ts

    docs = load(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    uni, bi, oov = ts.bigram_lm(ref, vocab_size=2000, bigram_size=20_000)
    return ts.lm_score_bigram(docs, uni, bi, oov).select(
        "doc_id", "n_tok", "avg_logp", "ppl"
    )


@q(
    "text_html_extract",
    # ORACLED r15 (slot from the scalar_newline→scalar_escape
    # consolidation): the DuckDB twin replays the full 5-stage regexp
    # chain — RE2 vs Java regex on deliberately RE2-compatible patterns
    # (no backrefs, no lookaround; the per-fixture parity suite in
    # tests/test_textstats.py pins the same equivalence cell-for-cell).
    # Replacement newlines are spelled chr(10): DuckDB's replacement
    # string treats backslash escapes differently from Java's.
    r"""
    WITH src AS (
      SELECT doc_id,
             '<html><head><title>t</title><style>p{color:red}</style>'
             || '<script>if(a<b && c>d){go(''</div>'')}</script></head>'
             || '<body><nav><ul><li>Home</li><li>About</li></ul></nav>'
             || '<h1>doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>'
             || replace(replace(replace(COALESCE(text, ''),
                  '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
             || '</p><div>footer&nbsp;&amp; fine print</div></body></html>'
               AS page,
             trim(regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(COALESCE(text, ''),
                 '[ \t\r\f\x0b]+', ' ', 'g'),
                 ' *\n *', chr(10), 'g'),
                 '\n{3,}', chr(10) || chr(10), 'g'),
                 '^\n+|\n+$', '', 'g')) AS canon
      FROM documents),
    s AS (
      SELECT doc_id, canon, regexp_replace(regexp_replace(regexp_replace(
               page,
               '<script\b.*?</script\s*>', '', 'gis'),
               '<style\b.*?</style\s*>', '', 'gis'),
               '<!--.*?-->', '', 'gs') AS x
      FROM src),
    b AS (
      SELECT doc_id, canon, regexp_replace(regexp_replace(x,
               '<br\s*/?>|<hr\s*/?>|</p\s*>|</div\s*>|</li\s*>|</tr\s*>|</h[1-6]\s*>|</blockquote\s*>|</pre\s*>|</section\s*>|</article\s*>|</title\s*>|</ul\s*>|</ol\s*>|</table\s*>',
               chr(10), 'gi'), '<[^>]*>', '', 'g') AS x
      FROM s),
    e AS (
      SELECT doc_id, canon, replace(replace(replace(replace(replace(
               replace(x, '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
               '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&') AS x
      FROM b),
    w AS (
      SELECT doc_id, canon, trim(regexp_replace(regexp_replace(
               regexp_replace(regexp_replace(x,
               '[ \t\r\f\x0b]+', ' ', 'g'),
               ' *\n *', chr(10), 'g'),
               '\n{3,}', chr(10) || chr(10), 'g'),
               '^\n+|\n+$', '', 'g')) AS x
      FROM e)
    SELECT doc_id, x AS extracted,
           CAST(strlen(x) AS BIGINT) AS text_bytes,
           (canon = '' OR strpos(x, canon) > 0) AS roundtrip_ok
    FROM w
    """,
)
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The web-corpus extraction stage (public recipe: the
    regex-expressible core of jusText/trafilatura-class extractors —
    CCNet/RefinedWeb-class pipelines all start from HTML-to-text):
    every document is wrapped in a deterministic page template (head
    with script/style, nav boilerplate, heading, entity-escaped body,
    footer) and textstats.html_to_text extracts it back — one
    whole-stage-codegen map pass, zero Python, zero shuffle.

    ``roundtrip_ok`` is the self-check: the extracted text must contain
    the whitespace-canonicalized original body (escape → embed →
    extract → unescape is the identity on content).  Since r15 the
    EXTRACTED TEXT itself is a graded column (hash-compared against the
    DuckDB RE2 replay above), not just its byte length."""
    from timesearch_spark.operators import textstats as ts

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    esc = F.regexp_replace(F.regexp_replace(F.regexp_replace(
        F.coalesce(F.col("text"), F.lit("")),
        "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    page = F.concat(
        F.lit("<html><head><title>t</title><style>p{color:red}</style>"
              "<script>if(a<b && c>d){go('</div>')}</script></head>"
              "<body><nav><ul><li>Home</li><li>About</li></ul></nav>"
              "<h1>doc "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"), esc,
        F.lit("</p><div>footer&nbsp;&amp; fine print</div></body></html>"),
    )
    canon = F.trim(F.regexp_replace(F.regexp_replace(F.regexp_replace(
        F.regexp_replace(
            F.coalesce(F.col("text"), F.lit("")),
            r"[ \t\r\f\x0b]+", " "), r" *\n *", "\n"), r"\n{3,}", "\n\n"),
        r"^\n+|\n+$", ""))
    out = docs.select(
        "doc_id",
        canon.alias("__canon"),
        ts.html_to_text(page).alias("__x"),
    )
    return out.select(
        "doc_id",
        F.col("__x").alias("extracted"),
        F.octet_length("__x").cast("long").alias("text_bytes"),
        ((F.col("__canon") == "") | F.contains("__x", F.col("__canon")))
        .alias("roundtrip_ok"),
    )


@q("text_quality_clf")  # rows-only: fastText-style hashed linear quality
# classifier — the third standard curation filter (heuristic gate + LM
# ppl + trained classifier); bounded driver-arm training, map-side
# decimal-deterministic scoring; pytest pins exactness and both arms
def text_quality_clf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier filter (public recipe: the WebText-vs-
    CommonCrawl logistic filter, Brown et al. 2020, with hashed
    bag-of-tokens features): in-corpus supervision — positives are a
    deterministic sample of the documents, negatives their
    character-reversed texts (reversed English tokenizes to non-English
    garbage) — then every document scored map-side: explode tokens →
    broadcast weight join → decimal-summed hash-agg, the lm_score plan
    shape.  Training is the bounded sample by contract; scoring is the
    100 TB path."""
    from timesearch_spark.operators.textstats import (
        quality_clf_score, train_quality_classifier,
    )

    docs = load(spark, sf_dir, "documents")
    # BOUNDED training sample (r13): the id cap keeps the labeled set
    # CONSTANT as the corpus scales — without it the sample grew with
    # sf, crossed the trainer's 2M-feature-row driver gate at 10x and
    # flipped the bench into per-iteration distributed GD (5.85x
    # scaling ratio for what is contractually an index-build-time fit;
    # the 100 TB story is fixed-size supervision, corpus-sized scoring)
    pos = docs.filter(
        (F.col("doc_id") % 5 == 0) & (F.col("doc_id") < 5000)
    ).select("text")
    neg = pos.select(F.reverse("text").alias("text"))
    W, b = train_quality_classifier(pos, neg, dim=1 << 14, iters=100)
    return quality_clf_score(docs, W, b, dim=1 << 14)


#: DuckDB mirror of _qclf_feature_idx's md5 oracle family: idx =
#: first-15-hex-digits of md5('qclf:' || s) mod dim (s = token, or the
#: space-joined adjacent pair) — injective for whitespace-split tokens.
_QCLF_H = "CAST(('0x' || substr(md5('qclf:' || {s}), 1, 15)) AS BIGINT) % 16384"


@q(
    "text_clf_score",
    # ORACLED r15 (slot from the scalar_datefmt→filter_timerange
    # consolidation): the classifier's SCORING path under a full DuckDB
    # replay — hashed unigram+bigram features (md5 oracle family, the
    # pipeline_dsir pattern), tf = count/n_features, broadcast weight
    # join against a FIXED closed-form weight table both engines
    # generate from range(dim), 9-dp shortest-repr per-term rounding,
    # DECIMAL(28,9) order-independent sum, and score derived from the
    # PINNED 9-dp z (the avg_logp→ppl recipe; exp's residual ulp risk
    # absorbed by 6-dp score rounding, margin in tools/ulp_margin.py).
    # TRAINING is deliberately outside the oracle: GD float evolution
    # is arm/partitioning-sensitive by design and stays pytest-pinned
    # (text_quality_clf, bit-deterministic refit) — what 100 TB scoring
    # runs is THIS plan.
    f"""
    WITH dtok AS (
      SELECT doc_id, {_TOK_SQL} AS t FROM documents
    ),
    feats AS (
      SELECT doc_id,
             list_concat(
               list_transform(t, x -> {_QCLF_H.format(s='x')}),
               CASE WHEN len(t) >= 2 THEN
                 list_transform(range(1, len(t)), i ->
                   {_QCLF_H.format(
                       s="t[CAST(i AS INT)] || ' ' || t[CAST(i + 1 AS INT)]")})
               ELSE CAST([] AS BIGINT[]) END
             ) AS idxs
      FROM dtok
    ),
    ex AS (
      SELECT doc_id, COALESCE(len(idxs), 0) AS nf,
             unnest(CASE WHEN COALESCE(len(idxs), 0) = 0
                         THEN [CAST(NULL AS BIGINT)] ELSE idxs END) AS idx
      FROM feats
    ),
    wt AS (
      SELECT CAST(range AS INT) AS idx,
             CAST((range * 1103515245 + 12345) % 2001 - 1000 AS DOUBLE)
               / 1000.0 AS w
      FROM range(16384)
    ),
    dcnt AS (
      SELECT doc_id, idx, COUNT(idx) AS c, MAX(nf) AS nf
      FROM ex GROUP BY doc_id, idx
    ),
    contrib AS (
      SELECT doc_id, c,
             CAST(CAST(
               CASE WHEN nf > 0
                    THEN (CAST(c AS DOUBLE) / nf) * COALESCE(w, 0.0) END
               AS VARCHAR) AS DECIMAL(28,9)) AS zc
      FROM dcnt LEFT JOIN wt USING (idx)
    ),
    agg AS (
      SELECT doc_id, SUM(c) AS nf, SUM(zc) AS z
      FROM contrib GROUP BY doc_id
    ),
    fin AS (
      SELECT doc_id, CAST((nf + 1) // 2 AS BIGINT) AS n_tok,
             CAST(CAST(CAST(COALESCE(CAST(z AS DOUBLE), 0.0) - 0.25
                            AS VARCHAR) AS DECIMAL(38,9)) AS DOUBLE) AS z9
      FROM agg
    )
    SELECT doc_id, n_tok, z9 AS z,
           CAST(CAST(CAST(1.0 / (1.0 + exp(-z9)) AS VARCHAR)
                     AS DECIMAL(38,6)) AS DOUBLE) AS score
    FROM fin
    """,
)
def text_clf_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality classifier's 100 TB path — map-side scoring
    (textstats.quality_clf_score) — promoted under a DuckDB oracle
    (r15, VERDICT #3): explode hashed unigram+bigram features →
    broadcast weight join → decimal(28,9) 9-dp sums → sigmoid of the
    pinned 9-dp logit.  The weight table is a FIXED closed-form LCG
    ramp over the full feature space (w(idx) = ((idx·1103515245 +
    12345) mod 2001 − 1000)/1000 ∈ [−1, 1]), generated identically by
    spark.range and DuckDB range() — every feature hits a real weight,
    so the whole join+sum+sigmoid plan is hash-graded end to end.
    Training stays pytest-pinned in text_quality_clf (the GD fit is
    arm-sensitive float evolution by design; scoring is the
    deterministic contract)."""
    from timesearch_spark.operators.textstats import (
        _QCLF_VERSION_IDX, QCLF_FEATURE_VERSION, quality_clf_score,
    )

    dim = 1 << 14
    docs = load(spark, sf_dir, "documents")
    W = spark.range(dim).select(
        F.col("id").cast("int").alias("idx"),
        (
            (F.pmod(F.col("id") * F.lit(1103515245) + F.lit(12345),
                    F.lit(2001)) - F.lit(1000)).cast("double")
            / F.lit(1000.0)
        ).alias("w"),
    ).unionByName(
        spark.range(1).select(
            F.lit(_QCLF_VERSION_IDX).cast("int").alias("idx"),
            F.lit(float(QCLF_FEATURE_VERSION)).alias("w"),
        )
    )
    return quality_clf_score(docs, W, bias=-0.25, dim=dim,
                             hash_family="md5")


@q("pipeline_curate")  # end-to-end curation ladder — rows-only + pytest
def pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-curation composition (pipeline.curate_corpus):
    quality signals → language/length/repetition gate → exact dedup →
    transitively-closed minhash near-dup removal → deterministic split,
    as ONE plan.  Each rung is the oracled operator it names
    (text_profile, dedup_exact, dedup_minhash_*, dedup_cluster,
    pipeline_split); this entry pins their composition."""
    return pl.curate_corpus(load(spark, sf_dir, "documents"))


@q(
    "pipeline_shuffle",
    """
    WITH k AS (
      SELECT doc_id, md5('r3:' || CAST(doc_id AS VARCHAR)) AS key
      FROM documents
    ),
    s AS (
      SELECT doc_id, key,
             CAST((strpos('0123456789abcdef', substr(key, 1, 1)) - 1) % 16
                  AS INT) AS shard
      FROM k
    )
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY key, doc_id)
                AS BIGINT) AS pos
    FROM s
    """,
)
def pipeline_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded global shuffle + sharding
    (pipeline.deterministic_shuffle): md5-keyed permutation, hex-nibble
    shard, per-shard rank — no global single-partition sort anywhere in
    the plan; a loader walking shards round-robin by pos reads the full
    permutation."""
    return pl.deterministic_shuffle(
        load(spark, sf_dir, "documents"), seed="r3", num_shards=16
    )


#: md5 feature hash as inline DuckDB SQL (the Spark twin is
#: textstats._qclf_feature_idx's md5 family): first 15 hex digits of
#: md5('dsir:' || s) as a 60-bit int, mod the DSIR dim (4096).
_DSIR_H = ("CAST(('0x' || substr(md5('dsir:' || {s}), 1, 15)) AS BIGINT) "
           "% 4096")


@q(
    "pipeline_dsir",
    # Promoted r14 (slot freed by the media_decode consolidation),
    # registered through the md5 hash family so DuckDB replays the
    # ENTIRE pipeline — hashed unigram+bigram bucket counts for both
    # corpora, add-1 LLR per bucket, decimal(28,9)-summed scoring,
    # md5-derived Gumbel keys, top-k — exactly the dedup_minhash_lsh
    # oracle-replay pattern (xx64 stays production:
    # pipeline_dsir_xx64 below, same plan shape).  Determinism recipe
    # per column: LLRs are ln()-of-identical-rationals (Spark computes
    # them DRIVER-side with libm log; DuckDB ln is the same libm);
    # per-bucket contributions are 9-dp shortest-repr-rounded
    # (VARCHAR→DECIMAL = Spark's BigDecimal.valueOf semantics) and
    # summed as DECIMAL(28,9) (order-independent); logw/key are one
    # IEEE add + the same rounding.  RESIDUAL RISK (same class as
    # text_lm_ppl's exp): the Gumbel -ln(-ln(u)) is evaluated
    # per-engine (JVM Math.log vs libm, ≤1 ulp each) — a key within
    # 1 ulp of a .5e-9 midpoint could flip; the sf0.01/sf0.1
    # zero-mismatch probes are the empirical gate.
    f"""
    WITH dtok AS (
      SELECT doc_id, {_TOK_SQL} AS t FROM documents
    ),
    feats AS (
      SELECT doc_id,
             list_concat(
               list_transform(t, x -> {_DSIR_H.format(s='x')}),
               CASE WHEN len(t) >= 2 THEN
                 list_transform(range(1, len(t)), i ->
                   {_DSIR_H.format(
                       s="t[CAST(i AS INT)] || ' ' || t[CAST(i + 1 AS INT)]")})
               ELSE CAST([] AS BIGINT[]) END
             ) AS idxs
      FROM dtok
    ),
    ex AS (
      SELECT doc_id,
             unnest(CASE WHEN COALESCE(len(idxs), 0) = 0
                         THEN [CAST(NULL AS BIGINT)] ELSE idxs END) AS idx
      FROM feats
    ),
    tcnt AS (SELECT idx, COUNT(*) AS c FROM ex
             WHERE doc_id % 2 = 0 AND idx IS NOT NULL GROUP BY idx),
    rcnt AS (SELECT idx, COUNT(*) AS c FROM ex
             WHERE idx IS NOT NULL GROUP BY idx),
    den AS (
      SELECT (SELECT COALESCE(SUM(c), 0) FROM tcnt) + 4096.0 AS td,
             (SELECT COALESCE(SUM(c), 0) FROM rcnt) + 4096.0 AS rd
    ),
    llr AS (
      SELECT COALESCE(t.idx, r.idx) AS idx,
             ln((COALESCE(t.c, 0) + 1.0) / (SELECT td FROM den))
             - ln((COALESCE(r.c, 0) + 1.0) / (SELECT rd FROM den)) AS llr
      FROM tcnt t FULL JOIN rcnt r ON t.idx = r.idx
    ),
    dcnt AS (SELECT doc_id, idx, COUNT(idx) AS c FROM ex
             GROUP BY doc_id, idx),
    contrib AS (
      SELECT doc_id, c,
             CAST(CAST(CAST(c AS DOUBLE) * COALESCE(l.llr,
                    ln(1.0 / (SELECT td FROM den))
                    - ln(1.0 / (SELECT rd FROM den)))
                  AS VARCHAR) AS DECIMAL(28,9)) AS w
      FROM dcnt LEFT JOIN llr l USING (idx)
    ),
    agg AS (
      SELECT doc_id, SUM(c) AS nf,
             SUM(CASE WHEN c > 0 THEN w END) AS lw
      FROM contrib GROUP BY doc_id
    ),
    scored AS (
      SELECT doc_id, CAST(nf AS BIGINT) AS n_feat,
             CAST(CAST(CAST(COALESCE(CAST(lw AS DOUBLE), 0.0) AS VARCHAR)
                  AS DECIMAL(38,9)) AS DOUBLE) AS logw
      FROM agg
    )
    SELECT doc_id, n_feat, logw,
           CAST(CAST(CAST(
             logw + (-ln(-ln(
               (CAST(CAST(('0x' || substr(md5('dsir:'
                     || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                     AS DOUBLE) + 0.5)
               / 1152921504606846976.0)))
           AS VARCHAR) AS DECIMAL(38,9)) AS DOUBLE) AS key
    FROM scored
    ORDER BY key DESC, doc_id ASC LIMIT 100
    """,
)
def pipeline_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (public recipe: Xie et
    al. 2023): target = the even-id half of the corpus, raw pool = all
    of it; every document scored by its hashed-n-gram log-likelihood
    ratio (two bounded bucket models collected once, libm-log ratios
    broadcast back, decimal-summed scoring — the lm_score shape), then
    a deterministic Gumbel top-k picks the training subset.  One
    explode + broadcast join + hash-agg over the pool; models and the
    selection are the only state.

    ORACLE-REPLAY hash family (md5) — production users run
    ``pipeline_dsir_xx64`` (identical plan shape, one 8-byte hash per
    feature instead of a 128-bit string hash)."""
    docs = load(spark, sf_dir, "documents")
    target = docs.filter(F.col("doc_id") % 2 == 0)
    return pl.dsir_resample(docs, target, k=100, dim=1 << 12,
                            hash_family="md5")


@q("pipeline_dsir_xx64")  # production hash family — rows-only; pytest
# pins the pure-Python twin at the decimal contract, rerun determinism,
# and selection bias (tests/test_pipeline.py); the md5 oracle twin
# above pins the full pipeline shape externally
def pipeline_dsir_xx64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-default DSIR entry: same resample as
    :func:`pipeline_dsir` under the xxhash64 feature family."""
    docs = load(spark, sf_dir, "documents")
    target = docs.filter(F.col("doc_id") % 2 == 0)
    return pl.dsir_resample(docs, target, k=100, dim=1 << 12)


# =========================================================================
# Registry ordering: the driver emits CORRECTNESS rows for the FIRST 50
# registered queries only.  Same-table scalar queries are consolidated
# (one map pass covers several SURVEY §2 ops — see each docstring) and
# minhash/simhash are registered through their md5 hash family (oracle-
# replayable) so ALL oracled queries land inside the window.  The
# rows-only (no-oracle) tail is the genuinely engine-private set: the
# xxhash64 production twins of minhash/simhash, float32 BLAS, and
# probed LSH — recall/property-tested in pytest (test_dedup.py,
# test_similarity.py).
# =========================================================================

QUERIES = {
    **{k: v for k, v in QUERIES.items() if k in ORACLE},
    **{k: v for k, v in QUERIES.items() if k not in ORACLE},
}
# HEADROOM POLICY: the oracled set exactly fills the 50-row window —
# there is NO free slot.  To add a new oracled query you must first make
# room explicitly, by either (a) consolidating two existing oracled
# queries into one multi-op pass (the scalar_* pattern: one projection
# covers several SURVEY §2 scalar ops, each pinned by the one oracle),
# or (b) demoting an existing oracled query to the rows-only tail WITH a
# pytest exactness pin against an oracled or sequential twin (the
# xxhash64-family pattern) — AND record the decision in
# ORACLE_SLOT_SOURCES below: every oracled query outside the frozen
# charter must name the slot it took.  Silently registering a 51st
# oracled query would evict the last one from grading — these asserts
# plus tests/test_queries.py turn that into a loud, reviewed decision.

#: The pre-r13 oracled set — frozen.  A query leaving it needs a
#: demotion pin; nothing is ever added to it.
ORACLE_CHARTER = frozenset({
    "anti_not_exists", "count_max", "decontaminate", "dedup_cluster",
    "dedup_exact", "dedup_ids", "dedup_incremental",
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash",
    "equi_join_thread", "events_windows", "filter_prefix",
    "filter_sentinel", "filter_threshold", "filter_timerange",
    "media_stats", "merge_anti_join", "ngram_top", "pipeline_pack",
    "pipeline_shuffle", "pipeline_split", "point_lookup",
    "project_case", "quota_sample", "redact_pii", "scalar_base36",
    "scalar_datefmt", "scalar_escape", "scalar_newline",
    "self_join_parent", "sessionize", "similarity_topk_ivf",
    "sort_computed_key", "sort_null_marshal", "sort_score_desc",
    "text_profile", "tree_depth", "tree_render", "tree_stats",
    "union_tagged", "upsert_edits", "upsert_merge",
    "window_latest_version", "window_rank_children",
})

#: Charter queries DEMOTED to the rows-only tail: name → the demotion's
#: exactness story (each must carry a pytest pin).  The charter set
#: itself stays frozen; membership of the live oracled set is
#: charter − demoted + slot-sourced additions.
ORACLE_DEMOTED = {
    "tree_stats":
        "r14: pure rollup of the oracled tree_depth relation (which now "
        "hash-checks the phantom column too); derivability pinned in "
        "tests/test_queries.py — the slot grades dedup_intra_lines",
    "scalar_newline":
        "r15 consolidation: its flatten_newlines/sanitize_braces/"
        "split_any Column expressions are hash-graded inside the oracled "
        "scalar_escape "
        "(documents.text) — function identity pinned in "
        "tests/test_queries.py; the slot grades text_html_extract",
    "scalar_datefmt":
        "r15 consolidation: its listing_time/human_time/event_ts_sec "
        "expressions are hash-graded inside the oracled filter_timerange "
        "(same events "
        "grain) — function identity pinned in tests/test_queries.py; "
        "the slot grades text_clf_score",
}

#: Slot provenance for every post-charter oracled query: name → where
#: its window slot came from (a consolidation or a demotion).  The
#: import-time assert below and tests/test_queries.py fail on any
#: oracled addition missing an entry here.
ORACLE_SLOT_SOURCES = {
    "text_lm_ppl":
        "r13 demotion: enrich_join (same function object as the oracled "
        "window_latest_version) moved to the rows-only tail",
    "similarity_brute":
        "r14 consolidation: similarity_topk + similarity_neardup_brute "
        "merged under one brute-cosine oracle (both demoted to rows-only "
        "with partition pins)",
    "media_decode":
        "r14 consolidation: media_features + media_frames merged under "
        "one Arrow-decode oracle (both demoted to rows-only with "
        "partition pins)",
    "text_lm_ppl_bigram":
        "r14 promotion into the slot freed by the similarity_brute "
        "consolidation",
    "pipeline_dsir":
        "r14 promotion into the slot freed by the media_decode "
        "consolidation",
    "dedup_intra_lines":
        "r14 promotion into the slot freed by the tree_stats demotion",
    "text_html_extract":
        "r15 promotion into the slot freed by the scalar_newline "
        "demotion (its ops consolidated into scalar_escape)",
    "text_clf_score":
        "r15 promotion into the slot freed by the scalar_datefmt "
        "demotion (its ops consolidated into filter_timerange)",
}

assert max(i for i, k in enumerate(QUERIES) if k in ORACLE) <= 49, (
    "oracled set grew past the driver's 50-row CORRECTNESS window; "
    "consolidate or demote a query first (see HEADROOM POLICY above)"
)
assert set(ORACLE) == \
    ((ORACLE_CHARTER - set(ORACLE_DEMOTED)) | set(ORACLE_SLOT_SOURCES)) \
    and ORACLE_CHARTER.isdisjoint(ORACLE_SLOT_SOURCES) \
    and set(ORACLE_DEMOTED) <= ORACLE_CHARTER, (
    "oracled set drifted from charter − demotions + slot-source "
    "registry — any oracled addition must record its slot in "
    "ORACLE_SLOT_SOURCES and any charter demotion its pin in "
    "ORACLE_DEMOTED (see HEADROOM POLICY above): "
    f"{sorted(set(ORACLE) ^ ((ORACLE_CHARTER - set(ORACLE_DEMOTED)) | set(ORACLE_SLOT_SOURCES)))}"
)
