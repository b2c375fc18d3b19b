"""The driver-facing operator/query surface (SURVEY.md §2C + training-data
pipeline ops).

Each entry couples an idiomatic-Spark DataFrame implementation with an
ANSI-SQL oracle that DuckDB runs over the same parquet tables. Naming rule:
every computed column is aliased IDENTICALLY in both. Float policy: doubles
that cross engines are either (a) summed then ``round(x, 2|4)``, or
(b) pre-quantized to int64 (``floor(x*1000)``) so arithmetic is exact and
order-insensitive in both engines.

Scale notes (100 TB / 1000-executor intent) are in each docstring; testdata
sizes in TESTDATA.md.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tika_wrap_spark.portability import enter_worker, make_portable


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# §2C relational checklist
# ---------------------------------------------------------------------------


def q_scan_parquet(spark, d):
    """Corpus scan (§2A#1). At scale: Iceberg scan with partition pruning +
    min/max file skipping; here a raw parquet scan with column pruning."""
    return _t(spark, d, "region").select("r_regionkey", "r_name")


SQL_SCAN_PARQUET = "SELECT r_regionkey, r_name FROM region"


def q_source_single(spark, d):
    """Point lookup of one document (§2A#2 — the reference's whole API is
    parse ONE file, src/java-env.h:17). The doc_id equality predicate
    pushes to the scan; at 100 TB an Iceberg identity-partition or z-order
    on doc_id turns this into a single-file probe."""
    return (
        _t(spark, d, "documents")
        .filter(F.col("doc_id") == 42)
        .select("doc_id", "lang", "source", "n_chars", F.md5(F.col("text").cast("binary")).alias("text_md5"))
    )


SQL_SOURCE_SINGLE = """
SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
FROM documents WHERE doc_id = 42
"""


def q_project_filter(spark, d):
    """Projection + predicate (§2A#3). Both push to the parquet scan
    (PushedFilters in .explain); at 100 TB this is the difference between
    reading 2 columns of matching row-groups and reading everything."""
    li = _t(spark, d, "lineitem")
    return li.select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice").filter(
        (F.col("l_quantity") > 30)
        & (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
    )


SQL_PROJECT_FILTER = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
WHERE l_quantity > 30 AND l_shipdate >= TIMESTAMP '1997-01-01'
"""


def q_mime_route(spark, d):
    """Content-based routing (§2A#4): CASE over payload magic, then a
    partial-aggregated count — no shuffle beyond the final 3-group agg."""
    docs = _t(spark, d, "documents")
    route = (
        F.when(F.col("text").startswith("%PDF-"), F.lit("pdf"))
        .when(F.lower(F.col("text")).contains("<html"), F.lit("html"))
        .when(F.col("n_chars") < 100, F.lit("short_text"))
        .otherwise(F.lit("text"))
    )
    return docs.select(route.alias("route")).groupBy("route").agg(F.count("*").alias("n"))


SQL_MIME_ROUTE = """
SELECT CASE WHEN text LIKE '%PDF-%' AND starts_with(text, '%PDF-') THEN 'pdf'
            WHEN contains(lower(text), '<html') THEN 'html'
            WHEN n_chars < 100 THEN 'short_text'
            ELSE 'text' END AS route, count(*) AS n
FROM documents GROUP BY 1
"""


def q_explode_spans(spark, d):
    """Array flatten with ordinality (§2B archive row): posexplode is the
    relational view of the interleaved spans array. Narrow op — no shuffle."""
    emb = _t(spark, d, "embeddings").filter(F.col("vec_id") < 50)
    return emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).select(
        "vec_id",
        "pos",
        F.floor(F.col("val").cast("double") * 10000).cast("long").alias("val_q"),
    )


SQL_EXPLODE_SPANS = """
SELECT vec_id, i - 1 AS pos,
       CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT) AS val_q
FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
WHERE vec_id < 50
"""


def q_layout_sort(spark, d):
    """Reading-order sort inside a doc (pdf_extract core): window
    row_number per key. One shuffle on the partition key."""
    li = _t(spark, d, "lineitem").filter(F.col("l_orderkey") < 1000)
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    return li.select(
        "l_orderkey", "l_linenumber", F.row_number().over(w).alias("rn")
    )


SQL_LAYOUT_SORT = """
SELECT l_orderkey, l_linenumber,
       row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS rn
FROM lineitem WHERE l_orderkey < 1000
"""


def q_offset_rescan(spark, d):
    """Running offset = sum of preceding kept lengths (§1.1 ordering
    semantics) as a window prefix-sum."""
    li = _t(spark, d, "lineitem").filter(F.col("l_orderkey") < 1000)
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = F.coalesce(F.sum("l_quantity").over(w), F.lit(0.0))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(off, 2).alias("offset"),
    )


SQL_OFFSET_RESCAN = """
SELECT l_orderkey, l_linenumber,
       round(coalesce(sum(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0), 2) AS offset
FROM lineitem WHERE l_orderkey < 1000
"""


def q_span_assembly(spark, d):
    """Re-nest ordered members per group (ordered collect_list ≡
    array_agg ORDER BY). String-joined so the oracle compare is exact."""
    docs = _t(spark, d, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.concat_ws(
            "|", F.array_sort(F.collect_list(F.lpad(F.col("doc_id").cast("string"), 8, "0")))
        ).alias("doc_seq"),
    )


SQL_SPAN_ASSEMBLY = """
SELECT lang, count(*) AS n_docs,
       string_agg(lpad(doc_id::VARCHAR, 8, '0'), '|' ORDER BY lpad(doc_id::VARCHAR, 8, '0')) AS doc_seq
FROM documents GROUP BY lang
"""


def q_meta_map(spark, d):
    """Metadata map -> 'key{]value' lines (§2A#7 flatten; separator literal
    from /root/reference/src/java-env.cpp:300). Values stringify — pins the
    reference's lossy coercion of non-strings."""
    docs = _t(spark, d, "documents").filter(F.col("doc_id") < 50)
    m = F.create_map(
        F.lit("lang"), F.col("lang"),
        F.lit("source"), F.col("source"),
        F.lit("n_chars"), F.col("n_chars").cast("string"),
    )
    return (
        docs.select("doc_id", F.explode(F.map_entries(m)).alias("e"))
        .select("doc_id", F.concat_ws("{]", F.col("e.key"), F.col("e.value")).alias("kv"))
    )


SQL_META_MAP = """
SELECT doc_id, 'lang{]' || lang AS kv FROM documents WHERE doc_id < 50
UNION ALL
SELECT doc_id, 'source{]' || source FROM documents WHERE doc_id < 50
UNION ALL
SELECT doc_id, 'n_chars{]' || n_chars::VARCHAR FROM documents WHERE doc_id < 50
"""


def q_meta_parse(spark, d):
    """Inverse of meta_map: split on '{]', keep well-formed pairs
    (reference demo loop, example/demo1.cpp:30-41)."""
    lines = q_meta_map(spark, d)
    parts = F.split(F.col("kv"), "\\{\\]")
    return (
        lines.select("doc_id", parts.alias("p"))
        .filter(F.size("p") == 2)
        .select("doc_id", F.col("p")[0].alias("k"), F.col("p")[1].alias("v"))
    )


SQL_META_PARSE = f"""
WITH lines AS ({SQL_META_MAP})
SELECT doc_id, str_split(kv, '{{]')[1] AS k, str_split(kv, '{{]')[2] AS v
FROM lines WHERE len(str_split(kv, '{{]')) = 2
"""


def q_agg_metrics(spark, d):
    """Per-key tallies (lineage analog): partial/final hash agg, map-side
    combine makes this shuffle only one row per (key, partition)."""
    ev = _t(spark, d, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


SQL_AGG_METRICS = """
SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS users,
       round(sum(value), 2) AS sum_value, round(avg(value), 4) AS avg_value
FROM events GROUP BY event_type
"""


def q_window_events(spark, d):
    """Time-bucketed throughput metrics over the events stream table."""
    ev = _t(spark, d, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").cast("string").alias("bucket_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


SQL_WINDOW_EVENTS = """
SELECT CAST(time_bucket(INTERVAL '5 minutes', ts) AS VARCHAR) AS bucket_start,
       event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_join_fixture(spark, d):
    """Broadcast equi-join against a small dimension (fixture-verify shape):
    customer broadcasts, no shuffle of the fact side."""
    orders = _t(spark, d, "orders")
    cust = _t(spark, d, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


SQL_JOIN_FIXTURE = """
SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_anti_join_resume(spark, d):
    """Resume primitive (north_rule): skip already-done keys via left_anti
    (NOT EXISTS). At scale the 'done' side is small -> broadcast."""
    cust = _t(spark, d, "customer")
    done = _t(spark, d, "orders").filter(F.col("o_totalprice") > 150000)
    return cust.join(
        done, cust.c_custkey == done.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


SQL_ANTI_JOIN_RESUME = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000
)
"""


def q_dedup(spark, d):
    """Deterministic dedup: keep first row per key by explicit order
    (row_number = 1), never dropDuplicates' arbitrary pick — idempotence
    under re-runs requires a total order."""
    orders = _t(spark, d, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


SQL_DEDUP = """
SELECT o_custkey, o_orderkey, o_totalprice FROM orders
QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) = 1
"""


def q_sort_limit_topk(spark, d):
    """Top-k (skew diagnostics, §2C): Spark plans TakeOrderedAndProject —
    per-partition heaps, no global sort."""
    return (
        _t(spark, d, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(10)
    )


SQL_SORT_LIMIT_TOPK = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def q_union_paths(spark, d):
    """Merge per-kind branch outputs (html/pdf/media paths) — unionByName
    keeps lineage of which branch produced each row."""
    li = _t(spark, d, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_linenumber", F.lit("returned").alias("branch")
    )
    b = li.filter(F.col("l_returnflag") == "A").select(
        "l_orderkey", "l_linenumber", F.lit("accepted").alias("branch")
    )
    return a.unionByName(b)


SQL_UNION_PATHS = """
SELECT l_orderkey, l_linenumber, 'returned' AS branch FROM lineitem WHERE l_returnflag = 'R'
UNION ALL
SELECT l_orderkey, l_linenumber, 'accepted' AS branch FROM lineitem WHERE l_returnflag = 'A'
"""


_NORM = "regexp_replace(trim(lower(text)), '\\\\s+', ' ')"  # spark dialect
_NORM_DUCK = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"


def q_string_funcs(spark, d):
    """Tokenize/clean built-ins — the string toolbox every extraction or
    quality pass leans on; all JVM-side, whole-stage codegen'd."""
    docs = _t(spark, d, "documents")
    norm = F.expr(_NORM)
    return docs.select(
        "doc_id",
        F.length(norm).alias("n_chars_norm"),
        F.size(F.split(norm, " ")).alias("n_tokens"),
        F.split(norm, " ")[0].alias("first_tok"),
        F.upper(F.substring(norm, 1, 10)).alias("head_up"),
    )


SQL_STRING_FUNCS = f"""
SELECT doc_id, length({_NORM_DUCK}) AS n_chars_norm,
       len(str_split({_NORM_DUCK}, ' ')) AS n_tokens,
       str_split({_NORM_DUCK}, ' ')[1] AS first_tok,
       upper(substr({_NORM_DUCK}, 1, 10)) AS head_up
FROM documents
"""


def q_hash_verify(spark, d):
    """Order-sensitive row hash (span-sequence hash analog): md5 over a
    canonical concat — the fixture-equality primitive."""
    li = _t(spark, d, "lineitem").filter(F.col("l_orderkey") < 500)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.md5(
            F.concat_ws(
                "|", "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"
            ).cast("binary")
        ).alias("row_hash"),
    )


SQL_HASH_VERIFY = """
SELECT l_orderkey, l_linenumber,
       md5(concat_ws('|', l_orderkey, l_linenumber, l_returnflag, l_linestatus)) AS row_hash
FROM lineitem WHERE l_orderkey < 500
"""


def q_tpch_q1(spark, d):
    """TPC-H Q1 pricing summary — partial+final hash agg exercise."""
    li = _t(spark, d, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-06-01").cast("timestamp_ntz")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
        F.round(F.sum(charge), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-06-01'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_join_agg(spark, d):
    """TPC-H Q3 shape: dim filter -> broadcast -> fact join -> hash agg ->
    top-k. The canonical 100 TB pattern: small sides broadcast, the one big
    shuffle is the groupBy on o_orderkey."""
    cust = _t(spark, d, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, d, "orders")
    li = _t(spark, d, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(20)
    )


SQL_TPCH_JOIN_AGG = """
SELECT o_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 20
"""


def q_sessionize(spark, d):
    """Event sessionization (30-min inactivity gap): lag window marks
    session starts, running sum assigns session indexes, one aggregate row
    per session. Two window passes + one agg, all on the same user_id
    partitioning — a single shuffle at 100 TB."""
    ev = _t(spark, d, "events").filter(F.col("user_id") < 40)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    is_new = F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0))
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = ev.withColumn("session_idx", F.sum(is_new).over(cum))
    return sess.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
        (F.max(F.unix_timestamp("ts")) - F.min(F.unix_timestamp("ts"))).alias(
            "duration_s"
        ),
    )


SQL_SESSIONIZE = """
WITH marked AS (
  -- floor(epoch) matches Spark's unix_timestamp (whole-second truncation)
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events WHERE user_id < 40
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, event_id, ts,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_idx
  FROM marked
)
SELECT user_id, session_idx, count(*) AS n_events,
       min(event_id) AS first_event, max(event_id) AS last_event,
       CAST(max(floor(epoch(ts))) - min(floor(epoch(ts))) AS BIGINT) AS duration_s
FROM sess GROUP BY user_id, session_idx
"""


def q_cube_metrics(spark, d):
    """Full CUBE over (lang, source): all four grouping combinations in one
    partial-aggregable pass (the rollup sibling; Spark expands grouping
    sets map-side, so the shuffle still carries only aggregated cells)."""
    docs = _t(spark, d, "documents")
    return (
        docs.cube("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .select(
            F.coalesce("lang", F.lit("(all)")).alias("lang"),
            F.coalesce("source", F.lit("(all)")).alias("source"),
            F.col("n_docs").cast("long").alias("n_docs"),
            "sum_chars",
        )
    )


SQL_CUBE_METRICS = """
SELECT coalesce(lang, '(all)') AS lang, coalesce(source, '(all)') AS source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY CUBE (lang, source)
"""


def q_rollup_metrics(spark, d):
    """Hierarchical totals via ROLLUP (order status -> priority -> grand
    total) — partial-aggregable in one pass; null grouping slots coalesced
    to a sentinel so both engines emit identical rows."""
    orders = _t(spark, d, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            "n_orders",
            "revenue",
        )
    )


SQL_ROLLUP_METRICS = """
SELECT coalesce(o_orderstatus, '(all)') AS status,
       coalesce(o_orderpriority, '(all)') AS priority,
       count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
"""


def q_tpch_q6(spark, d):
    """TPC-H Q6 forecasting revenue — pure scan-filter-agg; every predicate
    pushes to the parquet scan, result is one row."""
    li = _t(spark, d, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.04)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        )
    )


SQL_TPCH_Q6 = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.04 AND 0.06 AND l_quantity < 24
"""


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_pivot_events(spark, d):
    """Pivot (long -> wide): per-user counts by event type. The pivot value
    list is FIXED so the plan is a single partial-aggregable hash agg over
    conditional counts — no distinct-values pre-pass, no second shuffle."""
    ev = _t(spark, d, "events").filter(F.col("user_id") < 60)
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in _EVENT_TYPES],
    )


SQL_PIVOT_EVENTS = """
SELECT user_id,
       {cols}
FROM events WHERE user_id < 60 GROUP BY user_id
""".format(
    cols=",\n       ".join(
        f"count(*) FILTER (WHERE event_type = '{t}') AS n_{t}" for t in _EVENT_TYPES
    )
)


def q_asof_join(spark, d):
    """As-of join — for every purchase, the latest view at-or-before it for
    the same user (attribution shape). Spark lacks a native ASOF operator;
    the idiomatic composition is a tagged union + running last_value window
    (one shuffle on user_id, no range self-join blowup — the pattern scales
    to per-user event streams of any length). DuckDB oracles it with its
    native ASOF JOIN."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    ev = _t(spark, d, "events")
    tagged = ev.filter(F.col("event_type").isin("purchase", "view")).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        # views sort before purchases at equal ts => inclusive <= semantics
        F.when(F.col("event_type") == "view", F.lit(0)).otherwise(F.lit(1)).alias("tag"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = tagged.withColumn(
        "last_view_ts",
        F.last(F.when(F.col("tag") == 0, F.col("ts")), ignorenulls=True).over(w),
    )
    return (
        runs.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").cast("string").alias("purchase_ts"),
            F.col("last_view_ts").cast("string").alias("last_view_ts"),
            F.floor(
                F.unix_timestamp("ts") - F.unix_timestamp("last_view_ts")
            ).cast("long").alias("gap_sec"),
        )
    )


SQL_ASOF_JOIN = """
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), views AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
), matched AS (
  SELECT p.event_id AS purchase_id, p.user_id, p.ts AS p_ts, v.ts AS v_ts
  FROM purchases p ASOF LEFT JOIN views v
    ON p.user_id = v.user_id AND v.ts <= p.ts
)
SELECT purchase_id, user_id, CAST(p_ts AS VARCHAR) AS purchase_ts,
       CAST(v_ts AS VARCHAR) AS last_view_ts,
       CAST(floor(epoch(p_ts)) - floor(epoch(v_ts)) AS BIGINT) AS gap_sec
FROM matched
"""


def q_session_window(spark, d):
    """Sessionization via Spark's NATIVE session_window (streaming-capable
    merging session windows) rather than the lag/cumsum composition of
    `sessionize`. Boundary semantics differ by design: session_window
    merges on gap < 30min STRICT (an event at exactly start+30min opens a
    new session), which the lag-based oracle mirrors with `>= 1800` as the
    new-session mark."""
    ev = _t(spark, d, "events").filter(F.col("user_id") < 40)
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("string").alias("session_start"),
            "n_events",
            "first_event",
            "last_event",
        )
    )


SQL_SESSION_WINDOW = """
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800 THEN 1 ELSE 0 END AS is_new
  FROM events WHERE user_id < 40
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessioned AS (
  SELECT user_id, ts, event_id,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM marked
)
SELECT user_id, CAST(min(ts) AS VARCHAR) AS session_start,
       count(*) AS n_events, min(event_id) AS first_event, max(event_id) AS last_event
FROM sessioned GROUP BY user_id, session_idx
"""


def q_rollup_cascade(spark, d):
    """Hypertable-style continuous-aggregate cascade: raw events -> HOURLY
    partials -> DAILY re-aggregated FROM THE HOURLY LEVEL (never rescanning
    raw) — the invariant that makes continuous aggregates correct at scale.
    The oracle computes daily directly from raw, so a green hash proves
    re-aggregation == raw aggregation. Values are QUANTIZED to integers
    BEFORE the first aggregation — integer sums re-aggregate associatively
    (float sums don't: hourly-then-daily summation order flips rounding at
    boundaries); avg is derived at the end, never averaged-of-averages."""
    ev = _t(spark, d, "events")
    vq = F.floor(F.col("value").cast("double") * 1000).cast("long")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count("*").alias("n"), F.sum(vq).alias("svq"))
    daily = hourly.groupBy(
        F.date_trunc("day", "h").alias("day"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("svq").alias("svq"))
    return daily.select(
        F.col("day").cast("date").cast("string").alias("day"),
        "event_type",
        "n",
        F.col("svq").cast("long").alias("sum_value_q"),
        F.floor(F.col("svq") / F.col("n")).cast("long").alias("avg_value_q"),
    )


SQL_ROLLUP_CASCADE = """
SELECT CAST(date_trunc('day', ts) AS VARCHAR) AS day, event_type,
       count(*) AS n,
       CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT) AS sum_value_q,
       CAST(floor(sum(CAST(floor(CAST(value AS DOUBLE) * 1000) AS BIGINT))::DOUBLE / count(*)) AS BIGINT) AS avg_value_q
FROM events GROUP BY 1, 2
"""


KMV_K = 32


def q_sketch_kmv(spark, d):
    """KMV (bottom-k / k-minimum-values) distinct-count sketch — the
    mergeable cardinality estimator family HLL belongs to, built from
    engine-exact primitives: per group keep the k smallest md5(user_id)
    values; estimate = (k-1) / u_k where u_k is the k-th minimum hash
    mapped to (0,1). Deterministic bit-for-bit in BOTH engines (hex-string
    order + integer quantization), unlike engine-native HLL sketches whose
    internals differ. Output carries the exact distinct count too, so the
    row also RECORDS the sketch's observed error."""
    ev = _t(spark, d, "events")
    hashed = ev.select(
        "event_type", F.md5(F.col("user_id").cast("string").cast("binary")).alias("h")
    ).distinct()
    # TWO-STAGE bottom-k: a single window over event_type would funnel every
    # hash of a type through one task (5 types = 5 tasks at any scale).
    # Stage 1 takes bottom-k within (type, salt) buckets — parallel, bounded
    # output k*SALTS per type; stage 2 takes the exact global bottom-k of
    # those candidates. Bottom-k of per-bucket bottom-k's is exact, so the
    # one-pass oracle is unchanged.
    salts = 64
    w1 = Window.partitionBy(
        "event_type", F.pmod(F.xxhash64("h"), F.lit(salts))
    ).orderBy("h")
    cand = hashed.withColumn("rn1", F.row_number().over(w1)).filter(
        F.col("rn1") <= KMV_K
    )
    w = Window.partitionBy("event_type").orderBy("h")
    bottomk = cand.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= KMV_K
    )
    # u_k in (0,1): first 12 hex chars as an integer / 16^12
    u = F.conv(F.substring(F.max("h"), 1, 12), 16, 10).cast("double") / F.lit(
        float(16**12)
    )
    per_type = bottomk.groupBy("event_type").agg(
        F.count("*").alias("k_seen"),
        F.floor(F.lit(KMV_K - 1) / u).cast("long").alias("distinct_est"),
    )
    truth = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("distinct_true")
    )
    return per_type.join(truth, "event_type").select(
        "event_type", "k_seen", "distinct_est", "distinct_true"
    )


SQL_SKETCH_KMV = f"""
WITH hashed AS (
  SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM events
), ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM hashed
), bottomk AS (
  SELECT * FROM ranked WHERE rn <= {KMV_K}
), per_type AS (
  SELECT event_type, count(*) AS k_seen,
         CAST(floor(({KMV_K} - 1) /
              (('0x' || substr(max(h), 1, 12))::UBIGINT::DOUBLE / {float(16**12)!r}))
              AS BIGINT) AS distinct_est
  FROM bottomk GROUP BY event_type
)
SELECT p.event_type, p.k_seen, p.distinct_est, t.distinct_true
FROM per_type p JOIN (
  SELECT event_type, count(DISTINCT user_id) AS distinct_true FROM events GROUP BY 1
) t ON p.event_type = t.event_type
"""


# HyperLogLog layout: m=64 registers (6-bit index from the first hex byte),
# rho from the next 48 hash bits. Weights are quantized 2^(30-rho) integers
# so the register sum is EXACT in both engines; the alpha_m * m^2 bias
# numerator is one precomputed integer literal shared by both.
HLL_M = 64
HLL_RHO_CAP = 30
HLL_ALPHA_NUM = int(0.709 * HLL_M * HLL_M * (1 << HLL_RHO_CAP))
# leading-zero-bit count of the first nonzero hex digit (1..f)
_HLL_NIBBLE_LZ = {
    "1": 3, "2": 2, "3": 2, "4": 1, "5": 1, "6": 1, "7": 1,
    "8": 0, "9": 0, "a": 0, "b": 0, "c": 0, "d": 0, "e": 0, "f": 0,
}


def q_sketch_hll(spark, d):
    """HyperLogLog distinct-count sketch, engine-exact (the KMV pattern
    applied to the register-based estimator that actually runs at 100 TB —
    Spark's approx_count_distinct is HLL++, whose internal sketch bytes
    differ per engine, so this builds the classic Flajolet HLL from exact
    primitives instead): md5(user_id) -> 6-bit register index + rho =
    leading-zero-run of the next 48 bits; per-register max(rho); estimate
    alpha*m^2 / sum(2^-rho) computed in quantized integer arithmetic
    (weights 2^(30-rho), one integer division) so BOTH engines produce the
    identical estimate. No small-range correction branch — the output row
    carries the exact distinct count and quantized observed error, making
    the query a standing record of raw-sketch accuracy.

    Scale: one shuffle to (event_type, register) — 64*n_types cells — then
    a tiny per-type aggregate; fully partial-aggregable, mergeable across
    any partitioning, the property that makes HLL the 100 TB cardinality
    operator."""
    ev = _t(spark, d, "events")
    hashed = ev.select(
        "event_type", F.md5(F.col("user_id").cast("string").cast("binary")).alias("h")
    ).distinct()
    lz_digit = F.substring(
        F.regexp_replace(F.substring("h", 3, 12), "^0+", ""), 1, 1
    )
    extra = F.coalesce(
        *[F.when(lz_digit == k, F.lit(v)) for k, v in _HLL_NIBBLE_LZ.items()],
        F.lit(0),  # all-zero suffix: rho caps out below anyway
    )
    zeros = F.lit(12) - F.length(F.regexp_replace(F.substring("h", 3, 12), "^0+", ""))
    rho = F.least(zeros * 4 + extra + 1, F.lit(HLL_RHO_CAP))
    regs = hashed.select(
        "event_type",
        (F.conv(F.substring("h", 1, 2), 16, 10).cast("long") % HLL_M).alias("reg"),
        rho.alias("rho"),
    )
    per_reg = regs.groupBy("event_type", "reg").agg(F.max("rho").alias("m_rho"))
    weight = F.pow(F.lit(2.0), F.lit(HLL_RHO_CAP) - F.col("m_rho")).cast("long")
    per_type = per_reg.groupBy("event_type").agg(
        F.count("*").alias("n_registers"),
        F.sum(weight).alias("s_present"),
    )
    s_q = (
        (F.lit(HLL_M) - F.col("n_registers")) * F.lit(1 << HLL_RHO_CAP)
        + F.col("s_present")
    ).cast("long")
    est = F.expr(f"cast({HLL_ALPHA_NUM} as bigint) div s_q")
    truth = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("distinct_true")
    )
    sketched = per_type.withColumn("s_q", s_q).select(
        "event_type", "n_registers", est.alias("distinct_est")
    )
    return sketched.join(truth, "event_type").select(
        "event_type",
        "n_registers",
        "distinct_est",
        "distinct_true",
        F.floor(
            F.lit(1000)
            * F.abs(F.col("distinct_est") - F.col("distinct_true"))
            / F.col("distinct_true")
        ).cast("long").alias("err_q"),
    )


def _sql_sketch_hll() -> str:
    extra_cases = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in _HLL_NIBBLE_LZ.items()
    )
    return f"""
WITH hashed AS (
  SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM events
), bits AS (
  SELECT event_type,
         ('0x' || substr(h, 1, 2))::UBIGINT::BIGINT % {HLL_M} AS reg,
         least(
           (12 - length(regexp_replace(substr(h, 3, 12), '^0+', ''))) * 4
           + (CASE substr(regexp_replace(substr(h, 3, 12), '^0+', ''), 1, 1)
              {extra_cases} ELSE 0 END) + 1,
           {HLL_RHO_CAP}) AS rho
  FROM hashed
), per_reg AS (
  SELECT event_type, reg, max(rho) AS m_rho FROM bits GROUP BY 1, 2
), per_type AS (
  SELECT event_type, count(*) AS n_registers,
         CAST(sum(CAST(power(2, {HLL_RHO_CAP} - m_rho) AS BIGINT)) AS BIGINT) AS s_present
  FROM per_reg GROUP BY 1
), est AS (
  SELECT event_type, n_registers,
         {HLL_ALPHA_NUM} // (({HLL_M} - n_registers) * {1 << HLL_RHO_CAP} + s_present) AS distinct_est
  FROM per_type
)
SELECT e.event_type, e.n_registers, e.distinct_est, t.distinct_true,
       CAST(floor(1000.0 * abs(e.distinct_est - t.distinct_true) / t.distinct_true) AS BIGINT) AS err_q
FROM est e JOIN (
  SELECT event_type, count(DISTINCT user_id) AS distinct_true FROM events GROUP BY 1
) t ON e.event_type = t.event_type
"""


SQL_SKETCH_HLL = _sql_sketch_hll()


# irregular, non-overlapping [start, end) campaign periods — the interval
# dimension for the range join; single literal source for BOTH engines
RANGE_PERIODS: list[tuple[int, str, str]] = [
    (1, "1995-01-01", "1995-07-15"),
    (2, "1995-07-15", "1996-02-01"),
    (3, "1996-02-01", "1997-11-20"),
    (4, "1997-11-20", "1999-06-05"),
    (5, "1999-06-05", "2002-01-01"),
]


def q_range_join(spark, d):
    """Range (interval) join — orders matched to irregular campaign
    periods by o_orderdate ∈ [start, end). A naive non-equi join is a
    nested-loop O(orders x periods); the scale path BUCKETIZES: each
    period explodes to its covered months, the fact side equi-joins on its
    month (broadcast dim), then the exact range predicate filters. One
    narrow broadcast join, zero shuffles of the fact side."""
    orders = _t(spark, d, "orders")
    periods = spark.createDataFrame(
        RANGE_PERIODS, "period_id int, start_s string, end_s string"
    ).select(
        "period_id",
        F.to_timestamp("start_s").alias("p_start"),
        F.to_timestamp("end_s").alias("p_end"),
    )
    # explode every period to its covered calendar months (end-exclusive,
    # but trunc(end) kept: a period ending mid-month still covers it)
    months = periods.select(
        "period_id",
        "p_start",
        "p_end",
        F.explode(
            F.sequence(
                F.date_trunc("month", "p_start"),
                F.date_trunc("month", F.col("p_end") - F.expr("INTERVAL 1 SECOND")),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("month"),
    )
    fact = orders.withColumn("month", F.date_trunc("month", "o_orderdate"))
    matched = fact.join(F.broadcast(months), "month").filter(
        (F.col("o_orderdate") >= F.col("p_start"))
        & (F.col("o_orderdate") < F.col("p_end"))
    )
    return matched.groupBy("period_id").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
    )


def _sql_range_join() -> str:
    rows = ", ".join(
        "(%d, TIMESTAMP '%s', TIMESTAMP '%s')" % (pid, s, e)
        for pid, s, e in RANGE_PERIODS
    )
    return f"""
WITH periods(period_id, p_start, p_end) AS (VALUES {rows})
SELECT period_id, count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_total
FROM orders o JOIN periods p
  ON o.o_orderdate >= p.p_start AND o.o_orderdate < p.p_end
GROUP BY period_id
"""


SQL_RANGE_JOIN = _sql_range_join()


def q_funnel_conversion(spark, d):
    """Ordered event funnel (view -> click-after-view -> purchase-after-
    qualified-click) per user — the sequential-pattern op behind
    conversion/session analytics. Expressed as two STACKED running-min
    windows over the same (user_id, ts, event_id) ordering + one per-user
    reduce: all three share the user_id partitioning, so the whole funnel
    costs ONE shuffle regardless of corpus size; no self-joins, no
    per-stage re-scan."""
    ev = _t(spark, d, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    e2 = ev.withColumn(
        "view_ts", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    qual_click = (F.col("event_type") == "click") & F.col("view_ts").isNotNull()
    e3 = e2.withColumn(
        "qclick_ts", F.min(F.when(qual_click, F.col("ts"))).over(w)
    )
    qual_purchase = (F.col("event_type") == "purchase") & F.col("qclick_ts").isNotNull()
    per_user = e3.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.max((F.col("event_type") == "view").cast("long")).alias("s_view"),
        F.max(qual_click.cast("long")).alias("s_click"),
        F.max(qual_purchase.cast("long")).alias("s_purchase"),
    )
    return per_user.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        (F.col("s_view") + F.col("s_click") + F.col("s_purchase"))
        .cast("long")
        .alias("funnel_depth"),
        (F.col("s_purchase") == 1).alias("converted"),
    )


SQL_FUNNEL_CONVERSION = """
WITH e2 AS (
  SELECT user_id, ts, event_id, event_type,
         min(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_ts
  FROM events
), e3 AS (
  SELECT *,
         min(CASE WHEN event_type = 'click' AND view_ts IS NOT NULL THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS qclick_ts
  FROM e2
), per_user AS (
  SELECT user_id, count(*) AS n_events,
         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS s_view,
         max(CASE WHEN event_type = 'click' AND view_ts IS NOT NULL THEN 1 ELSE 0 END) AS s_click,
         max(CASE WHEN event_type = 'purchase' AND qclick_ts IS NOT NULL THEN 1 ELSE 0 END) AS s_purchase
  FROM e3 GROUP BY user_id
)
SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
       CAST(s_view + s_click + s_purchase AS BIGINT) AS funnel_depth,
       s_purchase = 1 AS converted
FROM per_user
"""


def q_tpch_q5(spark, d):
    """TPC-H Q5 (local-supplier revenue): the canonical 6-table join —
    region/nation broadcast (tiny dims), customer/supplier equi-joins, the
    one big shuffle is lineitem x orders; Catalyst + AQE pick the join
    order and strategies from the declarative plan (the point of
    expressing it relationally rather than hand-scheduling)."""
    region = _t(spark, d, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, d, "nation")
    cust = _t(spark, d, "customer")
    supp = _t(spark, d, "supplier")
    orders = _t(spark, d, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    li = _t(spark, d, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


SQL_TPCH_Q5 = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


def q_hot_keys(spark, d):
    """Hot-key detection over the events key distribution — the skew
    diagnostic that decides WHERE salting is needed (north_rule skew
    defense): per-user event counts z-scored against the population; a
    z >= 2 user is a shuffle hot spot. One partial-aggregable groupBy +
    a 1-row stats broadcast; the double arithmetic is the identical
    IEEE sequence in both engines (correctly-rounded ops on exact integer
    sums), so the quantized z is engine-exact."""
    ev = _t(spark, d, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
    stats = counts.agg(
        F.count("*").alias("n_users"),
        F.sum("n_events").alias("sum_n"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("sum_n2"),
    )
    mean = F.col("sum_n") / F.col("n_users")
    var = F.col("sum_n2") / F.col("n_users") - mean * mean
    # greatest(var, 1e-12): a degenerate all-equal-counts population must
    # yield z = 0, not 0/0 = NaN; same guard in the oracle
    z = F.lit(100) * (F.col("n_events") - mean) / F.sqrt(F.greatest(var, F.lit(1e-12)))
    return (
        counts.crossJoin(F.broadcast(stats))
        .select(
            "user_id",
            F.col("n_events").cast("long").alias("n_events"),
            F.floor(z).cast("long").alias("z_q"),
            (F.floor(z) >= 200).alias("is_hot"),
        )
    )


SQL_HOT_KEYS = """
WITH counts AS (
  SELECT user_id, count(*) AS n_events FROM events GROUP BY 1
), stats AS (
  SELECT count(*) AS n_users,
         CAST(sum(n_events) AS BIGINT) AS sum_n,
         CAST(sum(n_events * n_events) AS BIGINT) AS sum_n2
  FROM counts
)
SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
       CAST(floor(100 * (n_events - sum_n / n_users)
            / sqrt(greatest(sum_n2 / n_users - (sum_n / n_users) * (sum_n / n_users), 1e-12))) AS BIGINT) AS z_q,
       floor(100 * (n_events - sum_n / n_users)
            / sqrt(greatest(sum_n2 / n_users - (sum_n / n_users) * (sum_n / n_users), 1e-12))) >= 200 AS is_hot
FROM counts, stats
"""


def q_percentiles(spark, d):
    """Exact interpolated percentiles per event type (Spark `percentile` ==
    SQL quantile_cont). At 100 TB swap for approx_percentile — this is the
    exact-agreement baseline an approximation is judged against."""
    ev = _t(spark, d, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.max("value"), 2).alias("vmax"),
    )


SQL_PERCENTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.25), 4) AS p25,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(max(value), 2) AS vmax
FROM events GROUP BY event_type
"""


def q_approx_percentile(spark, d):
    """approx_percentile vs exact agreement (the sketch_kmv pattern applied
    to quantiles): per event type, the exact interpolated percentile, the
    sketch estimate, and the observed error — at 100 TB the Greenwald-Khanna
    sketch (partial-aggregable, bounded memory) is what actually runs, and
    this query is the standing record of what that approximation costs.

    Engine-exact oracle: with accuracy >> group size the GK sketch is
    rank-exact and returns the same discrete order statistic as DuckDB's
    ``quantile_disc`` (verified element-for-element); the error column is
    round()-quantized so both engines compute the identical integer."""
    ev = _t(spark, d, "events")
    agg = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50_exact"),
        F.round(F.expr("approx_percentile(value, 0.5, 100000)"), 4).alias("p50_approx"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90_exact"),
        F.round(F.expr("approx_percentile(value, 0.9, 100000)"), 4).alias("p90_approx"),
    )
    return agg.select(
        "event_type",
        "p50_exact",
        "p50_approx",
        F.expr("cast(round(10000 * abs(p50_approx - p50_exact)) as bigint)").alias("err50_q"),
        "p90_exact",
        "p90_approx",
        F.expr("cast(round(10000 * abs(p90_approx - p90_exact)) as bigint)").alias("err90_q"),
    )


SQL_APPROX_PERCENTILE = """
WITH b AS (
  SELECT event_type,
         round(quantile_cont(value, 0.5), 4) AS p50_exact,
         round(quantile_disc(value, 0.5), 4) AS p50_approx,
         round(quantile_cont(value, 0.9), 4) AS p90_exact,
         round(quantile_disc(value, 0.9), 4) AS p90_approx
  FROM events GROUP BY event_type
)
SELECT event_type, p50_exact, p50_approx,
       CAST(round(10000 * abs(p50_approx - p50_exact)) AS BIGINT) AS err50_q,
       p90_exact, p90_approx,
       CAST(round(10000 * abs(p90_approx - p90_exact)) AS BIGINT) AS err90_q
FROM b
"""


def q_grouped_map_norm(spark, d):
    """Per-group batch transform via applyInPandas (grouped_map_norm §2C):
    z-score events within event_type. Arrow-batched; oracle mirrors with a
    window avg/stddev_samp (pandas std ddof=1 == stddev_samp)."""
    make_portable()
    import pandas as pd  # noqa: PLC0415

    def znorm(pdf: "pd.DataFrame") -> "pd.DataFrame":
        enter_worker()
        mean = pdf["value"].mean()
        std = pdf["value"].std(ddof=1)
        z = (pdf["value"] - mean) / std
        out = pdf[["event_id", "event_type"]].copy()
        import numpy as np  # noqa: PLC0415

        out["z_q"] = np.floor(z * 10000).astype("int64")
        return out

    ev = _t(spark, d, "events").select("event_id", "event_type", "value")
    return ev.groupBy("event_type").applyInPandas(
        znorm, schema="event_id long, event_type string, z_q long"
    )


SQL_GROUPED_MAP_NORM = """
SELECT event_id, event_type,
       CAST(floor((value - avg(value) OVER (PARTITION BY event_type))
            / stddev_samp(value) OVER (PARTITION BY event_type) * 10000) AS BIGINT) AS z_q
FROM events
"""
