"""Query registry: every implemented operator from SURVEY.md §2 as a
(spark_query, duckdb_oracle_sql) pair.

Contract (driver, __spark_entry__.py): each Spark callable takes
(spark, sf_dir) and returns a DataFrame; the oracle SQL runs on DuckDB
views named after the parquet tables. Column names are aliased
identically on both sides; every floating aggregate goes through the
decimal-cast trick (functions/scalars.dec_sum) so values are
bit-identical across engines.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from razulibs_spark import tables
from razulibs_spark.functions.scalars import (
    DEC_SUM_SQL,
    date_type_classify,
    dec_sum,
    filename_stem,
    full_extension,
    razu_filename,
    razu_s3_key,
    razu_uid,
    razu_uri,
)
from razulibs_spark.operators import (
    analytics,
    dedup,
    evaluation,
    relational,
    sampling,
    similarity,
    stats,
    temporal,
    text,
)
from razulibs_spark.operators.pinning import pin_iteration
from razulibs_spark.operators.rdf import PropertyMap, entity_to_triples
from razulibs_spark.session import each_partition, map_files, map_rows, scratch_path

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a driver-contract query. Refuses duplicates AT IMPORT
    TIME: in both r9 (`events_markov_transitions`) and r10 (`aa3afc9`)
    a later def silently shadowed an earlier registration of the same
    name, breaking the earlier operator's test — a re-registration now
    raises instead of replacing (VERDICT r10 item 4). Function-object
    identity is also checked so an accidental double-decoration of the
    same def raises rather than passing as a harmless no-op."""

    def deco(fn):
        if name in QUERIES:
            raise ValueError(
                f"@query({name!r}) already registered by "
                f"{QUERIES[name].__name__!r} — duplicate registry "
                "entry; pick a fresh name or delete the old def"
            )
        clash = next(
            (n for n, f in QUERIES.items() if f is fn), None
        )
        if clash is not None:
            raise ValueError(
                f"@query({name!r}) reuses the function object already "
                f"registered as {clash!r} — double decoration"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return tables.load(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# §2.4 aggregations — flagship pricing summary (A1/A4 + Catalyst
# partial/final agg; TPC-H Q1 shape over the driver tables)
# ---------------------------------------------------------------------------

_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {DEC_SUM_SQL('l_quantity', 'sum_qty', 2)},
       {DEC_SUM_SQL('l_extendedprice', 'sum_base_price')},
       {DEC_SUM_SQL('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
       {DEC_SUM_SQL('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@query("q1_pricing_summary", _Q1_SQL)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A4 flagship rollup (SURVEY §2.4; csv2rdf.py:241-254 analog)."""
    li = T(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum(F.col("l_quantity"), "sum_qty", 2),
            dec_sum(F.col("l_extendedprice"), "sum_base_price"),
            dec_sum(disc_price, "sum_disc_price"),
            dec_sum(disc_price * (1 + F.col("l_tax")), "sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


_J1_SQL = f"""
SELECT p_brand,
       {DEC_SUM_SQL('l_extendedprice * (1 - l_discount)', 'revenue')},
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


@query("j1_lookup_join", _J1_SQL)
def j1_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 keyed lookup join (csv2rdf.py:207-208: droid_df.loc[filename])
    as a broadcast hash join — the dimension side never shuffles."""
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count("*").alias("n_items"),
        )
    )


_J2_SQL = f"""
SELECT r_name,
       COUNT(*) AS n_customers,
       {DEC_SUM_SQL('c_acctbal', 'sum_acctbal')}
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


@query("j2_vocab_resolve", _J2_SQL)
def j2_vocab_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J3 concept-dimension resolve (concept_resolver.py:65-100):
    per-row SPARQL lookups become one broadcast-join chain over
    pre-materialized dimension tables."""
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            dec_sum(F.col("c_acctbal"), "sum_acctbal"),
        )
    )


_Q3_SQL = f"""
WITH rev AS (
  SELECT o_orderkey, o_orderdate, o_orderpriority,
         {DEC_SUM_SQL('l_extendedprice * (1 - l_discount)', 'revenue')}
  FROM customer
  JOIN orders   ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '2000-01-01'
    AND l_shipdate  > TIMESTAMP '2000-01-01'
  GROUP BY o_orderkey, o_orderdate, o_orderpriority
)
SELECT o_orderkey, o_orderdate, o_orderpriority, revenue, rnk
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY revenue DESC, o_orderkey) AS rnk FROM rev)
WHERE rnk <= 10
"""


@query("q3_shipping_priority", _Q3_SQL)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join + agg + deterministic top-k (J-ops, T-ops)."""
    c = T(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = T(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp")
    )
    li = T(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("2000-01-01").cast("timestamp")
    )
    rev = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )
    return relational.top_k(
        rev, 10, [F.col("revenue").desc(), F.col("o_orderkey")]
    ).select("o_orderkey", "o_orderdate", "o_orderpriority", "revenue", "rnk")


_A1_SQL = """
SELECT MIN(l_shipdate) AS earliest, MAX(l_shipdate) AS latest, COUNT(*) AS n
FROM lineitem
"""


@query("a1_global_minmax", _A1_SQL)
def a1_global_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A7 global date range (csv2rdf.py:241-254 dekkingInTijd)."""
    return T(spark, sf_dir, "lineitem").agg(
        F.min("l_shipdate").alias("earliest"),
        F.max("l_shipdate").alias("latest"),
        F.count("*").alias("n"),
    )


_A6_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers,
       MIN(o_orderdate) AS first_date,
       MAX(o_orderdate) AS last_date
FROM orders
GROUP BY o_orderpriority
"""


@query("a6_distinct_groups", _A6_SQL)
def a6_distinct_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 serie rollup: order-independent group semantics replacing the
    reference's sorted-input group-change loop (csv2rdf.py:90-114)."""
    return (
        T(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.min("o_orderdate").alias("first_date"),
            F.max("o_orderdate").alias("last_date"),
        )
    )


# ---------------------------------------------------------------------------
# §2.3 joins — manifest reconcile / diff family (J4–J6, U4) over two
# deterministic snapshots derived from `orders`:
#   snap_a (manifest): keys where k%3≠0; checksums "modified" at k%5=0
#   snap_b (filesystem): keys where k%3≠1; true checksums
# ---------------------------------------------------------------------------

_SNAP_CTE = """
WITH snap_a AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0
              THEN md5(CAST(o_orderkey AS VARCHAR) || ':MODIFIED')
              ELSE md5(CAST(o_orderkey AS VARCHAR) || ':' || o_orderstatus) END AS checksum
  FROM orders WHERE o_orderkey % 3 <> 0
), snap_b AS (
  SELECT o_orderkey,
         md5(CAST(o_orderkey AS VARCHAR) || ':' || o_orderstatus) AS checksum
  FROM orders WHERE o_orderkey % 3 <> 1
)
"""


def _snapshots(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    o = T(spark, sf_dir, "orders")
    true_sum = F.md5(
        F.concat(F.col("o_orderkey").cast("string"), F.lit(":"), F.col("o_orderstatus"))
    )
    mod_sum = F.md5(F.concat(F.col("o_orderkey").cast("string"), F.lit(":MODIFIED")))
    snap_a = o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, mod_sum).otherwise(true_sum).alias("checksum"),
    )
    snap_b = o.filter(F.col("o_orderkey") % 3 != 1).select(
        "o_orderkey", true_sum.alias("checksum")
    )
    return snap_a, snap_b


_J4_SQL = _SNAP_CTE + """
SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
       CASE WHEN b.checksum IS NULL THEN 'missing'
            WHEN a.checksum IS NULL THEN 'extra'
            WHEN a.checksum <> b.checksum THEN 'mismatch'
            ELSE 'ok' END AS status
FROM snap_a a FULL OUTER JOIN snap_b b ON a.o_orderkey = b.o_orderkey
"""


@query("j4_manifest_reconcile", _J4_SQL)
def j4_manifest_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 manifest↔filesystem reconcile (razu/manifest.py:185-221)."""
    snap_a, snap_b = _snapshots(spark, sf_dir)
    return relational.reconcile_full_outer(snap_a, snap_b, "o_orderkey", "checksum")


_J5_SQL = _SNAP_CTE + """
SELECT b.o_orderkey, b.checksum
FROM snap_b b
WHERE NOT EXISTS (
  SELECT 1 FROM snap_a a
  WHERE a.o_orderkey = b.o_orderkey AND a.checksum = b.checksum)
"""


@query("j5_changed_or_new", _J5_SQL)
def j5_changed_or_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 incremental-sync diff: left-anti on (key, checksum)
    (tools/sip2localstorage.py:69-94; razu/edepot.py:87-106)."""
    snap_a, snap_b = _snapshots(spark, sf_dir)
    return relational.changed_or_new(snap_b, snap_a, "o_orderkey", "checksum")


_J6_SQL = _SNAP_CTE + """
SELECT o_orderkey, 'only_a' AS side FROM snap_a
WHERE o_orderkey NOT IN (SELECT o_orderkey FROM snap_b)
UNION ALL
SELECT o_orderkey, 'only_b' AS side FROM snap_b
WHERE o_orderkey NOT IN (SELECT o_orderkey FROM snap_a)
"""


@query("j6_set_diff", _J6_SQL)
def j6_set_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/U3 two-direction anti-join diff
    (logs/compare_manifest_to_s3.py:13-25)."""
    snap_a, snap_b = _snapshots(spark, sf_dir)
    return relational.set_diff_both(snap_a, snap_b, "o_orderkey")


_U4_SQL = _SNAP_CTE + """
SELECT o_orderkey, checksum, 'new' AS src FROM snap_b
UNION ALL
SELECT a.o_orderkey, a.checksum, 'old' AS src FROM snap_a a
WHERE NOT EXISTS (SELECT 1 FROM snap_b b WHERE b.o_orderkey = a.o_orderkey)
"""


@query("u4_upsert_by_key", _U4_SQL)
def u4_upsert_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4 last-wins manifest upsert (razu/manifest.py:128-147)."""
    snap_a, snap_b = _snapshots(spark, sf_dir)
    return relational.upsert_by_key(
        snap_a.withColumn("src", F.lit("old")),
        snap_b.withColumn("src", F.lit("new")),
        "o_orderkey",
    )


_J8_SQL = """
SELECT 'urn:order:' || CAST(o_orderkey AS VARCHAR) AS s,
       'ldto:isOnderdeelVan' AS p,
       'urn:customer:' || CAST(o_custkey AS VARCHAR) AS o
FROM orders
UNION ALL
SELECT 'urn:customer:' || CAST(o_custkey AS VARCHAR) AS s,
       'ldto:bevatOnderdeel' AS p,
       'urn:order:' || CAST(o_orderkey AS VARCHAR) AS o
FROM orders
"""


@query("j8_hierarchy_links", _J8_SQL)
def j8_hierarchy_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 hierarchical self-link: both containment directions
    (csv2rdf.py:113-114,203-204,230-231)."""
    o = T(spark, sf_dir, "orders")
    child = F.concat(F.lit("urn:order:"), F.col("o_orderkey").cast("string"))
    parent = F.concat(F.lit("urn:customer:"), F.col("o_custkey").cast("string"))
    up = o.select(child.alias("s"), F.lit("ldto:isOnderdeelVan").alias("p"), parent.alias("o"))
    down = o.select(parent.alias("s"), F.lit("ldto:bevatOnderdeel").alias("p"), child.alias("o"))
    return up.unionByName(down)


# ---------------------------------------------------------------------------
# §2.5/§2.6/§2.9 — windows, sorts/limits, sequential ids
# ---------------------------------------------------------------------------

_T1_SQL = """
SELECT o_orderkey, o_totalprice, rnk FROM (
  SELECT o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders)
WHERE rnk <= 10
"""


@query("t1_topk_orders", _T1_SQL)
def t1_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-ops deterministic top-k (TakeOrderedAndProject, no full sort)."""
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return relational.top_k(o, 10, [F.col("o_totalprice").desc(), F.col("o_orderkey")])


_O1_SQL = """
SELECT o_orderkey,
       ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS seq_id
FROM orders
"""


@query("o1_sequential_ids", _O1_SQL)
def o1_sequential_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 dense sequential ids (razu/incrementer.py:1-11) in a stable
    total order, through the library's two-tier `ids.dense_ids`
    (per-partition offsets, no single-task global window)."""
    from razulibs_spark.operators import ids

    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return ids.dense_ids(orders, ["o_orderdate", "o_orderkey"], "seq_id").select(
        "o_orderkey", "seq_id"
    )


_A6W_SQL = """
SELECT o_orderkey, o_custkey,
       (prev_status IS NULL OR prev_status <> o_orderstatus) AS changed
FROM (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         LAG(o_orderstatus) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_status
  FROM orders)
"""


@query("a6w_group_change_detect", _A6W_SQL)
def a6w_group_change_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 group-change detection (csv2rdf.py:90-114) done properly:
    lag() over an explicit order instead of assuming sorted input."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderstatus").over(w)
    return (
        T(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate")
        .withColumn("prev_status", prev)
        .select(
            "o_orderkey",
            "o_custkey",
            (F.col("prev_status").isNull() | (F.col("prev_status") != F.col("o_orderstatus"))).alias("changed"),
        )
    )


# ---------------------------------------------------------------------------
# §2.8 scalar functions — F1/F2/F5/F8/F13/F21 exercised row-level so the
# oracle checks every value, not just aggregates
# ---------------------------------------------------------------------------

_F1_SQL = """
WITH d AS (
  SELECT l_orderkey, l_linenumber,
         CASE CAST(l_linenumber % 3 AS INTEGER)
           WHEN 0 THEN strftime(l_shipdate, '%Y-%m-%d')
           WHEN 1 THEN strftime(l_shipdate, '%Y')
           ELSE strftime(l_shipdate, '%d-%m-%Y') END AS date_str
  FROM lineitem)
SELECT l_orderkey, l_linenumber, date_str,
       CASE WHEN regexp_matches(date_str, '^\\d{4}-\\d{2}-\\d{2}$') THEN 'xsd:date'
            WHEN regexp_matches(date_str, '^\\d{4}$') THEN 'xsd:gYear'
            WHEN regexp_matches(date_str, '^\\d{1,2}-\\d{1,2}-\\d{4}$') THEN 'xsd:date'
            ELSE 'literal' END AS xsd_type,
       CASE WHEN regexp_matches(date_str, '^\\d{4}-\\d{2}-\\d{2}$') THEN date_str
            WHEN regexp_matches(date_str, '^\\d{1,2}-\\d{1,2}-\\d{4}$') THEN
                 split_part(date_str, '-', 3) || '-' ||
                 lpad(split_part(date_str, '-', 2), 2, '0') || '-' ||
                 lpad(split_part(date_str, '-', 1), 2, '0')
            ELSE date_str END AS normalized
FROM d
"""


@query("f1_date_type_classify", _F1_SQL)
def f1_date_type_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 date_type (razu/util.py:9-30): regex classify + Dutch
    d-m-yyyy → ISO normalization, as a when/rlike chain."""
    from razulibs_spark.tables import widen_python_stage

    # The date_format + 5-rlike chain per row dominates the row's
    # bytes: widen the narrow 3-column frame iff the scan has fewer
    # splits than cores (no-op at cluster scale — guide §2.5).
    li = widen_python_stage(
        T(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_shipdate"
        )
    )
    date_str = (
        F.when((F.col("l_linenumber") % 3) == 0, F.date_format("l_shipdate", "yyyy-MM-dd"))
        .when((F.col("l_linenumber") % 3) == 1, F.date_format("l_shipdate", "yyyy"))
        .otherwise(F.date_format("l_shipdate", "dd-MM-yyyy"))
    )
    d = li.select("l_orderkey", "l_linenumber", date_str.alias("date_str"))
    xsd_type, normalized = date_type_classify(F.col("date_str"))
    return d.select(
        "l_orderkey",
        "l_linenumber",
        "date_str",
        xsd_type.alias("xsd_type"),
        normalized.alias("normalized"),
    )


_F2_SQL = """
WITH f AS (
  SELECT o_orderkey,
         'file_' || CAST(o_orderkey AS VARCHAR) ||
         CASE CAST(o_orderkey % 4 AS INTEGER)
           WHEN 0 THEN '.tar.gz' WHEN 1 THEN '.meta.json'
           WHEN 2 THEN '.jpg' ELSE '' END AS filename
  FROM orders)
SELECT o_orderkey, filename,
       split_part(filename, '.', 1) AS stem,
       CASE WHEN regexp_matches(filename, '^[^.]*\\.')
            THEN regexp_extract(filename, '^[^.]*(\\..*)$', 1)
            ELSE '' END AS full_ext
FROM f
"""


@query("f2_full_extension", _F2_SQL)
def f2_full_extension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F5 multi-part extension + stem (razu/util.py:32-53,109-126)."""
    o = T(spark, sf_dir, "orders")
    ext = (
        F.when((F.col("o_orderkey") % 4) == 0, F.lit(".tar.gz"))
        .when((F.col("o_orderkey") % 4) == 1, F.lit(".meta.json"))
        .when((F.col("o_orderkey") % 4) == 2, F.lit(".jpg"))
        .otherwise(F.lit(""))
    )
    f = o.select(
        "o_orderkey",
        F.concat(F.lit("file_"), F.col("o_orderkey").cast("string"), ext).alias("filename"),
    )
    return f.select(
        "o_orderkey",
        "filename",
        filename_stem(F.col("filename")).alias("stem"),
        full_extension(F.col("filename")).alias("full_ext"),
    )


_F8_SQL = """
WITH u AS (
  SELECT o_orderkey,
         'NL-WbDRAZU-G0321-661-' || CAST(o_orderkey AS VARCHAR) AS uid
  FROM orders)
SELECT o_orderkey, uid,
       'https://data.razu.nl/id/object/' || uid AS uri,
       uid || '.meta.json' AS filename,
       lpad(CAST(CAST(FLOOR(o_orderkey / 1000000.0) AS BIGINT) AS VARCHAR), 3, '0')
       || '/' ||
       lpad(CAST(CAST(FLOOR((o_orderkey % 1000000) / 1000.0) AS BIGINT) AS VARCHAR), 3, '0')
       || '/' || uid AS s3_key
FROM u
"""


@query("f8_identifier_templating", _F8_SQL)
def f8_identifier_templating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 uid/uri/filename/S3-key templating (razu/identifiers.py:11-86)
    incl. the millions/thousands zero-padded prefix bucketing."""
    o = T(spark, sf_dir, "orders")
    uid = razu_uid(F.col("o_orderkey"))
    return o.select(
        "o_orderkey",
        uid.alias("uid"),
        razu_uri(uid).alias("uri"),
        razu_filename(uid).alias("filename"),
        razu_s3_key(F.col("o_orderkey"), uid).alias("s3_key"),
    )


_F13_SQL = """
SELECT word, COUNT(*) AS n
FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
GROUP BY word
"""


@query("f13_split_explode", _F13_SQL)
def f13_split_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 string-split fan-out (razu/rdf_resource.py:72-77): one row
    per separator-delimited part via explode(split(...))."""
    p = T(spark, sf_dir, "part")
    return (
        p.select(F.explode(F.split(F.col("p_name"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


_F21_SQL = """
WITH lex AS (
  SELECT p_partkey,
         CASE CAST(p_partkey % 3 AS INTEGER)
           WHEN 0 THEN CAST(p_size AS VARCHAR)
           WHEN 1 THEN '+' || CAST(p_size AS VARCHAR)
           ELSE p_name END AS lexical
  FROM part)
SELECT p_partkey, lexical,
       regexp_matches(lexical, '^[+-]?\\d+$') AS is_valid_integer,
       CASE WHEN regexp_matches(lexical, '^[+-]?\\d+$')
            THEN CAST(lexical AS INTEGER) END AS typed_value
FROM lex
"""


@query("f21_integer_validation", _F21_SQL)
def f21_integer_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F21/P11 xsd:integer lexical validation with demotion
    (tools/collect_rdf.py:57-60,93-111). The CASE guard keeps the cast
    ANSI-safe on both engines."""
    p = T(spark, sf_dir, "part")
    lexical = (
        F.when((F.col("p_partkey") % 3) == 0, F.col("p_size").cast("string"))
        .when((F.col("p_partkey") % 3) == 1, F.concat(F.lit("+"), F.col("p_size").cast("string")))
        .otherwise(F.col("p_name"))
    )
    d = p.select("p_partkey", lexical.alias("lexical"))
    valid = F.col("lexical").rlike(r"^[+-]?\d+$")
    return d.select(
        "p_partkey",
        "lexical",
        valid.alias("is_valid_integer"),
        F.when(valid, F.col("lexical").cast("int")).alias("typed_value"),
    )


# ---------------------------------------------------------------------------
# Event log (D6) — S8 max-id recovery, P6 lock predicate, F18/F19,
# windowed + sessionized aggregation (§2.10 batch shape)
# ---------------------------------------------------------------------------

_S8_SQL = """
SELECT MAX(CAST(regexp_extract('e' || CAST(event_id AS VARCHAR), 'e(\\d+)', 1) AS BIGINT)) AS current_id,
       COUNT(*) AS n_events
FROM events
"""


@query("s8_eventlog_maxid", _S8_SQL)
def s8_eventlog_maxid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 eventlog max-id recovery (preservation_events.py:30-38):
    parse `e{N}` suffixes, resume the counter at the max."""
    e = T(spark, sf_dir, "events")
    eid = F.concat(F.lit("e"), F.col("event_id").cast("string"))
    return e.agg(
        F.max(F.regexp_extract(eid, r"e(\d+)", 1).cast("long")).alias("current_id"),
        F.count("*").alias("n_events"),
    )


_P6_SQL = """
SELECT COUNT(CASE WHEN event_type = 'error' THEN 1 END) > 0 AS locked,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_lock_events
FROM events
"""


@query("p6_lock_predicate", _P6_SQL)
def p6_lock_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 lock-state existence predicate (preservation_events.py:40-42,
    decorators.py:6-16): any terminal event ⇒ log is locked."""
    e = T(spark, sf_dir, "events")
    n_lock = F.count(F.when(F.col("event_type") == "error", 1))
    return e.agg(
        (n_lock > 0).alias("locked"), n_lock.alias("n_lock_events")
    )


_EVW_SQL = f"""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n,
       {DEC_SUM_SQL('value', 'sum_value')}
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


@query("events_hourly_rollup", _EVW_SQL)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over the event stream (batch shape
    of §2.10; streaming variant in razulibs_spark.streaming)."""
    e = T(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type"
        )
        .agg(F.count("*").alias("n"), dec_sum(F.col("value"), "sum_value"))
    )


_F19_SQL = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(*) AS n_events
FROM events
GROUP BY event_type
"""


@query("f19_json_extract", _F19_SQL)
def f19_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19 JSON map (de)serialization (razu/manifest.py:29-43,
    run_info.py:34-42) via native JSON-path extraction."""
    e = T(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count("*").alias("n_events")
    )


_SESS_SQL = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 86400000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, value,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM flagged)
SELECT user_id, session_seq,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       {DEC_SUM_SQL('value', 'sum_value')}
FROM sess GROUP BY user_id, session_seq
"""


@query("events_sessionize", _SESS_SQL)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (1-day gap): the batch equivalent of a
    stateful streaming session window — lag + running sum, all
    partitioned by user (parallel, no global window)."""
    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # timestampdiff accepts TIMESTAMP_NTZ (unix_micros does not);
    # strictly-greater than one day in microseconds, as the oracle.
    gap_us = F.expr("timestampdiff(MICROSECOND, lag(ts) OVER "
                    "(PARTITION BY user_id ORDER BY ts, event_id), ts)")
    is_new = F.when(
        F.lag("ts").over(w).isNull() | (gap_us > 86_400_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    flagged = e.select("user_id", "event_id", "ts", "value", is_new.alias("is_new"))
    wsum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = flagged.withColumn("session_seq", F.sum("is_new").over(wsum))
    return sess.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        dec_sum(F.col("value"), "sum_value"),
    )


# ---------------------------------------------------------------------------
# O2 — entity → triples fan-out with a SQL-expressible oracle
# ---------------------------------------------------------------------------

_O2_SQL = """
WITH u AS (
  SELECT *, 'https://data.razu.nl/id/object/NL-WbDRAZU-G0321-661-'
            || CAST(o_orderkey AS VARCHAR) AS uri
  FROM orders)
SELECT uri AS s, 'rdf:type' AS p, 'ldto:Informatieobject' AS o FROM u
UNION ALL
SELECT uri, 'ldto:identificatie',
       'NL-WbDRAZU-G0321-661-' || CAST(o_orderkey AS VARCHAR) FROM u
UNION ALL
SELECT uri, 'ldto:status', o_orderstatus FROM u
UNION ALL
SELECT uri, 'ldto:totalPrice', CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) FROM u
UNION ALL
SELECT uri, 'ldto:orderDate', CAST(CAST(o_orderdate AS DATE) AS VARCHAR) FROM u
"""


@query("o2_entity_fanout", _O2_SQL)
def o2_entity_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 row→entity→triples fan-out (csv2rdf.py:117-237) through the
    rdf.entity_to_triples operator (array<struct> + explode)."""
    o = T(spark, sf_dir, "orders")
    uid = razu_uid(F.col("o_orderkey"))
    triples = entity_to_triples(
        o,
        razu_uri(uid),
        [
            PropertyMap("rdf:type", F.lit("ldto:Informatieobject"), "uri"),
            PropertyMap("ldto:identificatie", uid),
            PropertyMap("ldto:status", F.col("o_orderstatus")),
            PropertyMap("ldto:totalPrice", F.col("o_totalprice").cast("decimal(18,2)")),
            PropertyMap("ldto:orderDate", F.col("o_orderdate").cast("date")),
        ],
    )
    return triples.select("s", "p", "o")


# ---------------------------------------------------------------------------
# North-star: deduplication (BASELINE.json) over `documents`
# ---------------------------------------------------------------------------

_SHINGLE_CTE = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
 ds AS (SELECT DISTINCT doc_id, s AS shingle FROM (
   SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                          for i in generate_series(1, len(ws) - 2)]) AS s
   FROM w WHERE len(ws) >= 3))
"""

_JACCARD_CTES = """
, n AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY doc_id)
, common AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
             FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
             GROUP BY a.doc_id, b.doc_id)
, jac AS (SELECT d1, d2, round(common / (n1.n + n2.n - common), 6) AS jaccard
          FROM common JOIN n n1 ON common.d1 = n1.doc_id
                      JOIN n n2 ON common.d2 = n2.doc_id)
"""

_EXACT_SQL = """
SELECT md5(text) AS content_md5,
       min(doc_id) AS canonical_doc_id,
       COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


@query("dedup_exact", _EXACT_SQL)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-hash groupBy with canonical min-id. One
    hash aggregate; the shuffle carries only distinct hashes."""
    return dedup.exact_dedup_groups(T(spark, sf_dir, "documents"))


_NGRAM_SQL = _SHINGLE_CTE + _JACCARD_CTES + """
SELECT d1, d2, jaccard FROM jac WHERE jaccard >= 0.5
"""

_NGRAM_MAX_DF = 100

_NGRAM_CAPPED_SQL = _SHINGLE_CTE + _JACCARD_CTES + f"""
, df AS (SELECT shingle, COUNT(*) AS df FROM ds GROUP BY shingle)
, rare AS (SELECT ds.doc_id, ds.shingle
           FROM ds JOIN df ON ds.shingle = df.shingle
           WHERE df.df <= {_NGRAM_MAX_DF})
, cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           FROM rare a JOIN rare b
             ON a.shingle = b.shingle AND a.doc_id < b.doc_id)
SELECT j.d1, j.d2, j.jaccard
FROM jac j JOIN cand c ON j.d1 = c.d1 AND j.d2 = c.d2
WHERE j.jaccard >= 0.5
"""


@query("dedup_ngram_jaccard", _NGRAM_CAPPED_SQL)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection: word-3-gram Jaccard ≥ 0.5, candidates from
    the df-capped co-shingle join (df ≤ 100 — the stop-shingle filter
    every web-dedup pipeline applies so a hot trigram can't make the
    self-join quadratic), Jaccard computed exactly per candidate.
    Uncapped brute force survives as `jaccard_pairs(sh, t)` for the
    exactness tests; `dedup_jaccard_prefix_filter` is the lossless
    scale path. The shingle table feeds the df window, pair join, and
    count aggregate → pinned once."""
    sh = pin_iteration(dedup.word_shingles(T(spark, sf_dir, "documents")), eager=False)
    return dedup.df_capped_jaccard(sh, 0.5, _NGRAM_MAX_DF)


def _minhash_sql() -> str:
    sigs = ",\n   ".join(
        f"min(substr(md5('{h // 4}:' || shingle), {1 + 8 * (h % 4)}, 8))"
        f" AS sig{h}"
        for h in range(dedup.N_MINHASH)
    )
    bands = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band_id, md5(sig{i0} || sig{i1} || sig{i2}) AS band_hash FROM sigs".format(
            b=b, i0=3 * b, i1=3 * b + 1, i2=3 * b + 2
        )
        for b in range(dedup.N_BANDS)
    )
    return (
        _SHINGLE_CTE
        + _JACCARD_CTES
        + f"""
, sigs AS (SELECT doc_id,
   {sigs}
   FROM ds GROUP BY doc_id)
, bands AS (
{bands}
)
, cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           FROM bands a JOIN bands b
             ON a.band_id = b.band_id AND a.band_hash = b.band_hash
                AND a.doc_id < b.doc_id)
SELECT j.d1, j.d2, j.jaccard
FROM jac j JOIN cand c ON j.d1 = c.d1 AND j.d2 = c.d2
WHERE j.jaccard >= 0.2
"""
    )


@query("dedup_minhash_lsh", _minhash_sql())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: 12 seeded-md5 min-hashes, 4 bands × 3
    rows; candidates from band-hash equality joins, then verified
    Jaccard ≥ 0.2. The scale path: candidate generation never touches
    the O(n²) pair space. Shingles feed four consumers (signatures,
    counts, two join sides) → pinned once."""
    sh = pin_iteration(dedup.word_shingles(T(spark, sf_dir, "documents")), eager=False)
    # Candidates pinned: the signature aggregate is a full-corpus
    # pass and feeds both the candidate-id semi-join and the pair join.
    cand = pin_iteration(
        dedup.lsh_candidate_pairs(dedup.minhash_signatures(sh)), eager=False
    )
    return dedup.jaccard_pairs(sh, 0.2, candidates=cand)


_ML_LSH_SQL = """
SELECT doc_id AS d1, doc_id + 10000000 AS d2,
       CAST(1.0 AS DOUBLE) AS jaccard,
       TRUE AS found_by_ml, TRUE AS emitted_precision_ok
FROM documents
WHERE len(string_split(text, ' ')) >= 3
"""


@query("dedup_minhash_lsh_ml", _ML_LSH_SQL)
def dedup_minhash_lsh_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.ml MinHashLSH approxSimilarityJoin, oracle-backed with
    the bound-contract pattern (the r6 conversion of the approximate
    family): the raw pair set depends on library hash seeds, so the
    emitted surface is restricted to the SEED-INDEPENDENT guarantees.

    The corpus is documents UNION a shifted-id exact copy, so every
    shingled doc has a planted duplicate. Identical texts produce
    identical HashingTF vectors, identical MinHash signatures, and
    collide in EVERY hash table regardless of seed — the ml join must
    emit each planted pair with feature-Jaccard exactly 1.0. The
    output is one row per planted pair: the ml-reported jaccard (1.0),
    found_by_ml (left-join presence — a recall drop flips it to
    false AND perturbs the jaccard to -1), and emitted_precision_ok, a
    global invariant over the ml join's FULL emission: every emitted
    pair, mapped back to original texts, has exact word-shingle
    Jaccard ≥ 0.85 (the join admits only feature-Jaccard ≥ 0.9, which
    tracks exact Jaccard to within collision slack ≪ 0.05 at 2^18
    features; verified candidate-driven, never all-pairs). Raw recall
    vs the exact banding path stays pinned in
    tests/test_operators.py::test_minhash_lsh_ml_recall."""
    docs = T(spark, sf_dir, "documents")
    # The shift must be a literal because the oracle SQL plants the
    # same constant; fail fast instead of silently mis-bucketing the
    # pmod id-mapping below if a corpus ever outgrows the id space
    # (ADVICE r7: a doc_id >= shift would alias onto another doc and
    # the precision check would compare the wrong texts).
    _SHIFT = 10_000_000
    max_id = docs.agg(F.max(F.col("doc_id").cast("long"))).first()[0]
    if max_id is not None and max_id >= _SHIFT:
        raise ValueError(
            f"dedup_minhash_lsh_ml: max(doc_id)={max_id} >= shift "
            f"{_SHIFT}; the planted-pair id mapping would alias — "
            "raise the shift constant in BOTH the query and _ML_LSH_SQL"
        )
    shift = F.lit(_SHIFT).cast("long")
    corpus = docs.unionByName(
        docs.withColumn("doc_id", (F.col("doc_id") + shift).cast("long"))
    )
    # r14 (VERDICT r13 next #5) decided the approxSimilarityJoin
    # double-compute question by MEASUREMENT: a hand-rolled banded
    # join over the same MinHashLSH.fit/transform signatures — band
    # self-join with ReusedExchange so the shingle→TF subtree computes
    # ONCE, inline int-array Jaccard verify, byte-identical query
    # output at sf0.001/sf0.01 — was NOT faster: operator-standalone
    # equal (1.68 vs 1.84 s warm), in-query 0.87× (7.5-7.8 vs
    # 6.5-6.7 s, 3 interleaved rounds, 32-core sf0.1). The doubled
    # subtree is therefore NOT this query's bottleneck (emitted is
    # ~6k pairs; the bound-contract tail dominates), and the ml join
    # stays — the spark.ml coverage price is ~zero here. A first
    # attempt that verified with exact word-shingle Jaccard was 2×
    # WORSE (231k band candidates × full collect_set pass).
    emitted = pin_iteration(dedup.minhash_lsh_ml(corpus, threshold=0.9), eager=False)

    planted = docs.filter(F.size(F.split("text", " ")) >= 3).select(
        F.col("doc_id").cast("long").alias("d1"),
        (F.col("doc_id") + shift).alias("d2"),
    )
    per_pair = planted.join(emitted, ["d1", "d2"], "left").select(
        "d1", "d2",
        F.coalesce("jaccard", F.lit(-1.0)).alias("jaccard"),
        F.col("jaccard").isNotNull().alias("found_by_ml"),
    )

    # Global precision invariant over everything the ml join emitted:
    # map shifted ids back to source texts, drop identity pairs (exact
    # Jaccard 1 by construction), verify the rest candidate-driven.
    # Pinned: traversed three times (candidate-id set, pair join,
    # checked left join) — without the pin each traversal re-runs the
    # distinct shuffle over the emitted pair table (r13).
    nonid = pin_iteration(
        emitted.select(
            F.pmod("d1", shift).alias("a"), F.pmod("d2", shift).alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("d1"), F.greatest("a", "b").alias("d2")
        )
        .distinct(),
        eager=False,
    )
    member = nonid.select(F.col("d1").alias("doc_id")).union(
        nonid.select("d2")
    ).distinct()
    # member is bounded by 2x the emitted NON-IDENTITY pairs — the ml
    # join at threshold 0.9 emits a sparse near-dup set, so this stays
    # a broadcast-sized dimension at corpus scale (same trade as
    # jaccard_pairs's internal candidate-id semi-join).
    sh = dedup.word_shingles(docs.join(F.broadcast(member), "doc_id"))
    exact = dedup.jaccard_pairs(sh, 0.0, candidates=nonid)
    checked = nonid.join(exact, ["d1", "d2"], "left").agg(
        F.coalesce(
            F.min(F.coalesce("jaccard", F.lit(0.0))) >= 0.85, F.lit(True)
        ).alias("emitted_precision_ok")
    )
    return per_pair.crossJoin(F.broadcast(checked))


def _simhash_sql(bits: int = 16) -> str:
    nibs = ", ".join(
        f"instr('0123456789abcdef', substr(h, {i + 1}, 1)) - 1 AS nib{i}"
        for i in range(bits // 4)
    )
    sums = ", ".join(
        f"SUM((CAST(FLOOR(nib{j // 4} / {2 ** (j % 4)}.0) AS BIGINT) % 2) * 2 - 1) AS s{j}"
        for j in range(bits)
    )
    val = " + ".join(f"(CASE WHEN s{j} >= 0 THEN {2 ** j} ELSE 0 END)" for j in range(bits))
    return f"""
WITH words AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
 h AS (SELECT doc_id, md5(w) AS h FROM words),
 nib AS (SELECT doc_id, {nibs} FROM h),
 sums AS (SELECT doc_id, {sums} FROM nib GROUP BY doc_id)
SELECT doc_id, CAST({val} AS BIGINT) AS simhash FROM sums
"""


@query("dedup_simhash", _simhash_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint per document (16-bit, md5-nibble bit
    source): equal-hash buckets are near-dup candidates at scale."""
    return dedup.simhash(T(spark, sf_dir, "documents"))


_SUBSTRING_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
 sp AS (SELECT doc_id,
               unnest([md5(array_to_string(ws[i:i+7], ' '))
                       for i in generate_series(1, len(ws) - 7)]) AS h
        FROM w WHERE len(ws) >= 8),
 dup AS (SELECT h FROM sp GROUP BY h HAVING COUNT(*) >= 2),
 perdoc AS (SELECT doc_id, COUNT(*) AS n_spans FROM sp GROUP BY doc_id),
 dupdoc AS (SELECT doc_id, COUNT(*) AS n_dup_spans
            FROM sp WHERE h IN (SELECT h FROM dup) GROUP BY doc_id)
SELECT p.doc_id, p.n_spans,
       COALESCE(d.n_dup_spans, 0) AS n_dup_spans,
       ROUND(COALESCE(d.n_dup_spans, 0) / p.n_spans, 6) AS dup_frac
FROM perdoc p LEFT JOIN dupdoc d USING (doc_id)
"""


_SUBSTRING_CUT_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
 sp AS (SELECT doc_id, i AS start,
               md5(array_to_string(ws[i:i+7], ' ')) AS h
        FROM (SELECT doc_id, ws,
                     unnest(generate_series(1, len(ws) - 7)) AS i
              FROM w WHERE len(ws) >= 8)),
 dup AS (SELECT h FROM sp GROUP BY h HAVING COUNT(*) >= 2),
 st AS (SELECT doc_id, list_sort(list(start)) AS starts
        FROM sp WHERE h IN (SELECT h FROM dup) GROUP BY doc_id),
 j AS (SELECT w.doc_id, w.ws, COALESCE(st.starts, []) AS starts
       FROM w LEFT JOIN st USING (doc_id)),
 kk AS (SELECT doc_id, ws,
               [p for p in generate_series(1, len(ws))
                if len(list_filter(starts, s -> p >= s AND p < s + 8)) = 0]
                 AS kept
        FROM j)
SELECT doc_id,
       CAST(len(ws) AS BIGINT) AS n_tokens,
       CAST(len(kept) AS BIGINT) AS n_kept,
       md5(COALESCE(array_to_string([ws[p] for p in kept], ' '), ''))
         AS clean_hash
FROM kk
"""


@query("dedup_substring_cut", _SUBSTRING_CUT_SQL)
def dedup_substring_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-cut dedup: REMOVE every token covered by a
    corpus-duplicated 8-token window and reconstruct the cleaned text
    (Lee et al. 2022's action; dedup_substring_spans is the detection
    report). The oracle value-hashes the reconstructed text itself
    (md5), so a one-token masking error anywhere in the corpus
    mismatches. Mask + reassembly are pure codegen HOFs
    (filter/exists/transform) — no UDF, no extra corpus pass."""
    return dedup.substring_span_cut(T(spark, sf_dir, "documents"), k=8)


@query("dedup_substring_spans", _SUBSTRING_SQL)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring stats at 8-token granularity (the
    span-level dedup mode document-level dedup cannot see —
    boilerplate, licence blocks, syndicated paragraphs; Lee et al.
    2022's suffix-array pass approximated at fixed k so it
    distributes). Per doc: spans, corpus-duplicated span positions,
    duplicated fraction. Rolling windows are pure codegen
    (transform + slice + md5); two hash-keyed shuffles + one doc
    rollup, never quadratic."""
    return dedup.substring_span_stats(T(spark, sf_dir, "documents"), k=8)


def _multik_spans_sql(ks: tuple[int, ...]) -> str:
    """Per-k twin of _SUBSTRING_SQL, unioned — DuckDB recomputes every
    window size independently, so a cross-k leak in the one-pass Spark
    plan (e.g. a k=8 hash colliding into the k=16 membership) would
    hash-mismatch."""
    blocks = []
    for k in ks:
        blocks.append(f"""
 sp{k} AS (SELECT doc_id,
               unnest([md5(array_to_string(ws[i:i+{k - 1}], ' '))
                       for i in generate_series(1, len(ws) - {k - 1})]) AS h
        FROM w WHERE len(ws) >= {k}),
 dup{k} AS (SELECT h FROM sp{k} GROUP BY h HAVING COUNT(*) >= 2),
 perdoc{k} AS (SELECT doc_id, COUNT(*) AS n_spans FROM sp{k}
               GROUP BY doc_id),
 dupdoc{k} AS (SELECT doc_id, COUNT(*) AS n_dup_spans
            FROM sp{k} WHERE h IN (SELECT h FROM dup{k})
            GROUP BY doc_id)""")
    selects = " UNION ALL ".join(
        f"""
SELECT p.doc_id, CAST({k} AS BIGINT) AS k, p.n_spans,
       COALESCE(d.n_dup_spans, 0) AS n_dup_spans,
       ROUND(COALESCE(d.n_dup_spans, 0) / p.n_spans, 6) AS dup_frac
FROM perdoc{k} p LEFT JOIN dupdoc{k} d USING (doc_id)"""
        for k in ks
    )
    return (
        "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws "
        "FROM documents)," + ",".join(blocks) + selects
    )


_MULTIK_KS = (8, 16, 32)


@query("dedup_substring_multik", _multik_spans_sql(_MULTIK_KS))
def dedup_substring_multik(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-k duplicated-span sweep (VERDICT r7 stretch): per-doc
    span stats at k ∈ {8,16,32} from ONE corpus scan — the (doc, k)
    profile approximates variable-length duplicated spans (Lee et al.
    2022 suffix-array semantics) closer than any fixed k: long
    syndicated blocks stay duplicated as k grows, short boilerplate
    falls away. One explode over a per-k-guarded flattened window
    array, then the fixed-k operator's two 32-byte-keyed shuffles
    keyed (k, h) / (doc_id, k). Oracle recomputes each k
    independently in DuckDB."""
    return dedup.substring_span_multik(
        T(spark, sf_dir, "documents"), ks=_MULTIK_KS
    )


_PDF_SQL = """
WITH w AS (SELECT doc_id,
                  string_split('w()' || CAST(doc_id AS VARCHAR)
                               || '\\esc ' || text, ' ') AS ws
           FROM documents
           WHERE doc_id % 23 <> 17 AND doc_id % 89 <> 3),
l AS (SELECT doc_id,
             [array_to_string(ws[i:i+5], ' ')
              for i in generate_series(1, len(ws), 6)] AS ls
      FROM w),
p AS (SELECT doc_id,
             [array_to_string(ls[j:j+4], chr(10))
              for j in generate_series(1, len(ls), 5)] AS ps
      FROM l)
SELECT doc_id, TRUE AS parsed,
       CAST(len(ps) AS BIGINT) AS n_pages,
       CAST(CASE WHEN doc_id % 2 = 0 THEN len(ps) ELSE 0 END AS BIGINT)
         AS compressed_pages,
       md5(array_to_string(ps, chr(12))) AS text_md5,
       CASE WHEN doc_id % 23 = 11
            THEN 'pdf: 1 unmapped CID codes flagged' END AS note
FROM p
UNION ALL
SELECT doc_id, FALSE, NULL, NULL, NULL,
       'pdf: page 4 /Contents points at missing object 9'
FROM documents WHERE doc_id % 23 = 17
UNION ALL
SELECT doc_id, FALSE, NULL, NULL, NULL,
       'pdf: password required (user password verification failed)'
FROM documents WHERE doc_id % 89 = 3 AND doc_id % 23 <> 17
"""


@query("text_pdf_extract", _PDF_SQL)
def text_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF text extraction (operators/pdf.py — the document format a
    training pipeline meets right after HTML; ISO 32000 subset from
    first principles, stdlib zlib only): REAL PDFs are built from each
    document's words (6-word Tj lines, 5-line pages, real xref +
    catalog + pages tree; FlateDecode streams for even docs, plain
    for odd; every doc's first line is a parens+backslash escape
    torture string), then parsed back via object-span scan →
    /Root→/Pages→/Kids page order → stream inflate → a postfix
    content-stream tokenizer where only SHOW operators (Tj ' \" TJ)
    inside BT/ET emit their string operands. The oracle recomputes
    page count, compressed-page count and the full text md5 (pages
    joined by \\f, lines by \\n) from documents.text — one escape
    mis-decoded or one page out of /Kids order flips the hash. Docs
    with d%23 == 17 carry a poison payload (valid catalog, /Contents
    pointing at a missing object) — the fail-closed row is itself
    hash-verified. Encryption axes: RC4 40/128, AES-128 /AESV2 and
    (r12) AES-256 /AESV3 V5/R6 + V5/R5 — all empty-user-password, so
    extraction is byte-identical and the oracle needs no new branch;
    AES/RC4 run OpenSSL-backed via `cryptography` with the FIPS-197
    pure-Python implementation as fallback + cross-check. One Arrow
    pass each way."""
    from razulibs_spark.operators.pdf import (
        pdf_text_stats,
        synthesize_pdf_media,
    )

    docs = T(spark, sf_dir, "documents")
    return pdf_text_stats(synthesize_pdf_media(docs))


_LINE_DEDUP_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
l0 AS (SELECT doc_id,
              ['boilerplate-footer-' || CAST(doc_id % 3 AS VARCHAR)]
              || [array_to_string(ws[i:i+9], ' ')
                  for i in generate_series(1, len(ws), 10)] AS ls
       FROM w),
lx AS (SELECT doc_id, ls, unnest(range(0, len(ls))) AS idx FROM l0),
lines AS (SELECT doc_id, idx, ls[idx + 1] AS line FROM lx),
cnt AS (SELECT line, COUNT(DISTINCT doc_id) AS ndocs
        FROM lines GROUP BY line)
SELECT doc_id,
       COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       md5(COALESCE(string_agg(CASE WHEN ndocs < 2 THEN lines.line END,
                               chr(10) ORDER BY idx), '')) AS kept_md5
FROM lines JOIN cnt ON lines.line = cnt.line
GROUP BY doc_id
"""


@query("dedup_exact_lines", _LINE_DEDUP_SQL)
def dedup_exact_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact line-level corpus dedup — the RefinedWeb/MassiveWeb
    cleaning rule HTML extraction can't give you: boilerplate that
    survives as TEXT ("share this article", cookie banners) repeats
    verbatim across millions of pages, so any line occurring in ≥ 2
    distinct documents is removed from ALL of them and the document
    reassembled in original line order. Lines here are the fixture's
    10-word chunks plus a planted boilerplate line shared by every
    doc_id % 3 class (so removal provably fires while content lines
    survive). Plan: one explode, one count-distinct keyed by
    md5(line) — 16-byte shuffle keys, never page-width strings — one
    hash join back, one doc-keyed reassembly aggregate
    (array_sort(collect_list(struct(idx, …)))). Two shuffles total,
    both key-hashed; nothing quadratic, no windows. The oracle
    recomputes the whole rule in DuckDB, kept-text md5 included."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    ws = F.split("text", " ")
    n_chunks = F.floor((F.size(ws) - F.lit(1)) / F.lit(10)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks),
        lambda i: F.array_join(F.slice(ws, i * 10 + 1, 10), " "),
    )
    boiler = F.concat(
        F.lit("boilerplate-footer-"),
        (F.col("doc_id") % 3).cast("string"),
    )
    exploded = docs.select(
        "doc_id",
        F.posexplode(F.concat(F.array(boiler), chunks)).alias(
            "idx", "line"
        ),
    ).withColumn("lh", F.md5(F.col("line").cast("binary")))
    counts = exploded.groupBy("lh").agg(
        F.count_distinct("doc_id").alias("ndocs")
    )
    joined = exploded.join(counts, "lh")
    keep = F.col("ndocs") < 2
    kept_text = F.array_join(
        F.transform(
            F.filter(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("idx"), F.col("line"),
                            keep.alias("keep"),
                        )
                    )
                ),
                lambda x: x["keep"],
            ),
            lambda x: x["line"],
        ),
        "\n",
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(keep, 0).otherwise(1)).cast("long").alias(
            "n_removed"
        ),
        F.md5(kept_text.cast("binary")).alias("kept_md5"),
    )


_PQ_FOOTER_SQL = """
WITH s AS (SELECT doc_id, doc_id % 8 AS shard FROM documents)
SELECT shard,
       COUNT(*) AS n_rows,
       CAST(ceil(COUNT(*) / 100.0) AS BIGINT) AS n_row_groups,
       MIN(doc_id) AS min_id,
       MAX(doc_id) AS max_id,
       TRUE AS stats_cover_rows
FROM s GROUP BY shard
"""


@query("io_parquet_footer_audit", _PQ_FOOTER_SQL)
def io_parquet_footer_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet layout audit from FOOTERS ONLY — the data-skipping
    machinery at 100 TB is row-group statistics, and an ops audit
    must read them without scanning data: shards are written with a
    pinned 100-row row-group size (pyarrow writer, executor-side),
    then every answer — row counts, row-group counts, global min/max
    of the sort key, and a stats_cover_rows invariant (per-group
    [min,max] ranges actually contain their rows' ids and group row
    counts sum to the file's) — comes from footer metadata alone in
    one Arrow pass over binaryFile. The oracle recomputes everything
    from the DATA; footer-vs-data agreement is exactly what makes
    min/max pruning trustworthy. A writer that mis-sizes groups,
    drops stats, or a reader that scans instead of trusting footers
    all mismatch."""

    base = scratch_path("pq_footer_" + os.path.basename(sf_dir.rstrip("/")))
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    docs = T(spark, sf_dir, "documents").select(
        "doc_id", "lang", (F.col("doc_id") % 8).alias("shard")
    )

    def write_partition(rows) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        by_shard: dict[int, list] = {}
        for row in rows:
            by_shard.setdefault(int(row["shard"]), []).append(
                (int(row["doc_id"]), row["lang"])
            )
        for shard, items in by_shard.items():
            items.sort()
            table = pa.table(
                {
                    "doc_id": [i for i, _ in items],
                    "lang": [l for _, l in items],
                }
            )
            pq.write_table(
                table,
                os.path.join(base, f"shard-{shard}.parquet"),
                row_group_size=100,
            )

    # a shard's rows land in one partition, and merging partitions
    # keeps shards whole, so each file is written exactly once
    each_partition(docs.repartition(8, "shard"), write_partition)
    return _parquet_footers(spark, base)


def _parquet_footers(spark: SparkSession, directory: str) -> DataFrame:
    """One row per ``shard-<n>.parquet`` file under ``directory``, read
    from its footer alone: row and row-group counts, the min and max
    ``doc_id`` over the groups' statistics, and whether the groups'
    statistics and row counts cover the file."""
    import io as _io
    import re as _re

    import pyarrow.parquet as pq

    def footer(path, data):
        shard = int(_re.search(r"shard-(\d+)\.parquet", path).group(1))
        md = pq.ParquetFile(_io.BytesIO(data)).metadata
        n_rows = md.num_rows
        mins, maxs, group_rows = [], [], 0
        ok = True
        for g in range(md.num_row_groups):
            col = md.row_group(g).column(0)  # doc_id
            st = col.statistics
            if st is None or not st.has_min_max:
                ok = False
                continue
            mins.append(st.min)
            maxs.append(st.max)
            group_rows += md.row_group(g).num_rows
            ok = ok and st.min <= st.max
        ok = ok and group_rows == n_rows
        return [
            (
                shard,
                n_rows,
                md.num_row_groups,
                min(mins) if mins else None,
                max(maxs) if maxs else None,
                ok,
            )
        ]

    return map_files(
        spark,
        directory,
        footer,
        "shard long, n_rows long, n_row_groups long, "
        "min_id long, max_id long, stats_cover_rows boolean",
        glob="*.parquet",
    )


_NFC_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
r AS (SELECT doc_id,
             CASE WHEN doc_id % 2 = 0
                  THEN 'cafe' || chr(769) || ' resume' || chr(769)
                       || ': '
                  ELSE 'café resumé: ' END
             || array_to_string(ws[1:10], ' ') AS raw
      FROM w)
SELECT doc_id,
       doc_id % 2 = 0 AS changed,
       md5(nfc_normalize(raw)) AS nfc_md5,
       CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_codepoints
FROM r
"""


@query("text_unicode_nfc", _NFC_SQL)
def text_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization — the dedup prerequisite nobody
    sees: 'café' composed (U+00E9) and decomposed (e + U+0301) are
    byte-DIFFERENT but render identically, so un-normalized corpora
    silently miss exact-dup pairs and split token statistics. Half
    the docs carry decomposed sequences (combining acute), half
    pre-composed; the Arrow stage normalizes with Python's
    unicodedata and the oracle re-normalizes with DuckDB's utf8proc
    ``nfc_normalize`` — two INDEPENDENT UAX #15 implementations must
    agree on every byte (md5) and every codepoint count, and the
    ``changed`` flag pins that composition actually fired on the
    decomposed half. Map-only Arrow pass."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")

    import hashlib
    import unicodedata

    def nfc(doc_id, text):
        d = int(doc_id)
        head = " ".join(str(text).split(" ")[:10])
        if d % 2 == 0:
            # decomposed: e + COMBINING ACUTE — visually identical
            # to the other branch, byte-different
            raw = "cafe\u0301 resume\u0301: " + head
        else:
            raw = "caf\u00e9 resum\u00e9: " + head  # pre-composed
        norm = unicodedata.normalize("NFC", raw)
        return [(d, norm != raw, hashlib.md5(norm.encode("utf-8")).hexdigest(), len(norm))]

    return map_rows(
        docs, nfc, "doc_id long, changed boolean, nfc_md5 string, n_codepoints long"
    )


_SRT_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
ch AS (SELECT doc_id,
              [array_to_string(ws[i:i+5], ' ')
               for i in generate_series(1, len(ws), 6)] AS chunks
       FROM w)
SELECT doc_id,
       CAST(len(chunks) AS BIGINT) AS n_cues,
       CAST(list_sum([1500 + (doc_id + i) % 700
                      for i in generate_series(0, len(chunks) - 1)])
            AS BIGINT) AS dur_ms,
       md5(array_to_string(chunks, chr(10))) AS text_md5
FROM ch
"""


@query("multimodal_srt_subtitles", _SRT_SQL)
def multimodal_srt_subtitles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SubRip subtitle roundtrip (operators/video.py:srt_stats) — the
    TEXT half of video training pairs (OpenSubtitles-class corpora
    ship .srt next to the media): 6-word cues with formula-pinned
    [start, end) spans serialize through the HH:MM:SS,mmm grammar and
    parse back strictly (a drifted separator or missing millis
    raises; cue indices are ignored — real files renumber badly).
    The oracle recomputes cue count, the exact SUM of cue spans (the
    value a caption-coverage filter keys on) and the cue-text md5
    from documents.text — a millisecond lost in either timestamp
    direction mismatches the duration sum. One Arrow pass,
    map-only."""
    from razulibs_spark.operators.video import srt_stats

    return srt_stats(T(spark, sf_dir, "documents"))


_EML_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
SELECT doc_id,
       md5('Report ' || CAST(doc_id AS VARCHAR)
           || CASE WHEN doc_id % 3 = 0 THEN ' plain'
                   ELSE ' naïve' END) AS subject_md5,
       md5(CASE WHEN doc_id % 3 = 0 THEN 'plain summary: '
                ELSE 'naïve résumé: ' END
           || array_to_string(ws[1:20], ' ')
           -- the email.generator-produced docs (second producer,
           -- d%7==3) CRLF-canonicalize: bodies end with one CRLF
           || CASE WHEN doc_id % 7 = 3 THEN chr(13) || chr(10)
                   ELSE '' END) AS body_md5,
       CAST(CASE WHEN doc_id % 3 = 1 THEN 2 ELSE 1 END AS BIGINT)
         AS n_parts,
       CASE doc_id % 3 WHEN 0 THEN '7bit' WHEN 1 THEN 'base64'
            ELSE 'quoted-printable' END AS cte
FROM w
"""


@query("text_eml_extract", _EML_SQL)
def text_eml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EML/MIME email extraction (operators/eml.py — the 13th file
    format; mail archives are a standing corpus source): each doc
    becomes a real RFC 5322 message in one of three transfer shapes —
    plain 7bit singlepart, multipart/alternative whose text/plain
    part is base64 (html alternative must be IGNORED by the
    text-plain-wins policy), quoted-printable singlepart — with
    RFC 2047 encoded-word subjects on the non-ASCII variants.
    Synthesis is hand-assembled (manual boundaries, base64/quopri);
    parsing is the stdlib email walk — independent implementations.
    The oracle recomputes subject md5, body md5, leaf-part count and
    the transfer-encoding label per doc; a mis-decoded encoded-word,
    an html part leaking into the body, or one base64 byte off all
    mismatch. One Arrow pass each way, map-only."""
    from razulibs_spark.operators.eml import (
        eml_text_stats,
        synthesize_eml_media,
    )

    docs = T(spark, sf_dir, "documents")
    return eml_text_stats(synthesize_eml_media(docs))


_CLUSTER_SPLIT_SQL = f"""
WITH t AS (SELECT doc_id,
                  CASE WHEN doc_id % 9 = 4
                       THEN 'shared template ' || CAST(doc_id % 3 AS VARCHAR)
                       ELSE text END AS tx
           FROM documents),
c AS (SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY md5(tx)) AS canon
      FROM t),
b AS (SELECT doc_id, canon, {sampling.bucket_sql('canon')} AS bk FROM c)
SELECT doc_id, canon,
       CASE WHEN bk < 80 THEN 'train' WHEN bk < 90 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


@query("split_cluster_safe", _CLUSTER_SPLIT_SQL)
def split_cluster_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split — the Lee-et-al trap
    split_train_test cannot see: hashing DOC ids sends two copies of
    the same document to different splits, so the model memorizes
    test answers from train. The fix is to split by CLUSTER: content
    hash → cluster canonical (min doc_id per hash, one window over
    the 16-byte digest) → the SAME multiplicative-hash split applied
    to the canonical, so every member of a duplicate cluster lands in
    the same split by construction. Planted duplicates (d%9 == 4
    collapses onto three shared templates) make the property
    non-vacuous — under a doc-keyed split those clusters would span
    all three splits with near certainty. One shuffle (the digest
    window); the split itself stays a pure projection."""
    from razulibs_spark.operators.sampling import hash_split

    docs = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 9 == 4,
            F.concat(
                F.lit("shared template "),
                (F.col("doc_id") % 3).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("tx"),
    )
    w = Window.partitionBy(F.md5(F.col("tx").cast("binary")))
    clustered = docs.select(
        "doc_id", F.min("doc_id").over(w).alias("canon")
    )
    return hash_split(clustered, key="canon").select(
        "doc_id", "canon", "split"
    )


_CSV_SNIFF_SQL = """
WITH s AS (SELECT doc_id, doc_id % 8 AS shard FROM documents)
SELECT shard,
       CASE shard % 4 WHEN 0 THEN ',' WHEN 1 THEN ';'
            WHEN 2 THEN '|' ELSE chr(9) END AS delimiter,
       shard % 2 = 0 AS has_header,
       COUNT(*) AS n_rows,
       md5(string_agg(CAST(doc_id AS VARCHAR), ','
                      ORDER BY doc_id)) AS ids_md5
FROM s GROUP BY shard
"""


@query("io_csv_dialect_sniff", _CSV_SNIFF_SQL)
def io_csv_dialect_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV dialect sniffing (sources/csv_source.sniff_csv_dialect) —
    ingestion of the files nobody documented: Spark's csv reader
    needs ``sep``/``header`` up front, so undocumented exports need a
    per-file sniff before the distributed read. Eight shards are
    written in eight dialect combinations (delimiter ∈ {, ; | tab} ×
    header yes/no) through Python's csv.writer, and every row's note
    field embeds ALL candidate delimiters plus a quote — naive
    split() misparses every shard; only quote-aware parsing under the
    CORRECT delimiter recovers the rows. The consistency scorer (same
    field count > 1 on every line, highest wins) must land the right
    dialect on all eight, and the oracle pins dialect, header flag,
    row count and an order-exact id digest per shard. Per-FILE Arrow
    tasks — the sniff reads a prefix, the parse is the same pass."""

    base = scratch_path("csv_dialects_" + os.path.basename(sf_dir.rstrip("/")))
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    docs = T(spark, sf_dir, "documents").select(
        "doc_id", "lang", (F.col("doc_id") % 8).alias("shard")
    )

    def write_partition(rows) -> None:
        import csv as _csv

        by_shard: dict[int, list] = {}
        for row in rows:
            by_shard.setdefault(int(row["shard"]), []).append(
                (int(row["doc_id"]), row["lang"])
            )
        for shard, items in by_shard.items():
            delim = [",", ";", "|", "\t"][shard % 4]
            path = os.path.join(base, f"shard-{shard}.csv")
            with open(path, "w", newline="") as fh:
                w = _csv.writer(fh, delimiter=delim,
                                quoting=_csv.QUOTE_MINIMAL)
                if shard % 2 == 0:
                    w.writerow(["doc_id", "lang", "note"])
                for doc_id, lang in sorted(items):
                    w.writerow([doc_id, lang, f'q,{doc_id};x|y\t"z"'])

    # repartition ON shard: a shard's rows land in one task (hash may
    # co-locate two shards in one partition, and each_partition may merge
    # partitions — the writer groups by shard internally; no shard splits
    # across partitions, so each file is written exactly once)
    each_partition(docs.repartition(8, "shard"), write_partition)
    return _sniffed_dialects(spark, base)


def _sniffed_dialects(spark: SparkSession, directory: str) -> DataFrame:
    """One row per ``shard-<n>.csv`` file under ``directory``: the
    dialect ``sniff_csv_dialect`` finds, and the count and an id digest
    of the rows parsed under it."""
    import csv as _csv
    import hashlib
    import io as _io
    import re as _re

    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from razulibs_spark.sources.csv_source import sniff_csv_dialect

    out_schema = StructType(
        [
            StructField("shard", LongType(), False),
            StructField("delimiter", StringType(), False),
            StructField("has_header", BooleanType(), False),
            StructField("n_rows", LongType(), False),
            StructField("ids_md5", StringType(), False),
        ]
    )

    def sniff(path, data):
        shard = int(_re.search(r"shard-(\d+)\.csv", path).group(1))
        d = sniff_csv_dialect(data)
        parsed = list(
            _csv.reader(_io.StringIO(data.decode("utf-8")), delimiter=d["delimiter"])
        )
        if d["has_header"]:
            parsed = parsed[1:]
        ids = sorted(int(r[0]) for r in parsed if r)
        return [
            (
                shard,
                d["delimiter"],
                d["has_header"],
                len(ids),
                hashlib.md5(",".join(map(str, ids)).encode()).hexdigest(),
            )
        ]

    return map_files(spark, directory, sniff, out_schema, glob="*.csv")


_INCR_AGG_SQL = """
SELECT event_type,
       user_id % 50 AS bucket,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
         AS sum_micro
FROM events
GROUP BY event_type, user_id % 50
"""

_INCR_CUTOVER = "2024-01-22"


@query("o_incremental_agg", _INCR_AGG_SQL)
def o_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view refresh — the warehouse op that
    makes daily rollups affordable at 100 TB: the standing MV holds
    per-(event_type, user-bucket) count + exact micro-quantized sum,
    and a refresh reads ONLY the new partition plus the (tiny) MV —
    never the base corpus. COUNT and SUM are algebraic, so
    merge = re-aggregate the union of (MV rows, delta partials);
    the ts >= cutover filter on the delta scan is pushed to parquet
    (plan-pinned), which at scale is partition pruning on the
    date-partitioned events table. The oracle recomputes the rollup
    over ALL events in one pass — a delta row double-counted, an MV
    group lost in the merge, or float drift in the sum (micro-BIGINT
    forbids it) all mismatch."""

    base_dir = scratch_path("incr_mv_" + os.path.basename(sf_dir.rstrip("/")))
    events = T(spark, sf_dir, "events").select(
        "ts", "event_type", "user_id", "value"
    )
    micro = F.round(F.col("value") * 1000000).cast("long")
    cutover = F.lit(_INCR_CUTOVER).cast("timestamp")

    def rollup(df):
        return df.groupBy(
            "event_type", (F.col("user_id") % 50).alias("bucket")
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(micro).alias("sum_micro"),
        )

    # the standing MV: built once from history, persisted
    rollup(events.filter(F.col("ts") < cutover)).write.mode(
        "overwrite"
    ).parquet(base_dir)
    # the refresh: delta partition + MV, algebraic merge
    delta = rollup(events.filter(F.col("ts") >= cutover))
    mv = spark.read.parquet(base_dir)
    return (
        mv.unionByName(delta)
        .groupBy("event_type", "bucket")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("sum_micro").cast("long").alias("sum_micro"),
        )
    )


@query("streaming_mv_rollup", _INCR_AGG_SQL)
def streaming_mv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized-view upkeep — the continuous twin of
    o_incremental_agg (same oracle): the event stream drains through
    foreachBatch, each micro-batch aggregates to PARTIAL rollups
    (count + exact micro-sum are algebraic), and the partials land in
    a per-batch-id partition written with overwrite — REPLAYING a
    micro-batch after a crash rewrites its own partition with the
    same rows, so exactly-once holds by idempotence, not by luck
    (the classic portable streaming-agg layout; a transactional
    format would MERGE instead). The served MV is one re-aggregation
    over the partials, and it must equal the batch rollup over ALL
    events bit-for-bit — a batch lost, replayed into a fresh
    partition, or a float sum (micro-BIGINT forbids it) all
    mismatch. Scale: partial aggregation bounds each micro-batch's
    write to |groups|, not |events|; the final re-agg reads
    partial-sized data only."""

    from razulibs_spark.streaming.events_stream import read_events_stream

    sf_key = os.path.basename(sf_dir.rstrip("/"))
    mv_dir = scratch_path(f"stream_mv_{sf_key}")
    ckpt = scratch_path(f"stream_mv_ckpt_{sf_key}")
    shutil.rmtree(mv_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    micro = F.round(F.col("value") * 1000000).cast("long")

    def sink(batch: DataFrame, batch_id: int) -> None:
        partial = batch.groupBy(
            "event_type", (F.col("user_id") % 50).alias("bucket")
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(micro).alias("sum_micro"),
        )
        partial.write.mode("overwrite").parquet(
            f"{mv_dir}/batch={batch_id}"
        )

    q = (
        read_events_stream(spark, sf_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.option("basePath", mv_dir)
        .parquet(mv_dir)
        .groupBy("event_type", "bucket")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("sum_micro").cast("long").alias("sum_micro"),
        )
    )


_MULAW_SQL = """
WITH s AS (SELECT doc_id,
                  [(doc_id * 31 + i * 7919) % 65536 - 32768
                   for i in generate_series(0, 63)] AS pcm
           FROM documents),
q AS (SELECT doc_id,
             [CASE WHEN x < 0 THEN -1 ELSE 1 END
              * ((((least(abs(x), 32635) + 132)
                   // CAST(pow(2, CASE
                        WHEN least(abs(x), 32635) + 132 < 256 THEN 0
                        WHEN least(abs(x), 32635) + 132 < 512 THEN 1
                        WHEN least(abs(x), 32635) + 132 < 1024 THEN 2
                        WHEN least(abs(x), 32635) + 132 < 2048 THEN 3
                        WHEN least(abs(x), 32635) + 132 < 4096 THEN 4
                        WHEN least(abs(x), 32635) + 132 < 8192 THEN 5
                        WHEN least(abs(x), 32635) + 132 < 16384 THEN 6
                        ELSE 7 END + 3) AS BIGINT)) % 16 * 8 + 132)
                 * CAST(pow(2, CASE
                        WHEN least(abs(x), 32635) + 132 < 256 THEN 0
                        WHEN least(abs(x), 32635) + 132 < 512 THEN 1
                        WHEN least(abs(x), 32635) + 132 < 1024 THEN 2
                        WHEN least(abs(x), 32635) + 132 < 2048 THEN 3
                        WHEN least(abs(x), 32635) + 132 < 4096 THEN 4
                        WHEN least(abs(x), 32635) + 132 < 8192 THEN 5
                        WHEN least(abs(x), 32635) + 132 < 16384 THEN 6
                        ELSE 7 END) AS BIGINT) - 132)
              for x in pcm] AS dec
      FROM s)
SELECT doc_id,
       CAST(64 AS BIGINT) AS n_samples,
       CAST(list_sum(dec) AS BIGINT) AS sum_pcm,
       CAST(list_min(dec) AS BIGINT) AS min_pcm,
       CAST(list_max(dec) AS BIGINT) AS max_pcm,
       md5(array_to_string(dec, ',')) AS pcm_md5
FROM q
"""


@query("multimodal_mulaw_decode", _MULAW_SQL)
def multimodal_mulaw_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 μ-law expansion — the telephony/speech-corpus codec
    (call-center and voicemail audio ships as 8-bit μ-law): 64 PCM16
    samples per doc from a pinned formula are COMPANDED in plain
    Python (fixture Arrow stage, the ITU-T reference form), and the
    decoder expands the byte stream back as PURE CODEGEN
    (multimodal.mulaw_decode_hex_col — fixed 1-byte cells make μ-law
    the one audio codec Catalyst can expand itself; compare the
    numpy WAV/JPEG paths). The oracle recomputes the full
    quantize-dequantize q(x) per sample in DuckDB via the segment
    CASE ladder — three independent implementations of the companding
    law must agree on every sample for the md5 to match. Map-only,
    zero shuffle, zero Python on the decode side."""
    from razulibs_spark.operators.multimodal import (
        mulaw_decode_hex_col,
        mulaw_encode_sample,
    )
    from razulibs_spark.tables import widen_python_stage

    docs = widen_python_stage(T(spark, sf_dir, "documents").select("doc_id"))

    def fixture(doc_id):
        d = int(doc_id)
        pcm = [(d * 31 + i * 7919) % 65536 - 32768 for i in range(64)]
        return [(d, bytes(mulaw_encode_sample(x) for x in pcm).hex())]

    raw = map_rows(docs, fixture, "doc_id long, mulaw_hex string")
    # The decoded array is ALIASED in its own producer projection so
    # the 64-element transform/conv chain executes once per row, not
    # once per consuming aggregate: HOFs are CodegenFallback, so the
    # four sibling references would each re-evaluate the full decode
    # (same duplicated-producer fix as the RDF packed extraction,
    # r13 item 1; CollapseProject keeps a non-cheap producer that is
    # referenced more than once).
    dec_once = raw.select(
        "doc_id", mulaw_decode_hex_col(F.col("mulaw_hex"), 64).alias("_dec")
    )
    dec = F.col("_dec")
    return dec_once.select(
        "doc_id",
        F.lit(64).cast("long").alias("n_samples"),
        F.aggregate(
            dec, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("sum_pcm"),
        F.array_min(dec).cast("long").alias("min_pcm"),
        F.array_max(dec).cast("long").alias("max_pcm"),
        F.md5(
            F.array_join(
                F.transform(dec, lambda x: x.cast("string")), ","
            ).cast("binary")
        ).alias("pcm_md5"),
    )


_LUHN_SQL = """
WITH b AS (SELECT doc_id,
                  lpad(CAST(doc_id * 7919 % 1000000000000000 AS VARCHAR),
                       15, '0') AS b15
           FROM documents),
s AS (SELECT doc_id, b15,
             list_sum([CASE WHEN j % 2 = 1 THEN
                         CASE WHEN 2 * CAST(substr(b15, 16 - j, 1) AS INT) > 9
                              THEN 2 * CAST(substr(b15, 16 - j, 1) AS INT) - 9
                              ELSE 2 * CAST(substr(b15, 16 - j, 1) AS INT) END
                       ELSE CAST(substr(b15, 16 - j, 1) AS INT) END
                       for j in generate_series(1, 15)]) AS ls
      FROM b),
c AS (SELECT doc_id, b15, CAST((10 - ls % 10) % 10 AS INT) AS chk FROM s),
cc AS (SELECT doc_id,
              b15 || CAST(CASE WHEN doc_id % 5 = 1 THEN chk
                          ELSE (chk + 5) % 10 END AS VARCHAR) AS card
       FROM c)
SELECT doc_id, card AS candidate,
       doc_id % 5 = 1 AS luhn_ok,
       md5(CASE WHEN doc_id % 5 = 1 THEN 'payment [CARD] ok'
                ELSE 'payment ' || card || ' ok' END) AS redacted_md5
FROM cc
"""


@query("text_pii_luhn", _LUHN_SQL)
def text_pii_luhn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum-validated PAN redaction — the PII scrub step where a
    bare \\d{16} regex is WRONG twice over: it redacts harmless order
    ids (precision) and its absence leaks real card numbers (recall).
    The Luhn gate (functions/scalars.luhn_valid, pure codegen)
    separates the two. Three INDEPENDENT implementations must agree
    for the hash to match: the fixture computes each doc's check
    digit in plain Python (Arrow stage), the detector re-derives
    validity with the codegen aggregate, and the oracle recomputes
    digit-by-digit in DuckDB SQL — docs with d%5 == 1 carry a valid
    PAN (must redact), everyone else carries the same digits with the
    check digit shifted +5 (must NOT redact). Map-only, no shuffle."""
    from razulibs_spark.functions.scalars import luhn_valid

    docs = T(spark, sf_dir, "documents").select("doc_id")

    def luhn_check_digit(b15: str) -> int:
        total = 0
        for j in range(1, 16):  # position from the right of b15
            d = int(b15[15 - j])
            if j % 2 == 1:  # even position of the 16-digit PAN
                d *= 2
                if d > 9:
                    d -= 9
            total += d
        return (10 - total % 10) % 10

    def fixture(doc_id):
        d = int(doc_id)
        b15 = str(d * 7919 % 10**15).zfill(15)
        chk = luhn_check_digit(b15)
        digit = chk if d % 5 == 1 else (chk + 5) % 10
        return [(d, f"payment {b15}{digit} ok")]

    raw = map_rows(docs, fixture, "doc_id long, raw string")
    cand = F.regexp_extract("raw", r"\b(\d{16})\b", 1)
    valid = luhn_valid(cand)
    return raw.select(
        "doc_id",
        cand.alias("candidate"),
        valid.alias("luhn_ok"),
        F.md5(
            F.when(
                valid,
                F.regexp_replace("raw", r"\b\d{16}\b", "[CARD]"),
            )
            .otherwise(F.col("raw"))
            .cast("binary")
        ).alias("redacted_md5"),
    )


_WIKITEXT_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
e AS (SELECT doc_id,
             [rtrim(l) for l in
              ['Doc ' || CAST(doc_id AS VARCHAR),
               COALESCE(ws[1], '') || ' and ' || COALESCE(ws[2], ''),
               'A ' || COALESCE(ws[3], '') || ' link, '
                 || COALESCE(ws[4], '') || ', ' || COALESCE(ws[5], '')
                 || ' end',
               array_to_string(ws[6:len(ws)], ' ')]
              if rtrim(l) <> ''] AS kept
      FROM w)
SELECT doc_id,
       'Doc ' || CAST(doc_id AS VARCHAR) AS title,
       CAST(len(kept) AS BIGINT) AS n_lines,
       md5(array_to_string(kept, chr(10))) AS text_md5
FROM e
"""


@query("text_wikitext_extract", _WIKITEXT_SQL)
def text_wikitext_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MediaWiki dump ingestion (operators/wikitext.py) — the most-
    used LLM corpus source after the crawl: pages-articles.xml shards
    parsed with iterparse (elements cleared page-by-page, O(page)
    memory — one task can own a multi-GB shard) and the wikitext
    layer stripped to prose in the SAME Arrow pass. The planted pages
    exercise the grammar's traps: a NESTED template
    ({{infobox|…{{coord|…}}}} — a non-greedy regex leaves the tail),
    piped AND bare internal links, an external link with label, a
    <ref> citation, quote-run bold/italic, a heading, a bullet. The
    oracle constructs the EXPECTED prose directly from
    documents.text — it never mirrors the stripping rules — so a
    template tail, a surviving ``]]`` or a swallowed label all
    mismatch. Scale: dump shards are the distribution unit
    (binaryFile per-file tasks, the Wikimedia multistream layout);
    write is executor-side per partition."""

    from razulibs_spark.operators.wikitext import (
        read_wiki_dump,
        write_wiki_dump,
    )

    dump_dir = scratch_path("wiki_dump_" + os.path.basename(sf_dir.rstrip("/")))

    shutil.rmtree(dump_dir, ignore_errors=True)
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    write_wiki_dump(docs.repartition(8), dump_dir)
    return read_wiki_dump(spark, dump_dir)


_MARKDOWN_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
e AS (SELECT doc_id,
             'Doc ' || CAST(doc_id AS VARCHAR) || chr(10)
             || 'intro quote' || chr(10)
             || ws[1] || chr(10) || ws[2] || chr(10)
             || rtrim(ws[3] || ' '
                      || array_to_string(ws[4:len(ws)], ' ')) || chr(10)
             || 'tail: ' || ws[1] AS expected
      FROM w)
SELECT doc_id,
       CAST(6 AS BIGINT) AS n_lines,
       md5(expected) AS text_md5
FROM e
"""


@query("text_markdown_extract", _MARKDOWN_SQL)
def text_markdown_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown → plain text (operators/text.py:markdown_to_text) —
    the other big non-HTML text format in LLM corpora (GitHub, docs
    sites). Each doc becomes a planted CommonMark page: ATX header,
    blockquote carrying an image to drop, two bullets (one bolded),
    an inline link, a fenced code block full of noise, a tail line —
    and the extractor (ONE pure codegen expression: fence-split,
    line-anchored regex strips, link collapse, marker removal, blank
    drop) must recover exactly the prose. The oracle does NOT mirror
    the regexes: it constructs the EXPECTED OUTPUT directly from
    documents.text, so a header marker left behind, a code line
    leaking through the fence, or a link URL surviving all mismatch.
    Zero Python, zero shuffle — the whole entry is a scan
    projection."""
    from razulibs_spark.operators.text import markdown_to_text

    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    ws = F.split("text", " ")
    d = F.col("doc_id").cast("string")
    rest = F.array_join(F.slice(ws, 4, F.greatest(F.size(ws) - 3, F.lit(0))), " ")
    md = F.concat(
        F.lit("# Doc "), d, F.lit("\n\n"),
        F.lit("> intro quote ![logo](https://ex.org/l.png)\n\n"),
        F.lit("- "), F.try_element_at(ws, F.lit(1)), F.lit("\n"),
        F.lit("- **"), F.try_element_at(ws, F.lit(2)), F.lit("**\n\n"),
        F.lit("["), F.try_element_at(ws, F.lit(3)),
        F.lit("](https://ex.org/"), d, F.lit(") "), rest,
        F.lit("\n\n```\ncode noise "), d, F.lit("\nmore;\n```\n\ntail: "),
        F.try_element_at(ws, F.lit(1)),
    )
    # Dialect-variant SECOND form for odd docs (VERDICT r9 item 6 —
    # markdown has no stdlib second producer, so the foreign axis is
    # the alternate CommonMark spellings another author would use):
    # ATX-3 header, '+' bullets, __strong__, _emphasized_ link text,
    # different image alt/URLs — the extracted prose must be
    # IDENTICAL, so the oracle expression does not change.
    md_alt = F.concat(
        F.lit("### Doc "), d, F.lit("\n\n"),
        F.lit(">  intro quote ![alt text](https://alt.example/i.gif)\n\n"),
        F.lit("+ "), F.try_element_at(ws, F.lit(1)), F.lit("\n"),
        F.lit("+ __"), F.try_element_at(ws, F.lit(2)), F.lit("__\n\n"),
        F.lit("[_"), F.try_element_at(ws, F.lit(3)),
        F.lit("_](https://alt.example/"), d, F.lit(") "), rest,
        F.lit("\n\n```\n~ other noise "), d,
        F.lit(" ~\n```\n\ntail: "),
        F.try_element_at(ws, F.lit(1)),
    )
    extracted = markdown_to_text(
        F.when(F.col("doc_id") % 2 == 1, md_alt).otherwise(md)
    )
    return docs.select(
        "doc_id",
        F.size(F.split(extracted, "\n")).cast("long").alias("n_lines"),
        F.md5(extracted.cast("binary")).alias("text_md5"),
    )


_COMPRESSION_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
SELECT doc_id,
       CAST(CASE WHEN doc_id % 7 = 2
            THEN strlen(repeat(ws[1] || ' ', 500)) - 1
            ELSE strlen(array_to_string(ws, ' ')) END AS BIGINT)
         AS raw_len,
       doc_id % 7 = 2 AS is_template_spam,
       TRUE AS ratio_sane
FROM w
"""


@query("quality_compression_filter", _COMPRESSION_SQL)
def quality_compression_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality gate
    (operators/text.py:compression_signal) — the tokenizer-free
    information-density signal RefinedWeb/Dolma gate on: template
    spam compresses dramatically better than prose. Docs with
    d%7 == 2 are replaced by their first word repeated 500× (the
    template-farm shape); the Spark side computes the REAL zlib ratio
    and gates at 50‰, and the oracle predicts the verdict per doc
    with no access to zlib — a broken ratio, a mis-encoded doc, or a
    threshold drift flips the boolean. ratio_sane pins the contract
    0 < ratio ≤ 1300 for every row (the header overhead on the
    shortest ~45-byte docs tops out measured at 1127‰; prose never
    reaches 1300). raw_len is exact on both sides.
    One Arrow pass, map-only."""
    from razulibs_spark.operators.text import compression_signal

    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    first = F.try_element_at(F.split("text", " "), F.lit(1))
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 2,
            # repeat(word + ' ', 500) minus the trailing space
            F.rtrim(F.repeat(F.concat(first, F.lit(" ")), 500)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    sig = compression_signal(planted)
    return sig.select(
        "doc_id",
        F.octet_length("text").cast("long").alias("raw_len"),
        (F.col("ratio_permille") < 50).alias("is_template_spam"),
        (
            (F.col("ratio_permille") > 0)
            & (F.col("ratio_permille") <= 1300)
        ).alias("ratio_sane"),
    )


_MOJIBAKE_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
SELECT doc_id,
       doc_id % 3 = 1 AS was_mojibake,
       md5(CASE WHEN doc_id % 3 = 0 THEN 'plain ascii: '
                ELSE 'naïve café — déjà vu: ' END
           || array_to_string(ws[1:5], ' ')) AS text_md5
FROM w
"""


@query("text_mojibake_repair", _MOJIBAKE_SQL)
def text_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake repair (operators/text.py:mojibake_repair) — UTF-8
    text that passed through a windows-1252 transcode arrives
    double-encoded ("naïve café" → "naÃ¯ve cafÃ©"); the reverse
    transform (re-encode cp1252, strictly decode UTF-8) is exact and
    self-verifying. Three planted classes per doc_id % 3: clean ASCII
    (the transform is the identity — must NOT flag), correctly-encoded
    non-ASCII (cp1252 bytes of é/ï/— are not valid UTF-8 — must NOT
    flag), and corrupted (utf-8 bytes mis-decoded as cp1252 in the
    fixture stage — MUST flag and repair). The oracle pins md5 of the
    CLEAN text for every class with no escape hatch: an unrepaired
    corruption, a false positive on clean text, or a lossy repair all
    mismatch. Two Arrow stages (fixture corruption + repair),
    map-only."""
    from razulibs_spark.operators.text import mojibake_repair

    docs = T(spark, sf_dir, "documents").select("doc_id", "text")

    def corrupt(doc_id, text):
        d = int(doc_id)
        head = " ".join(str(text).split(" ")[:5])
        if d % 3 == 0:
            raw = "plain ascii: " + head
        else:
            raw = "naïve café — déjà vu: " + head
            if d % 3 == 1:
                # the transcode accident itself
                raw = raw.encode("utf-8").decode("cp1252")
        return [(d, raw)]

    raw = map_rows(docs, corrupt, "doc_id long, raw string")
    fixed = mojibake_repair(raw, col="raw")
    return fixed.select(
        "doc_id",
        "was_mojibake",
        F.md5(F.col("repaired").cast("binary")).alias("text_md5"),
    )


_URL_BLOCKLIST_SQL = """
WITH u AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 4
              THEN 'h' || CAST(doc_id % 13 AS VARCHAR) || '.unknowntld'
              WHEN doc_id % 17 = 9 THEN 'co.uk'
              ELSE 'www.h' || CAST(doc_id % 13 AS VARCHAR) || '.'
                   || CASE doc_id % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
                      WHEN 2 THEN 'co.uk' ELSE 'ac.jp' END
         END AS host
  FROM documents)
SELECT doc_id, host,
       CASE WHEN doc_id % 17 = 9 THEN NULL
            WHEN doc_id % 17 = 4
              THEN 'h' || CAST(doc_id % 13 AS VARCHAR) || '.unknowntld'
            ELSE 'h' || CAST(doc_id % 13 AS VARCHAR) || '.'
                 || CASE doc_id % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
                    WHEN 2 THEN 'co.uk' ELSE 'ac.jp' END
       END AS registrable,
       CASE WHEN doc_id % 17 = 9 THEN TRUE
            WHEN doc_id % 17 <> 4
                 AND ('h' || CAST(doc_id % 13 AS VARCHAR) || '.'
                      || CASE doc_id % 4 WHEN 0 THEN 'com'
                         WHEN 1 THEN 'org' WHEN 2 THEN 'co.uk'
                         ELSE 'ac.jp' END)
                     IN ('h0.com', 'h5.org', 'h3.co.uk', 'h7.ac.jp')
              THEN TRUE ELSE FALSE
       END AS blocked
FROM u
"""


@query("curate_url_blocklist", _URL_BLOCKLIST_SQL)
def curate_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL blocklist gate on the REGISTRABLE domain (eTLD+1) — how
    UT1/adult/spam blocklists are actually applied to a crawl
    frontier: blocking ``bbc.co.uk`` must catch ``news.bbc.co.uk``
    but never collateral-block all of ``co.uk``. The public-suffix
    walk (functions/urls.registrable_domain) is pure codegen against
    an inlined suffix list — longest label-boundary match, implicit-*
    fallback for unknown TLDs, NULL when the host IS a public suffix
    (those fail closed: blocked, since no site owns them). The
    blocklist itself is a literal IN — the broadcast-dim shape at
    real size. Every host shape is planted (multi-label suffix,
    www. subdomain, unknown TLD, bare public suffix) and the oracle
    recomputes registrable + verdict per doc from the formulas. Zero
    shuffles, zero Python — the gate rides the scan projection."""
    from razulibs_spark.functions.urls import registrable_domain

    suffixes = ["com", "org", "co.uk", "uk", "ac.jp", "jp"]
    blocklist = ["h0.com", "h5.org", "h3.co.uk", "h7.ac.jp"]
    d = F.col("doc_id")
    tld = F.element_at(
        F.array(F.lit("com"), F.lit("org"), F.lit("co.uk"),
                F.lit("ac.jp")),
        (d % 4 + 1).cast("int"),
    )
    host = (
        F.when(
            d % 17 == 4,
            F.concat(F.lit("h"), (d % 13).cast("string"),
                     F.lit(".unknowntld")),
        )
        .when(d % 17 == 9, F.lit("co.uk"))
        .otherwise(
            F.concat(F.lit("www.h"), (d % 13).cast("string"),
                     F.lit("."), tld)
        )
    )
    docs = T(spark, sf_dir, "documents").select(
        "doc_id", host.alias("host")
    )
    reg = registrable_domain(F.col("host"), suffixes)
    lit_block = F.array(*[F.lit(b) for b in blocklist])
    return docs.select(
        "doc_id",
        "host",
        reg.alias("registrable"),
        # NULL registrable = the host IS a public suffix — fail
        # closed (nobody should be fetching bare suffixes anyway)
        F.when(reg.isNull(), F.lit(True))
        .otherwise(F.array_contains(lit_block, reg))
        .alias("blocked"),
    )


_DOCX_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
           FROM documents WHERE doc_id % 19 <> 7),
p AS (SELECT doc_id,
             ['AT&T <tag>' || chr(9) || '"padded" #'
              || CAST(doc_id AS VARCHAR)]
             || [array_to_string(ws[i:i+7], ' ')
                 for i in generate_series(1, len(ws), 8)]
             || (CASE WHEN doc_id % 5 = 0
                 THEN ['cell A' || CAST(doc_id AS VARCHAR),
                       'cell B' || CAST(doc_id AS VARCHAR)]
                 ELSE [] END) AS ps
      FROM w)
SELECT doc_id, TRUE AS parsed,
       CAST(len(ps) AS BIGINT) AS n_paragraphs,
       md5(array_to_string(ps, chr(10))) AS text_md5,
       CAST(NULL AS VARCHAR) AS note
FROM p
UNION ALL
SELECT doc_id, FALSE, NULL, NULL,
       'docx: main part word/document.xml missing'
FROM documents WHERE doc_id % 19 = 7
"""


@query("text_docx_extract", _DOCX_SQL)
def text_docx_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOCX text extraction (operators/docx.py — the 11th file
    format; office documents are the second-biggest non-HTML slice of
    enterprise/government corpora, the reference's own DROID domain):
    REAL OPC zip packages are built per doc ([Content_Types].xml,
    _rels/.rels, word/document.xml), with a torture first paragraph
    (entity escapes, a <w:tab/>, strip-vs-xml:space=preserve
    whitespace), 8-word paragraphs whose middle word sits in its own
    bolded run flanked by preserve-space runs (run transparency), and
    a 1×2 table on every 5th doc — then parsed back the OPC-correct
    way: .rels → officeDocument part → body walk in document order,
    tables flattened. The oracle recomputes paragraph count and the
    full text md5 from documents.text; docs with d%19 == 7 are valid
    zips whose relationships point at a missing main part — the
    fail-closed row is itself hash-verified. One Arrow pass each
    way."""
    from razulibs_spark.operators.docx import (
        docx_text_stats,
        synthesize_docx_media,
    )

    docs = T(spark, sf_dir, "documents")
    return docx_text_stats(synthesize_docx_media(docs))


_HTML_EXTRACT_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
ch AS (SELECT doc_id,
              [array_to_string(ws[i:i+11], ' ')
               for i in generate_series(1, len(ws), 12)] AS chunks
       FROM w)
SELECT doc_id,
       'Doc ' || CAST(doc_id AS VARCHAR) AS title,
       CAST(len(chunks) AS BIGINT) AS n_blocks,
       CAST(5 + doc_id % 4 AS BIGINT) AS n_links_removed,
       md5(array_to_string(chunks, chr(10))) AS main_hash
FROM ch
"""


_WARC_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
ch AS (SELECT doc_id,
              [array_to_string(ws[i:i+11], ' ')
               for i in generate_series(1, len(ws), 12)] AS chunks
       FROM w)
SELECT doc_id,
       'response' AS warc_type,
       CAST(200 AS BIGINT) AS http_status,
       'Doc ' || CAST(doc_id AS VARCHAR) AS title,
       CAST(len(chunks) AS BIGINT) AS n_blocks,
       md5(array_to_string(chunks, chr(10))) AS main_hash
FROM ch
"""


@query("pipeline_warc_extract", _WARC_SQL)
def pipeline_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full crawl-ingestion path end to end: synthesized pages →
    WARC/1.0 response records, per-record-gzip members concatenated
    into one .warc.gz per partition (sources/warc.py — CommonCrawl's
    own layout, written executor-side), → strict record walk back
    (multi-member gunzip, Content-Length framing, HTTP status split)
    → HTML main-content extraction on the response bodies. The oracle
    recomputes every page's extraction from documents.text plus the
    pinned record constants — a byte slipped anywhere across the gzip
    member chain, the record framing, the HTTP split or the HTML
    strip mismatches the hash.

    Store path keyed by sf_dir (eager write / lazy read, the
    io_orc_roundtrip rationale)."""

    from razulibs_spark.operators.html import (
        extract_main_text,
        synthesize_html_pages,
    )
    from razulibs_spark.sources.warc import (
        read_warc,
        write_warc_responses,
    )

    base = scratch_path("warc_store_" + os.path.basename(sf_dir.rstrip("/")))
    pages = synthesize_html_pages(T(spark, sf_dir, "documents")).select(
        F.concat(F.lit("https://ex.org/doc/"), F.col("doc_id")).alias("uri"),
        "html",
    )
    write_warc_responses(pages, base, compress=True)
    back = read_warc(spark, base).select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        "warc_type",
        "http_status",
        # warc bodies are BYTES (arbitrary payloads); these fixture
        # bodies are UTF-8 HTML — decode at the consumer, per the
        # source contract.
        F.col("body").cast("string").alias("html"),
    )
    # metadata rides the extraction's own Arrow pass (passthrough) —
    # ONE warc parse, no re-scan-and-join.
    return extract_main_text(
        back, passthrough=("warc_type", "http_status")
    ).select(
        "doc_id", "warc_type", "http_status",
        "title", "n_blocks", "main_hash",
    )


_WARC_MIXED_SQL = """
SELECT doc_id,
       CAST(CASE WHEN doc_id % 4 = 0 THEN 4 ELSE 3 END AS BIGINT)
         AS n_recs,
       CAST(200 AS BIGINT) AS response_status,
       CASE WHEN doc_id % 4 = 0 THEN CAST(304 AS BIGINT) END
         AS revisit_status,
       CAST(strlen('GET /doc/' || CAST(doc_id AS VARCHAR)
            || ' HTTP/1.1' || chr(13) || chr(10)
            || 'Host: h' || CAST(doc_id % 8 AS VARCHAR) || '.example'
            || chr(13) || chr(10) || chr(13) || chr(10)) AS BIGINT)
         AS request_bytes,
       CAST(strlen('fetchTimeMs: ' || CAST(doc_id % 500 AS VARCHAR)
            || chr(13) || chr(10)) AS BIGINT) AS metadata_bytes,
       md5(text) AS response_md5
FROM documents
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(8 AS BIGINT), NULL, NULL, NULL, NULL,
       NULL
"""


def _mixed_warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CommonCrawl-shaped record mix both WARC entries write: per
    document a request + response + metadata record (revisit on every
    4th), plus 8 file-level warcinfo rows — all payloads pure codegen
    from doc_id/text."""
    crlf = "\r\n"
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    uri = F.concat(
        F.lit("https://h"), (F.col("doc_id") % 8).cast("string"),
        F.lit(".example/doc/"), F.col("doc_id").cast("string"),
    ).alias("target_uri")
    request = docs.select(
        F.lit("request").alias("warc_type"),
        uri,
        F.lit("application/http; msgtype=request").alias("content_type"),
        F.concat(
            F.lit("GET /doc/"), F.col("doc_id").cast("string"),
            F.lit(" HTTP/1.1" + crlf + "Host: h"),
            (F.col("doc_id") % 8).cast("string"),
            F.lit(".example" + crlf + crlf),
        ).cast("binary").alias("payload"),
    )
    response = docs.select(
        F.lit("response").alias("warc_type"),
        uri,
        F.lit("application/http; msgtype=response").alias("content_type"),
        F.concat(
            F.lit(
                "HTTP/1.1 200 OK" + crlf
                + "Content-Type: text/plain" + crlf
                + "Content-Length: "
            ),
            F.octet_length("text").cast("string"),
            F.lit(crlf + crlf),
            F.col("text"),
        ).cast("binary").alias("payload"),
    )
    revisit = docs.filter(F.col("doc_id") % 4 == 0).select(
        F.lit("revisit").alias("warc_type"),
        uri,
        F.lit("application/http; msgtype=response").alias("content_type"),
        # bare header block, no CRLF CRLF terminator — the truncated
        # shape real revisit records carry.
        F.lit("HTTP/1.1 304 Not Modified" + crlf + 'ETag: "x"')
        .cast("binary").alias("payload"),
    )
    metadata = docs.select(
        F.lit("metadata").alias("warc_type"),
        uri,
        F.lit("application/warc-fields").alias("content_type"),
        F.concat(
            F.lit("fetchTimeMs: "),
            (F.col("doc_id") % 500).cast("string"),
            F.lit(crlf),
        ).cast("binary").alias("payload"),
    )
    warcinfo = spark.range(8).select(
        F.lit("warcinfo").alias("warc_type"),
        F.lit(None).cast("string").alias("target_uri"),
        F.lit("application/warc-fields").alias("content_type"),
        F.concat(
            F.lit("software: razulibs-spark shard "),
            F.col("id").cast("string"), F.lit(crlf),
        ).cast("binary").alias("payload"),
    )
    return (
        request.unionByName(response).unionByName(revisit)
        .unionByName(metadata).unionByName(warcinfo)
    )


@query("pipeline_warc_mixed", _WARC_MIXED_SQL)
def pipeline_warc_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-crawl record mix (VERDICT r8 item 1): CommonCrawl files
    interleave warcinfo, request, response, revisit and metadata
    records per fetch — the r8 reader died on the first
    ``GET / HTTP/1.1``. Here every document gets a request + response
    + metadata record (revisit on every 4th, 8 file-level warcinfo
    rows), all payloads built as pure codegen expressions, written
    through the generic mixed-record sink (sources/warc.py:
    write_warc_records, per-record gzip members) and read back through
    the liberal parser: responses/revisits parse their status line
    (revisits via the bare-header-block branch — no CRLF CRLF
    terminator at all), requests/metadata/warcinfo keep their raw
    payloads with status NULL. The oracle recomputes every per-doc
    stat (record count, both statuses, raw byte lengths, response body
    md5) from documents alone — any record dropped, misrouted to the
    wrong branch, or with a mangled payload mismatches."""

    from razulibs_spark.sources.warc import (
        read_warc,
        write_warc_records,
    )

    base = scratch_path("warc_mixed_" + os.path.basename(sf_dir.rstrip("/")))
    records = _mixed_warc_records(spark, sf_dir)
    write_warc_records(records.repartition(8), base, compress=True)
    return _warc_mixed_stats(read_warc(spark, base))


def _warc_mixed_stats(back: DataFrame) -> DataFrame:
    """Per-doc stats over a parsed mixed-record frame — shared by the
    batch scan entry and its streaming-ingestion twin (same oracle)."""
    return (
        back.select(
            F.coalesce(
                F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
                .cast("long"),
                F.lit(-1),
            ).alias("doc_id"),
            "warc_type",
            "http_status",
            F.octet_length("body").cast("long").alias("blen"),
            F.when(
                F.col("warc_type") == "response", F.md5("body")
            ).alias("rmd5"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_recs"),
            F.max(
                F.when(F.col("warc_type") == "response", F.col("http_status"))
            ).alias("response_status"),
            F.max(
                F.when(F.col("warc_type") == "revisit", F.col("http_status"))
            ).alias("revisit_status"),
            F.max(
                F.when(F.col("warc_type") == "request", F.col("blen"))
            ).alias("request_bytes"),
            F.max(
                F.when(F.col("warc_type") == "metadata", F.col("blen"))
            ).alias("metadata_bytes"),
            F.max("rmd5").alias("response_md5"),
        )
    )


@query("streaming_warc_ingest", _WARC_MIXED_SQL)
def streaming_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous crawl ingestion — the streaming twin of
    pipeline_warc_mixed (same oracle): the file stream source
    discovers .warc.gz shards as they land (whole-file atomic arrival,
    the CommonCrawl shape), the SAME Arrow parse stage emits records
    per micro-batch (stateless → append mode, no watermark, no state
    store), and the drained availableNow result aggregates to the
    identical per-doc stats. A record dropped across a micro-batch
    boundary, or a file picked up twice by the source, mismatches the
    hash. Scale shape: per-FILE tasks exactly as batch; a restarted
    query resumes from the checkpoint's file ledger instead of
    re-parsing the corpus."""

    from razulibs_spark.sources.warc import (
        read_warc_stream,
        write_warc_records,
    )
    from razulibs_spark.streaming.dedup_stream import (
        run_append_available_now,
    )

    base = scratch_path("warc_stream_" + os.path.basename(sf_dir.rstrip("/")))
    write_warc_records(
        _mixed_warc_records(spark, sf_dir).repartition(8), base,
        compress=True,
    )
    drained = run_append_available_now(
        read_warc_stream(spark, base), spark, state_partitions=None
    )
    return _warc_mixed_stats(drained)


_HTTP_DECODE_SQL = """
SELECT doc_id,
       CASE doc_id % 4 WHEN 0 THEN 'identity' WHEN 1 THEN 'chunked'
            WHEN 2 THEN 'gzip' ELSE 'chunked+gzip' END AS encoding,
       CAST(200 AS BIGINT) AS http_status,
       md5(text) AS body_md5,
       CAST(strlen(text) AS BIGINT) AS body_len
FROM documents
"""


@query("pipeline_warc_http_decode", _HTTP_DECODE_SQL)
def pipeline_warc_http_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wire-encoding decode — the step between "parses real WARC
    records" and "reads real response BODIES": crawls record payloads
    as received, so CommonCrawl response bodies still wear
    ``Transfer-Encoding: chunked`` framing and ``Content-Encoding:
    gzip`` compression; hand them raw to an HTML parser and hex chunk
    sizes splice mid-markup. Each doc's response is written in one of
    four wire shapes by doc_id%4 — identity, chunked (100-byte chunks,
    a chunk extension on the first, trailer fields on the compose),
    gzip, chunked-around-gzip — and the parser
    (sources/warc.py:_decode_http_body) must recover the IDENTICAL
    body for all four: the oracle pins md5(text)/strlen(text) per doc
    with no per-variant escape hatch. Payload synthesis is one Arrow
    stage (gzip needs Python); parse-back is the standard per-file
    scan."""

    from razulibs_spark.sources.warc import (
        read_warc,
        write_warc_records,
    )

    base = scratch_path("warc_httpdec_" + os.path.basename(sf_dir.rstrip("/")))

    import zlib

    def wire_record(doc_id, text):
        d = int(doc_id)
        body = str(text).encode("utf-8")
        variant = d % 4
        hdrs = ["HTTP/1.1 200 OK", "Content-Type: text/plain"]
        wire = body
        if variant in (2, 3):
            co = zlib.compressobj(6, zlib.DEFLATED, 31)
            wire = co.compress(wire) + co.flush()
            hdrs.append("Content-Encoding: gzip")
        if variant in (1, 3):
            chunks = [
                wire[i:i + 100] for i in range(0, len(wire), 100)
            ]
            framed = []
            for j, c in enumerate(chunks):
                ext = b";planted=1" if j == 0 else b""
                framed.append(
                    b"%x" % len(c) + ext + b"\r\n" + c + b"\r\n"
                )
            trailer = (
                b"0\r\nX-Trailer: t\r\n\r\n"
                if variant == 3 else b"0\r\n\r\n"
            )
            wire = b"".join(framed) + trailer
            hdrs.append("Transfer-Encoding: chunked")
        else:
            hdrs.append(f"Content-Length: {len(wire)}")
        payload = (
            "\r\n".join(hdrs).encode("ascii") + b"\r\n\r\n" + wire
        )
        return [
            (
                "response",
                f"https://h{d % 8}.example/doc/{d}",
                "application/http; msgtype=response",
                payload,
            )
        ]

    from pyspark.sql.types import (
        BinaryType,
        StringType,
        StructField,
        StructType,
    )

    rec_schema = StructType(
        [
            StructField("warc_type", StringType(), False),
            StructField("target_uri", StringType(), True),
            StructField("content_type", StringType(), False),
            StructField("payload", BinaryType(), False),
        ]
    )
    records = map_rows(
        T(spark, sf_dir, "documents").select("doc_id", "text"),
        wire_record,
        rec_schema,
    )
    write_warc_records(records.repartition(8), base, compress=True)
    doc_id = (
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id")
    )
    return read_warc(spark, base).select(
        doc_id,
        F.element_at(
            F.array(
                F.lit("identity"), F.lit("chunked"),
                F.lit("gzip"), F.lit("chunked+gzip"),
            ),
            (F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
             .cast("long") % 4 + 1).cast("int"),
        ).alias("encoding"),
        "http_status",
        F.md5("body").alias("body_md5"),
        F.octet_length("body").cast("long").alias("body_len"),
    )


_CRAWL_CORPUS_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
ch AS (SELECT doc_id, ws,
              [array_to_string(ws[i:i+11], ' ')
               for i in generate_series(1, len(ws), 12)] AS chunks
       FROM w)
SELECT doc_id,
       CAST(len(ws) AS BIGINT) AS n_words,
       md5(array_to_string(chunks, chr(10))) AS text_md5,
       TRUE AS refers_ok
FROM ch
WHERE doc_id % 11 <> 3 AND len(ws) >= 60
"""


@query("pipeline_corpus_from_crawl", _CRAWL_CORPUS_SQL)
def pipeline_corpus_from_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-9 capstone — crawl shards to training corpus with every
    verdict DERIVED FROM THE DATA, never from doc_id formulas: pages
    (robots metas planted on two slices) → WARC response shards →
    liberal parse → ONE Arrow pass yielding main text AND the robots
    meta (extract_main_text include_text + include_meta — the gate
    never re-parses the page) → noindex gate (codegen directive
    parse) → token-count quality gate (≥ 60 words) → surviving docs
    written as WET conversion records with WARC-Refers-To
    back-pointers → parsed back for the final corpus frame. The
    oracle recomputes the SURVIVOR SET and every survivor's text md5
    / word count from documents.text alone, so a noindex page
    leaking through, a short doc surviving, a boilerplate block in
    the WET payload, or a broken back-pointer all mismatch. Scale:
    two per-file scans, two Arrow stages, zero joins, zero shuffles
    before the sink."""

    from razulibs_spark.operators.html import (
        extract_main_text,
        synthesize_html_pages,
    )
    from razulibs_spark.sources.warc import (
        read_warc,
        write_warc_records,
        write_warc_responses,
    )

    sf_key = os.path.basename(sf_dir.rstrip("/"))
    src_dir = scratch_path(f"crawlcorpus_src_{sf_key}")
    wet_dir = scratch_path(f"crawlcorpus_wet_{sf_key}")
    pages = synthesize_html_pages(T(spark, sf_dir, "documents")).select(
        F.concat(F.lit("https://ex.org/doc/"), F.col("doc_id")).alias("uri"),
        "html",
    )
    write_warc_responses(pages, src_dir, compress=True)
    back = read_warc(spark, src_dir).select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        "target_uri",
        F.col("body").cast("string").alias("html"),
    )
    ext = extract_main_text(
        back,
        passthrough=("target_uri",),
        include_text=True,
        include_meta=("robots",),
    )
    toks = F.transform(
        F.split(F.coalesce(F.col("robots"), F.lit("")), ","),
        lambda t: F.lower(F.trim(t)),
    )
    indexable = ~(
        F.array_contains(toks, "noindex") | F.array_contains(toks, "none")
    )
    n_words = F.size(F.split(F.col("main_text"), r"\s+"))
    survivors = ext.filter(indexable & (n_words >= 60))
    rid = F.md5(F.col("target_uri").cast("binary"))
    write_warc_records(
        survivors.select(
            F.lit("conversion").alias("warc_type"),
            "target_uri",
            F.lit("text/plain").alias("content_type"),
            F.col("main_text").cast("binary").alias("payload"),
            F.concat(F.lit("wet-"), rid).alias("record_id"),
            F.concat(F.lit("<urn:uuid:"), rid, F.lit(">")).alias(
                "refers_to"
            ),
        ).repartition(8),
        wet_dir,
        compress=True,
    )
    return read_warc(spark, wet_dir).select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        F.size(F.split(F.col("body").cast("string"), r"\s+"))
        .cast("long")
        .alias("n_words"),
        F.md5("body").alias("text_md5"),
        (
            F.col("refers_to")
            == F.concat(
                F.lit("<urn:uuid:"),
                F.md5(F.col("target_uri").cast("binary")),
                F.lit(">"),
            )
        ).alias("refers_ok"),
    )


_WET_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
ch AS (SELECT doc_id,
              [array_to_string(ws[i:i+11], ' ')
               for i in generate_series(1, len(ws), 12)] AS chunks
       FROM w),
m AS (SELECT doc_id, array_to_string(chunks, chr(10)) AS main FROM ch)
SELECT doc_id,
       'conversion' AS warc_type,
       md5(main) AS text_md5,
       CAST(strlen(main) AS BIGINT) AS text_len,
       TRUE AS refers_ok
FROM m
"""


@query("pipeline_wet_derive", _WET_SQL)
def pipeline_wet_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET derivation — CommonCrawl's extracted-text sidecar: each
    response capture becomes a ``conversion`` record whose payload is
    the page's main text and whose WARC-Refers-To names the source
    response (ISO 28500 §6.8; the *.warc.wet.gz files most LLM
    corpora actually start from). The full loop runs here: pages →
    response WARC shards → liberal parse → main-content extraction
    (the SAME Arrow pass carries target_uri through and emits the
    text, include_text=True) → conversion records through the generic
    mixed sink → parse back. The oracle recomputes every conversion
    payload (md5 + byte length) from documents.text alone and pins
    refers_ok, so a boilerplate block leaking into the WET payload,
    a record id drifting from its response, or a byte lost in either
    WARC roundtrip mismatches. Scale: two per-file scans, two Arrow
    stages, zero joins."""

    from razulibs_spark.operators.html import (
        extract_main_text,
        synthesize_html_pages,
    )
    from razulibs_spark.sources.warc import (
        read_warc,
        write_warc_records,
        write_warc_responses,
    )

    sf_key = os.path.basename(sf_dir.rstrip("/"))
    src_dir = scratch_path(f"wet_src_{sf_key}")
    wet_dir = scratch_path(f"wet_store_{sf_key}")
    pages = synthesize_html_pages(T(spark, sf_dir, "documents")).select(
        F.concat(F.lit("https://ex.org/doc/"), F.col("doc_id")).alias("uri"),
        "html",
    )
    write_warc_responses(pages, src_dir, compress=True)
    back = read_warc(spark, src_dir).select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        "target_uri",
        F.col("body").cast("string").alias("html"),
    )
    ext = extract_main_text(
        back, passthrough=("target_uri",), include_text=True
    )
    rid = F.md5(F.col("target_uri").cast("binary"))
    wet_records = ext.select(
        F.lit("conversion").alias("warc_type"),
        "target_uri",
        F.lit("text/plain").alias("content_type"),
        F.col("main_text").cast("binary").alias("payload"),
        F.concat(F.lit("wet-"), rid).alias("record_id"),
        # the response sink's id convention: <urn:uuid:md5(uri)>
        F.concat(F.lit("<urn:uuid:"), rid, F.lit(">")).alias("refers_to"),
    )
    write_warc_records(wet_records.repartition(8), wet_dir, compress=True)
    return read_warc(spark, wet_dir).select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        "warc_type",
        F.md5("body").alias("text_md5"),
        F.octet_length("body").cast("long").alias("text_len"),
        (
            F.col("refers_to")
            == F.concat(
                F.lit("<urn:uuid:"),
                F.md5(F.col("target_uri").cast("binary")),
                F.lit(">"),
            )
        ).alias("refers_ok"),
    )


_WAT_SQL = """
SELECT doc_id,
       'https://ex.org/doc/' || CAST(doc_id AS VARCHAR) AS url,
       'https://h' || CAST(doc_id % 8 AS VARCHAR) || '.example/doc/'
         || CAST(doc_id AS VARCHAR) AS canonical,
       CASE WHEN doc_id % 2 = 1 THEN 'article' ELSE 'website' END
         AS og_type,
       CAST(CASE WHEN doc_id % 11 IN (3, 7) THEN 5 ELSE 4 END AS BIGINT)
         AS n_meta,
       CAST(1 + doc_id % 3 AS BIGINT) AS n_links
FROM documents
"""


@query("pipeline_wat_derive", _WAT_SQL)
def pipeline_wat_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAT derivation — CommonCrawl's metadata sidecar: per response
    capture, a ``metadata`` record whose JSON payload carries the
    page's head signals (canonical, og:type, meta count) and its
    content-link count — what link-graph and URL-dedup jobs read
    INSTEAD of re-parsing HTML at 100 TB. Pipeline: pages → WARC →
    parse → ONE Arrow pass (extract_wat: head metadata AND the
    content-link count from a single extract_page call — never two
    parses of every page joined back on doc_id through a cache) →
    F.to_json payloads → metadata records through the mixed sink →
    parse back → F.from_json → typed columns. The oracle recomputes
    every JSON field from the planted fixture formulas; a
    mis-serialized field, a dropped record, or a from_json schema
    drift mismatches. Zero joins, zero cache: scan → Arrow → sink."""

    from razulibs_spark.operators.html import (
        extract_wat,
        synthesize_html_pages,
    )
    from razulibs_spark.sources.warc import (
        read_warc,
        write_warc_records,
        write_warc_responses,
    )

    sf_key = os.path.basename(sf_dir.rstrip("/"))
    src_dir = scratch_path(f"wat_src_{sf_key}")
    wat_dir = scratch_path(f"wat_store_{sf_key}")
    pages = synthesize_html_pages(T(spark, sf_dir, "documents")).select(
        F.concat(F.lit("https://ex.org/doc/"), F.col("doc_id")).alias("uri"),
        "html",
    )
    write_warc_responses(pages, src_dir, compress=True)
    back = read_warc(spark, src_dir).select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("body").cast("string").alias("html"),
    )
    uri = F.concat(
        F.lit("https://ex.org/doc/"), F.col("doc_id").cast("string")
    )
    wat_records = (
        extract_wat(back)
        .select(
            F.lit("metadata").alias("warc_type"),
            uri.alias("target_uri"),
            F.lit("application/json").alias("content_type"),
            F.to_json(
                F.struct(
                    uri.alias("url"),
                    "canonical",
                    "og_type",
                    F.col("n_meta").cast("long").alias("n_meta"),
                    F.col("n_links").cast("long").alias("n_links"),
                )
            ).cast("binary").alias("payload"),
        )
    )
    write_warc_records(wat_records.repartition(8), wat_dir, compress=True)
    parsed = read_warc(spark, wat_dir).select(
        F.from_json(
            F.col("body").cast("string"),
            "url string, canonical string, og_type string, "
            "n_meta long, n_links long",
        ).alias("j")
    )
    return parsed.select(
        F.regexp_extract("j.url", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("j.url").alias("url"),
        F.col("j.canonical").alias("canonical"),
        F.col("j.og_type").alias("og_type"),
        F.col("j.n_meta").alias("n_meta"),
        F.col("j.n_links").alias("n_links"),
    )


_REVISIT_SQL = """
SELECT doc_id,
       CAST(304 AS BIGINT) AS revisit_status,
       md5(text) AS resolved_md5,
       CAST(strlen(text) AS BIGINT) AS resolved_len
FROM documents WHERE doc_id % 4 = 0
"""


@query("pipeline_revisit_resolve", _REVISIT_SQL)
def pipeline_revisit_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revisit resolution — how a crawl's dedup actually works on
    disk: a ``revisit`` record carries NO payload, only a
    ``WARC-Refers-To`` pointer at the capture it deduplicated
    against; recovering the content means joining revisits to
    responses on that id. Every doc gets a response with an explicit
    record id; every 4th doc also gets a payload-less revisit whose
    refers_to names it. The resolver is ONE hash join on the record
    id (both sides shuffle-partitioned by it — no broadcast: the
    response side is corpus-sized); the oracle recomputes the
    recovered digest/length from documents, so a refers_to written or
    parsed wrong, or a revisit body mistaken for content, mismatches."""

    from razulibs_spark.sources.warc import (
        read_warc,
        write_warc_records,
    )

    base = scratch_path("warc_revisit_" + os.path.basename(sf_dir.rstrip("/")))
    crlf = "\r\n"
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    uri = F.concat(
        F.lit("https://h"), (F.col("doc_id") % 8).cast("string"),
        F.lit(".example/doc/"), F.col("doc_id").cast("string"),
    )
    responses = docs.select(
        F.lit("response").alias("warc_type"),
        uri.alias("target_uri"),
        F.lit("application/http; msgtype=response").alias("content_type"),
        F.concat(
            F.lit(
                "HTTP/1.1 200 OK" + crlf
                + "Content-Type: text/plain" + crlf
                + "Content-Length: "
            ),
            F.octet_length("text").cast("string"),
            F.lit(crlf + crlf),
            F.col("text"),
        ).cast("binary").alias("payload"),
        F.md5(uri.cast("binary")).alias("record_id"),
        F.lit(None).cast("string").alias("refers_to"),
    )
    revisits = docs.filter(F.col("doc_id") % 4 == 0).select(
        F.lit("revisit").alias("warc_type"),
        uri.alias("target_uri"),
        F.lit("application/http; msgtype=response").alias("content_type"),
        F.lit("HTTP/1.1 304 Not Modified" + crlf + 'ETag: "x"')
        .cast("binary").alias("payload"),
        F.concat(F.lit("rv-"), F.md5(uri.cast("binary")))
        .alias("record_id"),
        F.concat(
            F.lit("<urn:uuid:"), F.md5(uri.cast("binary")), F.lit(">")
        ).alias("refers_to"),
    )
    write_warc_records(
        responses.unionByName(revisits).repartition(8), base,
        compress=True,
    )
    recs = read_warc(spark, base)
    resp = recs.filter(F.col("warc_type") == "response").select(
        F.col("record_id").alias("refers_to"),
        F.md5("body").alias("resolved_md5"),
        F.octet_length("body").cast("long").alias("resolved_len"),
    )
    rev = recs.filter(F.col("warc_type") == "revisit").select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("http_status").alias("revisit_status"),
        "refers_to",
    )
    return rev.join(resp, "refers_to").select(
        "doc_id", "revisit_status", "resolved_md5", "resolved_len"
    )


_CDX_SQL = """
SELECT 'example,h' || CAST(doc_id % 8 AS VARCHAR) || ')/doc/'
         || CAST(doc_id AS VARCHAR) AS urlkey,
       '20240101000000' AS timestamp,
       'https://h' || CAST(doc_id % 8 AS VARCHAR) || '.example/doc/'
         || CAST(doc_id AS VARCHAR) AS url,
       CAST(200 AS BIGINT) AS status,
       'text/plain' AS mime,
       md5(text) AS digest,
       CAST(strlen(text) AS BIGINT) AS length
FROM documents
"""


@query("pipeline_cdx_index", _CDX_SQL)
def pipeline_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX index construction — the lookup sidecar CommonCrawl ships
    next to every .warc.gz shard: the full mixed-record corpus
    (request/response/revisit/metadata/warcinfo) goes through the
    WARC sink and scan, then cdx_from_records (sources/warc.py) keeps
    one row per RESPONSE capture with SURT urlkey (reversed host),
    14-digit timestamp, status, mime, payload digest and length —
    pure codegen after the parse. Requests and revisits must NOT
    index (a revisit's empty body would corrupt dedup digests); the
    oracle recomputes every field from documents alone."""

    from razulibs_spark.sources.warc import (
        cdx_from_records,
        read_warc,
        write_warc_records,
    )

    base = scratch_path("warc_cdx_" + os.path.basename(sf_dir.rstrip("/")))
    write_warc_records(
        _mixed_warc_records(spark, sf_dir).repartition(8), base,
        compress=True,
    )
    return cdx_from_records(read_warc(spark, base))


_ZIP_SQL = """
SELECT doc_id,
       'doc-' || CAST(doc_id AS VARCHAR) || '.txt' AS member,
       CAST(strlen(text) AS BIGINT) AS size,
       TRUE AS compressed,
       md5(text) AS body_md5
FROM documents
"""

_TAR_SQL = """
SELECT doc_id,
       'doc-' || CAST(doc_id AS VARCHAR) || '.txt' AS member,
       CAST(strlen(text) AS BIGINT) AS size,
       FALSE AS compressed,
       md5(text) AS body_md5
FROM documents
"""


def _archive_roundtrip(
    spark: SparkSession, sf_dir: str, tag: str, write, read
) -> DataFrame:
    """Shared body of the zip / tar.gz roundtrips: documents become
    one member per doc, shards are written executor-side, one
    binaryFile scan explodes them back, and every member's name, size
    and body digest is recomputed by the oracle — a member dropped by
    the central-directory walk or a byte lost to the container
    mismatches."""

    base = scratch_path(f"{tag}_store_" + os.path.basename(sf_dir.rstrip("/")))
    members = T(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("doc-"), F.col("doc_id").cast("string"), F.lit(".txt")
        ).alias("member"),
        F.col("text").cast("binary").alias("body"),
    )
    write(members.repartition(8), base)
    return read(spark, base).select(
        F.regexp_extract("member", r"doc-(\d+)\.txt", 1)
        .cast("long")
        .alias("doc_id"),
        "member",
        "size",
        "compressed",
        F.md5("body").alias("body_md5"),
    )


@query("io_zip_roundtrip", _ZIP_SQL)
def io_zip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP container source/sink (sources/archives.py) — the packaging
    academic dumps and dataset releases actually ship in: one deflated
    member per document written to per-partition shards executor-side
    (timestamps pinned to ZIP's 1980 floor — byte-deterministic), one
    binaryFile scan + Arrow explode back. Per-archive tasks are the
    distribution unit, the WARC argument applied to zip."""
    from razulibs_spark.sources.archives import read_zip, write_zip_shards

    return _archive_roundtrip(
        spark, sf_dir, "zip", write_zip_shards, read_zip
    )


@query("io_tar_gz_roundtrip", _TAR_SQL)
def io_tar_gz_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tar.gz container source/sink — crawl/log dumps' packaging: the
    tar stream is built with pinned mtime/uid/gid and wrapped by the
    WARC module's deterministic gzip_member (tarfile's own 'w:gz'
    stamps the wall clock into the gzip header, which would break
    byte-determinism). Members report compressed=false: tar never
    compresses members, the wrapper compresses the stream."""
    from razulibs_spark.sources.archives import (
        read_tar,
        write_tar_gz_shards,
    )

    return _archive_roundtrip(
        spark, sf_dir, "tar", write_tar_gz_shards, read_tar
    )


_CRAWL_SCHEDULE_SQL = """
WITH f AS (SELECT doc_id, doc_id % 8 AS k,
                  'https://h' || CAST(doc_id % 8 AS VARCHAR)
                    || '.example/doc/' || CAST(doc_id AS VARCHAR) AS url
           FROM documents),
d AS (SELECT k, CASE WHEN k % 3 = 0 THEN 1.0
                     WHEN k = 5 THEN 9.0
                     WHEN k = 7 THEN 3.5
                     ELSE k / 2.0 END AS crawl_delay
      FROM generate_series(0, 7) t(k))
SELECT f.doc_id, 'h' || CAST(f.k AS VARCHAR) AS host, f.url,
       d.crawl_delay,
       (ROW_NUMBER() OVER (PARTITION BY f.k ORDER BY f.url) - 1)
         * d.crawl_delay AS fetch_at
FROM f JOIN d USING (k)
"""


@query("pipeline_crawl_schedule", _CRAWL_SCHEDULE_SQL)
def pipeline_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness scheduling — the step between an assembled frontier
    and the fetcher fleet: each host's robots.txt ``Crawl-delay``
    (operators/robots.py:crawl_delay — group replacement like
    parse_robots, largest-delay-wins within a group, unparsable values
    skipped) spaces that host's URLs at (k-1)×delay offsets via a
    per-host window. The fixture sweeps the grammar: hosts with no
    delay (default applies), fractional delays, an unparsable
    ``Crawl-delay: fast`` line shadowed by a real one, and a
    specific-agent group (razubot on h5) that REPLACES the ``*``
    group's 2.5 with 9.0 — the schedule is computed for razubot, so a
    replacement slip shifts every h5 offset. Scale shape: broadcast
    delay dim, window partitioned by host, no global sort."""
    from razulibs_spark.operators.robots import politeness_schedule

    frontier = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("h"), (F.col("doc_id") % 8).cast("string"))
        .alias("host"),
        F.concat(
            F.lit("https://h"), (F.col("doc_id") % 8).cast("string"),
            F.lit(".example/doc/"), F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    robots = spark.range(8).select(
        F.concat(F.lit("h"), F.col("id")).alias("host"),
        F.concat(
            F.lit("User-agent: *\nDisallow: /private/\n"),
            F.when(F.col("id") % 3 == 0, F.lit(""))
            .when(F.col("id") == 5, F.lit("Crawl-delay: 2.5\n"))
            .when(
                F.col("id") == 7,
                F.lit("Crawl-delay: fast\nCrawl-delay: 3.5\n"),
            )
            .otherwise(
                F.concat(
                    F.lit("Crawl-delay: "),
                    (F.col("id") / 2.0).cast("string"), F.lit("\n"),
                )
            ),
            F.when(
                F.col("id") == 5,
                F.lit("\nUser-agent: razubot\nCrawl-delay: 9\n"),
            ).otherwise(F.lit("")),
        ).alias("robots_txt"),
    )
    return politeness_schedule(frontier, robots, agent="razubot").select(
        "doc_id", "host", "url", "crawl_delay", "fetch_at"
    )


_SITEMAP_SQL = """
SELECT 'urlset' AS kind,
       'https://h' || CAST(doc_id % 8 AS VARCHAR) || '.example/doc/'
         || CAST(doc_id AS VARCHAR) AS loc,
       '2024-01-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
         AS lastmod,
       ROUND((doc_id % 10) / 10.0, 1) AS priority
FROM documents
UNION ALL
SELECT 'index',
       'https://h' || CAST(k AS VARCHAR) || '.example/sitemap-h'
         || CAST(k AS VARCHAR) || '.xml',
       '2024-02-01',
       CAST(NULL AS DOUBLE)
FROM generate_series(0, 7) t(k)
"""


@query("pipeline_sitemap_scan", _SITEMAP_SQL)
def pipeline_sitemap_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery end to end (sources/sitemap.py): per-host
    urlset files are written EXECUTOR-side (repartitioned so one task
    owns each host's file — the spec's 50k-URL shard as the write
    unit) with lastmod/priority planted by formula, a sitemapindex
    file points at the eight shards, and one binaryFile scan parses
    both kinds back into the tagged records frame a frontier join
    consumes. Oracle recomputes every urlset row from documents and
    the index rows from the host series — one URL dropped or one
    priority mis-formatted mismatches.

    Store path keyed by sf_dir (the io_orc_roundtrip rationale)."""

    from razulibs_spark.sources.sitemap import (
        read_sitemaps,
        write_sitemap_index,
        write_urlset_files,
    )

    base = scratch_path("sitemap_store_" + os.path.basename(sf_dir.rstrip("/")))
    docs = T(spark, sf_dir, "documents")
    urls = docs.select(
        F.concat(F.lit("h"), F.col("doc_id") % 8).alias("host"),
        F.concat(
            F.lit("https://h"), F.col("doc_id") % 8,
            F.lit(".example/doc/"), F.col("doc_id"),
        ).alias("loc"),
        F.concat(
            F.lit("2024-01-"),
            F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        ).alias("lastmod"),
        F.round((F.col("doc_id") % 10) / 10.0, 1).alias("priority"),
    )
    write_urlset_files(urls, base)
    write_sitemap_index(
        [
            (f"https://h{k}.example/sitemap-h{k}.xml", "2024-02-01")
            for k in range(8)
        ],
        os.path.join(base, "index.xml"),
    )
    return read_sitemaps(spark, base).select(
        "kind", "loc", "lastmod", "priority"
    )


_SITEMAP_DISCOVERY_SQL = """
SELECT doc_id,
       'h' || CAST(doc_id % 8 AS VARCHAR) AS host,
       '2024-01-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
         AS lastmod,
       ROUND((doc_id % 10) / 10.0, 1) AS priority,
       'sitemap-h' || CAST(doc_id % 8 AS VARCHAR) || '-'
         || CASE WHEN doc_id % 2 = 0 THEN 'a.xml' ELSE 'b.xml.gz' END
         AS source
FROM documents
WHERE doc_id % 2 = 0 OR (doc_id % 8) % 2 = 0
"""


@query("pipeline_sitemap_discovery", _SITEMAP_DISCOVERY_SQL)
def pipeline_sitemap_discovery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """robots→sitemap discovery chained end to end (VERDICT r8 item
    3): each host's URLs are sharded into a PLAIN urlset (even docs)
    and a GZIPPED ``.xml.gz`` urlset (odd docs — the wild's dominant
    form), both written executor-side; each host's robots.txt
    advertises shard a always but shard b only on even hosts
    (``Sitemap:`` lines, RFC 9309 §2.2.4). Discovery
    (operators/robots.py:discover_sitemaps) explodes the advertised
    sitemap URLs, and the frontier keeps only scanned rows whose
    SOURCE FILE is advertised — provenance from
    read_sitemaps(include_source=True), joined broadcast on the
    basename. Odd-host gz shards are scanned but dropped, exactly
    what a polite crawler would never have fetched. The oracle
    recomputes every surviving (doc, host, lastmod, priority, source)
    row — a gunzip slip, a missed Sitemap: line or a provenance
    mix-up changes the surviving set.

    Store path keyed by sf_dir (the io_orc_roundtrip rationale)."""

    from razulibs_spark.operators.robots import discover_sitemaps
    from razulibs_spark.sources.sitemap import (
        read_sitemaps,
        write_urlset_files,
    )

    base = scratch_path("sitemap_disc_" + os.path.basename(sf_dir.rstrip("/")))
    docs = T(spark, sf_dir, "documents")
    urls = docs.select(
        (F.col("doc_id") % 8).alias("hk"),
        (F.col("doc_id") % 2 == 0).alias("even"),
        F.concat(
            F.lit("https://h"), F.col("doc_id") % 8,
            F.lit(".example/doc/"), F.col("doc_id"),
        ).alias("loc"),
        F.concat(
            F.lit("2024-01-"),
            F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        ).alias("lastmod"),
        F.round((F.col("doc_id") % 10) / 10.0, 1).alias("priority"),
    ).withColumn(
        "group",
        F.concat(
            F.lit("h"), F.col("hk"),
            F.when(F.col("even"), F.lit("-a")).otherwise(F.lit("-b")),
        ),
    )
    write_urlset_files(
        urls.filter("even"), base, group_col="group", compress=False
    )
    write_urlset_files(
        urls.filter("NOT even"), base, group_col="group", compress=True
    )
    robots = spark.range(8).select(
        F.concat(F.lit("h"), F.col("id")).alias("host"),
        F.concat(
            F.lit(
                "User-agent: *\r\nDisallow: /private/\r\n"
                "# extension records below\r\nSitemap: https://h"
            ),
            F.col("id"),
            F.lit(".example/sitemap-h"), F.col("id"), F.lit("-a.xml\r\n"),
            F.when(
                F.col("id") % 2 == 0,
                F.concat(
                    F.lit("Sitemap: https://h"), F.col("id"),
                    F.lit(".example/sitemap-h"), F.col("id"),
                    F.lit("-b.xml.gz\r\n"),
                ),
            ).otherwise(F.lit("")),
        ).alias("robots_txt"),
    )
    advertised = discover_sitemaps(robots).select(
        F.element_at(F.split("sitemap_url", "/"), -1).alias("source")
    )
    scanned = read_sitemaps(spark, base, include_source=True)
    return scanned.join(F.broadcast(advertised), "source").select(
        F.regexp_extract("loc", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        F.regexp_extract("loc", r"https://(h\d+)\.example", 1)
        .alias("host"),
        "lastmod",
        "priority",
        "source",
    )


_ASOF_NEAREST_SQL = """
WITH l AS (SELECT event_id, user_id % 50 AS k, ts FROM events),
r AS (SELECT user_id % 50 AS k, date_trunc('hour', ts) AS rt,
             MAX(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS rv
      FROM events
      WHERE hour(ts) % 2 = 0
      GROUP BY 1, 2),
b AS (SELECT l.event_id, MAX(r.rt) AS bt
      FROM l LEFT JOIN r ON r.k = l.k AND r.rt <= l.ts
      GROUP BY 1),
f AS (SELECT l.event_id, MIN(r.rt) AS ft
      FROM l LEFT JOIN r ON r.k = l.k AND r.rt >= l.ts
      GROUP BY 1),
c AS (SELECT l.event_id, l.k, l.ts,
             CASE WHEN bt IS NULL THEN ft
                  WHEN ft IS NULL THEN bt
                  WHEN l.ts - bt <= ft - l.ts THEN bt
                  ELSE ft END AS rt
      FROM l JOIN b USING (event_id) JOIN f USING (event_id))
SELECT c.event_id, c.k, c.ts, c.rt AS matched_rt, r.rv AS matched_rv
FROM c LEFT JOIN r ON r.k = c.k AND r.rt = c.rt
"""


@query("j_asof_nearest", _ASOF_NEAREST_SQL)
def j_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, direction=NEAREST (operators/temporal.py — the
    pandas merge_asof(direction='nearest') semantics the backward/
    forward entries don't cover): every event matches the closest
    even-hour grid observation of its user bucket, backward OR
    forward, exact ties going backward. The even-hour gaps make the
    forward branch genuinely win for late-in-the-gap events — a
    one-sided implementation would hash-mismatch half the rows. Scale
    shape: two window carries over ONE unioned frame (no self-join,
    no range explosion); the oracle recomputes both candidates with
    inequality joins and applies the same tie rule."""
    from razulibs_spark.operators.temporal import asof_join

    ev = T(spark, sf_dir, "events")
    left = ev.select(
        "event_id", (F.col("user_id") % 50).alias("k"), "ts"
    )
    right = (
        ev.filter(F.hour("ts") % 2 == 0)
        .groupBy(
            (F.col("user_id") % 50).alias("k"),
            F.date_trunc("hour", "ts").alias("rt"),
        )
        .agg(
            F.max(
                F.floor(F.col("value") * 10_000 + F.lit(0.5)).cast("long")
            ).alias("rv")
        )
    )
    return asof_join(
        left, right, on="k", left_time="ts", right_time="rt",
        direction="nearest",
    ).select(
        "event_id", "k", "ts",
        F.col("matched_rt").alias("matched_rt"),
        F.col("matched_rv").alias("matched_rv"),
    )


_VARIANT_SQL = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
"""


@query("io_variant_json", _VARIANT_SQL)
def io_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT ingestion — the engine-native semi-structured
    path that replaces per-query JSON re-parsing (get_json_object,
    F19) with parse-once binary-encoded variants: each event's props
    is wrapped into a NESTED document, parsed to VARIANT once, and
    both the group key and the metric are pulled back out with typed
    ``variant_get`` path extraction — so the aggregation's inputs all
    flow THROUGH the variant encoding. The oracle recomputes the same
    stats from raw JSON; one wrong path step or a type-coercion slip
    in the variant layer shifts a group. At 100 TB this is the schema-
    on-read pattern: parse once at ingest, extract many times."""
    ev = T(spark, sf_dir, "events")
    nested = F.concat(
        F.lit('{"outer": {"k": '),
        F.get_json_object("props", "$.k"),
        F.lit(', "type": "'),
        F.col("event_type"),
        F.lit('"}}'),
    )
    v = ev.select(F.parse_json(nested).alias("v"))
    return (
        v.select(
            F.variant_get("v", "$.outer.type", "string").alias(
                "event_type"
            ),
            F.variant_get("v", "$.outer.k", "long").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


_WELCH_SQL = """
WITH m AS (SELECT event_type,
                  user_id % 2 AS cohort,
                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS mv
           FROM events),
s AS (SELECT event_type, cohort,
             COUNT(*) AS n,
             CAST(SUM(mv) AS BIGINT) AS sv,
             CAST(SUM(mv * mv) AS BIGINT) AS svv
      FROM m GROUP BY event_type, cohort),
w AS (SELECT a.event_type,
             a.n AS n1, b.n AS n2,
             CAST(a.sv AS DOUBLE) / 100 / a.n AS m1,
             CAST(b.sv AS DOUBLE) / 100 / b.n AS m2,
             (CAST(a.svv AS DOUBLE)
              - CAST(a.sv AS DOUBLE) * a.sv / a.n)
               / (a.n - 1) / 100 / 100 AS v1,
             (CAST(b.svv AS DOUBLE)
              - CAST(b.sv AS DOUBLE) * b.sv / b.n)
               / (b.n - 1) / 100 / 100 AS v2
      FROM (SELECT * FROM s WHERE cohort = 0) a
      JOIN (SELECT * FROM s WHERE cohort = 1) b USING (event_type))
SELECT event_type, n1, n2,
       m1 - m2 AS mean_diff,
       (m1 - m2) / sqrt(v1 / n1 + v2 / n2) AS t_stat,
       (v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
         / ((v1 / n1) * (v1 / n1) / (n1 - 1)
            + (v2 / n2) * (v2 / n2) / (n2 - 1)) AS welch_df
FROM w
"""


@query("stats_welch_ttest", _WELCH_SQL)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test per event_type between the
    user_id-parity cohorts — the A/B significance report a data
    pipeline runs on its own metrics. Exactness discipline: the test
    runs on CENTI-quantized values so every sufficient statistic (sum
    and sum-of-squares) stays an exact BIGINT inside double's 2^53
    integer range — decimal(38,0) squares looked exact too, but their
    >2^53 decimal→double casts rounded DIFFERENTLY across engines
    (found by the sf0.1 sweep); the t statistic + Satterthwaite df are
    then one FIXED chain of correctly-rounded double ops, bit-equal
    where naive float SUMs would be order-dependent. One shuffle on
    (event_type, cohort), then a tiny self-join."""
    mv = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    s = (
        T(spark, sf_dir, "events")
        .select(
            "event_type", (F.col("user_id") % 2).alias("cohort"),
            mv.alias("mv"),
        )
        .groupBy("event_type", "cohort")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("mv").alias("sv"),
            F.sum(F.col("mv") * F.col("mv")).alias("svv"),
        )
    )
    a = s.filter(F.col("cohort") == 0).select(
        "event_type", F.col("n").alias("n1"), F.col("sv").alias("sv1"),
        F.col("svv").alias("svv1"),
    )
    b = s.filter(F.col("cohort") == 1).select(
        "event_type", F.col("n").alias("n2"), F.col("sv").alias("sv2"),
        F.col("svv").alias("svv2"),
    )
    j = a.join(b, "event_type")
    m1 = F.col("sv1").cast("double") / 100 / F.col("n1")
    m2 = F.col("sv2").cast("double") / 100 / F.col("n2")
    v1 = (
        (F.col("svv1").cast("double")
         - F.col("sv1").cast("double") * F.col("sv1") / F.col("n1"))
        / (F.col("n1") - 1) / 100 / 100
    )
    v2 = (
        (F.col("svv2").cast("double")
         - F.col("sv2").cast("double") * F.col("sv2") / F.col("n2"))
        / (F.col("n2") - 1) / 100 / 100
    )
    se2_1 = v1 / F.col("n1")
    se2_2 = v2 / F.col("n2")
    return j.select(
        "event_type", "n1", "n2",
        (m1 - m2).alias("mean_diff"),
        ((m1 - m2) / F.sqrt(se2_1 + se2_2)).alias("t_stat"),
        (
            (se2_1 + se2_2) * (se2_1 + se2_2)
            / (se2_1 * se2_1 / (F.col("n1") - 1)
               + se2_2 * se2_2 / (F.col("n2") - 1))
        ).alias("welch_df"),
    )


_PASS_AT_K_SQL = """
WITH t AS (SELECT doc_id,
                  4 + doc_id % 5 AS n,
                  doc_id % (5 + doc_id % 5) AS c
           FROM documents)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_samples,
       CAST(c AS BIGINT) AS n_correct,
       1 - CAST(n - c AS DOUBLE) / n AS pass_at_1,
       1 - CAST((n-c) * (n-c-1) AS DOUBLE) / (n * (n-1)) AS pass_at_2,
       1 - CAST((n-c) * (n-c-1) * (n-c-2) * (n-c-3) AS DOUBLE)
             / (n * (n-1) * (n-2) * (n-3)) AS pass_at_4
FROM t
"""


@query("eval_pass_at_k", _PASS_AT_K_SQL)
def eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pass@k (operators/evaluation.py:pass_at_k) — THE model-eval
    aggregation of code/agent benchmarks (HumanEval's unbiased
    estimator): per task, n = 4 + d%5 samples with c = d%(n+1)
    planted correct, estimated at k ∈ {1, 2, 4} via exact integer
    falling-factorial products and one final division. The fixture
    sweeps every (n, c) combination including both boundary
    conventions (c = 0 → 0; n−c < k → exactly 1 through the 0
    factor); the oracle recomputes each estimate from the same exact
    products, so any floating-accumulation shortcut mismatches."""
    from razulibs_spark.operators.evaluation import pass_at_k

    t = T(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 5 + 4).alias("n_samples"),
        (F.col("doc_id") % (F.col("doc_id") % 5 + 5)).alias("n_correct"),
    )
    return pass_at_k(t).select(
        "doc_id", "n_samples", "n_correct",
        "pass_at_1", "pass_at_2", "pass_at_4",
    )


_RECRAWL_SQL = """
WITH u AS (SELECT doc_id,
                  'https://h' || CAST(doc_id % 8 AS VARCHAR)
                    || '.example/doc/' || CAST(doc_id AS VARCHAR) AS loc,
                  CAST('2024-01-' || lpad(CAST(1 + doc_id % 28 AS
                       VARCHAR), 2, '0') AS DATE) AS lastmod,
                  CASE doc_id % 5 WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly'
                       WHEN 2 THEN 'monthly' WHEN 3 THEN 'yearly'
                       ELSE 'never' END AS changefreq
           FROM documents),
d AS (SELECT *, CASE changefreq WHEN 'daily' THEN 1 WHEN 'weekly' THEN 7
                     WHEN 'monthly' THEN 30 WHEN 'yearly' THEN 365
                     END AS dd
      FROM u)
SELECT doc_id, loc, changefreq,
       strftime(lastmod + dd * INTERVAL 1 DAY, '%Y-%m-%d') AS next_due,
       COALESCE(lastmod + dd * INTERVAL 1 DAY <= DATE '2024-02-15',
                FALSE) AS due
FROM d
"""


@query("pipeline_recrawl_due", _RECRAWL_SQL)
def pipeline_recrawl_due(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl scheduling from sitemap freshness hints — the consumer
    of the ``changefreq`` field the scanner parses (sitemaps.org: the
    page's expected change cadence): urlsets are written WITH
    changefreq + lastmod, scanned back, and each URL's next-due date
    is lastmod + the cadence interval (daily/weekly/monthly/yearly;
    ``never`` pages are never due), compared against a pinned
    reference date. The oracle recomputes the date arithmetic from
    documents — a changefreq dropped by the writer or a date slip in
    the scan flips a due flag. All codegen after the scan; the
    frontier's recrawl feed at 100 TB is this exact projection."""

    from razulibs_spark.sources.sitemap import (
        read_sitemaps,
        write_urlset_files,
    )

    base = scratch_path("recrawl_store_" + os.path.basename(sf_dir.rstrip("/")))
    docs = T(spark, sf_dir, "documents")
    urls = docs.select(
        F.concat(F.lit("h"), F.col("doc_id") % 8).alias("host"),
        F.concat(
            F.lit("https://h"), F.col("doc_id") % 8,
            F.lit(".example/doc/"), F.col("doc_id"),
        ).alias("loc"),
        F.concat(
            F.lit("2024-01-"),
            F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        ).alias("lastmod"),
        F.element_at(
            F.array(
                F.lit("daily"), F.lit("weekly"), F.lit("monthly"),
                F.lit("yearly"), F.lit("never"),
            ),
            (F.col("doc_id") % 5 + 1).cast("int"),
        ).alias("changefreq"),
    )
    write_urlset_files(
        urls, base, priority_col=None, changefreq_col="changefreq"
    )
    scanned = read_sitemaps(spark, base)
    days = (
        F.when(F.col("changefreq") == "daily", 1)
        .when(F.col("changefreq") == "weekly", 7)
        .when(F.col("changefreq") == "monthly", 30)
        .when(F.col("changefreq") == "yearly", 365)
    )
    next_due = F.date_add(F.to_date("lastmod"), days)
    return scanned.select(
        F.regexp_extract("loc", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        "loc",
        "changefreq",
        F.date_format(next_due, "yyyy-MM-dd").alias("next_due"),
        F.coalesce(
            next_due <= F.lit("2024-02-15").cast("date"), F.lit(False)
        ).alias("due"),
    )


_FRONTIER_SQL = """
WITH l AS (SELECT doc_id AS src, doc_id % 50 AS k,
                  unnest(generate_series(0, doc_id % 3)) AS j
           FROM documents),
e AS (SELECT src, k, (src * 7 + 11 * j) % 10000 AS m FROM l),
c AS (SELECT src,
             'https://h' || CAST(k AS VARCHAR) || '.example/doc/'
               || CAST(m AS VARCHAR) AS url,
             k, m
      FROM e),
seen AS (SELECT DISTINCT
                'https://h' || CAST(doc_id % 50 AS VARCHAR)
                  || '.example/doc/' || CAST(doc_id AS VARCHAR) AS url
         FROM documents WHERE doc_id % 2 = 0)
SELECT c.src, c.url,
       (NOT (c.k % 4 = 2 AND CAST(c.m AS VARCHAR) LIKE '9%'))
         AS allowed,
       (seen.url IS NOT NULL) AS already_seen
FROM c LEFT JOIN seen ON c.url = seen.url
"""


@query("pipeline_frontier_assembly", _FRONTIER_SQL)
def pipeline_frontier_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl frontier assembly — the composition the crawl family
    exists for, each stage a REAL operator: content-link edges from
    parsed HTML (operators/html.py), absolute-URL construction with
    tracking-param noise on every 3rd link, the pure-codegen URL
    canonicalizer (functions/urls.py — must strip the utm param or
    the seen-join misses), the RFC 9309 robots gate (hosts with
    k%4==2 disallow /doc/9*), and an anti-join-shaped seen-set probe
    (even docs are already crawled ON THEIR OWN host). The oracle
    recomputes every (src, url, allowed, already_seen) row from the
    planting formulas — a canonicalization slip, a wildcard slip or a
    seen-join miss flips a flag. Scale shape: two Arrow stages
    (extract, verdict), broadcast robots dim, one hash join on the
    canonical url."""
    from razulibs_spark.functions.urls import canonical_url
    from razulibs_spark.operators.html import (
        extract_links,
        synthesize_html_pages,
    )
    from razulibs_spark.operators.robots import robots_filter

    docs = T(spark, sf_dir, "documents")
    edges = extract_links(synthesize_html_pages(docs)).select(
        F.col("doc_id").alias("src"),
        (F.col("doc_id") % 50).alias("k"),
        "href",
    )
    cand = edges.select(
        "src", "k",
        canonical_url(
            F.concat(
                F.lit("https://h"), F.col("k"), F.lit(".example"),
                F.col("href"),
                # tracking noise on every 3rd candidate: the
                # canonicalizer must strip it or the seen-join misses
                F.when(
                    F.pmod(F.xxhash64("src", "href"), F.lit(3)) == 0,
                    F.lit("?utm_source=feed"),
                ).otherwise(F.lit("")),
            )
        ).alias("url"),
    )
    # robots verdict on the candidate paths
    hosts = spark.range(50).select(
        F.concat(F.lit("h"), F.col("id"), F.lit(".example")).alias("host"),
        F.concat(
            F.lit("User-agent: *\n"),
            F.when(
                F.col("id") % 4 == 2, F.lit("Disallow: /doc/9*\n")
            ).otherwise(F.lit("")),
        ).alias("robots_txt"),
    )
    with_host = cand.select(
        F.col("src").alias("doc_id"),
        F.concat(F.lit("h"), F.col("k"), F.lit(".example")).alias("host"),
        F.regexp_replace("url", r"^https://[^/]+", "").alias("path"),
        "url",
    )
    verdicts = robots_filter(
        with_host.select("doc_id", "host", "path"), hosts
    ).withColumnRenamed("doc_id", "src")
    seen = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.concat(
            F.lit("https://h"), F.col("doc_id") % 50,
            F.lit(".example/doc/"), F.col("doc_id"),
        ).alias("url")
    ).distinct()
    return (
        with_host.select(F.col("doc_id").alias("src"), "host", "path", "url")
        .join(verdicts, ["src", "host", "path"])
        .join(
            seen.withColumn("already_seen", F.lit(True)), "url", "left"
        )
        .select(
            "src", "url", "allowed",
            F.coalesce("already_seen", F.lit(False)).alias("already_seen"),
        )
    )


_ROBOTS_SQL = """
SELECT doc_id,
       'h' || CAST(doc_id % 50 AS VARCHAR) || '.example' AS host,
       CASE doc_id % 5 WHEN 0 THEN '/pub/a' WHEN 1 THEN '/private/x'
            WHEN 2 THEN '/private/open/y' WHEN 3 THEN '/tmp/z'
            ELSE '/files/d.pdf' END AS path,
       CASE doc_id % 5
            WHEN 0 THEN TRUE
            WHEN 1 THEN FALSE
            WHEN 2 THEN TRUE
            WHEN 3 THEN (doc_id % 50) % 3 <> 0
            ELSE (doc_id % 50) % 3 <> 1 END AS allowed
FROM documents
"""


@query("pipeline_robots_filter", _ROBOTS_SQL)
def pipeline_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt crawl-politeness gate (operators/robots.py, RFC 9309
    subset): 50 synthetic hosts carry real robots files — a blanket
    Disallow: /private with a LONGER Allow: /private/open override
    (longest-pattern-wins must beat rule order), plus per-host-class
    wildcard (Disallow: /tmp*) and end-anchored (Disallow: /*.pdf$)
    rules — and each document contributes one frontier URL. The oracle
    recomputes every verdict from the planting formulas, so a
    specificity tie-break, wildcard or anchor slip flips a boolean.
    The robots side is a broadcast per-host dim; verdicts are one
    Arrow pass with per-host compiled matchers."""
    from razulibs_spark.operators.robots import robots_filter

    docs = T(spark, sf_dir, "documents")
    hosts = spark.range(50).select(
        F.concat(F.lit("h"), F.col("id"), F.lit(".example")).alias("host"),
        F.concat(
            F.lit("User-agent: *\nDisallow: /private\n"
                  "Allow: /private/open\n"),
            F.when(F.col("id") % 3 == 0, F.lit("Disallow: /tmp*\n"))
            .when(F.col("id") % 3 == 1, F.lit("Disallow: /*.pdf$\n"))
            .otherwise(F.lit("")),
        ).alias("robots_txt"),
    )
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("h"), F.col("doc_id") % 50, F.lit(".example")
        ).alias("host"),
        F.element_at(
            F.array(
                F.lit("/pub/a"), F.lit("/private/x"),
                F.lit("/private/open/y"), F.lit("/tmp/z"),
                F.lit("/files/d.pdf"),
            ),
            (F.col("doc_id") % 5 + 1).cast("int"),
        ).alias("path"),
    )
    return robots_filter(urls, hosts)


_LINK_GRAPH_SQL = """
WITH l AS (SELECT doc_id, unnest(generate_series(0, doc_id % 3)) AS j
           FROM documents)
SELECT doc_id,
       '/doc/' || CAST((doc_id * 7 + 11 * j) % 10000 AS VARCHAR) AS href,
       'ref ' || CAST(j AS VARCHAR) AS anchor
FROM l
"""


@query("pipeline_link_graph", _LINK_GRAPH_SQL)
def pipeline_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-link edge extraction from REAL parsed HTML
    (operators/html.py:extract_links): each synthesized page carries a
    related-links section in its content region plus nav/footer chrome
    links; only the content links may appear in the edge list — a
    chrome link leaking in (or an anchor-text boundary slipping)
    mismatches the oracle, which recomputes every (src, href, anchor)
    row from the planting formula. This is the frontier/PageRank feed
    of a crawl pipeline; the graph operators (graph_pagerank,
    graph_bfs_levels) consume edge lists of exactly this shape."""
    from razulibs_spark.operators.html import (
        extract_links,
        synthesize_html_pages,
    )

    docs = T(spark, sf_dir, "documents")
    return extract_links(synthesize_html_pages(docs))


_CHARSET_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 19 = 5 THEN 'utf-8/fallback:windows-1252'
            WHEN doc_id % 8 = 1 THEN 'windows-1252'
            WHEN doc_id % 8 = 2 THEN 'utf-16'
            WHEN doc_id % 8 = 3 THEN 'iso-8859-1'
            WHEN doc_id % 8 = 4 THEN 'shift_jis'
            WHEN doc_id % 8 = 5 THEN 'gbk'
            WHEN doc_id % 8 = 6 THEN 'euc-kr'
            WHEN doc_id % 8 = 7 THEN 'iso-8859-2'
            ELSE 'utf-8' END AS encoding,
       'Doc ' || CAST(doc_id AS VARCHAR) AS title,
       CAST(1 AS BIGINT) AS n_blocks,
       md5(CASE WHEN doc_id % 19 = 5 THEN 'café'
                WHEN doc_id % 8 = 4 THEN 'カフェ'
                WHEN doc_id % 8 = 5 THEN '咖啡'
                WHEN doc_id % 8 = 6 THEN '카페'
                WHEN doc_id % 8 = 7 THEN 'kavárna'
                ELSE 'café' END
           || CAST(doc_id % 7 AS VARCHAR) || ' ' || text)
         AS main_hash
FROM documents
"""


@query("text_charset_sniff", _CHARSET_SQL)
def text_charset_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset sniff + decode — the bytes-to-text gate between binary
    crawl payloads (WARC bodies) and every text operator. Raw page
    BYTES are synthesized in the encodings a crawl actually serves
    (plain UTF-8, meta-declared windows-1252, BOM'd UTF-16-LE,
    http-equiv ISO-8859-1, declared Shift-JIS/GBK/EUC-KR/ISO-8859-2
    with in-repertoire marker words, and a MIS-declared
    utf-8-over-cp1252 slot that must fall back loudly, not mojibake
    silently); sniff order is
    BOM → declaration → strict-UTF-8 → windows-1252 fallback. Each
    page's text leads with a non-ASCII marker word, so a wrong decode
    flips the content hash, not just the label. Decode and extraction
    ride one Arrow pass each; the oracle recomputes label + hash from
    documents.text."""
    from razulibs_spark.operators.html import (
        decode_pages,
        extract_main_text,
        synthesize_encoded_pages,
    )

    docs = T(spark, sf_dir, "documents")
    decoded = decode_pages(synthesize_encoded_pages(docs))
    return extract_main_text(decoded, passthrough=("encoding",)).select(
        "doc_id", "encoding", "title", "n_blocks", "main_hash"
    )


_HTML_META_SQL = """
SELECT doc_id,
       'https://h' || CAST(doc_id % 8 AS VARCHAR) || '.example/doc/'
         || CAST(doc_id AS VARCHAR) AS canonical,
       'Doc ' || CAST(doc_id AS VARCHAR) AS og_title,
       CASE WHEN doc_id % 2 = 1 THEN 'article' ELSE 'website' END
         AS og_type,
       'Doc ' || CAST(doc_id AS VARCHAR) || ' & more' AS description,
       CASE WHEN doc_id % 11 = 3 THEN 'noindex,nofollow'
            WHEN doc_id % 11 = 7 THEN 'Index, Follow' END AS robots,
       CAST(CASE WHEN doc_id % 11 IN (3, 7) THEN 5 ELSE 4 END AS BIGINT)
         AS n_meta
FROM documents
"""


@query("text_html_meta", _HTML_META_SQL)
def text_html_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-metadata extraction (operators/html.py:extract_page_meta)
    — the crawl-curation signals next to the main text:
    rel=canonical (URL-level dedup collapses syndicated copies on it
    without content hashing), og:title/og:type, and description with
    an entity that must decode (&amp; → &). The planted chrome rides
    the SAME synthesized pages as the extraction entries, so the meta
    walk is verified against the same fixture the block/link oracles
    already pin — one attribute mis-read or one entity swallowed
    mismatches."""
    from razulibs_spark.operators.html import (
        extract_page_meta,
        synthesize_html_pages,
    )

    docs = T(spark, sf_dir, "documents")
    return extract_page_meta(synthesize_html_pages(docs))


_NOINDEX_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 11 = 3 THEN 'noindex,nofollow'
            WHEN doc_id % 11 = 7 THEN 'Index, Follow' END AS robots,
       doc_id % 11 <> 3 AS indexable,
       doc_id % 11 <> 3 AS followable
FROM documents
"""


@query("pipeline_noindex_gate", _NOINDEX_SQL)
def pipeline_noindex_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-robots gate — the page-level opt-out robots.txt cannot
    express (RFC 9309 governs FETCHING; <meta name=robots> governs
    INDEXING): a compliant corpus pipeline must drop noindex pages
    after fetch, and a compliant frontier must stop expanding
    nofollow pages' links. Directive parsing is the Google/Bing
    documented grammar: comma-separated tokens, whitespace-trimmed,
    case-folded ('Index, Follow' and 'ROBOTS' both normalize);
    ``none`` ≡ noindex,nofollow; absent meta defaults to indexable.
    The verdict is pure codegen (transform/array_contains over the
    split token list) riding the head-meta Arrow pass — no extra
    scan, no shuffle. Planted slices: %11==3 noindex,nofollow;
    %11==7 an index,follow that exercises trim+fold; everyone else
    has no robots meta at all."""
    from razulibs_spark.operators.html import (
        extract_page_meta,
        synthesize_html_pages,
    )

    docs = T(spark, sf_dir, "documents")
    meta = extract_page_meta(synthesize_html_pages(docs))
    toks = F.transform(
        F.split(F.coalesce(F.col("robots"), F.lit("")), ","),
        lambda t: F.lower(F.trim(t)),
    )
    blocked_index = F.array_contains(toks, "noindex") | F.array_contains(
        toks, "none"
    )
    blocked_follow = F.array_contains(
        toks, "nofollow"
    ) | F.array_contains(toks, "none")
    return meta.select(
        "doc_id",
        "robots",
        (~blocked_index).alias("indexable"),
        (~blocked_follow).alias("followable"),
    )


@query("text_html_extract", _HTML_EXTRACT_SQL)
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML main-content extraction (operators/html.py): deterministic
    web pages are synthesized around each document's words (12-word
    <p> paragraphs with inline <em> markup, plus the chrome a crawler
    meets — title/script/style head, nav menu, header/aside/footer
    boilerplate with entity-escaped junk, comments, void tags; every
    10th page uses uppercase tags + unquoted attributes), then the
    stdlib-HTMLParser extractor strips skip-region subtrees, emits
    whitespace-collapsed blocks, and counts removed boilerplate
    links. The oracle recomputes title, block count, removed-link
    count and the md5 of the reassembled main text from
    documents.text alone — one chrome word leaking into the
    extraction, or one content word lost to the <em> handling,
    mismatches. One stateless Arrow stage; linear in page bytes."""
    from razulibs_spark.operators.html import (
        extract_main_text,
        synthesize_html_pages,
    )

    docs = T(spark, sf_dir, "documents")
    return extract_main_text(synthesize_html_pages(docs))


# ---------------------------------------------------------------------------
# North-star: text analysis over `documents`
# ---------------------------------------------------------------------------

_TOKEN_SQL = r"""
SELECT doc_id,
       len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS re_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_measured
FROM documents
"""


@query("text_token_stats", _TOKEN_SQL)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens."""
    return text.token_stats(T(spark, sf_dir, "documents"))


_QUALITY_SQL = """
WITH q AS (SELECT doc_id,
   len(string_split(text, ' ')) AS n_words,
   len([w for w in string_split(text, ' ') if w = 'the' OR w = 'a']) AS n_stop
 FROM documents)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_stop AS BIGINT) AS n_stopwords,
       round(n_stop / n_words, 6) AS stop_ratio,
       round((1.0 - n_stop / n_words) * least(1.0, n_words / 100.0), 6) AS quality_score
FROM q
"""


@query("text_quality_scores", _QUALITY_SQL)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio × length saturation, pure
    rational arithmetic (cross-engine deterministic)."""
    return text.quality_scores(T(spark, sf_dir, "documents"))


_LANGID_SQL = """
WITH c AS (SELECT doc_id, lang,
   len([w for w in string_split(text, ' ') if w = 'the' OR w = 'a']) AS c_en,
   len([w for w in string_split(text, ' ') if w = 'data' OR w = 'value']) AS c_es,
   len([w for w in string_split(text, ' ') if w = 'query' OR w = 'join']) AS c_de
 FROM documents)
SELECT doc_id,
       CASE WHEN c_en >= c_es AND c_en >= c_de THEN 'en'
            WHEN c_es >= c_de THEN 'es' ELSE 'de' END AS predicted_lang,
       lang AS labeled_lang,
       (CASE WHEN c_en >= c_es AND c_en >= c_de THEN 'en'
             WHEN c_es >= c_de THEN 'es' ELSE 'de' END) = lang AS is_match
FROM c
"""


@query("text_language_id", _LANGID_SQL)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic vs the labeled lang column."""
    return text.language_id(T(spark, sf_dir, "documents"))


_FP_SQL = _SHINGLE_CTE + """
SELECT doc_id, min(md5(shingle)) AS fingerprint, COUNT(*) AS n_shingles
FROM ds GROUP BY doc_id
"""


@query("text_fingerprints", _FP_SQL)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprint: min-md5 over 3-gram shingles."""
    return text.fingerprints(dedup.word_shingles(T(spark, sf_dir, "documents")))


# ---------------------------------------------------------------------------
# North-star: similarity search over `embeddings`
# ---------------------------------------------------------------------------

_EMB_CTE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
"""

_TOPK_SQL = _EMB_CTE + """
, q AS (SELECT * FROM e WHERE vec_id < 10)
, scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                    list_cosine_similarity(q.v, c.v) AS cos
             FROM q, e c WHERE c.vec_id <> q.vec_id)
, ranked AS (SELECT query_id, neighbor_id, cos,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rnk
             FROM scored)
SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cosine
FROM ranked WHERE rnk <= 5
"""


@query("sim_cosine_topk", _TOPK_SQL)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors (ANN baseline):
    broadcast the queries, stream the corpus."""
    e = T(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(e, e.filter(F.col("vec_id") < 10), k=5)


_BENFORD_SQL = """
WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
        AS digit FROM c),
n AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
t AS (SELECT SUM(n) AS total FROM n)
SELECT digit, n,
       CAST(t.total * CASE digit
             WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
             WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947
             WHEN 7 THEN 57992 WHEN 8 THEN 51153 ELSE 45757 END
            // 1000000 AS BIGINT) AS expected_n
FROM n, t
ORDER BY digit
"""


@query("stats_benford_digits", _BENFORD_SQL)
def stats_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford leading-digit audit — the data-quality screen for
    fabricated or truncated numeric columns (real transaction amounts
    follow log10(1+1/d); synthetic or clipped feeds don't): leading
    digit of the EXACT cent value (the micro-quantize trick — a
    float-formatted leading digit is not engine-stable), counts per
    digit, and the Benford-expected count from integer-literal
    probabilities (micro-ints; no runtime log10 — transcendentals
    never cross the oracle boundary). One map-side-combinable
    aggregate + a 1-row broadcast total."""
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("long")
    counts = (
        T(spark, sf_dir, "orders")
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("total"))
    p_micro = F.element_at(
        F.array(
            F.lit(301030), F.lit(176091), F.lit(124939), F.lit(96910),
            F.lit(79181), F.lit(66947), F.lit(57992), F.lit(51153),
            F.lit(45757),
        ),
        F.col("digit").cast("int"),
    )
    return counts.crossJoin(F.broadcast(total)).select(
        "digit",
        "n",
        F.floor(F.col("total") * p_micro / 1000000)
        .cast("long")
        .alias("expected_n"),
    )


_LICENSE_SQL = """
SELECT doc_id,
       CASE doc_id % 5
            WHEN 0 THEN 'MIT'
            WHEN 1 THEN 'Apache-2.0'
            WHEN 2 THEN 'GPL-3.0-only'
            WHEN 3 THEN 'unknown'
            ELSE 'BSD-3-Clause' END AS license,
       doc_id % 5 IN (0, 1, 4) AS permissive,
       doc_id % 5 <> 3 AS detected
FROM documents
"""


@query("curate_license_filter", _LICENSE_SQL)
def curate_license_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """License gating — the code-corpus curation step every
    permissively-licensed training set runs (The Stack, StarCoder):
    detect the license from header text, keep permissive
    (MIT/Apache/BSD), drop copyleft, and treat NO detection as
    non-permissive (fail closed — an unlabeled file is not a grant).
    Detection is pure codegen: SPDX tags when present
    (``SPDX-License-Identifier:``), else the distinctive header
    phrases ('Permission is hereby granted' → MIT, 'Licensed under
    the Apache License, Version 2.0', 'GNU General Public License',
    'Redistribution and use in source and binary forms' → BSD) —
    checked in that order, first match wins. Planted headers mix
    BOTH channels (SPDX tags on some slices, phrase-only on others)
    so tag parsing and phrase fallback are each load-bearing. Zero
    Python, zero shuffle — the gate rides the scan projection."""
    d = F.col("doc_id")
    header = (
        # SPDX tag channel for MIT and GPL; phrase channel for the rest
        F.when(
            d % 5 == 0,
            F.lit("// SPDX-License-Identifier: MIT\n// lib code\n"),
        )
        .when(
            d % 5 == 1,
            F.lit(
                "/* Licensed under the Apache License, Version 2.0 "
                "(the \"License\"); */\n"
            ),
        )
        .when(
            d % 5 == 2,
            F.lit("# SPDX-License-Identifier: GPL-3.0-only\n"),
        )
        .when(d % 5 == 3, F.lit("// no license header here\n"))
        .otherwise(
            F.lit(
                "/* Redistribution and use in source and binary "
                "forms, with or without modification */\n"
            )
        )
    )
    docs = T(spark, sf_dir, "documents").select(
        "doc_id", F.concat(header, F.col("text")).alias("content")
    )
    spdx = F.regexp_extract(
        "content", r"SPDX-License-Identifier:\s*([A-Za-z0-9.+-]+)", 1
    )
    license_col = (
        F.when(spdx != "", spdx)
        .when(
            F.col("content").contains("Permission is hereby granted"),
            F.lit("MIT"),
        )
        .when(
            F.col("content").contains(
                "Licensed under the Apache License, Version 2.0"
            ),
            F.lit("Apache-2.0"),
        )
        .when(
            F.col("content").contains("GNU General Public License"),
            F.lit("GPL-3.0-only"),
        )
        .when(
            F.col("content").contains(
                "Redistribution and use in source and binary forms"
            ),
            F.lit("BSD-3-Clause"),
        )
        .otherwise(F.lit("unknown"))
    )
    permissive_set = F.array(
        F.lit("MIT"), F.lit("Apache-2.0"), F.lit("BSD-3-Clause"),
        F.lit("BSD-2-Clause"), F.lit("ISC"), F.lit("Unlicense"),
    )
    return docs.select(
        "doc_id",
        license_col.alias("license"),
        F.array_contains(permissive_set, license_col).alias("permissive"),
        (license_col != "unknown").alias("detected"),
    )


_GEOJSON_SQL = """
WITH p AS (SELECT doc_id,
                  CAST(doc_id % 100 AS DOUBLE) AS x0,
                  CAST(doc_id % 53 AS DOUBLE) AS y0,
                  CAST(1 + doc_id % 7 AS DOUBLE) AS w,
                  CAST(1 + doc_id % 5 AS DOUBLE) AS h
           FROM documents)
SELECT doc_id,
       CASE doc_id % 4 WHEN 1 THEN 'MultiPolygon'
            WHEN 2 THEN 'Point' ELSE 'Polygon' END AS gtype,
       x0 AS xmin, y0 AS ymin,
       CASE doc_id % 4 WHEN 1 THEN x0 + w + 200.0
            WHEN 2 THEN x0 ELSE x0 + w END AS xmax,
       CASE doc_id % 4 WHEN 1 THEN y0 + h + 200.0
            WHEN 2 THEN y0 ELSE y0 + h END AS ymax
FROM p
"""


@query("f_geojson_bbox", _GEOJSON_SQL)
def f_geojson_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoJSON (RFC 7946) geometry ingestion with HETEROGENEOUS
    types — the trap in real GeoJSON is that ``coordinates`` changes
    SHAPE per geometry type (Point: [x,y]; Polygon: ring list;
    MultiPolygon: list of those), so no single from_json schema fits:
    the engine parses the type tag first, then applies the
    type-specific schema and normalizes every geometry to its
    flattened point list — the standard Spark pattern for mixed
    feature collections. The bbox (what a spatial index or the PBSM
    grid join keys on) falls out of array_min/max over HOF
    projections. All pure codegen: three from_json applications,
    flatten, transform — zero Python, zero shuffle. The oracle
    recomputes every bbox from the planted rectangle formulas
    (MultiPolygon's second part is offset +200, so a dropped part
    shows up in xmax/ymax)."""
    d = F.col("doc_id")
    x0 = (d % 100).cast("double")
    y0 = (d % 53).cast("double")
    w = (1 + d % 7).cast("double")
    h = (1 + d % 5).cast("double")

    def ring(ax, ay, bx, by):
        return F.concat(
            F.lit("[["), ax, F.lit(","), ay,
            F.lit("],["), bx, F.lit(","), ay,
            F.lit("],["), bx, F.lit(","), by,
            F.lit("],["), ax, F.lit(","), by,
            F.lit("],["), ax, F.lit(","), ay, F.lit("]]"),
        )

    r1 = ring(x0, y0, x0 + w, y0 + h)
    r2 = ring(x0 + 200, y0 + 200, x0 + w + 200, y0 + h + 200)
    gj = (
        F.when(
            d % 4 == 1,
            F.concat(
                F.lit('{"type":"MultiPolygon","coordinates":[['),
                r1, F.lit("],["), r2, F.lit("]]}"),
            ),
        )
        .when(
            d % 4 == 2,
            F.concat(
                F.lit('{"type":"Point","coordinates":['),
                x0, F.lit(","), y0, F.lit("]}"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit('{"type":"Polygon","coordinates":['),
                r1, F.lit("]}"),
            )
        )
    )
    docs = T(spark, sf_dir, "documents").select("doc_id", gj.alias("gj"))
    gtype = F.get_json_object("gj", "$.type")
    pt = F.from_json(
        "gj", "type string, coordinates array<double>"
    )["coordinates"]
    poly = F.from_json(
        "gj", "type string, coordinates array<array<array<double>>>"
    )["coordinates"]
    mpoly = F.from_json(
        "gj",
        "type string, coordinates array<array<array<array<double>>>>",
    )["coordinates"]
    points = (
        F.when(gtype == "Point", F.array(pt))
        .when(gtype == "Polygon", F.flatten(poly))
        .otherwise(F.flatten(F.flatten(mpoly)))
    )
    xs = F.transform(points, lambda p: F.element_at(p, 1))
    ys = F.transform(points, lambda p: F.element_at(p, 2))
    return docs.select(
        "doc_id",
        gtype.alias("gtype"),
        F.array_min(xs).alias("xmin"),
        F.array_min(ys).alias("ymin"),
        F.array_max(xs).alias("xmax"),
        F.array_max(ys).alias("ymax"),
    )


_MIPS_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 12),
scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  list_inner_product(q.v, c.v) AS dp
           FROM q, e c WHERE c.vec_id <> q.vec_id),
ranked AS (SELECT query_id, neighbor_id, dp,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY dp DESC, neighbor_id) AS rnk
           FROM scored)
SELECT query_id, neighbor_id, rnk, round(dp, 6) AS dot
FROM ranked WHERE rnk <= 5
"""


@query("sim_mips_topk", _MIPS_SQL)
def sim_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product top-5 via the Shrivastava–Li asymmetric
    transform (similarity.mips_topk): the oracle ranks by the INNER
    PRODUCT directly (list_inner_product); the engine ranks by
    COSINE over the lifted vectors (corpus augmented with
    sqrt(M²−‖x‖²), query with 0) — the reduction theorem that lets
    every cosine-only ANN structure serve unnormalized-retrieval
    workloads. Identical rankings AND identical rounded dot values on
    every row, or the hash mismatches."""
    e = T(spark, sf_dir, "embeddings")
    return similarity.mips_topk(e, e.filter(F.col("vec_id") < 12), k=5)


_HARDNEG_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
           FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id % 25 = 0),
scored AS (SELECT q.vec_id AS anchor_id, c.vec_id AS negative_id,
                  list_cosine_similarity(q.v, c.v) AS cos
           FROM q, e c WHERE c.label <> q.label),
ranked AS (SELECT anchor_id, negative_id, cos,
                  ROW_NUMBER() OVER (PARTITION BY anchor_id
                                     ORDER BY cos DESC, negative_id) AS rnk
           FROM scored)
SELECT anchor_id, negative_id, rnk, round(cos, 6) AS cosine
FROM ranked WHERE rnk <= 5
"""


@query("sim_hard_negatives", _HARDNEG_SQL)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (similarity.hard_negatives) — the
    embedding-training curation step: per anchor, the 5 most similar
    OTHER-label vectors. Random negatives saturate the contrastive
    loss; same-label neighbors are false negatives that poison it —
    the signal is exactly the near-but-wrong region. Broadcast-anchor
    shape with the label inequality applied before any dot product;
    the oracle re-ranks with DuckDB's list_cosine_similarity (the
    IEEE agreement already proven by sim_cosine_topk)."""
    e = T(spark, sf_dir, "embeddings")
    return similarity.hard_negatives(
        e, e.filter(F.col("vec_id") % 25 == 0), k=5
    )


_NEARDUP_SQL = _EMB_CTE + """
, scored AS (SELECT a.vec_id AS v1, b.vec_id AS v2,
                    round(list_cosine_similarity(a.v, b.v), 6) AS cosine
             FROM e a, e b WHERE a.vec_id < b.vec_id)
SELECT v1, v2, cosine FROM scored WHERE cosine >= 0.4
"""


@query("sim_embedding_neardup", _NEARDUP_SQL)
def sim_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.4), exact, via the
    blocked block-pair grid (similarity.blocked_exact_neardup): equi-
    join grid + per-tile BLAS compare, bounded task memory, no
    CartesianProduct node. Exact low-threshold all-pairs is Omega(N^2)
    compares (the corpus plants pairs AT the threshold, so every
    LSH/IVF probe budget that reaches recall 1.0 generates more
    candidates than brute — measured in the operator docstring); the
    approximate scale twins are sim_rp_lsh_neardup (high thresholds)
    and sim_ivf_* (bucketed top-k)."""
    return similarity.blocked_exact_neardup(
        T(spark, sf_dir, "embeddings"), 0.4
    )


_IVF_SQL = _EMB_CTE + """
, cent AS (SELECT * FROM e WHERE vec_id < 4)
, scored AS (SELECT e.vec_id, cent.vec_id AS centroid_id,
                    list_cosine_similarity(e.v, cent.v) AS cos
             FROM e, cent)
, r AS (SELECT vec_id, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, centroid_id) AS rn
        FROM scored)
SELECT vec_id, centroid_id FROM r WHERE rn = 1
"""


@query("sim_ivf_assign", _IVF_SQL)
def sim_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style nearest-centroid bucket assignment — the partitioning
    stage of scalable ANN (per-bucket joins replace the full cross
    join)."""
    e = T(spark, sf_dir, "embeddings")
    return similarity.ivf_assign(e, e.filter(F.col("vec_id") < 4))


# ---------------------------------------------------------------------------
# Rows-only queries (no SQL oracle): multimodal pipeline (Pandas-UDF
# plumbing) and the Structured Streaming rollup — the driver records
# the weaker rows-only check for these by contract.
# ---------------------------------------------------------------------------


_MM_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image/jpeg'
            WHEN 1 THEN 'image/png' ELSE 'audio/wav' END AS media_format,
       CAST(LEAST(n_chars % 1024 + 16, 256) AS BIGINT) AS thumb_width,
       CAST((LEAST(n_chars % 1024 + 16, 256) * 9) // 16 AS BIGINT) AS thumb_height
FROM documents
"""


@query("multimodal_features", _MM_SQL)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media columns + Arrow-batched mapInPandas feature
    extraction (decode stubbed — see operators/multimodal.py). The
    fake features are deterministic functions of the payload bytes, so
    even this Python-boundary pipeline is oracle-checked."""
    from razulibs_spark.operators.multimodal import attach_media_columns, extract_features

    docs = T(spark, sf_dir, "documents")
    return extract_features(attach_media_columns(docs))


_HOURLY_ROLLUP_STREAM_SQL = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR((value) * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
         / 10000.0 AS sum_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


@query("streaming_hourly_rollup", _HOURLY_ROLLUP_STREAM_SQL)
def streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10: readStream + watermark + tumbling window over the events
    table, drained with Trigger.AvailableNow. With a static source and
    no late data the streaming contract reduces to the batch rollup
    EXACTLY (the stream sums through the same dec_sum fixed-point, so
    even the float tails agree) — which upgrades this entry from a
    rows-only check to the batch twin's full hash oracle. Watermark
    eviction of genuinely late rows stays pytest-covered."""
    from razulibs_spark.streaming.events_stream import (
        hourly_rollup_stream,
        run_available_now,
    )

    return run_available_now(hourly_rollup_stream(spark, sf_dir), spark)


_S6_SQL = """
SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS filename,
       md5(text) AS md5hash,
       CAST(strlen(text) AS BIGINT) AS file_size,
       '.txt' AS file_extension
FROM documents
"""


@query("s6_manifest_scan", _S6_SQL)
def s6_manifest_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 recursive binaryFile scan → manifest rows (path-keyed MD5 /
    size / extension), run against a payload store the query itself
    materializes: every document's text is written as
    bestanden/doc_<id>.txt from the executors (the per-entity payload
    layout the reference manages, razu/manifest.py:223-283), then
    manifest_from_directory re-reads the files through binaryFile and
    hashes REAL bytes executor-side. Because the payload bytes are
    exactly the utf-8 text, DuckDB predicts every manifest row from
    the documents view (md5 of the utf-8 string, byte length), so the
    whole write→scan→hash fixity cycle is hash-verified end-to-end —
    this was the last rows-only entry that admitted an oracle.

    Like write_jsonld_per_entity, the executor-side
    file writes assume a SHARED filesystem between driver and
    executors (trivially true on local[n]; on a cluster point `base`
    at NFS/Fuse-mounted storage or swap the writer for an object-store
    client) — the binaryFile re-scan runs from the driver's view of
    the same path."""

    from razulibs_spark.operators.manifest import manifest_from_directory

    base = scratch_path("s6_store")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base + "/bestanden", exist_ok=True)
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")

    def write_part(rows):
        for r in rows:
            with open(
                f"{base}/bestanden/doc_{r['doc_id']}.txt", "wb"
            ) as fh:
                fh.write(r["text"].encode("utf-8"))

    each_partition(docs, write_part)
    m = manifest_from_directory(spark, base)
    return m.select("filename", "md5hash", "file_size", "file_extension")


_AVRO_SQL = """
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE lang IN ('en', 'de', 'fr')
GROUP BY lang, source
"""


@query("io_avro_roundtrip", _AVRO_SQL)
def io_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro sink → Avro source roundtrip: write documents as Avro
    hive-partitioned by lang, re-read with a partition filter, and
    aggregate — the third storage format end to end (after parquet and
    ORC), hash-verified against the parquet-derived oracle. Avro is
    the splittable row-major interchange format; the datasource
    resolves via the FileFormat class (sources/avro.py: the short name
    needs the external module's service registration, the class ships
    in this distribution's spark-sql jar). Partition pruning on lang
    applies as with any file source; full text (arbitrary UTF-8)
    survives the format roundtrip.

    Store path keyed by sf_dir for the same eager-write/lazy-read
    reason as io_orc_roundtrip."""

    from razulibs_spark.sources.avro import read_avro, write_avro

    base = scratch_path("avro_store_" + os.path.basename(sf_dir.rstrip("/")))
    docs = T(spark, sf_dir, "documents")
    write_avro(docs, base, partition_by=["lang"])
    back = read_avro(spark, base)
    return (
        back.filter(F.col("lang").isin("en", "de", "fr"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


_ORC_SQL = f"""
SELECT o_orderpriority,
       CAST(month(o_orderdate) AS BIGINT) AS order_month,
       COUNT(*) AS n_orders,
       {DEC_SUM_SQL('o_totalprice', 'sum_price')}
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
  AND o_totalprice > 100000
GROUP BY o_orderpriority, month(o_orderdate)
"""


@query("io_orc_roundtrip", _ORC_SQL)
def io_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink → ORC source roundtrip: write orders as ORC
    partitioned by priority, re-read, and aggregate — exercising the
    second columnar format end to end (schema + values hash-verified
    against the parquet-derived oracle). The read plan must prune to
    the two selected priority partitions (PartitionFilters) and push
    the price predicate into the ORC scan (PushedFilters) — asserted
    in tests/test_scale_plans.py. TIMESTAMP_NTZ survives the format
    roundtrip (month() agrees with the oracle). Avro has its own
    roundtrip entry (io_avro_roundtrip) via the FileFormat-class
    resolution in sources/avro.py.

    The store path is keyed by sf_dir: the write happens eagerly at
    DataFrame construction but the read is lazy, so a shared path
    would let a later construction at another scale factor clobber
    the store an earlier DataFrame still points at."""

    base = scratch_path("orc_store_" + os.path.basename(sf_dir.rstrip("/")))
    orders = T(spark, sf_dir, "orders")
    orders.write.mode("overwrite").partitionBy("o_orderpriority").orc(base)
    back = spark.read.orc(base)
    return (
        back.filter(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            & (F.col("o_totalprice") > 100000)
        )
        .groupBy(
            "o_orderpriority",
            F.month("o_orderdate").cast("long").alias("order_month"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            dec_sum(F.col("o_totalprice"), "sum_price"),
        )
    )


_EVO_SQL = f"""
SELECT CASE WHEN month(o_orderdate) > 6 THEN o_orderpriority
            ELSE '<legacy>' END AS priority,
       COUNT(*) AS n_orders,
       {DEC_SUM_SQL('o_totalprice', 'sum_price')}
FROM orders
GROUP BY 1
"""


@query("io_schema_evolution", _EVO_SQL)
def io_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution ingestion: two parquet batches written with
    DIFFERENT schemas — the old one lacks o_orderpriority, the new one
    carries it — re-read in one scan with mergeSchema=true, legacy
    rows surfacing NULL for the added column (coalesced to a
    '<legacy>' bucket). This is the lake reality at 100 TB: columns
    get added mid-corpus and the reader must union schemas without a
    rewrite. mergeSchema costs one footer read per file at planning
    time (not a data pass) — acceptable per-batch, and the reason
    production tables pin a catalog schema once evolution settles.
    Store path keyed by sf_dir (eager write / lazy read)."""

    base = scratch_path("evo_" + os.path.basename(sf_dir.rstrip("/")))
    orders = T(spark, sf_dir, "orders")
    old = orders.filter(F.month("o_orderdate") <= 6).select(
        "o_orderkey", "o_totalprice"
    )
    new = orders.filter(F.month("o_orderdate") > 6).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    old.write.mode("overwrite").parquet(base + "/v1")
    new.write.mode("overwrite").parquet(base + "/v2")
    back = spark.read.option("mergeSchema", "true").parquet(
        base + "/v1", base + "/v2"
    )
    return back.groupBy(
        F.coalesce(F.col("o_orderpriority"), F.lit("<legacy>")).alias(
            "priority"
        )
    ).agg(
        F.count("*").alias("n_orders"),
        dec_sum(F.col("o_totalprice"), "sum_price"),
    )


_D6_SQL = """
SELECT CAST(ROW_NUMBER() OVER (
         ORDER BY 'https://data.razu.nl/id/object/NL-WbDRAZU-G0321-661-'
                  || CAST(o_orderkey AS VARCHAR)) AS BIGINT) AS event_id,
       'mem' AS event_type,
       'https://data.razu.nl/id/object/NL-WbDRAZU-G0321-661-'
         || CAST(o_orderkey AS VARCHAR) AS subject,
       'https://data.razu.nl/id/actor/razu' AS implemented_by,
       'suc' AS outcome,
       'Metadata object created.' AS description
FROM orders
"""


@query("d6_premis_events", _D6_SQL)
def d6_premis_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6 PREMIS event generation: one `mem` (metadata modification)
    event per order entity with dense ids (O1 two-phase scheme).
    Timestamps are batch-stamped (current_timestamp, F18) and dropped
    at this projection so the remainder is oracle-checkable."""
    from razulibs_spark.operators.events import build_events

    o = T(spark, sf_dir, "orders")
    subjects = o.select(razu_uri(razu_uid(F.col("o_orderkey"))).alias("uri"))
    ev = build_events(
        subjects, "uri", "mem",
        actor="https://data.razu.nl/id/actor/razu",
        description="Metadata object created.",
    )
    return ev.select(
        "event_id", "event_type",
        F.explode("subjects").alias("subject"),
        "implemented_by", "outcome", "description",
    )


# ---------------------------------------------------------------------------
# Remaining §2 coverage: P4/P8, U2, A2, F4/F6/F9/F11-F12/F14/F17
# ---------------------------------------------------------------------------

_P4_SQL = f"""
WITH triples AS ({_O2_SQL})
SELECT s, min(o) AS first_o
FROM triples WHERE p = 'ldto:status'
GROUP BY s
"""


@query("p4_triple_first_value", _P4_SQL)
def p4_triple_first_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 triple-pattern (s,p,?) → first object value
    (razu/meta_resource.py:224-232); "first" made deterministic as the
    min — the engine form of rdflib's arbitrary-first semantics."""
    from razulibs_spark.operators.rdf import triple_pattern

    triples = o2_entity_fanout(spark, sf_dir)
    return (
        triple_pattern(triples.select("s", "p", F.col("o"), F.lit("uri").alias("o_type")), p="ldto:status")
        .groupBy("s")
        .agg(F.min("o").alias("first_o"))
    )


_P8_SQL = """
WITH m AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderdate END AS md5date
  FROM orders)
SELECT o_orderkey, md5date
FROM m
WHERE md5date >= TIMESTAMP '1998-01-01' OR md5date IS NULL
"""


@query("p8_date_filter_nullkeep", _P8_SQL)
def p8_date_filter_nullkeep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 closure-based date filter keeping nulls
    (razu/edepot.py:73-85: entries without a checksum date pass)."""
    o = T(spark, sf_dir, "orders")
    m = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(
            F.col("o_orderdate")
        ).alias("md5date"),
    )
    return m.filter(
        (F.col("md5date") >= F.lit("1998-01-01").cast("timestamp"))
        | F.col("md5date").isNull()
    )


_U2_SQL = """
SELECT DISTINCT o_orderkey, o_orderstatus FROM (
  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 3 = 0)
"""


@query("u2_graph_union_dedup", _U2_SQL)
def u2_graph_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 graph union (razu/rdf_resource.py:25-28): rdflib `+=` dedups
    identical triples ⇒ `rdf.graph_union`."""
    from razulibs_spark.operators.rdf import graph_union

    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    return graph_union(
        o.filter(F.col("o_orderkey") % 2 == 0), o.filter(F.col("o_orderkey") % 3 == 0)
    )


_A2_SQL = """
SELECT least((SELECT min(o_orderdate) FROM orders),
             (SELECT min(l_shipdate) FROM lineitem)) AS ingestion_start
"""


@query("a2_min_across_runs", _A2_SQL)
def a2_min_across_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 min across tool runs (razu/sip.py:79-81):
    least() over independent aggregates."""
    o = T(spark, sf_dir, "orders").agg(F.min("o_orderdate").alias("_a"))
    li = T(spark, sf_dir, "lineitem").agg(F.min("l_shipdate").alias("_b"))
    return o.crossJoin(li).select(
        F.least(F.col("_a"), F.col("_b")).alias("ingestion_start")
    )


_F4_SQL = """
WITH u AS (
  SELECT o_orderkey,
         'NL-WbDRAZU-G0321-661-' || CAST(o_orderkey AS VARCHAR) AS uid
  FROM orders)
SELECT o_orderkey, uid,
       split_part(uid, '-', 3) AS source_id,
       split_part(uid, '-', 4) AS archive_id,
       CAST(split_part(uid, '-', 5) AS BIGINT) AS object_id
FROM u
"""


@query("f4_extract_id_parts", _F4_SQL)
def f4_extract_id_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 positional dash-token extraction after the NL-WbDRAZU prefix
    (razu/util.py:73-107, razu/identifiers.py:88-121)."""
    o = T(spark, sf_dir, "orders")
    uid = razu_uid(F.col("o_orderkey"))
    d = o.select("o_orderkey", uid.alias("uid"))
    return d.select(
        "o_orderkey",
        "uid",
        F.split_part(F.col("uid"), F.lit("-"), F.lit(3)).alias("source_id"),
        F.split_part(F.col("uid"), F.lit("-"), F.lit(4)).alias("archive_id"),
        F.split_part(F.col("uid"), F.lit("-"), F.lit(5)).cast("long").alias("object_id"),
    )


_F6_SQL = r"""
WITH p AS (
  SELECT o_orderkey,
         'F:\depot\bestanden\sub' || CAST(o_orderkey % 10 AS VARCHAR)
         || '\f' || CAST(o_orderkey AS VARCHAR) || '.jpg' AS raw_path
  FROM orders)
SELECT o_orderkey, raw_path,
       regexp_extract(replace(raw_path, '\', '/'), '.*bestanden/(.*)$', 1) AS rel_path
FROM p
"""


@query("f6_normalize_path", _F6_SQL)
def f6_normalize_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 normalize_path (razu/util.py:128-153): backslash→slash,
    relativize to the `bestanden/` segment."""
    from razulibs_spark.functions.scalars import normalize_path

    o = T(spark, sf_dir, "orders")
    raw = F.concat(
        F.lit(r"F:\depot\bestanden\sub"),
        (F.col("o_orderkey") % 10).cast("string"),
        F.lit(r"\f"),
        F.col("o_orderkey").cast("string"),
        F.lit(".jpg"),
    )
    d = o.select("o_orderkey", raw.alias("raw_path"))
    return d.select(
        "o_orderkey", "raw_path", normalize_path(F.col("raw_path")).alias("rel_path")
    )


_F9_SQL = """
SELECT o_orderkey,
       CAST(1984 + o_orderkey % 30 AS VARCHAR) || '_' ||
       lpad(CAST(1 + o_orderkey % 5 AS VARCHAR), 2, '0') || '_' ||
       lpad(CAST(o_orderkey % 999 AS VARCHAR), 3, '0') || '.jpg' AS bestandsnaam
FROM orders
"""


@query("f9_compose_filename", _F9_SQL)
def f9_compose_filename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 maak_bestandsnaam `{jaar}_{nn:02d}_{nnn:03d}.jpg`
    (demo/csv_luchtfotos/extra.py:46-54) through the csv2rdf plan's
    `compose_filename`, on a synthesized `jaar-nummer` Doos-nummer."""
    from razulibs_spark.plans.csv2rdf import compose_filename

    key = F.col("o_orderkey")
    doos = F.concat_ws("-", (1984 + key % 30).cast("string"), (1 + key % 5).cast("string"))
    o = T(spark, sf_dir, "orders")
    return o.select("o_orderkey", compose_filename(doos, key % 999).alias("bestandsnaam"))


_F12_SQL = """
WITH c AS (
  SELECT o_orderkey,
         'X ' || CAST(136669000 + o_orderkey % 1000 AS VARCHAR)
         || ' Y ' || CAST(451994996 - o_orderkey % 1000 AS VARCHAR) AS coord
  FROM orders),
 parsed AS (
  SELECT o_orderkey, coord,
         CAST(CAST(split_part(coord, ' ', 2) AS DOUBLE) / 1000.0 AS DECIMAL(12,3)) AS x,
         CAST(CAST(split_part(coord, ' ', 4) AS DOUBLE) / 1000.0 AS DECIMAL(12,3)) AS y
  FROM c)
SELECT o_orderkey, coord,
       'POLYGON ((' ||
       CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR) || ', ' ||
       CAST(x + 0.686 AS VARCHAR) || ' ' || CAST(y AS VARCHAR) || ', ' ||
       CAST(x + 0.686 AS VARCHAR) || ' ' || CAST(y + 0.686 AS VARCHAR) || ', ' ||
       CAST(x AS VARCHAR) || ' ' || CAST(y + 0.686 AS VARCHAR) || ', ' ||
       CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR) || '))' AS wkt
FROM parsed
"""


@query("f12_wkt_bbox", _F12_SQL)
def f12_wkt_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11/F12 RD-coordinate parse + WKT bbox polygon
    (demo/csv_luchtfotos/extra.py:14-18,29-40). Coordinates are carried
    as decimal(12,3) so the string form is engine-identical."""
    from razulibs_spark.functions.scalars import parse_rd_coord, wkt_bbox_polygon

    o = T(spark, sf_dir, "orders")
    coord = F.concat(
        F.lit("X "),
        (136669000 + F.col("o_orderkey") % 1000).cast("string"),
        F.lit(" Y "),
        (451994996 - F.col("o_orderkey") % 1000).cast("string"),
    )
    d = o.select("o_orderkey", coord.alias("coord"))
    x, y = parse_rd_coord(F.col("coord"))
    xd = x.cast("decimal(12,3)")
    yd = y.cast("decimal(12,3)")
    return d.select(
        "o_orderkey",
        "coord",
        wkt_bbox_polygon(xd, yd, (xd + F.lit(0.686)).cast("decimal(13,3)"),
                         (yd + F.lit(0.686)).cast("decimal(13,3)")).alias("wkt"),
    )


_F14_SQL = """
SELECT p_partkey,
       CAST(coalesce(CASE WHEN p_partkey % 5 = 0 THEN NULL ELSE p_size END, 0) AS BIGINT) AS size_filled
FROM part
"""


@query("f14_null_to_zero", _F14_SQL)
def f14_null_to_zero(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14 fillna(0).astype(int) on SIZE (csv2rdf.py:56)."""
    p = T(spark, sf_dir, "part")
    nullable = F.when(F.col("p_partkey") % 5 == 0, F.lit(None)).otherwise(F.col("p_size"))
    return p.select(
        "p_partkey",
        F.coalesce(nullable, F.lit(0)).cast("long").alias("size_filled"),
    )


_F17_SQL = """
WITH f AS (
  SELECT o_orderkey,
         CASE CAST(o_orderkey % 4 AS INTEGER)
           WHEN 0 THEN '.gz' WHEN 1 THEN '.json' WHEN 2 THEN '.jpg' ELSE '' END AS ext
  FROM orders)
SELECT o_orderkey, ext,
       CASE ext WHEN '.jpg' THEN 'image/jpeg'
                WHEN '.json' THEN 'application/json'
                WHEN '.gz' THEN 'application/gzip'
                ELSE 'application/octet-stream' END AS mime_type
FROM f
"""


@query("f17_mime_guess", _F17_SQL)
def f17_mime_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17 MIME guess with octet-stream default
    (razu/s3storage.py:167-169) as a literal lookup map."""
    o = T(spark, sf_dir, "orders")
    ext = (
        F.when(F.col("o_orderkey") % 4 == 0, F.lit(".gz"))
        .when(F.col("o_orderkey") % 4 == 1, F.lit(".json"))
        .when(F.col("o_orderkey") % 4 == 2, F.lit(".jpg"))
        .otherwise(F.lit(""))
    )
    d = o.select("o_orderkey", ext.alias("ext"))
    mime = (
        F.when(F.col("ext") == ".jpg", F.lit("image/jpeg"))
        .when(F.col("ext") == ".json", F.lit("application/json"))
        .when(F.col("ext") == ".gz", F.lit("application/gzip"))
        .otherwise(F.lit("application/octet-stream"))
    )
    return d.select("o_orderkey", "ext", mime.alias("mime_type"))


# ---------------------------------------------------------------------------
# §2 closers: P5 pivot, J7 verification, A4 buckets, F5, F16, T3, S7,
# K2/S4 round-trip
# ---------------------------------------------------------------------------


def _o2_triples_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-schema (TRIPLE_SCHEMA) variant of the O2 fan-out, for
    queries that need o_type/o_datatype/o_lang.

    The scan is widened (``tables.widen_python_stage``) BEFORE the
    fan-out: the downstream roundtrip sinks (JSON-LD / Turtle /
    N-Triples) chain seconds of per-row string work onto this frame,
    and a single-split parquet source would otherwise serialize all of
    it through one task. A scan's partitions are counted without
    running a job, and the (cheap, entity-sized) shuffle moves ahead of
    the 5x row fan-out; at cluster scale the scan has more splits than
    cores and the widen is a no-op."""
    o = tables.widen_python_stage(T(spark, sf_dir, "orders"))
    uid = razu_uid(F.col("o_orderkey"))
    return entity_to_triples(
        o,
        razu_uri(uid),
        [
            PropertyMap("rdf:type", F.lit("ldto:Informatieobject"), "uri"),
            PropertyMap("ldto:identificatie", uid),
            PropertyMap("ldto:status", F.col("o_orderstatus")),
            PropertyMap("ldto:totalPrice", F.col("o_totalprice").cast("decimal(18,2)"),
                        datatype="http://www.w3.org/2001/XMLSchema#decimal"),
            PropertyMap("ldto:orderDate", F.col("o_orderdate").cast("date"),
                        datatype="http://www.w3.org/2001/XMLSchema#date"),
        ],
    )


_P5_SQL = f"""
WITH triples AS ({_O2_SQL})
SELECT s,
       max(CASE WHEN p = 'ldto:status' THEN o END) AS status,
       max(CASE WHEN p = 'ldto:totalPrice' THEN o END) AS total_price,
       max(CASE WHEN p = 'ldto:orderDate' THEN o END) AS order_date
FROM triples
GROUP BY s
HAVING max(CASE WHEN p = 'rdf:type' AND o = 'ldto:Informatieobject' THEN 1 END) = 1
"""


@query("p5_subject_type_pivot", _P5_SQL)
def p5_subject_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 subject-by-type filter + per-property pivot (cpr.py:31-43:
    graph.subjects(RDF.type, T) then graph.value per property).
    One shuffle: conditional aggregates instead of N self-joins."""
    t = o2_entity_fanout(spark, sf_dir)
    first = lambda pred: F.max(F.when(F.col("p") == pred, F.col("o")))
    return (
        t.groupBy("s")
        .agg(
            first("ldto:status").alias("status"),
            first("ldto:totalPrice").alias("total_price"),
            first("ldto:orderDate").alias("order_date"),
            F.max(
                F.when(
                    (F.col("p") == "rdf:type")
                    & (F.col("o") == "ldto:Informatieobject"),
                    F.lit(1),
                )
            ).alias("_is_type"),
        )
        .filter(F.col("_is_type") == 1)
        .drop("_is_type")
    )


_J7_SQL = """
WITH manifest AS (
  SELECT p_name AS filename, md5(p_name) AS local_md5 FROM part),
 listing AS (
  SELECT p_name AS filename,
         CASE WHEN p_partkey % 10 = 0 THEN md5(p_name || 'x')
              WHEN p_partkey % 10 = 1 THEN md5(p_name) || '-2'
              ELSE md5(p_name) END AS etag
  FROM part WHERE p_partkey % 10 <> 2)
SELECT m.filename,
       CASE WHEN l.etag IS NULL THEN 'missing_remote'
            WHEN l.etag LIKE '%-%' THEN 'multipart_recheck'
            WHEN l.etag = m.local_md5 THEN 'verified'
            ELSE 'mismatch' END AS status
FROM manifest m LEFT JOIN listing l ON m.filename = l.filename
"""


@query("j7_upload_verification", _J7_SQL)
def j7_upload_verification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 upload-verification join (razu/edepot.py:257-269,
    razu/s3storage.py:219-255): manifest MD5 vs S3 ETag in one join
    over one LIST, multipart ETags ('-' marker) routed to a recheck
    bucket instead of a per-file download on the hot path."""
    from razulibs_spark.sinks.object_store import upload_status

    p = T(spark, sf_dir, "part")
    manifest = p.select(F.col("p_name").alias("filename"),
                        F.md5("p_name").alias("local_md5"))
    listing = (
        p.filter(F.col("p_partkey") % 10 != 2)
        .select(
            F.col("p_name").alias("filename"),
            F.when(F.col("p_partkey") % 10 == 0, F.md5(F.concat(F.col("p_name"), F.lit("x"))))
            .when(F.col("p_partkey") % 10 == 1, F.concat(F.md5("p_name"), F.lit("-2")))
            .otherwise(F.md5("p_name"))
            .alias("etag"),
        )
    )
    # The library's status codes; a null status is a verified object,
    # and this query names md5_mismatch 'mismatch'.
    failed = upload_status(F.col("etag"), F.col("local_md5"))
    status = F.coalesce(F.regexp_replace(failed, "^md5_", ""), F.lit("verified"))
    return manifest.join(listing, "filename", "left").select(
        "filename", status.alias("status")
    )


_A4_SQL = f"""
WITH statuses AS ({_J7_SQL})
SELECT status, COUNT(*) AS n FROM statuses GROUP BY status
"""


@query("a4_outcome_buckets", _A4_SQL)
def a4_outcome_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 per-outcome counters (razu/edepot.py:124-147,223-250):
    driver-side counters become one groupBy over the J7 statuses."""
    return j7_upload_verification(spark, sf_dir).groupBy("status").agg(
        F.count("*").alias("n")
    )


_F5_SQL = """
WITH f AS (
  SELECT p_partkey, 'NL-WbDRAZU-G0321-661-' || CAST(p_partkey AS VARCHAR)
         || '.meta.json' AS filename
  FROM part)
SELECT p_partkey, filename, split_part(filename, '.', 1) AS stem
FROM f
"""


@query("f5_filename_stem", _F5_SQL)
def f5_filename_stem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 filename_without_extensions — cut at first dot
    (razu/util.py:109-126)."""
    p = T(spark, sf_dir, "part")
    fname = F.concat(razu_uid(F.col("p_partkey")), F.lit(".meta.json"))
    d = p.select("p_partkey", fname.alias("filename"))
    return d.select("p_partkey", "filename",
                    filename_stem(F.col("filename")).alias("stem"))


_F16_SQL = """
WITH v AS (
  SELECT p_partkey, 'Dataset Luchtfoto''s/' || p_name || ': nr '
         || CAST(p_partkey AS VARCHAR) AS meta_value
  FROM part)
SELECT p_partkey, meta_value,
       replace(replace(replace(replace(meta_value,
         '''', '%27'), '/', '%2F'), ':', '%3A'), ' ', '+') AS encoded
FROM v
"""


@query("f16_url_encode", _F16_SQL)
def f16_url_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16 URL-encode S3 metadata values (razu/s3storage.py:480-493:
    urllib.parse.quote). Spark's url_encode is
    application/x-www-form-urlencoded (java.net.URLEncoder); the
    oracle mirrors it for the chars present in the fixture values."""
    p = T(spark, sf_dir, "part")
    val = F.concat(F.lit("Dataset Luchtfoto's/"), F.col("p_name"),
                   F.lit(": nr "), F.col("p_partkey").cast("string"))
    d = p.select("p_partkey", val.alias("meta_value"))
    return d.select("p_partkey", "meta_value",
                    F.url_encode(F.col("meta_value")).alias("encoded"))


_T3_SQL = """
SELECT c_mktsegment, c_custkey,
       CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) AS BIGINT) AS rnk
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


@query("t3_sorted_diff", _T3_SQL)
def t3_sorted_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 sorted set-difference output (compare_manifest_to_s3.py:16-17):
    customers-without-orders anti-join, ranked *within* a partition key
    (segment) so the sort parallelizes — no global window."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    diff = c.join(o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti")
    w = Window.partitionBy("c_mktsegment").orderBy("c_custkey")
    return diff.select(
        "c_mktsegment", "c_custkey", F.row_number().over(w).cast("long").alias("rnk")
    )


_S7_SQL = """
SELECT p_name AS filename,
       md5(p_name) AS md5hash,
       CAST(p_size AS BIGINT) AS file_size
FROM part
"""


@query("s7_manifest_map_scan", _S7_SQL)
def s7_manifest_map_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 manifest JSON scan (razu/manifest.py:175-183): the on-disk
    form is ONE JSON object map {filename: {md5hash,...}}; engine form
    is from_json(MapType) + explode(map) — here round-tripped through
    to_json to prove both directions."""
    from pyspark.sql.types import LongType, MapType, StringType, StructField, StructType

    p = T(spark, sf_dir, "part")
    entry_schema = MapType(
        StringType(),
        StructType([
            StructField("md5hash", StringType()),
            StructField("file_size", LongType()),
        ]),
    )
    json_col = F.to_json(
        F.create_map(
            F.col("p_name"),
            F.struct(
                F.md5("p_name").alias("md5hash"),
                F.col("p_size").cast("long").alias("file_size"),
            ),
        )
    )
    parsed = p.select(F.from_json(json_col, entry_schema).alias("m"))
    return parsed.select(F.explode("m").alias("filename", "entry")).select(
        "filename",
        F.col("entry.md5hash").alias("md5hash"),
        F.col("entry.file_size").alias("file_size"),
    )


_K2_RT_SQL = f"""
WITH triples AS ({_O2_SQL})
SELECT s, p, o FROM triples
"""


@query("k2_ntriples_roundtrip", _K2_RT_SQL)
def k2_ntriples_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 sink + S4 source round-trip (razu/sip.py:42-49,
    razu/turtle.py:6-32): serialize the O2 triples to N-Triples text,
    parse back, and return (s,p,o) — the oracle checks the round trip
    is lossless. Both directions are per-line, shuffle-free."""
    from razulibs_spark.sources.rdf_io import read_ntriples, write_ntriples

    path = scratch_path("ntriples_rt")
    write_ntriples(_o2_triples_full(spark, sf_dir), path)
    return read_ntriples(spark, path).select("s", "p", "o")


_K1_RT_SQL = f"""
WITH triples AS ({_O2_SQL})
SELECT s, p, o FROM triples
"""


@query("k1_jsonld_roundtrip", _K1_RT_SQL)
def k1_jsonld_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 sink + S3 source round-trip (razu/meta_resource.py:45-61):
    group the O2 triples into one flat JSON-LD document per entity
    (the entity key is the document boundary), write as JSON-Lines,
    parse back with built-in variant expressions, return (s,p,o). The
    oracle checks document (de)serialization is the identity."""
    from razulibs_spark.sources.jsonld import read_jsonld, write_jsonld

    path = scratch_path("jsonld_rt")
    write_jsonld(_o2_triples_full(spark, sf_dir), path)
    return read_jsonld(spark, path).select("s", "p", "o")


_K2_TTL_SQL = f"""
WITH triples AS ({_O2_SQL})
SELECT s, p, o FROM triples
"""


@query("k2_turtle_roundtrip", _K2_TTL_SQL)
def k2_turtle_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 sink + S4 source round-trip for Turtle (razu/turtle.py:6-32
    tries turtle first): expand prefixed names to standards-valid
    URIs, write distributed Turtle (each part file a self-contained
    document with its @prefix header), parse back per-line, compact —
    the oracle checks the full cycle is the identity. Write and read
    are both narrow (no shuffle); the only driver work is collecting
    the handful of @prefix declarations. On this export at sf0.1
    (72 MB, 750k triples; 4 vCPU, single warm runs) producing every
    column took the line reader 2.8-4.3 s and the full-grammar
    ``read_turtle_full`` 2.0-3.0 s, with the same triple set."""
    from razulibs_spark.operators.rdf import compact_triples, expand_triples
    from razulibs_spark.sources.rdf_io import read_turtle, write_turtle

    path = scratch_path("turtle_rt")
    write_turtle(expand_triples(_o2_triples_full(spark, sf_dir)), path)
    return compact_triples(read_turtle(spark, path)).select("s", "p", "o")


_K2_RDFXML_SQL = f"""
WITH triples AS ({_O2_SQL})
SELECT s, p, o FROM triples
"""


@query("k2_rdfxml_roundtrip", _K2_RDFXML_SQL)
def k2_rdfxml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF/XML sink + S4 source round-trip (razu/turtle.py:6-32 lists
    'xml' second — the most common legacy archive interchange format):
    expand prefixed names, write one complete RDF/XML document per
    partition (sources/rdfxml.py, first-principles ElementTree — no
    rdflib), parse back per-file, compact. The oracle checks the full
    cycle is the identity. Write is one Arrow pass; read distributes
    per part file."""
    from razulibs_spark.operators.rdf import compact_triples, expand_triples
    from razulibs_spark.sources.rdfxml import read_rdfxml, write_rdfxml

    path = scratch_path("rdfxml_rt")
    write_rdfxml(expand_triples(_o2_triples_full(spark, sf_dir)), path)
    return compact_triples(read_rdfxml(spark, path)).select("s", "p", "o")


# Deterministic graph assignment for the quad formats: rdf:type rows
# ride the DEFAULT graph (null label — pins the unnamed-graph path),
# everything else buckets by (compact) predicate length. Same
# expression in Spark and the oracle.
_QUAD_G_SQL = (
    "CASE WHEN p = 'rdf:type' THEN NULL ELSE "
    "'https://data.razu.nl/graph/' || CAST(LENGTH(p) % 2 AS VARCHAR) END"
)

_K2_QUAD_SQL = f"""
WITH triples AS ({_O2_SQL})
SELECT s, p, o, {_QUAD_G_SQL} AS g FROM triples
"""


def _quads_for_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 triples + deterministic graph label (computed on the compact
    predicate, matching _QUAD_G_SQL), then s/p/o expanded to absolute
    URIs for standards-valid serialization — g carried through."""
    from razulibs_spark.operators.rdf import _convert_terms, expand_prefixed

    t = _o2_triples_full(spark, sf_dir).withColumn(
        "g",
        F.when(
            F.col("p") != "rdf:type",
            F.concat(
                F.lit("https://data.razu.nl/graph/"),
                (F.length("p") % 2).cast("string"),
            ),
        ),
    )
    return _convert_terms(t, expand_prefixed)


def _compact_quads(quads: DataFrame) -> DataFrame:
    from razulibs_spark.operators.rdf import _convert_terms, compact_prefixed

    return _convert_terms(quads, compact_prefixed).select("s", "p", "o", "g")


@query("k2_trig_roundtrip", _K2_QUAD_SQL)
def k2_trig_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TriG sink + S4 source round-trip (razu/turtle.py:6-32 lists
    'trig'): named graph blocks + default-graph lines, written
    per-graph-partition, parsed back per file with the graph-block
    state machine (sources/rdfxml.py). The oracle recomputes the quad
    set including the graph labels (null = default graph)."""
    from razulibs_spark.sources.rdfxml import read_trig, write_trig

    path = scratch_path("trig_rt")
    write_trig(_quads_for_roundtrip(spark, sf_dir), path)
    return _compact_quads(read_trig(spark, path))


@query("k2_trix_roundtrip", _K2_QUAD_SQL)
def k2_trix_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TriX sink + S4 source round-trip (razu/turtle.py:6-32 lists
    'trix' last): the XML quad syntax — one complete document per
    partition, <graph> blocks with uri/id/plain/typed terms
    (sources/rdfxml.py). Same quad oracle as TriG."""
    from razulibs_spark.sources.rdfxml import read_trix, write_trix

    path = scratch_path("trix_rt")
    write_trix(_quads_for_roundtrip(spark, sf_dir), path)
    return _compact_quads(read_trix(spark, path))


_SESSIONIZE_STREAM_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 86400000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, value,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_seq
  FROM flagged),
agg AS (
  SELECT user_id, session_seq,
         COUNT(*) AS n_events,
         MIN(ts) AS session_start,
         MAX(ts) AS session_end,
         CAST(SUM(CAST(FLOOR((value) * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
           / 10000.0 AS sum_value
  FROM sess GROUP BY user_id, session_seq),
mx AS (SELECT MAX(ts) AS max_ts FROM events),
mseq AS (SELECT user_id, MAX(session_seq) AS max_seq FROM agg GROUP BY 1)
SELECT a.user_id, a.n_events, a.session_start, a.session_end, a.sum_value
FROM agg a JOIN mseq USING (user_id), mx
WHERE a.session_seq < mseq.max_seq
   OR epoch_us(a.session_end) + 86400000000 < epoch_us(mx.max_ts)
"""


@query("streaming_sessionize", _SESSIONIZE_STREAM_SQL)
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: gap-based sessionization
    per user via applyInPandasWithState with event-time timeout —
    bounded per-user state, sessions emit on gap overrun or timer.
    The EMITTED SET is deterministic and SQL-expressible: a session
    appears iff a later same-user event closed it mid-stream
    (session_seq < the user's max) or the final watermark passed its
    end + gap (session_end + 24h < max event time) — so the oracle
    recomputes the batch sessions and applies exactly that closure
    predicate; an unemitted closed session or a leaked open one
    hash-mismatches. Fixed-point sums make even the float tails
    bit-equal. Batch equivalence also pinned in
    tests/test_operators.py."""
    from razulibs_spark.streaming.sessionize import run_sessionize_available_now

    return run_sessionize_available_now(spark, sf_dir)


_IVF_TOPK_SQL = _EMB_CTE + """
, cent AS (SELECT * FROM e WHERE vec_id < 4)
, s0 AS (SELECT e.vec_id, cent.vec_id AS centroid_id,
                list_cosine_similarity(e.v, cent.v) AS cos
         FROM e, cent)
, r0 AS (SELECT vec_id, centroid_id,
                ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY cos DESC, centroid_id) AS rn
         FROM s0)
, assign AS (SELECT vec_id, centroid_id FROM r0 WHERE rn = 1)
, q AS (SELECT a.vec_id, a.centroid_id, e.v
        FROM assign a JOIN e USING (vec_id) WHERE a.vec_id < 10)
, c AS (SELECT a.vec_id, a.centroid_id, e.v FROM assign a JOIN e USING (vec_id))
, scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                    list_cosine_similarity(q.v, c.v) AS cos
             FROM q JOIN c ON q.centroid_id = c.centroid_id
                          AND c.vec_id <> q.vec_id)
, ranked AS (SELECT query_id, neighbor_id, cos,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rnk
             FROM scored)
SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cosine
FROM ranked WHERE rnk <= 5
"""


@query("sim_ivf_topk", _IVF_TOPK_SQL)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN search end-to-end (the scale path next to the
    sim_cosine_topk brute-force baseline): assign every vector to its
    nearest centroid, then each query ranks only its own bucket —
    broadcast queries, corpus streams, per-bucket compare."""
    e = T(spark, sf_dir, "embeddings")
    # The assignment table feeds both sides of the bucket join —
    # pinned (eager) so centroid scoring runs once, not per side.
    assign = pin_iteration(similarity.ivf_assign(e, e.filter(F.col("vec_id") < 4)))
    return similarity.ivf_topk(e, assign, e.filter(F.col("vec_id") < 10), k=5)


_J2M_SQL = """
WITH labels AS (
  SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR) AS uri,
         'name' AS predicate, n_name AS value FROM nation
  UNION ALL
  SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR), 'label',
         lower(n_name) FROM nation
  UNION ALL
  SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR), 'altLabel',
         lower(n_name) FROM nation
  UNION ALL
  SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR), 'notation',
         CAST(n_nationkey AS VARCHAR) FROM nation),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY value
    ORDER BY CASE predicate WHEN 'prefLabel' THEN 1 WHEN 'name' THEN 2
                            WHEN 'label' THEN 3 WHEN 'altLabel' THEN 4
                            WHEN 'identifier' THEN 5 ELSE 6 END, uri) AS r
  FROM labels),
best AS (SELECT value, uri, predicate AS matched_predicate
         FROM ranked WHERE r = 1),
facts AS (
  SELECT c_custkey,
         CASE CAST(c_custkey % 3 AS INT)
           WHEN 0 THEN n_name
           WHEN 1 THEN lower(n_name)
           ELSE CAST(c_nationkey AS VARCHAR) END AS term
  FROM customer JOIN nation ON c_nationkey = n_nationkey)
SELECT c_custkey, term, uri, matched_predicate
FROM facts LEFT JOIN best ON term = value
"""


@query("j2_multilabel_resolve", _J2M_SQL)
def j2_multilabel_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 multi-predicate vocabulary resolution with the reference's
    label preference order (concept_resolver.py:86-100): the unpivoted
    label dim ranks predicate matches per term, then broadcast-joins
    the facts — LIMIT 1 as row_number()==1, never per-row HTTP."""
    n = T(spark, sf_dir, "nation")
    uri = F.concat(F.lit("urn:nation:"), F.col("n_nationkey").cast("string"))
    mk = lambda pred, val: n.select(
        uri.alias("uri"), F.lit(pred).alias("predicate"), val.alias("value"))
    labels = (
        mk("name", F.col("n_name"))
        .unionByName(mk("label", F.lower("n_name")))
        .unionByName(mk("altLabel", F.lower("n_name")))
        .unionByName(mk("notation", F.col("n_nationkey").cast("string")))
    )
    c = T(spark, sf_dir, "customer")
    facts = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 3 == 0, F.col("n_name"))
        .when(F.col("c_custkey") % 3 == 1, F.lower("n_name"))
        .otherwise(F.col("c_nationkey").cast("string"))
        .alias("term"),
    )
    return relational.multilabel_resolve(facts, "term", labels)


# ---------------------------------------------------------------------------
# Temporal joins — engine extensions (SURVEY §2.3 notes razulibs has
# no as-of/range joins; event-log analytics over D6-shaped tables
# need both). Implementations in operators/temporal.py.
# ---------------------------------------------------------------------------

_ASOF_SQL = """
SELECT l.event_id, l.user_id,
       l.ts AS purchase_ts, l.value AS purchase_value,
       r.ts AS last_click_ts, r.value AS last_click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


@query("j_asof_join", _ASOF_SQL)
def j_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent
    click at-or-before it. Sort-based (union + side marker + carried
    last-value window): one shuffle on user_id, no cross product —
    the cost profile of a sort-merge join at any scale."""
    ev = T(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("last_click_ts"),
        F.col("value").alias("last_click_value"),
    )
    return temporal.asof_join(
        purchases, clicks, on="user_id", left_time="purchase_ts",
        right_time="last_click_ts", right_prefix="",
    )


_BANDS = [
    ("tiny", 0.0, 1.0),
    ("small", 1.0, 5.0),
    ("mid", 5.0, 20.0),
    ("large", 20.0, 75.0),
    ("xl", 75.0, 200.0),
    ("huge", 200.0, 500.0),
]

_RANGE_SQL = f"""
SELECT band, COUNT(*) AS n_events,
       {DEC_SUM_SQL('value', 'sum_value', 2)}
FROM events
JOIN (VALUES {', '.join(repr(b) for b in _BANDS)}) AS bands(band, lo, hi)
  ON value >= lo AND value < hi
GROUP BY band
"""


_SPATIAL_SQL = """
WITH p AS (SELECT event_id,
                  (event_id % 1000) / 10.0 AS x,
                  ((user_id * 13) % 1000) / 10.0 AS y
           FROM events),
b AS (SELECT k AS box_id,
             CAST((k * 13) % 90 AS DOUBLE) AS xmin,
             CAST((k * 29) % 90 AS DOUBLE) AS ymin,
             CAST((k * 13) % 90 + 3 + k % 7 AS DOUBLE) AS xmax,
             CAST((k * 29) % 90 + 2 + k % 5 AS DOUBLE) AS ymax
      FROM generate_series(0, 39) t(k))
SELECT CAST(b.box_id AS BIGINT) AS box_id,
       CAST(COUNT(*) AS BIGINT) AS n_points
FROM p JOIN b ON p.x >= b.xmin AND p.x < b.xmax
             AND p.y >= b.ymin AND p.y < b.ymax
GROUP BY b.box_id
"""


@query("j_spatial_grid_join", _SPATIAL_SQL)
def j_spatial_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D point-in-rectangle join via the grid-partitioned strategy
    (operators/spatial.py — the PBSM family: boxes replicate to
    overlapped cells, each point owns ONE cell, equi-join on the cell
    key + exact containment filter; no cross product, no dedup
    needed). Event coordinates and 40 region boxes are planted by
    formula; the oracle runs the plain inequality join, so one point
    mis-binned at a cell or box edge (half-open semantics) changes a
    count. The 1-D twin is j_range_join_binned."""
    from razulibs_spark.operators.spatial import grid_spatial_join

    points = T(spark, sf_dir, "events").select(
        "event_id",
        ((F.col("event_id") % 1000) / 10.0).alias("x"),
        # y from user_id so the cloud is genuinely 2-D (an
        # event_id-only y collapses the points onto a 1-D lattice)
        (((F.col("user_id") * 13) % 1000) / 10.0).alias("y"),
    )
    boxes = spark.range(40).select(
        F.col("id").alias("box_id"),
        ((F.col("id") * 13) % 90).cast("double").alias("xmin"),
        ((F.col("id") * 29) % 90).cast("double").alias("ymin"),
        ((F.col("id") * 13) % 90 + 3 + F.col("id") % 7)
        .cast("double")
        .alias("xmax"),
        ((F.col("id") * 29) % 90 + 2 + F.col("id") % 5)
        .cast("double")
        .alias("ymax"),
    )
    return (
        grid_spatial_join(points, boxes, cell=10.0)
        .groupBy("box_id")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


@query("j_range_join_binned", _RANGE_SQL)
def j_range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join as a binned equi-join (25-wide bins):
    avoids the BroadcastNestedLoopJoin cross product a bare range
    predicate plans to, staying shuffle-partitionable at scale."""
    ev = T(spark, sf_dir, "events")
    # Literal LocalRelation (not a Python-RDD createDataFrame): known
    # tiny stats, so Catalyst broadcasts the bands — never the facts.
    bands = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.lit(lo).alias("lo"),
                        F.lit(hi).alias("hi"),
                    )
                    for b, lo, hi in _BANDS
                ]
            )
        ).alias("b")
    ).select("b.*")
    joined = temporal.range_join_binned(
        ev, bands, point_col="value", lo_col="lo", hi_col="hi", bin_width=25.0
    )
    return joined.groupBy("band").agg(
        F.count("*").alias("n_events"),
        dec_sum(F.col("value"), "sum_value", 2),
    )


# ---------------------------------------------------------------------------
# Multi-way analytic joins + grouping extensions (§2.3/§2.4 breadth:
# the shapes Catalyst must plan well at 100 TB — dim broadcasts,
# semi-join reduction, partial/final rollup aggregation).
# ---------------------------------------------------------------------------

_Q5_SQL = f"""
SELECT n_name, {DEC_SUM_SQL('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


@query("q5_regional_revenue", _Q5_SQL)
def q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join. Facts (lineitem⋈orders) shuffle on
    the orderkey once; customer arrives via its own key; nation/region
    broadcast so the region filter prunes before any wide shuffle."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    o_f = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    return (
        li.join(o_f, li.l_orderkey == o_f.o_orderkey)
        .join(c, o_f.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")),
              n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


_Q18_SQL = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       {DEC_SUM_SQL('l_quantity', 'sum_qty', 2)}
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING SUM(l_quantity) > 300)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@query("q18_large_orders", _Q18_SQL)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: semi-join reduction (the HAVING subquery
    shrinks lineitem before the 3-way join) then deterministic top-k
    via TakeOrderedAndProject — never a global sort."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_sq"))
        .filter(F.col("_sq") > 300)
        .select("l_orderkey")
    )
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dec_sum(F.col("l_quantity"), "sum_qty", 2))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


_ROLLUP_SQL = f"""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status,
       {DEC_SUM_SQL('l_quantity', 'sum_qty', 2)}, COUNT(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


@query("a_rollup_pricing", _ROLLUP_SQL)
def a_rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (SURVEY §2.4 'free with Spark' — shown
    here): one pass computes all three grouping levels with partial
    aggregation map-side; GROUPING() disambiguates the total rows."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").alias("g_flag"),
            F.grouping("l_linestatus").alias("g_status"),
            dec_sum(F.col("l_quantity"), "sum_qty", 2),
            F.count("*").alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "g_flag", "g_status", "sum_qty", "n_rows",
        )
    )


_DISTINCT_SQL = """
SELECT COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       COUNT(*) AS n_rows
FROM lineitem
"""


@query("a_distinct_count", _DISTINCT_SQL)
def a_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column distinct count (Catalyst expands to a
    two-stage partial/final plan automatically)."""
    li = T(spark, sf_dir, "lineitem")
    return li.agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count_distinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


_APPROX_DISTINCT_SQL = """
SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts_exact,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps_exact,
       TRUE AS parts_within_bound,
       TRUE AS supps_within_bound
FROM lineitem
"""


@query("a_approx_distinct", _APPROX_DISTINCT_SQL)
def a_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): the 100 TB-scale path —
    constant memory per group vs the exact expansion. The HLL values
    themselves are engine-specific, so the ORACLE-STABLE contract is
    the error bound (VERDICT r5 item 5): emit the exact counts (DuckDB
    recomputes them) plus booleans asserting |approx − exact| ≤
    5·rsd·exact — if Spark's sketch ever drifted outside the bound the
    boolean would flip false and hash-mismatch the oracle's TRUE."""
    li = T(spark, sf_dir, "lineitem")
    rsd = 0.02
    agg = li.agg(
        F.approx_count_distinct("l_partkey", rsd).alias("parts_approx"),
        F.approx_count_distinct("l_suppkey", rsd).alias("supps_approx"),
        F.countDistinct("l_partkey").alias("n_parts_exact"),
        F.countDistinct("l_suppkey").alias("n_supps_exact"),
    )
    def within(approx, exact):
        return (
            F.abs(F.col(approx) - F.col(exact))
            <= 5 * rsd * F.col(exact)
        )
    return agg.select(
        "n_parts_exact",
        "n_supps_exact",
        within("parts_approx", "n_parts_exact").alias("parts_within_bound"),
        within("supps_approx", "n_supps_exact").alias("supps_within_bound"),
    )


_CORPUS_PREP_SQL = """
WITH scored AS (
  SELECT doc_id, lang, text,
         len(string_split(text, ' ')) AS n_words,
         len([w for w in string_split(text, ' ') if w = 'the' OR w = 'a']) AS c_en,
         len([w for w in string_split(text, ' ') if w = 'data' OR w = 'value']) AS c_es,
         len([w for w in string_split(text, ' ') if w = 'query' OR w = 'join']) AS c_de
  FROM documents),
enriched AS (
  SELECT doc_id,
         CASE WHEN c_en >= c_es AND c_en >= c_de THEN 'en'
              WHEN c_es >= c_de THEN 'es' ELSE 'de' END AS predicted_lang,
         CAST(n_words AS BIGINT) AS n_words,
         round((1.0 - c_en / n_words) * least(1.0, n_words / 100.0), 6) AS quality_score,
         md5(text) AS content_hash,
         lang
  FROM scored)
SELECT doc_id, predicted_lang, n_words, quality_score, content_hash
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
      FROM enriched
      WHERE quality_score >= 0.2 AND predicted_lang = lang)
WHERE rn = 1
"""


@query("pipeline_corpus_prep", _CORPUS_PREP_SQL)
def pipeline_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus prep: quality scoring + language-ID
    agreement + exact dedup composed in ONE scan (operators/text.py:
    corpus_prep) — scan → pushed filter → one shuffle on the content
    hash. The shape every 100 TB corpus pass reduces to."""
    return text.corpus_prep(T(spark, sf_dir, "documents"))


_DEDUP_STREAM_SQL = """
SELECT event_id, ts, user_id, event_type, value, props FROM events
"""


@query("streaming_dedup", _DEDUP_STREAM_SQL)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 + north-star dedup: dropDuplicatesWithinWatermark over
    the events stream — bounded dedup state (watermark-evicted), the
    at-least-once ingestion guard for append-only corpora. The stream
    unions TWO readers of the same source (every event delivered
    twice — the redelivery scenario the operator exists for), so the
    oracle is strict: exactly one bit-identical copy of every event
    survives, and a missed or double-kept row hash-mismatches."""
    from razulibs_spark.streaming.dedup_stream import (
        dedup_stream,
        run_append_available_now,
    )

    return run_append_available_now(
        dedup_stream(spark, sf_dir, duplicate_feed=True), spark
    )


_RP_LSH_SQL = """
SELECT CAST(vec_id AS BIGINT) AS v1,
       CAST(vec_id + 10000000 AS BIGINT) AS v2,
       1.0 AS cosine
FROM embeddings
"""


@query("sim_rp_lsh_neardup", _RP_LSH_SQL)
def sim_rp_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH near-dup at its real operating point
    (threshold 0.9, i.e. true duplicates): the corpus is the driver
    embeddings UNION a shifted-id copy, so every vector has a planted
    exact duplicate — the scenario LSH dedup exists for. Tight bands
    (6 × 16 bits) collapse random-pair collisions to ~0.5^16 per band
    while cos≈1 pairs collide in every band (recall 1.0 on the
    planted pairs, asserted in tests/test_temporal.py). Precision is
    1.0 by construction (exact-cosine verify of candidates).

    ORACLE: on this corpus the output is deterministic and exactly
    the planted pair set — identical vectors collide in every band
    (recall 1.0 regardless of seeding), and the synthetic embeddings
    contain no natural cos ≥ 0.9 pair (verified at all three SFs), so
    the exact-cosine verify admits nothing else. DuckDB enumerates
    the planted pairs directly; a recall drop (missing planted row)
    or a precision break (extra row) both hash-mismatch.

    Sign-bit LSH fundamentally cannot prune LOW thresholds (p(0.4) =
    0.63 vs p(0) = 0.5 per bit) — for those the IVF bucket path
    (sim_ivf_topk) or the brute-force half-matrix baseline applies.
    """
    emb = T(spark, sf_dir, "embeddings")
    shifted = emb.select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        "embedding",
        "label",
    )
    corpus = emb.unionByName(shifted)
    return similarity.rp_lsh_neardup(corpus, 0.9, n_bands=6, band_bits=16)


_MM_MEDIA_CTE = """
WITH m AS (
  SELECT doc_id, text,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image/jpeg'
              WHEN 1 THEN 'image/png' ELSE 'audio/wav' END AS media_format,
         CAST(n_chars % 1024 + 16 AS BIGINT) AS w,
         CAST(n_chars % 768 + 16 AS BIGINT) AS h
  FROM documents)
"""

_MM_RESIZE_SQL = _MM_MEDIA_CTE + """
SELECT doc_id, media_format,
       CAST(CASE WHEN w >= h THEN 256 ELSE w * 256 // h END AS BIGINT) AS out_width,
       CAST(CASE WHEN w >= h THEN h * 256 // w ELSE 256 END AS BIGINT) AS out_height,
       md5(text) AS resized_md5
FROM m WHERE media_format LIKE 'image/%'
"""


@query("multimodal_resize", _MM_RESIZE_SQL)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize stage: aspect-fit integer arithmetic through the
    Arrow mapInPandas boundary (operators/multimodal.py:resize_images);
    non-image rows filtered before the Python transfer. The md5 is the
    stand-in for resized bytes (decode stubbed per environment)."""
    from razulibs_spark.operators.multimodal import attach_media_columns, resize_images

    return resize_images(attach_media_columns(T(spark, sf_dir, "documents")))


_MM_CHUNK_SQL = _MM_MEDIA_CTE + """
, a AS (SELECT doc_id, text, length(text) AS n FROM m
        WHERE media_format LIKE 'audio/%'),
c AS (SELECT doc_id, n, text,
             UNNEST(generate_series(0, CAST(ceil(n / 128.0) AS BIGINT) - 1)) AS chunk_idx
      FROM a)
SELECT doc_id, chunk_idx,
       md5(substring(text, CAST(chunk_idx * 128 + 1 AS INT), 128)) AS chunk_md5
FROM c
"""


@query("multimodal_chunk_audio", _MM_CHUNK_SQL)
def multimodal_chunk_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-chunking fan-out (UDTF-shaped mapInPandas): one row per
    128-byte payload window, audio rows only. ASCII payloads make the
    byte-window md5 SQL-expressible (substring == byte slice)."""
    from razulibs_spark.operators.multimodal import attach_media_columns, chunk_audio

    return chunk_audio(attach_media_columns(T(spark, sf_dir, "documents")))


_MM_FRAMES_SQL = _MM_MEDIA_CTE + """
, f AS (SELECT doc_id, text,
               greatest(1, length(text) // 1024) AS n_frames
        FROM m)
SELECT doc_id,
       UNNEST(generate_series(0, n_frames - 1, 10)) AS frame_idx,
       md5(substring(text,
                     CAST(UNNEST(generate_series(0, n_frames - 1, 10)) * 1024 + 1 AS INT),
                     1024)) AS frame_md5
FROM f
"""


@query("multimodal_sample_frames", _MM_FRAMES_SQL)
def multimodal_sample_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling fan-out (operators/multimodal.py:
    sample_frames): every 10th 1 KiB payload slice stands in for the
    stubbed frame decode — the output batch is LONGER than the input
    (UDTF shape), partitioned by doc_id before the Arrow boundary.
    ASCII payloads make the slice md5 SQL-expressible."""
    from razulibs_spark.operators.multimodal import attach_media_columns, sample_frames

    return sample_frames(attach_media_columns(T(spark, sf_dir, "documents")))


_ATTRIB_SQL = """
SELECT v.event_id AS view_id, v.user_id AS view_user, v.ts AS view_ts,
       p.event_id AS p_id, p.ts AS p_ts, p.value AS p_value
FROM (SELECT * FROM events WHERE event_type = 'view') v
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 1 HOUR
"""


@query("events_view_purchase_attribution", _ATTRIB_SQL)
def events_view_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→purchase attribution: per-user interval join (batch twin
    of streaming/interval_join.py). The user_id equality makes this a
    plain shuffled equi-join with a time-range residual — per-user
    cost is bounded by that user's own rows, never a cross product."""
    ev = T(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("view_user"),
        F.col("ts").alias("view_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    return (
        v.join(
            p,
            (v.view_user == p.p_user)
            & (p.p_ts >= v.view_ts)
            & (p.p_ts < v.view_ts + F.expr("INTERVAL 1 HOUR")),
        )
        .select("view_id", "view_user", "view_ts", "p_id", "p_ts", "p_value")
    )


_INTERVAL_JOIN_STREAM_SQL = """
SELECT v.event_id AS view_id, v.user_id AS view_user, v.ts AS view_ts,
       p.event_id AS p_id, p.ts AS p_ts, p.value AS p_value
FROM (SELECT * FROM events WHERE event_type = 'view') v
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 1 HOUR
"""


@query("streaming_interval_join", _INTERVAL_JOIN_STREAM_SQL)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10: watermarked stream-stream interval join (bounded
    two-sided state; views evictable past view_ts + 1h + watermark).
    An INNER stream-stream join emits every match as soon as both
    sides have arrived — with a static availableNow source nothing is
    late, so the emitted set is exactly the batch interval join and
    the entry carries the batch twin's full hash oracle; state
    eviction of truly late rows stays pytest territory."""
    from razulibs_spark.streaming.dedup_stream import run_append_available_now
    from razulibs_spark.streaming.interval_join import view_purchase_join_stream

    return run_append_available_now(view_purchase_join_stream(spark, sf_dir), spark)


# ---------------------------------------------------------------------------
# §2.5 window breadth — keyed analytic windows (every window below is
# partitioned by a natural key; no global windows outside o1).
# ---------------------------------------------------------------------------

_WRT_SQL = f"""
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       / 100.0 AS running_total,
       ROW_NUMBER() OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey) AS order_seq
FROM orders
"""


@query("w_running_total", _WRT_SQL)
def w_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running order total + sequence number: cumulative
    window over (custkey) — one shuffle on the partition key, per-key
    sort, fixed-point sum for cross-engine determinism."""
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    return o.select(
        "o_custkey", "o_orderkey", "o_orderdate",
        (
            F.sum(cents).over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double") / 100.0
        ).alias("running_total"),
        F.row_number().over(w).alias("order_seq"),
    )


_WLAG_SQL = """
SELECT event_id, user_id, ts,
       CAST(date_diff('microseconds',
                      LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                      ts) AS BIGINT) AS gap_us,
       LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS next_event_type
FROM events
"""


@query("w_lag_lead_gaps", _WLAG_SQL)
def w_lag_lead_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap (lag) and next-event peek (lead) —
    the building blocks of sessionization, as plain keyed windows."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id", "user_id", "ts",
        # NTZ-safe microsecond gap (unix_micros rejects TIMESTAMP_NTZ)
        F.expr("timestampdiff(MICROSECOND, lag(ts) OVER "
               "(PARTITION BY user_id ORDER BY ts, event_id), ts)")
        .alias("gap_us"),
        F.lead("event_type").over(w).alias("next_event_type"),
    )


_CUBE_SQL = f"""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(o_orderpriority, 'ALL') AS orderpriority,
       GROUPING(l_returnflag) AS g_flag, GROUPING(o_orderpriority) AS g_prio,
       COUNT(*) AS n_rows, {DEC_SUM_SQL('l_extendedprice', 'sum_price')}
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY CUBE (l_returnflag, o_orderpriority)
"""


@query("a_cube_price", _CUBE_SQL)
def a_cube_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube over (returnflag × orderpriority) after a fact join:
    all four grouping levels in one pass (Catalyst expands + partial-
    aggregates map-side; the shuffle carries group rows, not facts)."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .cube("l_returnflag", "o_orderpriority")
        .agg(
            F.grouping("l_returnflag").alias("g_flag"),
            F.grouping("o_orderpriority").alias("g_prio"),
            F.count("*").alias("n_rows"),
            dec_sum(F.col("l_extendedprice"), "sum_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "g_flag", "g_prio", "n_rows", "sum_price",
        )
    )


@query("dedup_jaccard_prefix_filter", _NGRAM_SQL)
def dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-gram Jaccard ≥ 0.5 via prefix filtering (AllPairs):
    identical output to dedup_ngram_jaccard (same oracle SQL), but the
    pair join touches only each doc's rarest |A|−ceil(t·|A|)+1
    shingles — so high-df shingles that dominate the brute-force
    join's Σ df² can never enter the pair join. Lexicographic order
    here (the driver corpus has near-uniform shingle df, so the
    df-ordering join would cost more than it saves — measured; real
    heavy-tailed text flips that, order="frequency")."""
    sh = pin_iteration(dedup.word_shingles(T(spark, sf_dir, "documents")), eager=False)
    return dedup.prefix_filter_pairs(sh, 0.5, order="lexicographic")


_ENRICH_SQL = """
SELECT event_id, user_id, ts, event_type, value, n_name
FROM events JOIN nation ON CAST(user_id % 25 AS INT) = n_nationkey
"""


@query("events_enriched_nation", _ENRICH_SQL)
def events_enriched_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension enrichment (J2 vocabulary-broadcast shape on the
    events fact): broadcast hash join, zero fact-side shuffle."""
    ev = T(spark, sf_dir, "events")
    n = T(spark, sf_dir, "nation")
    return ev.withColumn("_nkey", (F.col("user_id") % 25).cast("int")).join(
        F.broadcast(n), F.col("_nkey") == n.n_nationkey
    ).select("event_id", "user_id", "ts", "event_type", "value", "n_name")


_ENRICH_STREAM_SQL = """
SELECT event_id, user_id, ts, event_type, value, n_name
FROM events JOIN nation ON CAST(user_id % 25 AS INT) = n_nationkey
"""


@query("streaming_enrich", _ENRICH_STREAM_SQL)
def streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10: stream-static broadcast enrichment — the reference's
    per-row vocabulary HTTP lookup as a stateless streaming join
    (dimension broadcast per micro-batch, stream never shuffles).
    Stateless ⇒ the drained availableNow output IS the batch join, so
    the entry carries the batch twin's full hash oracle."""
    from razulibs_spark.streaming.dedup_stream import run_append_available_now
    from razulibs_spark.streaming.enrich import enriched_events_stream

    dim = T(spark, sf_dir, "nation")
    return run_append_available_now(
        enriched_events_stream(spark, sf_dir, dim), spark
    )


_CLUSTER_SQL = ("WITH RECURSIVE " + _SHINGLE_CTE.strip()[len("WITH "):]) + _JACCARD_CTES + """
, ex AS (SELECT mn AS d1, doc_id AS d2
         FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS mn
               FROM documents)
         WHERE mn < doc_id)
, edges AS (SELECT d1, d2 FROM jac WHERE jaccard >= 0.5
            UNION SELECT d1, d2 FROM ex)
, sym AS (SELECT d1 AS s, d2 AS d FROM edges
          UNION SELECT d2, d1 FROM edges)
, cc AS (SELECT doc_id AS node, doc_id AS label FROM documents
         UNION
         SELECT sym.d, cc.label FROM cc JOIN sym ON cc.node = sym.s)
SELECT node AS doc_id, min(label) AS component FROM cc GROUP BY node
"""


@query("dedup_cluster_canonical", _CLUSTER_SQL)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup canonicalization: exact-dup pairs ∪ Jaccard≥0.5 pairs
    form an undirected graph; every document gets its component's
    minimum doc_id as canonical id (iterative min-label propagation,
    operators/dedup.py:connected_components — one shuffle per round,
    rounds = cluster diameter). Oracle: DuckDB recursive CTE over the
    identical edge set."""
    docs = T(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text"))
    ex = docs.select(
        F.min("doc_id").over(w).alias("d1"), F.col("doc_id").alias("d2")
    ).filter(F.col("d1") < F.col("d2"))
    sh = pin_iteration(dedup.word_shingles(docs), eager=False)
    jac = dedup.jaccard_pairs(sh, 0.5).select("d1", "d2")
    edges = ex.union(jac)
    return dedup.connected_components(docs.select("doc_id"), edges)


_CLUSTER_BEST_SQL = _CLUSTER_SQL.replace(
    "SELECT node AS doc_id, min(label) AS component FROM cc GROUP BY node",
    """, comp AS (SELECT node AS doc_id, min(label) AS component FROM cc GROUP BY node),
q AS (SELECT doc_id,
        round((1.0 - len([x for x in string_split(text, ' ') if x = 'the' OR x = 'a'])
                     / len(string_split(text, ' ')))
              * least(1.0, len(string_split(text, ' ')) / 100.0), 6) AS quality_score
      FROM documents)
SELECT component,
       CAST(COUNT(*) AS BIGINT) AS cluster_size,
       first(doc_id ORDER BY quality_score DESC, doc_id ASC) AS keeper_doc_id,
       MAX(quality_score) AS keeper_quality
FROM comp JOIN q USING (doc_id)
GROUP BY component""")


@query("pipeline_cluster_best", _CLUSTER_BEST_SQL)
def pipeline_cluster_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone dedup pipeline: near-dup graph → connected components
    → keep the HIGHEST-QUALITY document per cluster (arg-max as a
    max_by hash aggregate, quality ties broken by lowest doc_id). One
    grouped pass after the component labels — the full
    pairs→clusters→keepers flow a 100 TB corpus dedup runs."""
    comp = dedup_cluster_canonical(spark, sf_dir)
    q = text.quality_scores(T(spark, sf_dir, "documents")).select(
        "doc_id", "quality_score"
    )
    joined = comp.join(q, "doc_id")
    return joined.groupBy("component").agg(
        F.count("*").cast("long").alias("cluster_size"),
        F.max_by(
            F.col("doc_id"),
            F.struct(F.col("quality_score"), (-F.col("doc_id")).alias("nd")),
        ).alias("keeper_doc_id"),
        F.max("quality_score").alias("keeper_quality"),
    )


# ---------------------------------------------------------------------------
# North-star: training-data management — deterministic splits/samples,
# TF-IDF, incremental dedup, eval-contamination sweep, length profile
# ---------------------------------------------------------------------------

_SPLIT_SQL = f"""
SELECT doc_id, lang,
       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
FROM (SELECT doc_id, lang, {sampling.bucket_sql('doc_id')} AS b FROM documents)
"""


@query("split_train_test", _SPLIT_SQL)
def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split via multiplicative
    key hashing (operators/sampling.py): reproducible across runs,
    engines and partitionings; a pure map-side projection whose
    `split` column can drive partitionBy at write time."""
    return sampling.hash_split(T(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "split"
    )


_STRAT_SQL = f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang, {sampling.bucket_sql('doc_id', salt=1)} AS b FROM documents)
WHERE b < CASE lang WHEN 'en' THEN 10 WHEN 'de' THEN 50 ELSE 100 END
"""


@query("sample_stratified", _STRAT_SQL)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsample (balance a crawl's language
    mix: keep 10% of en, 50% of de, all the rest) — hash-bucket
    predicate pushed into the scan, no RNG, no shuffle."""
    return sampling.stratified_sample(
        T(spark, sf_dir, "documents"), rates={"en": 10, "de": 50}
    ).select("doc_id", "lang")


_TFIDF_SQL = """
WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
 tf AS (SELECT doc_id, term, COUNT(*) AS tf_cnt FROM words GROUP BY 1, 2),
 dl AS (SELECT doc_id, COUNT(*) AS doc_len FROM words GROUP BY 1),
 dfreq AS (SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM words) GROUP BY 1),
 n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
 scored AS (SELECT tf.doc_id, tf.term,
                   round((tf.tf_cnt / dl.doc_len) * ln(n.n_docs / dfreq.df), 6) AS tfidf
            FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term), n),
 ranked AS (SELECT doc_id, term, tfidf,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY tfidf DESC, term) AS rnk
            FROM scored)
SELECT doc_id, term, tfidf, rnk FROM ranked WHERE rnk <= 3
"""


@query("text_tfidf_topterms", _TFIDF_SQL)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (operators/text.py): one
    explode, combiner-friendly term-df aggregate, broadcast 1-row
    corpus count, per-doc rank window."""
    return text.tfidf_top_terms(T(spark, sf_dir, "documents"), k=3)


_PCTL_SQL = """
WITH r AS (SELECT doc_id, lang, n_chars,
                  PERCENT_RANK() OVER (PARTITION BY lang
                                       ORDER BY n_chars, doc_id) AS pr
           FROM documents)
SELECT doc_id, lang, n_chars, round(pr, 6) AS pct_rank
FROM r WHERE pr >= 0.25
"""


@query("quality_percentile_filter", _PCTL_SQL)
def quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-based quality gate: drop the bottom quartile of each
    language by length (the distribution-relative filter a corpus
    cleaner uses instead of a fixed threshold). percent_rank =
    (rank-1)/(n-1) is exact rational arithmetic — engine-portable;
    partitioned by `lang` so no global sort."""
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    pr = F.percent_rank().over(w)
    return (
        T(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars", pr.alias("_pr"))
        .filter(F.col("_pr") >= 0.25)
        .select("doc_id", "lang", "n_chars", F.round("_pr", 6).alias("pct_rank"))
    )


_HIST_SQL = """
SELECT CAST(FLOOR(n_chars / 100.0) AS BIGINT) * 100 AS bucket_start,
       COUNT(*) AS n_docs,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars,
       round(AVG(n_chars), 6) AS avg_chars
FROM documents GROUP BY 1
"""


@query("length_histogram", _HIST_SQL)
def length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram (100-char buckets) — the profile
    pass that precedes length-based quality filtering. Integer sums
    stay exact in doubles, so avg is engine-deterministic."""
    docs = T(spark, sf_dir, "documents")
    bucket = (F.floor(F.col("n_chars") / F.lit(100.0)).cast("long") * 100).alias(
        "bucket_start"
    )
    return docs.groupBy(bucket).agg(
        F.count("*").alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


_INCR_SQL = """
WITH h AS (SELECT doc_id, md5(text) AS content_md5, length(source) = 5 AS b
           FROM documents),
 corpus AS (SELECT DISTINCT content_md5 FROM h WHERE NOT b),
 batch AS (SELECT doc_id, content_md5 FROM h WHERE b)
SELECT content_md5, MIN(doc_id) AS doc_id, COUNT(*) AS n_in_batch
FROM batch
WHERE content_md5 NOT IN (SELECT content_md5 FROM corpus)
GROUP BY content_md5
"""


@query("dedup_incremental", _INCR_SQL)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: new-batch docs (sources src10..src19) whose
    content hash is absent from the standing corpus (src0..src9) —
    anti-join against the distinct-hash dedup index, then keep-first
    within the batch (operators/dedup.py:incremental_dedup)."""
    return dedup.incremental_dedup(
        T(spark, sf_dir, "documents"), F.length("source") == 5
    )


_CONTAM_SQL = """
WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
 ds AS (SELECT DISTINCT doc_id, source, s AS shingle FROM (
   SELECT doc_id, source, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                  for i in generate_series(1, len(ws) - 2)]) AS s
   FROM w WHERE len(ws) >= 3)),
 ev AS (SELECT doc_id, shingle FROM ds WHERE source = 'src19'),
 tr AS (SELECT DISTINCT shingle FROM ds WHERE source <> 'src19'),
 tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM ev GROUP BY 1),
 hit AS (SELECT doc_id, COUNT(*) AS n_contaminated
         FROM ev WHERE shingle IN (SELECT shingle FROM tr) GROUP BY 1)
SELECT t.doc_id, t.n_shingles,
       COALESCE(h.n_contaminated, 0) AS n_contaminated,
       round(COALESCE(h.n_contaminated, 0) / t.n_shingles, 6) AS contamination_ratio
FROM tot t LEFT JOIN hit h USING (doc_id)
"""


@query("contamination_ngram", _CONTAM_SQL)
def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination sweep: per held-out doc (source
    src19), the fraction of its 3-gram shingles found anywhere in the
    training sources — LEFT SEMI probe against the distinct train
    shingle set (operators/text.py:ngram_contamination)."""
    return text.ngram_contamination(T(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Analytic breadth: TPC-H Q7/Q9/Q13/Q16/Q22 shapes, grouping sets,
# exact quantiles, salted skew join
# ---------------------------------------------------------------------------

_Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
       {DEC_SUM_SQL('volume', 'revenue')}
FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             EXTRACT(year FROM l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY supp_nation, cust_nation, l_year
"""


@query("q7_nation_volume", _Q7_SQL)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (bilateral trade volume). The pair disjunction
    can't be pushed through the joins by the optimizer, so we prune
    manually: supplier AND customer are pre-filtered to the two
    nations before the fact joins — at 100 TB that turns both join
    build sides into slivers and lets the lineitem scan keep only
    matching suppkeys via the broadcast."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    n = T(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    s = T(spark, sf_dir, "supplier").join(
        F.broadcast(n.select(F.col("n_nationkey").alias("s_nationkey"),
                             F.col("n_name").alias("supp_nation"))),
        "s_nationkey",
    )
    c = T(spark, sf_dir, "customer").join(
        F.broadcast(n.select(F.col("n_nationkey").alias("c_nationkey"),
                             F.col("n_name").alias("cust_nation"))),
        "c_nationkey",
    )
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


_Q9_SQL = f"""
SELECT n_name, o_year, {DEC_SUM_SQL('amount', 'profit')}
FROM (SELECT n_name, EXTRACT(year FROM o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount)
               - p_retailprice * l_quantity * 0.1 AS amount
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%')
GROUP BY n_name, o_year
"""


@query("q9_product_profit", _Q9_SQL)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (profit by nation × year). The selective part
    filter rides the broadcast into the lineitem scan (dynamic
    filtering via the broadcast hash join); supplier→nation resolves
    the group key without touching the fact shuffle."""
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = T(spark, sf_dir, "supplier")
    o = T(spark, sf_dir, "orders")
    n = T(spark, sf_dir, "nation")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.1)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").alias("o_year"))
        .agg(dec_sum(amount, "profit"))
    )


_Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey)
GROUP BY c_count
"""


@query("q13_order_distribution", _Q13_SQL)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): outer join
    with a join-side predicate (NOT a post-filter — null-extended rows
    must survive), two-level aggregation; the second groupBy runs on
    the already-tiny distinct-count domain."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


_Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO' AND p_size IN (1, 2, 3, 4, 5)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


@query("q16_supplier_parts", _Q16_SQL)
def q16_supplier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT-IN as a LEFT ANTI join against the
    excluded-supplier sliver (set-at-a-time, no per-row subquery),
    selective dimension broadcast, then count-distinct per group
    (two-phase: partial distinct map-side under AQE)."""
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 2, 3, 4, 5)
    )
    bad_supp = (
        T(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(bad_supp, "l_suppkey", "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_Q22_SQL = f"""
WITH a AS (SELECT CAST(SUM(CAST(FLOOR(c_acctbal * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
                    / (COUNT(*) * 10000.0) AS avg_bal
           FROM customer WHERE c_acctbal > 0),
 urgent AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
SELECT CAST(c_custkey % 10 AS BIGINT) AS code,
       COUNT(*) AS numcust,
       {DEC_SUM_SQL('c_acctbal', 'totacctbal')}
FROM customer, a
WHERE c_acctbal > avg_bal
  AND c_custkey NOT IN (SELECT o_custkey FROM urgent)
GROUP BY code
"""


@query("q22_dormant_accounts", _Q22_SQL)
def q22_dormant_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar aggregate threshold (computed in
    fixed-point so the cutoff is engine-deterministic) broadcast over
    the fact, anti-join against customers with urgent orders, grouped
    account rollup."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(F.floor(F.col("c_acctbal") * 10000 + F.lit(0.5)).cast("long"))
                / (F.count("*") * F.lit(10000.0))
            ).alias("avg_bal")
        )
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    ).distinct()
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy((F.col("c_custkey") % 10).cast("long").alias("code"))
        .agg(
            F.count("*").alias("numcust"),
            dec_sum(F.col("c_acctbal"), "totacctbal"),
        )
    )


_GSETS_SQL = f"""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status,
       {DEC_SUM_SQL('l_extendedprice', 'sum_price')}, COUNT(*) AS n_rows
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
"""


@query("a_grouping_sets", _GSETS_SQL)
def a_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (the non-hierarchical sibling of
    rollup/cube): one pass, partial aggregation per set, GROUPING()
    flags disambiguate NULL-as-ALL rows."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping("l_returnflag").alias("g_flag"),
            F.grouping("l_linestatus").alias("g_status"),
            dec_sum(F.col("l_extendedprice"), "sum_price"),
            F.count("*").alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "g_flag", "g_status", "sum_price", "n_rows",
        )
    )


_QUANT_SQL = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.25), 6) AS p25,
       round(quantile_cont(l_quantity, 0.50), 6) AS p50,
       round(quantile_cont(l_quantity, 0.75), 6) AS p75,
       COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


@query("a_exact_quantiles", _QUANT_SQL)
def a_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped quantiles (linear interpolation at rank
    (n-1)·q — the same definition Spark `percentile` and DuckDB
    `quantile_cont` share). The exact path sorts per group; the
    approximate sibling for 100 TB is `a_approx_distinct`-style
    `percentile_approx` (GK sketch, mergeable map-side)."""
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(l_quantity, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(l_quantity, 0.75)"), 6).alias("p75"),
        F.count("*").alias("n_rows"),
    )


_SALTED_SQL = f"""
SELECT label, {DEC_SUM_SQL('l_extendedprice * (1 - l_discount)', 'revenue')},
       COUNT(*) AS n_items
FROM lineitem
JOIN (VALUES ('A', 'flag_A'), ('N', 'flag_N'), ('R', 'flag_R'))
     AS dim(flag, label)
  ON l_returnflag = dim.flag
GROUP BY label
"""


@query("j_salted_skew_join", _SALTED_SQL)
def j_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigating salted join (operators/relational.py:
    salted_join): lineitem joined to a 3-row dimension on
    l_returnflag — the pathological 3-distinct-value key that would
    pin an unsalted shuffle join to 3 reducer tasks. Salting ×16
    spreads each hot key over 16 tasks; the result is provably the
    plain join, which the oracle checks. The fact side is projected
    to the 3 needed columns BEFORE salting — the salt hash and the
    (key, salt) shuffle then carry 3 columns, not lineitem's 16."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_discount"
    )
    # SQL VALUES, not createDataFrame: a JVM-local relation skips the
    # Python->RDD serialization machinery (measured ~1.5 s of one-time
    # session spin-up that would land inside this query's timing).
    dim = spark.sql(
        "SELECT * FROM VALUES ('A','flag_A'),('N','flag_N'),('R','flag_R')"
        " AS t(l_returnflag, label)"
    )
    joined = relational.salted_join(li, dim, "l_returnflag", n_salts=16)
    return joined.groupBy("label").agg(
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        F.count("*").alias("n_items"),
    )


# ---------------------------------------------------------------------------
# North-star: sequence packing, k-means-step centroids, k-NN vote
# ---------------------------------------------------------------------------

_PACK_SQL = """
WITH t AS (SELECT doc_id, lang,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
 c AS (SELECT doc_id, lang, n_tokens,
              SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
                - n_tokens AS start_tok
       FROM t)
SELECT doc_id, lang, n_tokens,
       CAST(FLOOR(start_tok / 512) AS BIGINT) AS bin_id,
       CAST(start_tok % 512 AS BIGINT) AS bin_offset
FROM c
"""


@query("pack_sequences", _PACK_SQL)
def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chop sequence packing into 512-token context windows
    per language (operators/text.py:pack_sequences) — the LM-pretraining
    shard layout; cumulative sums partitioned by lang, never global."""
    return text.pack_sequences(T(spark, sf_dir, "documents"), ctx_len=512)


_CENT_SQL = """
WITH cell AS (SELECT label,
                     generate_subscripts(embedding, 1) - 1 AS pos,
                     CAST(unnest(embedding) AS DOUBLE) AS val
              FROM embeddings)
SELECT label, pos,
       CAST(SUM(CAST(FLOOR(val * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
         / (COUNT(*) * 1000000.0) AS centroid,
       COUNT(*) AS n_vectors
FROM cell GROUP BY label, pos
"""


@query("sim_label_centroids", _CENT_SQL)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids, one row per (label, dim) — the k-means
    update step as a combiner-friendly hash aggregate; fixed-point
    sums make the mean summation-order-independent
    (operators/similarity.py:label_centroids)."""
    return similarity.label_centroids(T(spark, sf_dir, "embeddings"))


_KMEANS_SQL = """
WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                  CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5)
                       AS BIGINT) AS q
           FROM embeddings),
c0 AS (SELECT vec_id AS cid, pos, q * 1024 AS m FROM e WHERE vec_id < 8),
d0 AS (SELECT e.vec_id, c.cid,
              CAST(SUM((e.q * 1024 - c.m) * (e.q * 1024 - c.m))
                   AS BIGINT) AS dist
       FROM e JOIN c0 c USING (pos) GROUP BY e.vec_id, c.cid),
a0 AS (SELECT vec_id, cid, dist,
              ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cid) AS r
       FROM d0),
s0 AS (SELECT vec_id, cid FROM a0 WHERE r = 1),
c1 AS (SELECT s0.cid, e.pos,
              CAST(FLOOR(CAST(SUM(e.q) AS DOUBLE) * 1024 / COUNT(*))
                   AS BIGINT) AS m
       FROM e JOIN s0 USING (vec_id) GROUP BY s0.cid, e.pos),
d1 AS (SELECT e.vec_id, c.cid,
              CAST(SUM((e.q * 1024 - c.m) * (e.q * 1024 - c.m))
                   AS BIGINT) AS dist
       FROM e JOIN c1 c USING (pos) GROUP BY e.vec_id, c.cid),
a1 AS (SELECT vec_id, cid, dist,
              ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cid) AS r
       FROM d1)
SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id, dist AS dist_scaled
FROM a1 WHERE r = 1
"""


@query("sim_kmeans_lloyd", _KMEANS_SQL)
def sim_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Lloyd's k-means (operators/similarity.py:kmeans_lloyd):
    init from the k smallest vec_ids, 2 assign→update iterations, the
    final assignment + squared-L2 distance per vector. All arithmetic
    is fixed-point (BIGINT-quantized vectors, integer distances, one
    floored IEEE division per centroid cell) so the DuckDB oracle —
    the same two iterations unrolled as CTE rounds over the
    per-dimension exploded table — hash-matches bit-for-bit,
    including argmin tie-breaks (dist, cid lexicographic). Spark
    executes the assign step as one narrow map with the k·dim
    centroid literals inlined (no shuffle join) and the update step
    as a (cluster, dim) hash aggregate — the iterative-ML job shape
    alongside graph_pagerank / sim_pca_power / text_bpe_merges."""
    return similarity.kmeans_lloyd(
        T(spark, sf_dir, "embeddings"), k=8, iters=2
    )


_KNN_SQL = _EMB_CTE + """
, lab AS (SELECT vec_id, label FROM embeddings)
, q AS (SELECT * FROM e WHERE vec_id < 10)
, scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                    list_cosine_similarity(q.v, c.v) AS cos
             FROM q, e c WHERE c.vec_id <> q.vec_id)
, ranked AS (SELECT query_id, neighbor_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rnk
             FROM scored)
, votes AS (SELECT query_id, l.label AS n_label, COUNT(*) AS n_votes
            FROM ranked JOIN lab l ON neighbor_id = l.vec_id
            WHERE rnk <= 5 GROUP BY query_id, l.label)
, winner AS (SELECT query_id, n_label, n_votes,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY n_votes DESC, n_label) AS r
             FROM votes)
SELECT w.query_id, w.n_label AS predicted_label, w.n_votes,
       lab.label AS true_label,
       w.n_label = lab.label AS is_match
FROM winner w JOIN lab ON w.query_id = lab.vec_id
WHERE w.r = 1
"""


@query("sim_knn_classify", _KNN_SQL)
def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote classification of the 10 query vectors
    (operators/similarity.py:knn_classify): brute-force top-5 cosine →
    label vote with deterministic tie-break, compared to the true
    label."""
    e = T(spark, sf_dir, "embeddings")
    return similarity.knn_classify(e, e.filter(F.col("vec_id") < 10), k=5)


_BGP_SQL = """
WITH u AS (
  SELECT *, 'https://data.razu.nl/id/object/NL-WbDRAZU-G0321-661-'
            || CAST(o_orderkey AS VARCHAR) AS uri
  FROM orders),
 t AS (
  SELECT uri AS s, 'rdf:type' AS p, 'ldto:Informatieobject' AS o FROM u
  UNION ALL
  SELECT uri, 'ldto:status', o_orderstatus FROM u
  UNION ALL
  SELECT uri, 'ldto:totalPrice', CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) FROM u)
SELECT m1.s, m3.o AS total_price
FROM      (SELECT s FROM t WHERE p = 'rdf:type' AND o = 'ldto:Informatieobject') m1
JOIN      (SELECT s FROM t WHERE p = 'ldto:status' AND o = 'F') m2 ON m1.s = m2.s
JOIN      (SELECT s, o FROM t WHERE p = 'ldto:totalPrice') m3 ON m1.s = m3.s
"""


@query("rdf_bgp_match", _BGP_SQL)
def rdf_bgp_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL-shaped BGP over the triples DataFrame
    (operators/rdf.py:bgp_match): { ?s rdf:type ldto:Informatieobject ;
    ldto:status "F" ; ldto:totalPrice ?total_price } — the reference's
    per-row SPARQL SELECT (concept_resolver.py:65-76) as set-at-a-time
    self-joins on the subject."""
    from razulibs_spark.operators.rdf import bgp_match

    o = T(spark, sf_dir, "orders")
    uid = razu_uid(F.col("o_orderkey"))
    triples = entity_to_triples(
        o,
        razu_uri(uid),
        [
            PropertyMap("rdf:type", F.lit("ldto:Informatieobject"), "uri"),
            PropertyMap("ldto:status", F.col("o_orderstatus")),
            PropertyMap("ldto:totalPrice", F.col("o_totalprice").cast("decimal(18,2)")),
        ],
    ).select("s", "p", "o")
    return bgp_match(
        triples,
        [
            ("rdf:type", "ldto:Informatieobject", None),
            ("ldto:status", "F", None),
            ("ldto:totalPrice", None, "total_price"),
        ],
    )


# ---------------------------------------------------------------------------
# TPC-H breadth, round 3: the remaining classic shapes (Q2/Q4/Q6/Q8/
# Q10/Q11/Q12/Q14/Q15/Q17/Q19/Q20/Q21), adapted to the driver tables
# (no partsupp/commitdate/shipmode — the supply relation is derived
# from lineitem where needed, exactly as Q16 was adapted earlier).
# ---------------------------------------------------------------------------

_Q6_SQL = f"""
SELECT {DEC_SUM_SQL('l_extendedprice * l_discount', 'revenue')},
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@query("q6_forecast_revenue", _Q6_SQL)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-aggregate — every predicate pushes
    to the parquet scan, partial agg map-side, one scalar row out."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dec_sum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
            F.count("*").alias("n_items"),
        )
    )


_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
"""


@query("q4_order_priority", _Q4_SQL)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (EXISTS → left-semi join): orders with at least
    one lineitem shipped >90 days after order date (the driver tables
    carry no commit/receipt dates), counted per priority. The semi
    join keeps only the order key — no lineitem payload shuffles."""
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).withColumn("_cut", F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"))
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o._cut),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


_Q8_SQL = f"""
WITH v AS (
  SELECT EXTRACT(year FROM o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'EUROPE'
)
SELECT CAST(o_year AS BIGINT) AS o_year,
       round(
         (CAST(SUM(CASE WHEN supp_nation = 'NATION_7'
                        THEN CAST(FLOOR(volume * 10000 + 0.5) AS BIGINT)
                        ELSE 0 END) AS DOUBLE) / 10000.0)
         / (CAST(SUM(CAST(FLOOR(volume * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
            / 10000.0),
         6) AS mkt_share
FROM v GROUP BY o_year
"""


@query("q8_market_share", _Q8_SQL)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's trade volume
    per year. Six joins — every dimension side broadcasts; the only
    shuffle is the final small groupBy on year. Both numerator and
    denominator accumulate in fixed point so the ratio is
    engine-deterministic."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n1 = n.alias("n1")
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    v = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(r), F.col("n1.n_regionkey") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            "supp_nation",
        )
    )
    fx = F.floor(F.col("volume") * 10000 + F.lit(0.5)).cast("long")
    return v.groupBy("o_year").agg(
        F.round(
            (F.sum(F.when(F.col("supp_nation") == "NATION_7", fx).otherwise(F.lit(0)))
             / F.lit(10000.0))
            / (F.sum(fx) / F.lit(10000.0)),
            6,
        ).alias("mkt_share")
    )


_Q10_SQL = f"""
WITH rev AS (
  SELECT c_custkey, c_name, c_acctbal, n_name,
         {DEC_SUM_SQL('l_extendedprice * (1 - l_discount)', 'revenue')}
  FROM customer
  JOIN orders   ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN nation   ON c_nationkey = n_nationkey
  WHERE o_orderdate >= TIMESTAMP '1996-10-01'
    AND o_orderdate <  TIMESTAMP '1997-01-01'
    AND l_returnflag = 'R'
  GROUP BY c_custkey, c_name, c_acctbal, n_name
)
SELECT c_custkey, c_name, c_acctbal, n_name, revenue, rnk
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY revenue DESC, c_custkey) AS rnk
      FROM rev)
WHERE rnk <= 20
"""


@query("q10_returned_items", _Q10_SQL)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: revenue lost to returns per customer, top 20 —
    join + agg + TakeOrderedAndProject (no global sort)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = T(spark, sf_dir, "nation")
    rev = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )
    return relational.top_k(
        rev, 20, [F.col("revenue").desc(), F.col("c_custkey")]
    )


_Q11_SQL = f"""
WITH pv AS (
  SELECT l_partkey, {DEC_SUM_SQL('l_extendedprice', 'value')}
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY l_partkey
),
tot AS (
  SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
           / 10000.0 * 0.001 AS cutoff
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
)
SELECT l_partkey, value FROM pv, tot WHERE value > cutoff
"""


@query("q11_important_parts", _Q11_SQL)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (no partsupp: supply value derived from one
    nation's lineitems): per-part value vs a scalar fraction-of-total
    cutoff — the scalar aggregates once and broadcasts over the
    grouped rows; both sums are fixed-point so the cutoff comparison
    is engine-deterministic."""
    li = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    base = li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey).join(
        F.broadcast(n), s.s_nationkey == n.n_nationkey
    )
    pv = base.groupBy("l_partkey").agg(dec_sum(F.col("l_extendedprice"), "value"))
    tot = base.agg(
        (
            F.sum(F.floor(F.col("l_extendedprice") * 10000 + F.lit(0.5)).cast("long"))
            / F.lit(10000.0)
            * F.lit(0.001)
        ).alias("cutoff")
    )
    return (
        pv.join(F.broadcast(tot))
        .filter(F.col("value") > F.col("cutoff"))
        .select("l_partkey", "value")
    )


_Q12_SQL = """
SELECT l_linestatus AS ship_mode,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
GROUP BY l_linestatus
"""


@query("q12_priority_by_linestatus", _Q12_SQL)
def q12_priority_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (l_linestatus stands in for the absent
    l_shipmode): conditional counts per status after a fact-fact
    join — the filter prunes lineitem at the scan, and the join key
    is the high-cardinality order key."""
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_linestatus")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.col("l_linestatus").alias("ship_mode"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


_Q14_SQL = """
WITH j AS (
  SELECT p_type, l_extendedprice * (1 - l_discount) AS v
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-03-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
)
SELECT round(
         100.0 * (CAST(SUM(CASE WHEN p_type = 'PROMO'
                          THEN CAST(FLOOR(v * 10000 + 0.5) AS BIGINT)
                          ELSE 0 END) AS DOUBLE) / 10000.0)
         / (CAST(SUM(CAST(FLOOR(v * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0),
         6) AS promo_revenue_pct
FROM j
"""


@query("q14_promo_effect", _Q14_SQL)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo share of monthly revenue — broadcast part
    dim, one scalar aggregate, fixed-point num/denominator."""
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = T(spark, sf_dir, "part").select("p_partkey", "p_type")
    v = (F.col("l_extendedprice") * (1 - F.col("l_discount")))
    fx = F.floor(v * 10000 + F.lit(0.5)).cast("long")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * (F.sum(F.when(F.col("p_type") == "PROMO", fx).otherwise(F.lit(0)))
                   / F.lit(10000.0))
                / (F.sum(fx) / F.lit(10000.0)),
                6,
            ).alias("promo_revenue_pct")
        )
    )


_Q15_SQL = f"""
WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         {DEC_SUM_SQL('l_extendedprice * (1 - l_discount)', 'total_revenue')}
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN rev ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
"""


@query("q15_top_supplier", _Q15_SQL)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: quarterly revenue per supplier, keep the max —
    the scalar max broadcasts back over the grouped rows (no window,
    no second scan of lineitem); fixed-point revenue makes the
    equality comparison engine-safe."""
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = pin_iteration(
        li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue")
        ),
        eager=False,
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    s = T(spark, sf_dir, "supplier")
    return (
        s.join(rev, s.s_suppkey == rev.supplier_no)
        .join(F.broadcast(mx), F.col("total_revenue") == F.col("_mx"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


_Q17_SQL = """
WITH avgq AS (
  SELECT l_partkey AS ap, 0.2 * AVG(l_quantity) AS aq
  FROM lineitem GROUP BY l_partkey
)
SELECT round(CAST(SUM(CAST(FLOOR(l_extendedprice * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
             / 10000.0 / 7.0, 4) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN avgq ON ap = l_partkey
WHERE p_brand = 'Brand#1' AND l_quantity < aq
"""


@query("q17_small_qty_revenue", _Q17_SQL)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: lineitems under 20% of their part's average
    quantity. The per-part average is a grouped aggregate joined back
    on the part key (Catalyst broadcasts it — parts are tiny next to
    lineitem); quantity sums of small integers are exact doubles, so
    the 0.2·avg cutoff is engine-deterministic."""
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1").select(
        "p_partkey"
    )
    avgq = li.groupBy(F.col("l_partkey").alias("ap")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("aq")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(avgq, li.l_partkey == avgq.ap)
        .filter(F.col("l_quantity") < F.col("aq"))
        .agg(
            F.round(
                F.sum(F.floor(F.col("l_extendedprice") * 10000 + F.lit(0.5))
                      .cast("long"))
                / F.lit(10000.0) / F.lit(7.0),
                4,
            ).alias("avg_yearly")
        )
    )


_Q19_SQL = f"""
SELECT {DEC_SUM_SQL('l_extendedprice * (1 - l_discount)', 'revenue')},
       COUNT(*) AS n_items
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""


@query("q19_brand_size_revenue", _Q19_SQL)
def q19_brand_size_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: disjunctive brand/size/quantity predicates over the
    part join — the per-side conjuncts (quantity ranges, size ranges)
    are derivable by Catalyst as scan filters; the residual OR
    evaluates post-join in codegen."""
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 30))
    )
    return j.filter(cond).agg(
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        F.count("*").alias("n_items"),
    )


_Q20_SQL = """
WITH sup_part AS (
  SELECT l_suppkey, l_partkey, SUM(l_quantity) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey, l_partkey
),
red AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
SELECT DISTINCT s_suppkey, s_name
FROM supplier
JOIN sup_part ON s_suppkey = l_suppkey
JOIN red ON l_partkey = p_partkey
WHERE qty > 50
"""


@query("q20_promotion_suppliers", _Q20_SQL)
def q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (supply derived from shipped lineitems — no
    partsupp in the driver tables): suppliers who moved >50 units of
    any 'red%' part in 1996. Grouped fact aggregate, then two
    broadcast joins; quantity sums of small ints are exact."""
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    sup_part = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum("l_quantity").alias("qty")
    )
    red = T(spark, sf_dir, "part").filter(F.col("p_name").like("red%")).select(
        "p_partkey"
    )
    s = T(spark, sf_dir, "supplier")
    return (
        s.join(sup_part, s.s_suppkey == sup_part.l_suppkey)
        .join(F.broadcast(red), sup_part.l_partkey == red.p_partkey)
        .filter(F.col("qty") > 50)
        .select("s_suppkey", "s_name")
        .distinct()
    )


_Q21_SQL = """
WITH per AS (
  SELECT l_orderkey, l_suppkey,
         MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                  THEN 1 ELSE 0 END) AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY l_orderkey, l_suppkey
),
agg AS (
  SELECT l_orderkey, COUNT(*) AS n_supp,
         CAST(SUM(late) AS BIGINT) AS n_late,
         MAX(CASE WHEN late = 1 THEN l_suppkey END) AS late_supp
  FROM per GROUP BY l_orderkey
)
SELECT s_name, COUNT(*) AS numwait
FROM agg JOIN supplier ON s_suppkey = late_supp
WHERE n_supp >= 2 AND n_late = 1
GROUP BY s_name
"""


@query("q21_waiting_suppliers", _Q21_SQL)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the sole late supplier on multi-supplier
    finalized orders (lateness = shipped >60 days after order date —
    no receipt/commit dates in the driver tables). The classic
    EXISTS/NOT-EXISTS pair collapses into one grouped pass per
    (order, supplier) and one per order — two hash aggregates instead
    of two correlated self-joins against lineitem."""
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    per = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"),
                    1,
                ).otherwise(0)
            ).alias("late")
        )
    )
    agg = per.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.sum("late").cast("long").alias("n_late"),
        F.max(F.when(F.col("late") == 1, F.col("l_suppkey"))).alias("late_supp"),
    )
    s = T(spark, sf_dir, "supplier")
    return (
        agg.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(F.broadcast(s), F.col("late_supp") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


_Q2_SQL = """
WITH supply AS (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
target AS (SELECT p_partkey, p_name FROM part
           WHERE p_size = 10 AND p_type = 'LARGE'),
eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
cand AS (
  SELECT p_partkey, p_name, s_name, s_acctbal, n_name, cost
  FROM target
  JOIN supply ON l_partkey = p_partkey
  JOIN eu ON l_suppkey = s_suppkey
),
best AS (SELECT p_partkey AS bp, MIN(cost) AS min_cost
         FROM cand GROUP BY p_partkey)
SELECT p_partkey, p_name, s_name, s_acctbal, n_name,
       round(cost, 6) AS cost
FROM cand JOIN best ON p_partkey = bp AND cost = min_cost
"""


@query("q2_mincost_supplier", _Q2_SQL)
def q2_mincost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (supply costs derived from lineitem unit
    prices — no partsupp): cheapest European supplier per qualifying
    part, via grouped-min + join-back (the distributed argmin: no
    window over the whole supply relation). Unit cost is a single
    IEEE division, bit-identical across engines."""
    li = T(spark, sf_dir, "lineitem")
    supply = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost")
    )
    target = T(spark, sf_dir, "part").filter(
        (F.col("p_size") == 10) & (F.col("p_type") == "LARGE")
    ).select("p_partkey", "p_name")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cand = pin_iteration(
        supply.join(F.broadcast(target), supply.l_partkey == target.p_partkey)
        .join(F.broadcast(eu), supply.l_suppkey == eu.s_suppkey)
        .select("p_partkey", "p_name", "s_name", "s_acctbal", "n_name", "cost"),
        eager=False,
    )
    best = cand.groupBy(F.col("p_partkey").alias("bp")).agg(
        F.min("cost").alias("min_cost")
    )
    return (
        cand.join(
            F.broadcast(best),
            (cand.p_partkey == best.bp) & (cand.cost == best.min_cost),
        )
        .select(
            "p_partkey", "p_name", "s_name", "s_acctbal", "n_name",
            F.round("cost", 6).alias("cost"),
        )
    )


# ---------------------------------------------------------------------------
# North-star round 3: repetition-based quality filtering (Gopher rules)
# and PII scrubbing — the two standard pretraining-pipeline passes not
# yet covered.
# ---------------------------------------------------------------------------

_REP_CTES = """
WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
 wc AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w),
 wa AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               MAX(c) AS top_word_count
        FROM wc GROUP BY doc_id),
 ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
 bg AS (SELECT doc_id,
               unnest([ws[i] || ' ' || ws[i+1]
                       for i in generate_series(1, len(ws) - 1)]) AS bg
        FROM ws WHERE len(ws) >= 2),
 bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg),
 ba AS (SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_bigram_count
        FROM bc GROUP BY doc_id),
 rep AS (
   SELECT wa.doc_id, n_words, n_distinct,
          round(n_distinct / CAST(n_words AS DOUBLE), 6) AS distinct_ratio,
          round(top_word_count / CAST(n_words AS DOUBLE), 6) AS top_word_frac,
          round(COALESCE(top_bigram_count / CAST(n_bigrams AS DOUBLE), 0.0), 6)
            AS top_bigram_frac
   FROM wa LEFT JOIN ba ON wa.doc_id = ba.doc_id)
"""

_REP_SQL = _REP_CTES + """
SELECT doc_id, n_words, n_distinct, distinct_ratio, top_word_frac,
       top_bigram_frac
FROM rep
"""


@query("text_repetition_stats", _REP_SQL)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (distinct-word ratio, top-word
    fraction, top-bigram fraction) per document — two hash aggregates
    keyed by doc_id, map-side combined, no UDF."""
    return text.repetition_stats(T(spark, sf_dir, "documents"))


_GOPHER_SQL = _REP_CTES + """
SELECT doc_id, n_words, distinct_ratio, top_word_frac, top_bigram_frac
FROM rep
WHERE n_words BETWEEN 50 AND 100000
  AND distinct_ratio >= 0.2
  AND top_word_frac <= 0.2
  AND top_bigram_frac <= 0.18
"""


@query("quality_gopher_filter", _GOPHER_SQL)
def quality_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality gate as one filter over the repetition
    signals: word-count bounds + repetition thresholds (Rae et al.
    2021 §A1.1 values, adapted to the corpus). Composes the stats
    operator — the filter costs nothing extra on top of the
    aggregates."""
    rep = text.repetition_stats(T(spark, sf_dir, "documents"))
    return rep.filter(
        (F.col("n_words") >= 50) & (F.col("n_words") <= 100_000)
        & (F.col("distinct_ratio") >= 0.2)
        & (F.col("top_word_frac") <= 0.2)
        & (F.col("top_bigram_frac") <= 0.18)
    ).select(
        "doc_id", "n_words", "distinct_ratio", "top_word_frac", "top_bigram_frac"
    )


_PII_SQL = """
WITH injected AS (
  SELECT doc_id,
         'contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 10.0.0.'
           || CAST(doc_id % 256 AS VARCHAR) || ' ' || text AS text
  FROM documents
),
s1 AS (
  SELECT doc_id,
         len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
         regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g')
           AS t1
  FROM injected
)
SELECT doc_id,
       CAST(n_emails AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t1,
            '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b')) AS BIGINT) AS n_ips,
       regexp_replace(t1, '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g')
         AS scrubbed_text,
       CAST(length(regexp_replace(t1, '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b',
            '<IP>', 'g')) AS BIGINT) AS scrubbed_len
FROM s1
"""


@query("text_pii_scrub", _PII_SQL)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass (emails + IPv4 → placeholder tokens, with
    per-doc match counts). The corpus is synthetic word-stream text,
    so deterministic PII derived from doc_id is injected first — the
    scrubber then provably removes it (counts are 1/1 per doc and the
    oracle reproduces the redaction byte-for-byte). All regex work is
    RE2-safe and stays in whole-stage codegen."""
    docs = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" "), F.col("text"),
        ).alias("text"),
    )
    return text.pii_scrub(docs)


# ---------------------------------------------------------------------------
# ANSI-SQL facade: one portable SQL text serving as BOTH the Spark
# query (spark.sql via sql.run_sql) and the DuckDB oracle, verbatim.
# ---------------------------------------------------------------------------

_ADHOC_SQL = f"""
SELECT r_name,
       COUNT(*) AS n_items,
       {DEC_SUM_SQL('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
"""


@query("sql_adhoc_region_revenue", _ADHOC_SQL)
def sql_adhoc_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL facade end-to-end: the ORACLE string itself is executed
    by Spark SQL over the registered temp views — proving the engine
    accepts the same ANSI text the oracle runs, with identical
    results (Catalyst still broadcasts the dims and partial-aggregates
    map-side; declarative SQL and the DataFrame API compile to the
    same plans)."""
    from razulibs_spark import sql as sql_facade

    return sql_facade.run_sql(spark, sf_dir, _ADHOC_SQL)


# ---------------------------------------------------------------------------
# Funnel analysis + embedding quantization (round-3 north-star tail)
# ---------------------------------------------------------------------------

_FUNNEL_SQL = """
WITH v AS (SELECT user_id, MIN(ts) AS t_view
           FROM events WHERE event_type = 'view' GROUP BY user_id),
 c AS (SELECT e.user_id, MIN(ts) AS t_click
       FROM events e JOIN v ON e.user_id = v.user_id
       WHERE event_type = 'click' AND ts > t_view GROUP BY e.user_id),
 p AS (SELECT e.user_id, MIN(ts) AS t_purchase
       FROM events e JOIN c ON e.user_id = c.user_id
       WHERE event_type = 'purchase' AND ts > t_click GROUP BY e.user_id)
SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
       CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_view_click,
       CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_view_click_purchase
"""


@query("events_funnel", _FUNNEL_SQL)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel (view → later click → later purchase)
    per user, reduced to stage counts. Each stage is a grouped MIN
    joined to the previous stage's users — three keyed aggregates on
    user_id (map-side combined, re-usable partitioning), never a
    per-user sort of full histories."""
    e = T(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id").agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id").agg(F.min("ts").alias("t_purchase"))
    )
    nv = v.agg(F.count("*").alias("n_view"))
    nc = c.agg(F.count("*").alias("n_view_click"))
    np_ = p.agg(F.count("*").alias("n_view_click_purchase"))
    return nv.crossJoin(nc).crossJoin(np_)


_QUANT8_SQL = """
WITH b AS (
  SELECT vec_id,
         list_min([CAST(x AS DOUBLE) for x in embedding]) AS lo,
         list_max([CAST(x AS DOUBLE) for x in embedding]) AS hi
  FROM embeddings
),
q AS (
  SELECT e.vec_id, lo, hi,
         CASE WHEN hi = lo THEN 1.0 ELSE (hi - lo) / 255.0 END AS scale
  FROM embeddings e JOIN b ON e.vec_id = b.vec_id
)
SELECT q.vec_id,
       round(lo, 6) AS zero_point,
       round(scale, 6) AS scale,
       array_to_string(
         [CAST(CAST(LEAST(255, FLOOR((CAST(x AS DOUBLE) - lo) / scale + 0.5))
               AS BIGINT) AS VARCHAR) for x in e.embedding], ',') AS q8
FROM q JOIN embeddings e ON q.vec_id = e.vec_id
"""


@query("sim_quantize_int8", _QUANT8_SQL)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector affine uint8 quantization (the storage/bandwidth
    step before ANN at 100 TB: 4 bytes/dim → 1): per-row min/max via
    array HOFs, then one transform — all whole-stage codegen, no
    shuffle at all (narrow op)."""
    e = T(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    lo = F.array_min(vec)
    hi = F.array_max(vec)
    scale = F.when(hi == lo, F.lit(1.0)).otherwise((hi - lo) / F.lit(255.0))
    q8 = F.transform(
        vec,
        lambda x: F.least(
            F.lit(255), F.floor((x - lo) / scale + F.lit(0.5))
        ).cast("long"),
    )
    # the quantized vector ships as a comma-joined string: array
    # columns defeat order-insensitive frame/hash comparison in both
    # the driver and pandas, and the string is the same 1 byte/dim
    # payload for the correctness contract's purposes.
    return e.select(
        "vec_id",
        F.round(lo, 6).alias("zero_point"),
        F.round(scale, 6).alias("scale"),
        F.concat_ws(",", F.transform(q8, lambda x: x.cast("string"))).alias("q8"),
    )


# ---------------------------------------------------------------------------
# The full corpus-prep composition: Gopher gate → PII scrub → exact
# dedup (keep canonical) → deterministic split — the pipeline a
# pretraining-data user actually ships, as ONE declarative plan.
# ---------------------------------------------------------------------------

_FULL_PREP_SQL = _REP_CTES + f"""
, kept AS (
  SELECT doc_id FROM rep
  WHERE n_words BETWEEN 50 AND 100000
    AND distinct_ratio >= 0.2
    AND top_word_frac <= 0.2
    AND top_bigram_frac <= 0.18
),
scrubbed AS (
  SELECT d.doc_id, d.lang,
         regexp_replace(d.text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g')
           AS text
  FROM documents d JOIN kept ON d.doc_id = kept.doc_id
),
canon AS (
  SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
  FROM scrubbed GROUP BY md5(text)
)
SELECT s.doc_id, s.lang, c.n_copies,
       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END
         AS split
FROM canon c
JOIN scrubbed s ON c.doc_id = s.doc_id
JOIN (SELECT doc_id, {sampling.bucket_sql('doc_id')} AS b FROM documents) bk
  ON s.doc_id = bk.doc_id
"""


@query("pipeline_full_prep", _FULL_PREP_SQL)
def pipeline_full_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep in one declarative plan: Gopher
    repetition gate → PII scrub → exact dedup keeping the canonical
    (min-id) copy → deterministic hash split. Catalyst fuses the
    scrub + hash into the post-filter projection; the only shuffles
    are the two doc-keyed aggregates (repetition stats, dedup
    groupBy) — nothing quadratic anywhere, 100 TB-shaped end to
    end."""
    docs = T(spark, sf_dir, "documents")
    rep = text.repetition_stats(docs)
    kept_ids = rep.filter(
        (F.col("n_words") >= 50) & (F.col("n_words") <= 100_000)
        & (F.col("distinct_ratio") >= 0.2)
        & (F.col("top_word_frac") <= 0.2)
        & (F.col("top_bigram_frac") <= 0.18)
    ).select("doc_id")
    scrubbed = (
        docs.join(kept_ids, "doc_id")
        .select(
            "doc_id", "lang",
            F.regexp_replace(
                F.col("text"),
                r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
                "<EMAIL>",
            ).alias("text"),
        )
    )
    canon = (
        scrubbed.groupBy(F.md5("text"))
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
        .select("doc_id", "n_copies")
    )
    split = sampling.hash_split(docs).select("doc_id", "split")
    return (
        canon.join(scrubbed, "doc_id")
        .join(split, "doc_id")
        .select("doc_id", "lang", "n_copies", "split")
    )


_SESSION_WINDOW_STREAM_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 86400000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, value,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_seq
  FROM flagged)
SELECT user_id,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       CAST(SUM(CAST(FLOOR((value) * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
         / 10000.0 AS sum_value
FROM sess GROUP BY user_id, session_seq
"""


@query("streaming_session_window", _SESSION_WINDOW_STREAM_SQL)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session-window streaming aggregation: F.session_window
    merges events within the 24h gap engine-side — no Python state
    function, and the fixed-point sum makes the output bit-equal to
    the batch lag+running-sum sessionizer — so the entry carries the
    batch sessionize oracle (minus the ordinal session_seq, which a
    gap-window aggregate has no notion of). Complete-mode availableNow
    drain emits every merged session. Exact equivalence also pinned in
    tests/test_operators.py::test_streaming_session_window_matches_batch."""
    from razulibs_spark.streaming.sessionize import (
        run_session_window_available_now,
    )

    return run_session_window_available_now(spark, sf_dir)


_APPROX_QUANTILES_SQL = """
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
       TRUE AS p25_within_bound, TRUE AS p50_within_bound,
       TRUE AS p75_within_bound
FROM lineitem GROUP BY l_returnflag
"""


@query("a_approx_quantiles", _APPROX_QUANTILES_SQL)
def a_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile over grouped lineitem prices — the 100 TB
    quantile path (bounded sketch memory per group vs the exact
    per-group sort of a_exact_quantiles). Sketch values are
    engine-specific, so the ORACLE-STABLE contract is the documented
    rank guarantee (VERDICT r5 item 5): percentile_approx(acc)
    returns a member of the group whose rank interval [n_lt+1, n_le]
    must intersect [q·n − slack, q·n + slack] with slack = n/acc + 2
    (+2 absorbs endpoint convention off-by-ones). The booleans are
    recomputed from exact rank counts via one broadcast join of the
    tiny per-group sketch results back against the group — a bound
    violation flips a boolean and hash-mismatches the oracle's TRUE."""
    li = T(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    acc = 10_000
    approx = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", [0.25, 0.5, 0.75], acc)
        .alias("pcts")
    ).select(
        "l_returnflag",
        F.col("pcts")[0].alias("a25"),
        F.col("pcts")[1].alias("a50"),
        F.col("pcts")[2].alias("a75"),
    )
    j = li.join(F.broadcast(approx), "l_returnflag")
    ranked = j.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        *[
            agg_
            for q in (25, 50, 75)
            for agg_ in (
                F.sum(
                    (F.col("l_extendedprice") < F.col(f"a{q}")).cast("long")
                ).alias(f"lt{q}"),
                F.sum(
                    (F.col("l_extendedprice") <= F.col(f"a{q}")).cast("long")
                ).alias(f"le{q}"),
            )
        ],
    )
    def ok(q: int):
        target = F.col("n") * (q / 100.0)
        slack = F.col("n") / acc + 2
        return (
            (F.col(f"lt{q}") + 1 <= target + slack)
            & (F.col(f"le{q}") >= target - slack)
        )
    return ranked.select(
        "l_returnflag",
        "n",
        ok(25).alias("p25_within_bound"),
        ok(50).alias("p50_within_bound"),
        ok(75).alias("p75_within_bound"),
    )


def _minhash_incr_sql(threshold: float = 0.2) -> str:
    sigs = ",\n   ".join(
        f"min(substr(md5('{h // 4}:' || shingle), {1 + 8 * (h % 4)}, 8))"
        f" AS sig{h}"
        for h in range(dedup.N_MINHASH)
    )
    def bands(src: str) -> str:
        return "\n  UNION ALL\n".join(
            "  SELECT doc_id, {b} AS band_id, "
            "md5(sig{i0} || sig{i1} || sig{i2}) AS band_hash FROM {src}".format(
                b=b, i0=3 * b, i1=3 * b + 1, i2=3 * b + 2, src=src
            )
            for b in range(dedup.N_BANDS)
        )
    return f"""
WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
 ds AS (SELECT DISTINCT doc_id, source, s AS shingle FROM (
   SELECT doc_id, source, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                  for i in generate_series(1, len(ws) - 2)]) AS s
   FROM w WHERE len(ws) >= 3)),
 shc AS (SELECT doc_id, shingle FROM ds WHERE length(source) = 4),
 shb AS (SELECT doc_id, shingle FROM ds WHERE length(source) = 5),
 sigc AS (SELECT doc_id,
   {sigs}
   FROM shc GROUP BY doc_id),
 sigb AS (SELECT doc_id,
   {sigs}
   FROM shb GROUP BY doc_id),
 bandc AS (
{bands('sigc')}
 ),
 bandb AS (
{bands('sigb')}
 ),
 cand AS (SELECT DISTINCT b.doc_id AS d_new, c.doc_id AS d_corpus
          FROM bandb b JOIN bandc c
            ON b.band_id = c.band_id AND b.band_hash = c.band_hash),
 nb AS (SELECT doc_id, COUNT(*) AS n FROM shb GROUP BY doc_id),
 nc AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
 com AS (SELECT cand.d_new, cand.d_corpus, COUNT(*) AS common
         FROM cand
         JOIN shb ON shb.doc_id = cand.d_new
         JOIN shc ON shc.doc_id = cand.d_corpus
                 AND shc.shingle = shb.shingle
         GROUP BY cand.d_new, cand.d_corpus),
 jac AS (SELECT d_new, d_corpus,
                round(common / (nb.n + nc.n - common), 6) AS jaccard
         FROM com JOIN nb ON d_new = nb.doc_id JOIN nc ON d_corpus = nc.doc_id),
 best AS (SELECT d_new, d_corpus AS matched_doc_id, jaccard,
                 ROW_NUMBER() OVER (PARTITION BY d_new
                                    ORDER BY jaccard DESC, d_corpus) AS rn
          FROM jac WHERE jaccard >= {threshold})
SELECT d.doc_id,
       best.matched_doc_id IS NOT NULL AS is_dup,
       best.matched_doc_id, best.jaccard
FROM (SELECT doc_id FROM documents WHERE length(source) = 5) d
LEFT JOIN (SELECT * FROM best WHERE rn = 1) best ON d.doc_id = best.d_new
"""


@query("dedup_minhash_incremental", _minhash_incr_sql())
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup admission (the daily-ingest scale shape):
    new-batch docs (src10..src19) probe the standing corpus's
    (src0..src9) LSH band index; band-collision candidates get exact
    Jaccard verification and each batch doc reports its best corpus
    match. At 100 TB the corpus band index is a persisted,
    incrementally-maintained table — corpus text is never rescanned."""
    docs = T(spark, sf_dir, "documents")
    corpus = docs.filter(F.length("source") == 4)
    batch = docs.filter(F.length("source") == 5)
    return dedup.minhash_incremental(corpus, batch, threshold=0.2)


def _zorder_sql(bits: int = 16) -> str:
    terms = " | ".join(
        f"(((CAST(xb AS BIGINT) >> {i}) & 1) << {2 * i})"
        f" | (((CAST(yb AS BIGINT) >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    )
    return f"""
WITH b AS (
  SELECT event_id,
         CAST(user_id % 1024 AS BIGINT) AS xb,
         CAST(CAST(FLOOR(value) AS BIGINT) % 1024 AS BIGINT) AS yb
  FROM events
)
SELECT event_id, xb, yb, CAST({terms} AS BIGINT) AS z
FROM b
"""


@query("o_zorder_key", _zorder_sql())
def o_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order interleave of two bucketized event dimensions —
    the write-time clustering key that makes min/max row-group stats
    prune on EITHER column (the OPTIMIZE ZORDER trick as a plain
    deterministic column). Pure JVM bit arithmetic, narrow op."""
    from razulibs_spark.operators.layout import zorder_key

    e = T(spark, sf_dir, "events")
    xb = (F.col("user_id") % 1024).cast("long")
    yb = (F.floor(F.col("value")).cast("long") % 1024).cast("long")
    return e.select(
        "event_id", xb.alias("xb"), yb.alias("yb"),
        zorder_key(xb, yb, bits=16).alias("z"),
    )


_INTERVAL_OUTER_STREAM_SQL = """
WITH v AS (SELECT event_id AS view_id, user_id AS view_user, ts AS view_ts
           FROM events WHERE event_type = 'view'),
p AS (SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts,
             value AS p_value
      FROM events WHERE event_type = 'purchase'),
m AS (SELECT view_id, view_user, view_ts, p_id, p_ts, p_value
      FROM v JOIN p ON view_user = p_user
                   AND p_ts >= view_ts
                   AND p_ts < view_ts + INTERVAL 1 HOUR),
mx AS (SELECT LEAST((SELECT MAX(view_ts) FROM v),
                    (SELECT MAX(p_ts) FROM p)) AS wm_base)
SELECT * FROM m
UNION ALL
SELECT view_id, view_user, view_ts,
       CAST(NULL AS BIGINT) AS p_id,
       CAST(NULL AS TIMESTAMP) AS p_ts,
       CAST(NULL AS DOUBLE) AS p_value
FROM v, mx
WHERE view_id NOT IN (SELECT view_id FROM m)
  AND view_ts <= mx.wm_base - INTERVAL 3 HOUR
"""


@query("streaming_interval_join_outer", _INTERVAL_OUTER_STREAM_SQL)
def streaming_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer watermarked stream-stream join: unmatched views emit
    null-extended rows once the watermark proves no purchase can
    still arrive — the state-eviction contract outer joins add. That
    contract is itself deterministic and SQL-expressible: matches are
    the batch interval join, and a null row appears exactly for
    unmatched views with view_ts ≤ watermark base − (1h join window +
    2h watermark delay), where the watermark base is the MIN of the
    two sides' max event times (each side is type-filtered before
    withWatermark, and Spark's multipleWatermarkPolicy=min takes the
    smaller) — the oracle applies that eviction predicate literally,
    so a leaked or missing null row hash-mismatches. Also asserted in
    tests/test_operators.py."""
    from razulibs_spark.streaming.dedup_stream import run_append_available_now
    from razulibs_spark.streaming.interval_join import (
        view_purchase_left_outer_stream,
    )

    return run_append_available_now(
        view_purchase_left_outer_stream(spark, sf_dir), spark
    )


# ---------------------------------------------------------------------------
# Flagship hash oracle — the csv2rdf lifecycle (SURVEY §3.1) as a
# driver-verifiable query instead of a rows>0 smoke check.
# ---------------------------------------------------------------------------

_FLAGSHIP_SQL = """
WITH enriched AS (
  SELECT l.l_shipdate, p.p_brand
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN nation n ON CAST(l.l_suppkey % 25 AS INT) = n.n_nationkey
),
series AS (
  SELECT p_brand,
         COUNT(*) AS n_members,
         MIN(l_shipdate) AS earliest,
         MAX(l_shipdate) AS latest
  FROM enriched
  GROUP BY p_brand
),
serie_subj AS (
  SELECT 'https://data.razu.nl/id/object/NL-WbDRAZU-G0321-661-'
           || replace(p_brand, '#', '-') AS s,
         p_brand, n_members, earliest, latest
  FROM series
),
archive AS (
  SELECT MIN(l_shipdate) AS earliest, MAX(l_shipdate) AS latest,
         COUNT(*) AS n_items
  FROM lineitem
),
triples AS (
  SELECT s, 'rdf:type' AS p, 'ldto:Serie' AS o, 'uri' AS o_type,
         CAST(NULL AS VARCHAR) AS o_datatype, CAST(NULL AS VARCHAR) AS o_lang
  FROM serie_subj
  UNION ALL
  SELECT s, 'ldto:naam', p_brand, 'literal', NULL, NULL FROM serie_subj
  UNION ALL
  SELECT s, 'ldto:omvang', CAST(n_members AS VARCHAR), 'literal',
         'xsd:integer', NULL
  FROM serie_subj
  UNION ALL
  SELECT s, 'ldto:dekkingInTijdBegin', CAST(CAST(earliest AS DATE) AS VARCHAR),
         'literal', 'xsd:date', NULL
  FROM serie_subj
  UNION ALL
  SELECT s, 'ldto:dekkingInTijdEind', CAST(CAST(latest AS DATE) AS VARCHAR),
         'literal', 'xsd:date', NULL
  FROM serie_subj
  UNION ALL
  SELECT 'https://data.razu.nl/id/object/NL-WbDRAZU-G0321-661-archief',
         'rdf:type', 'ldto:Archief', 'uri', NULL, NULL
  FROM archive
  UNION ALL
  SELECT 'https://data.razu.nl/id/object/NL-WbDRAZU-G0321-661-archief',
         'ldto:naam', 'spark-graft flagship archive', 'literal', NULL, NULL
  FROM archive
  UNION ALL
  SELECT 'https://data.razu.nl/id/object/NL-WbDRAZU-G0321-661-archief',
         'ldto:dekkingInTijdBegin', CAST(CAST(earliest AS DATE) AS VARCHAR),
         'literal', 'xsd:date', NULL
  FROM archive
  UNION ALL
  SELECT 'https://data.razu.nl/id/object/NL-WbDRAZU-G0321-661-archief',
         'ldto:dekkingInTijdEind', CAST(CAST(latest AS DATE) AS VARCHAR),
         'literal', 'xsd:date', NULL
  FROM archive
  UNION ALL
  SELECT 'https://data.razu.nl/id/object/NL-WbDRAZU-G0321-661-archief',
         'ldto:omvang', CAST(n_items AS VARCHAR), 'literal', 'xsd:integer',
         NULL
  FROM archive
)
SELECT DISTINCT s, p, o, o_type, o_datatype, o_lang FROM triples
"""


@query("flagship_triples_oracle", _FLAGSHIP_SQL)
def flagship_triples_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship csv2rdf pipeline (plans/flagship.py; reference
    csv2rdf.py:23-261) with a full value-hash oracle: scan -> broadcast
    dimension joins (J1/J2) -> per-serie and global aggregates (A1/A6/
    A7) -> entity->triples fan-out (O2) -> graph union (U2). The oracle
    mirrors every triple, so the centerpiece lifecycle is hash-verified
    end-to-end, not just smoke-checked."""
    from razulibs_spark.plans.flagship import flagship_triples

    return flagship_triples(spark, sf_dir)


# ---------------------------------------------------------------------------
# Round-4 §2 stragglers: P7, P9, P10, F3, F20, O7 as oracle-backed
# queries (previously pytest-only).
# ---------------------------------------------------------------------------

_P7_SQL = """
WITH named AS (
  SELECT doc_id,
         'NL-WbDRAZU-G0321-661-' || CAST(doc_id AS VARCHAR) ||
         CASE CAST(doc_id % 3 AS INT)
              WHEN 0 THEN '.meta.json'
              WHEN 1 THEN '.premis.json'
              ELSE '.bin' END AS filename
  FROM documents
)
SELECT doc_id, filename,
       regexp_extract(filename, '([^/]+)\\.meta\\.json$', 1) AS entity_id
FROM named
WHERE filename LIKE '%.meta.json'
"""


@query("p7_suffix_scan_filter", _P7_SQL)
def p7_suffix_scan_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 suffix predicate (razu/sip.py:186-196): keep only the
    `*.meta.json` resources out of a mixed file population and pull
    the entity id back out of the name — the same endswith filter +
    regexp_extract pair scan_sip_dir applies to a directory listing,
    here over composed names so it is hash-checkable."""
    d = T(spark, sf_dir, "documents")
    filename = F.concat(
        razu_uid(F.col("doc_id")),
        F.when(F.col("doc_id") % 3 == 0, F.lit(".meta.json"))
        .when(F.col("doc_id") % 3 == 1, F.lit(".premis.json"))
        .otherwise(F.lit(".bin")),
    )
    return (
        d.select("doc_id", filename.alias("filename"))
        .filter(F.col("filename").endswith(".meta.json"))
        .withColumn(
            "entity_id",
            F.regexp_extract(F.col("filename"), r"([^/]+)\.meta\.json$", 1),
        )
    )


_P9_SQL = """
WITH manifest AS (
  SELECT source || '/' || CAST(doc_id AS VARCHAR) AS key,
         CAST(n_chars AS BIGINT) AS file_size
  FROM documents
),
listing AS (
  SELECT source || '/' || CAST(doc_id AS VARCHAR) AS key
  FROM documents WHERE doc_id % 3 = 0
)
SELECT key, file_size FROM manifest
WHERE key NOT IN (SELECT key FROM listing)
"""


@query("p9_only_if_new", _P9_SQL)
def p9_only_if_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 only-if-new upload predicate (edepot.py:137-142): the
    reference HEADs every key before upload; the set-at-a-time form is
    one left-anti join of the manifest against the bucket listing —
    the same join upload_from_manifest (sinks/object_store.py:155-188)
    plans before shipping bytes."""
    d = T(spark, sf_dir, "documents")
    key = F.concat_ws("/", F.col("source"), F.col("doc_id").cast("string"))
    manifest = d.select(
        key.alias("key"), F.col("n_chars").cast("long").alias("file_size")
    )
    listing = d.filter(F.col("doc_id") % 3 == 0).select(key.alias("key"))
    return manifest.join(listing, "key", "left_anti")


_P10_SQL = """
WITH t AS (
  SELECT CASE WHEN doc_id % 7 = 0 THEN '  '
              ELSE 'https://data.razu.nl/id/object/' || CAST(doc_id AS VARCHAR)
         END AS s,
         CASE WHEN doc_id % 11 = 0 THEN NULL ELSE 'ldto:naam' END AS p,
         CASE WHEN doc_id % 5 = 0 THEN ''
              ELSE 'doc-' || CAST(doc_id AS VARCHAR) END AS o,
         CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'uri' WHEN 1 THEN 'literal'
              WHEN 2 THEN 'bnode' ELSE 'typo' END AS o_type
  FROM documents
)
SELECT s, p, o, o_type FROM t
WHERE s IS NOT NULL AND length(trim(s)) > 0
  AND p IS NOT NULL AND length(trim(p)) > 0
  AND o_type IN ('uri', 'bnode', 'literal')
  AND (o_type = 'literal' OR (o IS NOT NULL AND length(trim(o)) > 0))
"""


@query("p10_invalid_triple_filter", _P10_SQL)
def p10_invalid_triple_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 invalid-triple filter (tools/collect_rdf.py:122-132) run
    over a corpus with planted malformations: blank subjects, null
    predicates, unknown node kinds, empty uri/bnode objects. Applies
    operators.rdf.valid_triples — the guard every externally parsed
    RDF scan (S3/S4) passes through."""
    from razulibs_spark.operators.rdf import valid_triples

    d = T(spark, sf_dir, "documents")
    t = d.select(
        F.when(F.col("doc_id") % 7 == 0, F.lit("  "))
        .otherwise(
            F.concat(
                F.lit("https://data.razu.nl/id/object/"),
                F.col("doc_id").cast("string"),
            )
        )
        .alias("s"),
        F.when(F.col("doc_id") % 11 == 0, F.lit(None).cast("string"))
        .otherwise(F.lit("ldto:naam"))
        .alias("p"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(""))
        .otherwise(F.concat(F.lit("doc-"), F.col("doc_id").cast("string")))
        .alias("o"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("uri"))
        .when(F.col("doc_id") % 4 == 1, F.lit("literal"))
        .when(F.col("doc_id") % 4 == 2, F.lit("bnode"))
        .otherwise(F.lit("typo"))
        .alias("o_type"),
    )
    return valid_triples(t)


_F3_SQL = """
SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') AS mtime_iso
FROM events
"""


@query("f3_mtime_iso", _F3_SQL)
def f3_mtime_iso(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 mtime → ISO-8601 (razu/manifest.py:262): the manifest stamps
    each file's modification time as an isoformat string; here the
    event timestamps stand in for mtimes, formatted JVM-side with
    functions.scalars.mtime_iso (fixed 6-digit micros)."""
    from razulibs_spark.functions.scalars import mtime_iso

    e = T(spark, sf_dir, "events")
    return e.select("event_id", mtime_iso(F.col("ts")).alias("mtime_iso"))


_F20_SQL = r"""
WITH runs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'droid' ELSE 'clamscan' END AS tool,
         CASE WHEN doc_id % 2 = 0
              THEN 'DROID ' || CAST(doc_id % 9 AS VARCHAR) || '.'
                   || CAST(n_chars % 10 AS VARCHAR)
              ELSE 'ClamAV ' || CAST(doc_id % 9 AS VARCHAR) || '.'
                   || CAST(n_chars % 10 AS VARCHAR) || '.'
                   || CAST(doc_id % 7 AS VARCHAR) || '/27000/Tue Aug 11'
         END AS version_output
  FROM documents
)
SELECT doc_id, tool, version_output,
       CASE WHEN tool = 'droid'
            THEN regexp_extract(version_output, '(\d+\.\d+(?:\.\d+)?)', 1)
            ELSE regexp_extract(version_output, 'ClamAV (\d+\.\d+(?:\.\d+)?)', 1)
       END AS signature
FROM runs
"""


@query("f20_tool_signature", _F20_SQL)
def f20_tool_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20 tool-signature extraction (razu/application_registry.py:
    49-70): pull the semantic version out of `droid -v` / `clamscan
    --version` style output with the registry's regexes
    (operators.manifest._TOOL_SIG_PATTERNS), applied as a vectorized
    regexp_extract over a synthesized tool-run table."""
    from razulibs_spark.operators.manifest import _TOOL_SIG_PATTERNS

    d = T(spark, sf_dir, "documents")
    ver = F.concat(
        (F.col("doc_id") % 9).cast("string"), F.lit("."),
        (F.col("n_chars") % 10).cast("string"),
    )
    runs = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.lit("droid"))
        .otherwise(F.lit("clamscan"))
        .alias("tool"),
        F.when(
            F.col("doc_id") % 2 == 0, F.concat(F.lit("DROID "), ver)
        )
        .otherwise(
            F.concat(
                F.lit("ClamAV "), ver, F.lit("."),
                (F.col("doc_id") % 7).cast("string"),
                F.lit("/27000/Tue Aug 11"),
            )
        )
        .alias("version_output"),
    )
    return runs.withColumn(
        "signature",
        F.when(
            F.col("tool") == "droid",
            F.regexp_extract(
                F.col("version_output"), _TOOL_SIG_PATTERNS["droid"], 1
            ),
        ).otherwise(
            F.regexp_extract(
                F.col("version_output"), _TOOL_SIG_PATTERNS["clamscan"], 1
            )
        ),
    )


_O7_SQL = """
WITH ranked AS (
  SELECT event_type, event_id,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY event_id) AS rn
  FROM events
)
SELECT event_type,
       CAST((rn - 1) // 1000 AS BIGINT) AS batch_id,
       COUNT(*) AS n_keys
FROM ranked
GROUP BY event_type, CAST((rn - 1) // 1000 AS BIGINT)
"""


@query("o7_delete_batches", _O7_SQL)
def o7_delete_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7 1000-key batching (s3storage.py delete_objects cap;
    sinks/object_store.py:190-221): assign every key its delete-batch
    index within its partition group and count per batch — every batch
    but the last must hold exactly 1000 keys. The rank is per
    event_type, so the window sort parallelizes (no global window)."""
    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id")
    return (
        e.select(
            "event_type", F.row_number().over(w).alias("rn")
        )
        .select(
            "event_type",
            F.floor((F.col("rn") - 1) / 1000).cast("long").alias("batch_id"),
        )
        .groupBy("event_type", "batch_id")
        .agg(F.count("*").alias("n_keys"))
    )


# ---------------------------------------------------------------------------
# Round 4 additions: doc-in-doc containment, semantic dedup clusters,
# mixture resampling, retention cohorts — the curation passes a training
# corpus runs after near-dup removal.
# ---------------------------------------------------------------------------

_CONTAIN_MAX_DF = 100

_CONTAINMENT_SQL = _SHINGLE_CTE + f"""
, n AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY doc_id)
, df AS (SELECT shingle, COUNT(*) AS df FROM ds GROUP BY shingle)
, rare AS (SELECT ds.doc_id, ds.shingle
           FROM ds JOIN df ON ds.shingle = df.shingle
           WHERE df.df <= {_CONTAIN_MAX_DF})
, cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           FROM rare a JOIN rare b
             ON a.shingle = b.shingle AND a.doc_id < b.doc_id)
, common AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
             FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
             GROUP BY a.doc_id, b.doc_id)
, scored AS (SELECT c.d1, c.d2,
                    round(c.common / least(n1.n, n2.n), 6) AS containment,
                    CASE WHEN n1.n < n2.n THEN c.d1 ELSE c.d2 END AS contained
             FROM common c
             JOIN cand ON c.d1 = cand.d1 AND c.d2 = cand.d2
             JOIN n n1 ON c.d1 = n1.doc_id
             JOIN n n2 ON c.d2 = n2.doc_id)
SELECT d1, d2, containment, contained FROM scored WHERE containment >= 0.6
"""


@query("dedup_containment", _CONTAINMENT_SQL)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-in-doc containment ≥ 0.6 (Broder containment — the
    asymmetric twin of `dedup_ngram_jaccard`): catches a small doc
    wholly pasted inside a large one, which symmetric Jaccard scores
    near zero. Same df-capped count-based physical plan
    (dedup.pair_common_counts), different final score; the shingle
    table feeds the df window, pair join and count aggregate once."""
    sh = pin_iteration(dedup.word_shingles(T(spark, sf_dir, "documents")), eager=False)
    return dedup.containment_pairs(sh, 0.6, _CONTAIN_MAX_DF)


_SEMANTIC_CLUSTERS_SQL = _EMB_CTE + """
, scored AS (SELECT a.vec_id AS v1, b.vec_id AS v2
             FROM e a, e b WHERE a.vec_id < b.vec_id
               AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.4)
, edges AS (SELECT v1 AS vec_id, v2 AS nbr FROM scored
            UNION ALL SELECT v2 AS vec_id, v1 AS nbr FROM scored
            UNION ALL SELECT vec_id, vec_id AS nbr FROM e)
SELECT vec_id, MIN(nbr) AS cluster_rep FROM edges GROUP BY vec_id
"""


@query("dedup_semantic_clusters", _SEMANTIC_CLUSTERS_SQL)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup assignment (SemDeDup shape): one-round star
    clustering over the exact cosine-≥-0.4 near-dup graph — every
    vector labelled with the min vec_id of its neighbourhood, keep one
    row per cluster_rep downstream. Pairs come from the blocked
    equi-join grid (no CartesianProduct); the assignment is a single
    min-aggregate over the sparse edge list + identity rows."""
    return similarity.semantic_star_clusters(
        T(spark, sf_dir, "embeddings"), 0.4
    )


_MIXTURE_SQL = """
WITH w(source, p) AS (VALUES ('src0', 0.3), ('src1', 0.2), ('src2', 0.2),
                             ('src3', 0.2), ('src4', 0.1)),
 ns AS (SELECT d.source, w.p, COUNT(*) AS n
        FROM documents d JOIN w ON d.source = w.source
        GROUP BY d.source, w.p),
 t AS (SELECT MIN(n / p) AS t FROM ns),
 cut AS (SELECT source, CAST(floor(t.t * p / n * 4294967296) AS BIGINT) AS cutoff
         FROM ns, t)
SELECT d.doc_id, d.source, d.lang, d.n_chars
FROM documents d JOIN cut ON d.source = cut.source
WHERE ((d.doc_id + 2) * 2654435761) % 4294967296 < cut.cutoff
"""


@query("mixture_sample", _MIXTURE_SQL)
def mixture_sample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-mixture resampling (sampling.mixture_sample): downsample
    sources to a 30/20/20/20/10 mixture at the largest total the
    most-constraining source allows; unlisted sources are dropped.
    Hash-deterministic acceptance — one tiny counts aggregate
    broadcast back, then a map-side filter; the corpus never
    shuffles."""
    d = T(spark, sf_dir, "documents")
    out = sampling.mixture_sample(
        d, {"src0": 0.3, "src1": 0.2, "src2": 0.2, "src3": 0.2, "src4": 0.1}
    )
    return out.select("doc_id", "source", "lang", "n_chars")


_RETENTION_SQL = """
WITH first AS (SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
               FROM events GROUP BY user_id),
 activity AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
              FROM events)
SELECT CAST(f.cohort_week AS DATE) AS cohort_week,
       CAST(date_diff('day', f.cohort_week, a.active_week) // 7 AS INT)
         AS week_offset,
       COUNT(DISTINCT a.user_id) AS n_users
FROM activity a JOIN first f ON a.user_id = f.user_id
GROUP BY 1, 2
"""


@query("events_retention_cohorts", _RETENTION_SQL)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-activity week,
    counted at each week offset they return — the classic engagement
    triangle. Both aggregates key on user_id, so the cohort join
    reuses the distinct-activity shuffle partitioning (co-partitioned
    join, no extra exchange); the final rollup shuffles only
    (cohort, offset) pairs. At 100 TB the per-user tables are the
    user-dimension size, not the event-log size."""
    e = T(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    return (
        activity.join(first, "user_id")
        .groupBy(
            F.col("cohort_week").cast("date").alias("cohort_week"),
            F.floor(
                F.datediff(F.col("active_week"), F.col("cohort_week")) / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


_TOP1_SQL = _EMB_CTE + """
, q AS (SELECT * FROM e WHERE vec_id < 10)
, scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                    list_cosine_similarity(q.v, c.v) AS cos
             FROM q, e c WHERE c.vec_id <> q.vec_id)
, ranked AS (SELECT query_id, neighbor_id, cos,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rnk
             FROM scored)
SELECT query_id, neighbor_id AS top1_neighbor_id,
       round(cos, 6) AS top1_cosine, TRUE AS recall_ok
FROM ranked WHERE rnk = 1
"""


def _ann_recall_contract(
    e, approx_topk, k: int, floor: float
) -> DataFrame:
    """Oracle-stable ANN contract (VERDICT r5 pattern): the exact
    top-1 rows (DuckDB recomputes them) carry a boolean asserting the
    approximate method's MEAN recall@k over the query set stays above
    ``floor``. The ANN values themselves are engine-specific, but a
    recall collapse flips the boolean and hash-mismatches the
    oracle's TRUE. Everything is DataFrame ops — the hit count is one
    equi-join of two k·n_q-row frames."""
    q = e.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(e, q, k=k)
    # ONE distributed job (r13, guide §1.2/§5): left-join the k·n_q
    # exact rows against the approximate set and collect them WITH the
    # hit marker — the old persist + inner-join count + second top1
    # collect ran the whole pipeline as two jobs. Row multiplicity
    # under the left join equals the inner join's, so `hits` is the
    # same number; top1 dedups by query (duplicate matches carry
    # identical exact values).
    marked = exact.join(
        approx_topk.select(
            "query_id", "neighbor_id"
        ).withColumn("_hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    ).select("query_id", "neighbor_id", "rnk", "cosine", "_hit")
    rows = marked.collect()
    hits = sum(1 for r in rows if r["_hit"] is not None)
    top1_by_q = {}
    for r in rows:
        if r["rnk"] == 1 and r["query_id"] not in top1_by_q:
            top1_by_q[r["query_id"]] = r
    top1 = list(top1_by_q.values())
    n_q = len(top1)
    ok = hits >= floor * n_q * k
    spark = e.sparkSession
    return spark.createDataFrame(
        [
            (r["query_id"], r["neighbor_id"], r["cosine"], ok)
            for r in top1
        ],
        "query_id bigint, top1_neighbor_id bigint, "
        "top1_cosine double, recall_ok boolean",
    )


@query("sim_pq_topk", _TOP1_SQL)
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-5 for 10 query vectors (similarity.pq_topk): corpus
    compressed to 8 subspace codes, ADC scoring via per-query lookup
    tables in one Arrow pass with local-topk emission, exact cosine
    re-rank of the 50-candidate shortlist. Quantization recall is
    sub-1.0 and engine-specific, so the ORACLE-STABLE surface is the
    exact top-1 rows plus a mean-recall@5 floor boolean (≥ 0.6;
    measured deterministic means 0.98 / 0.96 / 0.74 at
    sf0.001/0.01/0.1 — tests/test_sampling.py additionally pins
    ≥ 0.9 at its scale)."""
    e = T(spark, sf_dir, "embeddings")
    pq = similarity.pq_topk(e, e.filter(F.col("vec_id") < 10), k=5)
    return _ann_recall_contract(e, pq, k=5, floor=0.6)


# ---------------------------------------------------------------------------
# Round-4 behavioral analytics: rolling windows, transitions, RFM,
# SCD2, per-group top-k (operators/analytics.py) + sub-document and
# fuzzy dedup families (text.chunk_dedup, dedup.edit_distance_pairs)
# ---------------------------------------------------------------------------

_ROLLING_SQL = """
SELECT event_id, user_id, ts,
       COUNT(*) OVER w AS n_window,
       round(MIN(value) OVER w, 6) AS min_value,
       round(MAX(value) OVER w, 6) AS max_value,
       SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) OVER w
         / (COUNT(*) OVER w * 10000.0) AS avg_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""


@query("w_rolling_stats", _ROLLING_SQL)
def w_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling 5-row stats (analytics.rolling_stats): one
    Exchange on user_id, per-user sort, exact scaled-long frame sums
    so the mean is bit-identical across engines."""
    return analytics.rolling_stats(T(spark, sf_dir, "events"), n_prev=4)


_MARKOV_SQL = """
WITH s AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_type
  FROM events)
SELECT from_type, to_type, COUNT(*) AS n_transitions
FROM s WHERE to_type IS NOT NULL
GROUP BY from_type, to_type
"""


@query("events_markov", _MARKOV_SQL)
def events_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix
    (analytics.markov_transitions): lead window on user_id, then a
    map-side-combinable count on the (from, to) pair."""
    return analytics.markov_transitions(T(spark, sf_dir, "events"))


_RFM_SQL = """
WITH per_user AS (
  SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS frequency,
         SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)
                  ELSE 0 END) / 10000.0 AS monetary
  FROM events GROUP BY user_id),
 scored AS (
  SELECT user_id,
         CAST(date_diff('day', CAST(last_ts AS DATE),
                        (SELECT CAST(MAX(ts) AS DATE) FROM events)) AS INT)
           AS recency_days,
         frequency, monetary
  FROM per_user)
SELECT user_id, recency_days, frequency, round(monetary, 4) AS monetary,
       CAST(NTILE(4) OVER (ORDER BY recency_days DESC, user_id) AS INT)
         AS r_score,
       CAST(NTILE(4) OVER (ORDER BY frequency, user_id) AS INT) AS f_score,
       CAST(NTILE(4) OVER (ORDER BY monetary, user_id) AS INT) AS m_score,
       CAST(NTILE(4) OVER (ORDER BY recency_days DESC, user_id) AS VARCHAR)
         || CAST(NTILE(4) OVER (ORDER BY frequency, user_id) AS VARCHAR)
         || CAST(NTILE(4) OVER (ORDER BY monetary, user_id) AS VARCHAR)
         AS rfm_segment
FROM scored
"""


@query("events_rfm", _RFM_SQL)
def events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (analytics.rfm_segments): user-dimension-sized
    NTILE scoring after one keyed aggregate; deterministic bucket
    boundaries via (metric, user_id) ordering."""
    return analytics.rfm_segments(T(spark, sf_dir, "events"))


_SCD2_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN LAG(event_type) OVER w IS NULL
                   OR LAG(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
 numbered AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS run_id
  FROM flagged),
 runs AS (
  SELECT user_id, run_id, MIN(event_type) AS state,
         MIN(ts) AS valid_from, COUNT(*) AS n_events
  FROM numbered GROUP BY user_id, run_id)
SELECT user_id, CAST(run_id AS INT) AS version, state, valid_from,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run_id)
         AS valid_to,
       n_events,
       (LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run_id)
          IS NULL) AS is_current
FROM runs
"""


@query("o_scd2_history", _SCD2_SQL)
def o_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build from the event change log
    (analytics.scd2_history): gaps-and-islands run detection with one
    reused user_id Exchange; runs table is change-cardinality sized."""
    return analytics.scd2_history(T(spark, sf_dir, "events"))


_GTOPK_SQL = """
WITH ranked AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                 ORDER BY o_totalprice DESC, o_orderkey)
              AS INT) AS rank_in_group
  FROM orders)
SELECT o_orderpriority, o_orderkey, o_totalprice, rank_in_group
FROM ranked WHERE rank_in_group <= 3
"""


@query("t_grouped_topk", _GTOPK_SQL)
def t_grouped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per priority class
    (analytics.grouped_topk): fully distributed per-group top-k — no
    TakeOrderedAndProject through the driver, sort run length bounded
    by group size."""
    o = T(spark, sf_dir, "orders")
    return analytics.grouped_topk(
        o.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=3,
    )


_CHUNKDEDUP_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
 idx AS (SELECT doc_id, t,
                unnest(range(0, CAST(ceil(len(t) / 4.0) AS BIGINT))) AS i
         FROM toks),
 chunks AS (
  SELECT doc_id, i AS chunk_idx,
         array_to_string(list_slice(t, i * 4 + 1, i * 4 + 4), ' ')
           AS chunk_text
  FROM idx),
 marked AS (
  SELECT doc_id, chunk_text,
         ROW_NUMBER() OVER (PARTITION BY chunk_text
                            ORDER BY doc_id, chunk_idx) > 1 AS is_dup
  FROM chunks)
SELECT doc_id, COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks,
       COUNT(DISTINCT CASE WHEN is_dup THEN chunk_text END) AS n_dup_spans
FROM marked GROUP BY doc_id
"""


@query("text_chunk_dedup", _CHUNKDEDUP_SQL)
def text_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document duplicate-span detection over 4-token chunks
    (text.chunk_dedup): narrow slice fan-out, first-occurrence window
    keyed on chunk text, per-doc re-aggregate. 4-token spans because
    the synthetic corpus's tiny vocabulary only repeats at that
    granularity; real corpora use paragraph-sized chunks."""
    return text.chunk_dedup(T(spark, sf_dir, "documents"), chunk_tokens=4)


_EDITDIST_SQL = """
WITH b AS (
  SELECT doc_id, text, lang,
         CAST(FLOOR(n_chars / 8) AS BIGINT) AS lb
  FROM documents),
 sz AS (SELECT lang, lb, COUNT(*) AS bn FROM b GROUP BY lang, lb),
 bb AS (SELECT b.* FROM b JOIN sz USING (lang, lb) WHERE bn <= 10000)
SELECT a.doc_id AS doc_id_1, c.doc_id AS doc_id_2, a.lang,
       CAST(levenshtein(a.text, c.text) AS BIGINT) AS edit_distance
FROM bb a JOIN bb c
  ON a.lang = c.lang AND a.lb = c.lb AND a.doc_id < c.doc_id
WHERE levenshtein(a.text, c.text)
        <= 0.2 * greatest(length(a.text), length(c.text))
"""


@query("dedup_edit_distance", _EDITDIST_SQL)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dedup by blocked Levenshtein (dedup.edit_distance_pairs):
    (lang, length-bucket) equi-join candidates with a block-size cap,
    JVM-side codegen distance verify."""
    return dedup.edit_distance_pairs(
        T(spark, sf_dir, "documents"),
        length_bucket=8,
        rel_threshold=0.2,
        max_block=10_000,
    )


# ---------------------------------------------------------------------------
# Round-4 batch 2: forward as-of, robust anomaly detection, rarity
# scoring, corpus dataset card, INTERSECT ALL, interval-overlap join
# ---------------------------------------------------------------------------

_ASOF_FWD_SQL = """
SELECT l.event_id, l.user_id,
       l.ts AS purchase_ts, l.value AS purchase_value,
       r.ts AS next_click_ts, r.value AS next_click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id AND l.ts <= r.ts
"""


@query("j_asof_forward", _ASOF_FWD_SQL)
def j_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each purchase matched to the user's next
    click at-or-after it (temporal.asof_join direction="forward") —
    the same single sort-carry pass as the backward headline, traversed
    in descending time order. One shuffle on user_id, no cross
    product."""
    ev = T(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("next_click_ts"),
        F.col("value").alias("next_click_value"),
    )
    return temporal.asof_join(
        purchases, clicks, on="user_id", left_time="purchase_ts",
        right_time="next_click_ts", right_prefix="",
        direction="forward",
    )


_ANOMALY_SQL = """
WITH stats AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type),
 dev AS (
  SELECT e.event_id, e.event_type, e.value, s.med,
         abs(e.value - s.med) AS ad
  FROM events e JOIN stats s USING (event_type)),
 mads AS (
  SELECT event_type, quantile_cont(ad, 0.5) AS mad
  FROM dev GROUP BY event_type)
SELECT d.event_id, d.event_type,
       round(d.value, 6) AS value,
       round(d.med, 6) AS median_value,
       round(m.mad, 6) AS mad,
       (d.ad > 3 * m.mad) AS is_anomaly
FROM dev d JOIN mads m USING (event_type)
"""


@query("events_anomaly_mad", _ANOMALY_SQL)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly flagging: per event-type median + MAD (median
    absolute deviation), flag events beyond 3 MADs. Two exact grouped
    percentiles (per-group sort, |types| groups) broadcast back onto
    the log — the robust-statistics twin of z-scoring that a quality
    pipeline runs over raw telemetry. Exact `percentile` ≡ DuckDB
    `quantile_cont` (same (n−1)·q interpolation)."""
    e = T(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = e.join(F.broadcast(stats), "event_type").withColumn(
        "ad", F.abs(F.col("value") - F.col("med"))
    )
    mads = dev.groupBy("event_type").agg(
        F.expr("percentile(ad, 0.5)").alias("mad")
    )
    return dev.join(F.broadcast(mads), "event_type").select(
        "event_id",
        "event_type",
        F.round("value", 6).alias("value"),
        F.round("med", 6).alias("median_value"),
        F.round("mad", 6).alias("mad"),
        (F.col("ad") > 3 * F.col("mad")).alias("is_anomaly"),
    )


_RARITY_SQL = """
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
 freq AS (SELECT w, COUNT(*) AS df FROM words GROUP BY w)
SELECT words.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(freq.df) AS BIGINT) AS freq_sum,
       round(CAST(SUM(freq.df) AS DOUBLE) / COUNT(*), 6) AS mean_word_freq
FROM words JOIN freq USING (w)
GROUP BY words.doc_id
"""


@query("text_rarity_score", _RARITY_SQL)
def text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-rarity quality signal: mean corpus frequency of a doc's
    tokens (low mean = rare vocabulary). Integer arithmetic end to end
    (corpus term counts joined back to the token stream, one BIGINT
    sum per doc) with a single final division — the exact-arithmetic
    stand-in for LM perplexity scoring, whose log-float sums don't
    cross engines bit-identically. Term table shuffles on the word;
    the token→freq join is broadcast-able for real vocabularies."""
    d = T(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    freq = words.groupBy("w").agg(F.count("*").alias("df"))
    return (
        words.join(freq, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("df").alias("freq_sum"),
            F.round(
                F.sum("df").cast("double") / F.count("*"), 6
            ).alias("mean_word_freq"),
        )
    )


_EX_PACK_SQL = """
WITH toks AS (
  SELECT doc_id, source,
         LEAST(CAST(len(string_split(text, ' ')) AS BIGINT), 512)
           AS tk
  FROM documents),
 cls AS (
  SELECT doc_id, source, tk,
         CAST(CEIL(LOG2(GREATEST(tk, 2))) AS BIGINT) AS len_class
  FROM toks),
 cap AS (
  SELECT doc_id, source, tk, len_class,
         CAST(512 // (1 << len_class) AS BIGINT) AS per_seq
  FROM cls),
 ranked AS (
  SELECT source, len_class, per_seq, tk,
         ROW_NUMBER() OVER (PARTITION BY source, len_class
                            ORDER BY doc_id) - 1 AS rk
  FROM cap)
SELECT source, len_class,
       CAST(rk // per_seq AS BIGINT) AS seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tk) AS BIGINT) AS used_tokens,
       CAST(512 - SUM(tk) AS BIGINT) AS pad_tokens
FROM ranked
GROUP BY source, len_class, rk // per_seq
"""


@query("pipeline_example_packing", _EX_PACK_SQL)
def pipeline_example_packing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Boundary-respecting EXAMPLE packing (r12) — the
    no-cross-contamination layout instruction-tuning and T5-style
    pipelines use, where a document must never straddle a sequence
    (attention would bleed across unrelated examples; contrast
    ``pack_sequences``, the concat-and-chop pretraining layout where
    straddling is fine). Whole documents pack into 512-token
    sequences via LENGTH-BUCKETED first-fit: docs are truncated to
    the context, classed by power-of-two length, and each
    (source, class) bucket packs floor(512 / 2^class) docs per
    sequence — deterministic, fully parallel, no sequential greedy
    scan. One row per packed sequence: docs, used tokens, padding
    waste (the metric this layout trades for isolation).

    Scale shape: one narrow projection, ONE window partitioned by
    (source, len_class) — never global — and one hash aggregation;
    each bucket packs independently, so both more sources and longer
    corpora add parallelism, not shuffle width."""
    C = 512
    docs = T(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source",
        F.least(
            F.size(F.split(F.col("text"), " ")).cast("long"),
            F.lit(C).cast("long"),
        ).alias("tk"),
    )
    cls = toks.withColumn(
        "len_class",
        F.ceil(F.log2(F.greatest(F.col("tk"), F.lit(2)))).cast("long"),
    ).withColumn(
        "per_seq",
        F.floor(F.lit(C) / F.pow(F.lit(2.0), F.col("len_class")))
        .cast("long"),
    )
    w = Window.partitionBy("source", "len_class").orderBy("doc_id")
    ranked = cls.withColumn("rk", F.row_number().over(w) - 1)
    return (
        ranked.groupBy(
            "source", "len_class",
            F.floor(F.col("rk") / F.col("per_seq"))
            .cast("long")
            .alias("seq_id"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tk").alias("used_tokens"),
            (F.lit(C) - F.sum("tk")).cast("long").alias("pad_tokens"),
        )
    )


_DATASET_CARD_SQL = """
WITH base AS (
  SELECT COUNT(*) AS n_docs,
         COUNT(DISTINCT lang) AS n_langs,
         COUNT(DISTINCT source) AS n_sources,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
         COUNT(*) - COUNT(DISTINCT text) AS n_dup_texts
  FROM documents),
 top_src AS (
  SELECT MAX(cnt) AS top_source_docs
  FROM (SELECT COUNT(*) AS cnt FROM documents GROUP BY source))
SELECT n_docs, n_langs, n_sources, total_chars, total_tokens,
       n_dup_texts, top_source_docs,
       round(CAST(top_source_docs AS DOUBLE) / n_docs, 6)
         AS top_source_share
FROM base, top_src
"""


@query("pipeline_dataset_card", _DATASET_CARD_SQL)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus dataset card: the one-row summary a data release ships
    with (doc/lang/source counts, token totals, exact-dup count, top
    source share). Every number is a map-side-combinable aggregate or
    a tiny two-level rollup; the 1-row joins are broadcast scalars."""
    d = T(spark, sf_dir, "documents")
    base = d.agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias(
            "total_tokens"
        ),
        (F.count("*") - F.count_distinct("text")).alias("n_dup_texts"),
    )
    top_src = (
        d.groupBy("source")
        .agg(F.count("*").alias("cnt"))
        .agg(F.max("cnt").alias("top_source_docs"))
    )
    return base.join(F.broadcast(top_src)).withColumn(
        "top_source_share",
        F.round(
            F.col("top_source_docs").cast("double") / F.col("n_docs"), 6
        ),
    )


_INTERSECT_ALL_SQL = """
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
INTERSECT ALL
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
"""


@query("u_intersect_all", _INTERSECT_ALL_SQL)
def u_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (multiset semantics — min multiplicity per value):
    the §2.7 set-op family's bag variant, one shuffle on the value,
    counted per side and replicated min(n1, n2) times by Catalyst."""
    o = T(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    return f.intersectAll(op)


_INTERVAL_OVERLAP_SQL = """
WITH u AS (
  SELECT o_custkey, o_orderkey AS urgent_key,
         date_diff('day', DATE '1992-01-01', o_orderdate) AS s
  FROM orders WHERE o_orderpriority = '1-URGENT'),
 h AS (
  SELECT o_custkey, o_orderkey AS high_key,
         date_diff('day', DATE '1992-01-01', o_orderdate) AS s
  FROM orders WHERE o_orderpriority = '2-HIGH')
SELECT u.o_custkey, u.urgent_key, h.high_key,
       CAST(least(u.s + 30, h.s + 30) - greatest(u.s, h.s) AS BIGINT)
         AS overlap_days
FROM u JOIN h ON u.o_custkey = h.o_custkey
WHERE u.s < h.s + 30 AND h.s < u.s + 30
"""


@query("j_interval_overlap", _INTERVAL_OVERLAP_SQL)
def j_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join without a nested-loop: each order spans a
    30-day window; find per-customer (URGENT × HIGH) overlapping
    pairs. Both interval sets explode into fixed 32-day bins; the
    equi-join on (custkey, bin) + exact overlap refine finds every
    pair, and emitting only from the bin containing max(start_a,
    start_b) (a bin both intervals overlap, by the overlap condition)
    makes the result duplicate-free with no distinct pass. The
    inequality predicate alone would plan as BNLJ — quadratic at
    scale; bins turn it into a shuffle-partitionable equi-join."""
    o = T(spark, sf_dir, "orders")
    width = 32
    epoch = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))

    def side(priority: str, key_alias: str) -> DataFrame:
        return (
            o.filter(F.col("o_orderpriority") == priority)
            .select(
                "o_custkey",
                F.col("o_orderkey").alias(key_alias),
                epoch.alias(f"{key_alias}_s"),
            )
        )

    u = side("1-URGENT", "urgent_key").withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col("urgent_key_s") / width),
                F.floor((F.col("urgent_key_s") + 29) / width),
            )
        ),
    )
    h = side("2-HIGH", "high_key").withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col("high_key_s") / width),
                F.floor((F.col("high_key_s") + 29) / width),
            )
        ),
    )
    us, hs = F.col("urgent_key_s"), F.col("high_key_s")
    return (
        u.join(h, ["o_custkey", "_bin"])
        .filter(
            (us < hs + 30)
            & (hs < us + 30)
            & (F.col("_bin") == F.floor(F.greatest(us, hs) / width))
        )
        .select(
            "o_custkey",
            "urgent_key",
            "high_key",
            (
                F.least(us + 30, hs + 30) - F.greatest(us, hs)
            ).cast("long").alias("overlap_days"),
        )
    )


# ---------------------------------------------------------------------------
# Round-4 batch 3: sketch-accelerated exact operators (Bloom membership,
# Misra-Gries heavy hitters), ANALYZE-style column stats, IVF-PQ ANN
# ---------------------------------------------------------------------------

_BLOOM_LEAK_SQL = """
WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
 ds AS (SELECT DISTINCT doc_id, source, s AS shingle FROM (
   SELECT doc_id, source, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                  for i in generate_series(1, len(ws) - 2)]) AS s
   FROM w WHERE len(ws) >= 3)),
 ev AS (SELECT doc_id, shingle FROM ds WHERE source = 'src19'),
 tr AS (SELECT DISTINCT shingle FROM ds WHERE source <> 'src19')
SELECT shingle, COUNT(*) AS n_eval_docs
FROM ev WHERE shingle IN (SELECT shingle FROM tr)
GROUP BY shingle
"""


@query("contamination_bloom", _BLOOM_LEAK_SQL)
def contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-level leak report via an explicit distributed Bloom
    bitmap (text.bloom_leak_report): bitmap built once over distinct
    train shingles with grouped BIT_OR, eval side probed with
    broadcast joins (zero probe-side shuffle), exact LEFT SEMI verify
    removes false positives — result is exact, the bloom phase is a
    lossless prefilter. The materialized form of Spark's runtime
    bloom-filter join."""
    return text.bloom_leak_report(T(spark, sf_dir, "documents"), k=3)


_HEAVY_HITTERS_SQL = """
WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
 s AS (SELECT ws[i] || ' ' || ws[i+1] AS bigram
       FROM w, unnest(range(1, len(ws))) r(i) WHERE len(ws) >= 2),
 t AS (SELECT COUNT(*) AS total FROM s),
 c AS (SELECT bigram, COUNT(*) AS n FROM s GROUP BY 1)
SELECT bigram, n, round(n / total, 6) AS share
FROM c, t WHERE n > total / 800.0
"""


@query("a_heavy_hitters", _HEAVY_HITTERS_SQL)
def a_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact φ-heavy hitters over the corpus bigram stream
    (analytics.heavy_hitters): per-partition Misra-Gries candidate
    summaries (bounded memory, guaranteed superset), broadcast-semi
    exact recount, exact global threshold — the skew-diagnosis /
    vocabulary-pruning primitive that never shuffles the full key
    stream."""
    d = T(spark, sf_dir, "documents")
    bigrams = (
        d.select(F.split(F.col("text"), " ").alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 2),"
                    " i -> concat_ws(' ', w[i], w[i+1]))"
                )
            ).alias("bigram")
        )
    )
    return analytics.heavy_hitters(bigrams, "bigram", k=800)


_ANALYZE_SQL = """
WITH s AS (SELECT
  COUNT(*) AS n_rows,
  COUNT(l_orderkey) AS nn1, COUNT(DISTINCT l_orderkey) AS ndv1,
    CAST(MIN(l_orderkey) AS VARCHAR) AS mn1, CAST(MAX(l_orderkey) AS VARCHAR) AS mx1,
  COUNT(l_linenumber) AS nn2, COUNT(DISTINCT l_linenumber) AS ndv2,
    CAST(MIN(l_linenumber) AS VARCHAR) AS mn2, CAST(MAX(l_linenumber) AS VARCHAR) AS mx2,
  COUNT(l_returnflag) AS nn3, COUNT(DISTINCT l_returnflag) AS ndv3,
    CAST(MIN(l_returnflag) AS VARCHAR) AS mn3, CAST(MAX(l_returnflag) AS VARCHAR) AS mx3,
  COUNT(l_linestatus) AS nn4, COUNT(DISTINCT l_linestatus) AS ndv4,
    CAST(MIN(l_linestatus) AS VARCHAR) AS mn4, CAST(MAX(l_linestatus) AS VARCHAR) AS mx4,
  COUNT(l_shipdate) AS nn5, COUNT(DISTINCT CAST(l_shipdate AS DATE)) AS ndv5,
    CAST(MIN(CAST(l_shipdate AS DATE)) AS VARCHAR) AS mn5,
    CAST(MAX(CAST(l_shipdate AS DATE)) AS VARCHAR) AS mx5
  FROM lineitem)
SELECT 'l_orderkey' AS column_name, n_rows, nn1 AS n_nonnull,
       n_rows - nn1 AS n_null, ndv1 AS ndv, mn1 AS min_value, mx1 AS max_value FROM s
UNION ALL SELECT 'l_linenumber', n_rows, nn2, n_rows - nn2, ndv2, mn2, mx2 FROM s
UNION ALL SELECT 'l_returnflag', n_rows, nn3, n_rows - nn3, ndv3, mn3, mx3 FROM s
UNION ALL SELECT 'l_linestatus', n_rows, nn4, n_rows - nn4, ndv4, mn4, mx4 FROM s
UNION ALL SELECT 'l_shipdate', n_rows, nn5, n_rows - nn5, ndv5, mn5, mx5 FROM s
"""


@query("o_analyze_stats", _ANALYZE_SQL)
def o_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style per-column CBO statistics
    (maintenance.column_stats): a union of per-column single-DISTINCT
    aggregate branches — row count, non-null count, exact NDV,
    native-typed min/max cast to string after aggregating — one
    column-pruned scan per column. Deliberately NOT one multi-DISTINCT
    aggregation: Spark plans that through Expand (rows ×
    n_distinct_aggs before the partial agg), which measured 6× slower
    than the branch union (see SCALE.md)."""
    from razulibs_spark.operators import maintenance

    li = T(spark, sf_dir, "lineitem").withColumn(
        "l_shipdate", F.col("l_shipdate").cast("date")
    )
    return maintenance.column_stats(
        li,
        ["l_orderkey", "l_linenumber", "l_returnflag",
         "l_linestatus", "l_shipdate"],
    )


@query("sim_ivfpq_topk", _TOP1_SQL)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-5 for 10 query vectors (similarity.ivfpq_topk): the
    composed billion-vector serving shape — coarse quantizer prunes to
    nprobe buckets, PQ-ADC scores only probed codes, exact cosine
    re-ranks the shortlist. Bucket-boundary + quantization recall is
    sub-1.0 and engine-specific, so the ORACLE-STABLE surface is the
    exact top-1 rows plus a mean-recall@5 floor boolean (≥ 0.55;
    measured deterministic means 0.80 / 0.80 / 0.68 at
    sf0.001/0.01/0.1 — pytest additionally pins recall vs exact)."""
    e = T(spark, sf_dir, "embeddings")
    ivfpq = similarity.ivfpq_topk(
        e,
        e.filter(F.col("vec_id") < 4),
        e.filter(F.col("vec_id") < 10),
        k=5,
        nprobe=2,
    )
    return _ann_recall_contract(e, ivfpq, k=5, floor=0.55)


_BPE_PAIRS_SQL = """
WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
 wc AS (SELECT word, COUNT(*) AS wc FROM w WHERE len(word) > 0 GROUP BY 1),
 p AS (SELECT substring(word, i, 1) || ' ' || substring(word, i + 1, 1) AS pair,
              wc
       FROM wc, unnest(range(1, len(word))) r(i))
SELECT pair, CAST(SUM(wc) AS BIGINT) AS n
FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 20
"""


@query("text_bpe_pair_counts", _BPE_PAIRS_SQL)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE merge round's argmax input (text.bpe_pair_counts): the
    20 most frequent adjacent character pairs, corpus-weighted via the
    word-count table — the vocabulary-sized reduction every industrial
    BPE trainer runs on (the corpus is shuffled exactly once, by
    word)."""
    symtab = text.word_symbol_table(T(spark, sf_dir, "documents"))
    return (
        text.bpe_pair_counts(symtab)
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(20)
    )


def _bpe_merges_sql(n_rounds: int = 8) -> str:
    """The full iterative BPE trainer, replicated in DuckDB as
    ``n_rounds`` UNROLLED CTE rounds (the round count is a static
    hyper-parameter, so the 'iterative' algorithm is finitely
    SQL-expressible): each round recomputes weighted adjacent-pair
    counts, takes the (count DESC, pair ASC) argmax, and applies the
    merge with string replace() over pipe-delimited symbol strings
    ('|a||b|' → '|ab|'). The delimiting makes boundaries unambiguous
    (no '|' occurs in corpus words) and replace()'s
    leftmost-non-overlapping semantics equal the trainer's greedy
    fold — verified identical merge tables at 3 SFs."""
    parts = ["""t0 AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS wc,
         '|' || array_to_string(
             [c for c in string_split_regex(word, '') if c != ''], '||')
             || '|' AS s
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE length(word) > 0 GROUP BY word)"""]
    sel = []
    for r in range(1, n_rounds + 1):
        p = r - 1
        parts.append(f"""m{r} AS (
  SELECT pair, n FROM (
    SELECT pr AS pair, SUM(wc) AS n FROM (
      SELECT wc, unnest(list_transform(range(1, len(l)),
                                       i -> l[i] || ' ' || l[i + 1])) AS pr
      FROM (SELECT wc,
                   string_split(substr(s, 2, length(s) - 2), '||') AS l
            FROM t{p} WHERE length(s) > length(replace(s, '||', '|')))
    ) GROUP BY pr)
  ORDER BY n DESC, pair ASC LIMIT 1)""")
        parts.append(f"""t{r} AS (
  SELECT t.word, t.wc,
         replace(t.s,
                 '|' || replace(m.pair, ' ', '||') || '|',
                 '|' || replace(m.pair, ' ', '') || '|') AS s
  FROM t{p} t, m{r} m)""")
        sel.append(
            f"SELECT CAST({p} AS INTEGER) AS rank, pair, "
            f"replace(pair, ' ', '') AS merged, "
            f"CAST(n AS BIGINT) AS n FROM m{r}"
        )
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(sel)


@query("text_bpe_merges", _bpe_merges_sql())
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned BPE merge table, 8 rounds (text.bpe_train): count pairs
    → 1-row argmax collect → HOF merge rewrite, each round over the
    vocabulary-sized word table. Deterministic (count DESC, pair ASC
    tie-break); pytest pins equivalence with a pure-Python reference
    BPE trainer — and the DuckDB oracle replicates the WHOLE trainer
    as 8 unrolled SQL rounds (see _bpe_merges_sql), so every learned
    merge and its corpus count hash-matches an independent
    implementation."""
    merges = text.bpe_train(T(spark, sf_dir, "documents"), n_merges=8)
    return spark.createDataFrame(
        merges, "rank int, pair string, merged string, n long"
    )


_ROLLING_DAU_SQL = """
WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
 dau AS (SELECT day, COUNT(*) AS dau FROM d GROUP BY 1),
 f AS (SELECT CAST(day + INTERVAL (i) DAY AS DATE) AS day, user_id
       FROM d, unnest(range(0, 7)) r(i)),
 wau AS (SELECT day, COUNT(DISTINCT user_id) AS wau FROM f GROUP BY 1)
SELECT day, dau, wau FROM dau JOIN wau USING (day)
"""


@query("events_rolling_dau", _ROLLING_DAU_SQL)
def events_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU + exact 7-day rolling distinct actives per activity day
    (analytics.rolling_active_users): rolling COUNT(DISTINCT) has no
    frame aggregate, so the exact shape fans the deduped (day, user)
    table onto its 7 window-end days and distinct-counts per day —
    the x7 expansion happens after the dedup, never on the raw log."""
    return analytics.rolling_active_users(
        T(spark, sf_dir, "events"), window_days=7
    )


_CROSS_SOURCE_SQL = """
WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
 s AS (SELECT DISTINCT doc_id, source, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
       FROM w, unnest(range(1, len(ws) - 1)) r(i) WHERE len(ws) >= 3),
 fp AS (SELECT doc_id, source, MIN(md5(sh)) AS fingerprint FROM s GROUP BY 1, 2)
SELECT fingerprint, COUNT(*) AS n_docs,
       COUNT(DISTINCT source) AS n_sources,
       MIN(doc_id) AS first_doc_id,
       string_agg(DISTINCT source, ',' ORDER BY source) AS sources
FROM fp GROUP BY 1 HAVING COUNT(DISTINCT source) >= 2
"""


@query("dedup_cross_source", _CROSS_SOURCE_SQL)
def dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup fingerprints shared across ≥2 sources
    (dedup.cross_source_fingerprints): the train/eval-overlap and
    syndicated-content report to run before mixing a multi-source
    corpus — MinHash fingerprint aggregate, one doc_id join for the
    source, one fingerprint-keyed rollup."""
    return dedup.cross_source_fingerprints(T(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Round-4 (cont.): temperature mixing, CDC compaction, LM scoring,
# filter cascade, decontaminated splits, skew profiling, JL projection
# ---------------------------------------------------------------------------

_TEMPMIX_SQL = """
WITH g AS (SELECT lang, SUM(n_chars) AS tok FROM documents GROUP BY 1),
 s AS (SELECT lang, tok,
              CAST(floor(sqrt(tok) * 1000000 + 0.5) AS BIGINT) AS st
       FROM g),
 c AS (SELECT lang, tok, st, SUM(st) OVER () AS denom FROM s),
 r AS (SELECT lang,
              LEAST(CAST(1.0 AS DOUBLE),
                    CAST(CAST(150000 AS HUGEINT) * st AS DOUBLE)
                    / CAST(CAST(denom AS HUGEINT) * tok AS DOUBLE))
                AS rate
       FROM c),
 k AS (SELECT lang, round(rate, 6) AS keep_rate,
              CAST(floor(rate * 4294967296) AS BIGINT) AS cutoff
       FROM r)
SELECT d.lang, d.doc_id, d.text, d.source, d.n_chars, k.keep_rate
FROM documents d JOIN k USING (lang)
WHERE ((d.doc_id + 3) * 2654435761) % 4294967296 < cutoff
"""


@query("sample_temperature_mix", _TEMPMIX_SQL)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α=0.5 temperature re-balancing of the corpus language mix to a
    150k-token budget (sampling.temperature_mix): sqrt-weighted group
    rates (IEEE sqrt — the one power engines compute bit-identically),
    exact scaled-BIGINT normalization, then the map-side Knuth-hash
    acceptance filter — the corpus itself is never shuffled."""
    return sampling.temperature_mix(
        T(spark, sf_dir, "documents"), budget_tokens=150_000
    )


_CDC_SQL = """
WITH ch AS (
  SELECT user_id, ts, event_id,
         CASE event_type WHEN 'signup' THEN 'insert'
                         WHEN 'error' THEN 'delete'
                         ELSE 'update' END AS op,
         value
  FROM events),
 r AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_ops
  FROM ch)
SELECT user_id, ts, event_id, op, value, n_ops
FROM r WHERE rn = 1 AND op <> 'delete'
"""


@query("o_cdc_apply", _CDC_SQL)
def o_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log → current snapshot (relational.cdc_apply): the event
    stream read as insert/update/delete changes per user, compacted to
    each user's latest state with tombstoned keys dropped. One
    map-side-combinable max_by aggregate — no per-key sort, no window,
    hot keys reduce before the shuffle."""
    ev = T(spark, sf_dir, "events")
    changes = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "signup", F.lit("insert"))
        .when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        "value",
    )
    return relational.cdc_apply(
        changes, key="user_id", order=["ts", "event_id"]
    )


_FUNNEL_SQL = _REP_CTES + """,
 agg AS (
  SELECT COUNT(*) AS n0,
    CAST(SUM(CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END)
         AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN n_words BETWEEN 50 AND 100000
              AND distinct_ratio >= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    CAST(SUM(CASE WHEN n_words BETWEEN 50 AND 100000
              AND distinct_ratio >= 0.2
              AND top_word_frac <= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
    CAST(SUM(CASE WHEN n_words BETWEEN 50 AND 100000
              AND distinct_ratio >= 0.2
              AND top_word_frac <= 0.2
              AND top_bigram_frac <= 0.18 THEN 1 ELSE 0 END) AS BIGINT) AS n4
  FROM rep)
SELECT 1 AS stage_no, 'word_count' AS stage,
       n0 AS n_in, n0 - n1 AS n_dropped, n1 AS n_out FROM agg
UNION ALL SELECT 2, 'distinct_ratio', n1, n1 - n2, n2 FROM agg
UNION ALL SELECT 3, 'top_word_frac', n2, n2 - n3, n3 FROM agg
UNION ALL SELECT 4, 'top_bigram_frac', n3, n3 - n4, n4 FROM agg
"""


@query("quality_filter_funnel", _FUNNEL_SQL)
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage attrition report for the Gopher quality cascade
    (text.filter_funnel): survivor counts for each cumulative
    conjunction computed in ONE map-side-combinable aggregation over
    one scan of the repetition signals — the yield-debugging view of
    quality_gopher_filter, at no extra pass."""
    rep = text.repetition_stats(T(spark, sf_dir, "documents"))
    return text.filter_funnel(
        rep,
        [
            ("word_count",
             (F.col("n_words") >= 50) & (F.col("n_words") <= 100_000)),
            ("distinct_ratio", F.col("distinct_ratio") >= 0.2),
            ("top_word_frac", F.col("top_word_frac") <= 0.2),
            ("top_bigram_frac", F.col("top_bigram_frac") <= 0.18),
        ],
    )


_DECON_SPLIT_SQL = """
WITH b AS (SELECT doc_id, lang, source, text,
                  CAST(((doc_id + 0) * 2654435761) % 4294967296 % 100 AS INT)
                    AS bk
           FROM documents),
 lab AS (SELECT doc_id, lang, source, text,
                CASE WHEN bk < 80 THEN 'train'
                     WHEN bk < 90 THEN 'val'
                     ELSE 'test' END AS split
         FROM b),
 w AS (SELECT doc_id, split, string_split(text, ' ') AS ws
       FROM lab WHERE split IN ('train', 'test')),
 sh AS (SELECT DISTINCT doc_id, split, s AS shingle FROM (
   SELECT doc_id, split,
          unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                  || ws[i+3] || ' ' || ws[i+4]
                  for i in generate_series(1, len(ws) - 4)]) AS s
   FROM w WHERE len(ws) >= 5)),
 te AS (SELECT DISTINCT shingle FROM sh WHERE split = 'test'),
 bad AS (SELECT DISTINCT doc_id FROM sh WHERE split = 'train'
         AND shingle IN (SELECT shingle FROM te))
SELECT doc_id, lang, source FROM lab
WHERE split = 'train' AND doc_id NOT IN (SELECT doc_id FROM bad)
"""


@query("pipeline_decon_split", _DECON_SPLIT_SQL)
def pipeline_decon_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontaminated train split: deterministic 80/10/10 hash split,
    then every train doc sharing any 5-gram shingle with the test
    split is evicted (word_shingles → LEFT SEMI hit-list → LEFT ANTI
    eviction). The composition every serious pretraining pipeline runs
    so the test split stays a test split — two shingle-keyed shuffles,
    corpus never re-shuffled."""
    from razulibs_spark.operators import dedup as _dedup

    lab = sampling.hash_split(T(spark, sf_dir, "documents"))
    train = lab.filter(F.col("split") == "train")
    test = lab.filter(F.col("split") == "test")
    test_sh = (
        _dedup.word_shingles(test, k=5).select("shingle").distinct()
    )
    bad = (
        _dedup.word_shingles(train, k=5)
        .join(test_sh, "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return train.join(bad, "doc_id", "left_anti").select(
        "doc_id", "lang", "source"
    )


_LM_SQL = """
WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
 bg AS (SELECT doc_id, source, ws[i] AS w1, ws[i+1] AS w2
        FROM w, unnest(range(1, len(ws))) r(i) WHERE len(ws) >= 2),
 c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg WHERE source <> 'src19'
        GROUP BY 1, 2),
 c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg WHERE source <> 'src19'
        GROUP BY 1),
 v AS (SELECT COUNT(DISTINCT wd) AS v
       FROM (SELECT unnest(ws) AS wd FROM w WHERE source <> 'src19')),
 sc AS (SELECT b.doc_id,
               CAST(floor(ln((COALESCE(c2.c2, 0) + 1)
                             / CAST(COALESCE(c1.c1, 0) + v.v AS DOUBLE))
                          * 100000 + 0.5) AS BIGINT) AS t,
               CASE WHEN c1.c1 IS NULL THEN 1 ELSE 0 END AS oov
        FROM bg b
        LEFT JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
        LEFT JOIN c1 ON b.w1 = c1.w1
        CROSS JOIN v
        WHERE b.source = 'src19')
SELECT doc_id, COUNT(*) AS n_bigrams,
       round(CAST(-SUM(t) AS DOUBLE)
             / (CAST(100000.0 AS DOUBLE) * COUNT(*)), 4) AS avg_nll,
       round(CAST(SUM(oov) AS DOUBLE) / COUNT(*), 6) AS oov_rate
FROM sc GROUP BY doc_id
"""


@query("text_lm_score", _LM_SQL)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scores for the held-out source
    (text.lm_bigram_score): add-1-smoothed transition likelihoods
    trained on every other source, per-doc average NLL + OOV-prefix
    rate — two word-keyed count aggregates, one scalar broadcast, two
    LEFT probes, one doc rollup; log terms folded as exact scaled
    BIGINTs so the aggregate is summation-order independent."""
    return text.lm_bigram_score(T(spark, sf_dir, "documents"))


_RP_SQL = """
WITH sgn AS (SELECT i, j,
        CASE WHEN strpos('02468ace',
               substr(md5(CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)),
                      1, 1)) > 0
             THEN 1 ELSE -1 END AS s
      FROM unnest(range(0, 64)) a(i), unnest(range(0, 16)) b(j)),
 el AS (SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings, unnest(range(1, 65)) r(i)),
 t AS (SELECT vec_id, j, CAST(floor(v * s * 1000000 + 0.5) AS BIGINT) AS t
       FROM el JOIN sgn USING (i))
SELECT vec_id, CAST(j AS INT) AS dim,
       CAST(SUM(t) AS DOUBLE) / CAST(8000000.0 AS DOUBLE) AS value
FROM t GROUP BY vec_id, j
"""


@query("sim_random_projection", _RP_SQL)
def sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-derived ±1 Johnson-Lindenstrauss projection 64→16 dims
    (similarity.random_projection): the sign matrix is a plan literal,
    each output dim an exact scaled-BIGINT zip_with/aggregate fold —
    a pure narrow projection with no shuffle and no UDF, the cheap
    first stage before clustering or ANN at index-budget scale."""
    return similarity.random_projection(
        T(spark, sf_dir, "embeddings"), in_dim=64, out_dim=16
    )


_SKEW_SQL = """
WITH c AS (SELECT event_type AS key, COUNT(*) AS n FROM events GROUP BY 1),
 g AS (SELECT CAST(SUM(n) AS BIGINT) AS total_rows, COUNT(*) AS n_keys,
              MAX(n) AS max_n
       FROM c),
 a AS (SELECT total_rows, n_keys,
              round(max_n * CAST(32.0 AS DOUBLE) / total_rows, 6)
                AS skew_factor,
              CAST(ceil(max_n * CAST(32.0 AS DOUBLE) / total_rows) AS BIGINT)
                AS suggested_salts
       FROM g)
SELECT key, n, round(CAST(n AS DOUBLE) / total_rows, 6) AS share,
       total_rows, n_keys, skew_factor, suggested_salts
FROM (SELECT key, n FROM c ORDER BY n DESC, key LIMIT 5) t, a
"""


@query("o_skew_profile", _SKEW_SQL)
def o_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnosis on the event-type key
    (maintenance.skew_profile): heaviest keys with table share, global
    key cardinality, skew factor vs 32 target partitions, and the
    salt fan-out that would level the hottest key — one count
    aggregate over the data, everything else key-cardinality sized."""
    from razulibs_spark.operators import maintenance

    return maintenance.skew_profile(
        T(spark, sf_dir, "events"), ["event_type"], n_top=5,
        target_partitions=32,
    )


_OLS_SQL = """
WITH s AS (SELECT event_type,
                  CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                       AS BIGINT) AS x,
                  CAST(floor(value * 10000 + 0.5) AS BIGINT) AS ys
           FROM events),
 a AS (SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(ys) AS sy,
              SUM(x * ys) AS sxy, SUM(x * x) AS sxx
       FROM s GROUP BY 1),
 b AS (SELECT event_type, n, sx, sy,
              CASE WHEN n * sxx - sx * sx <> 0
                   THEN CAST(n * sxy - sx * sy AS DOUBLE)
                        / CAST(n * sxx - sx * sx AS DOUBLE)
              END AS ss
       FROM a)
SELECT event_type, n,
       round(ss / CAST(10000.0 AS DOUBLE), 6) AS slope,
       round(((sy - ss * sx) / CAST(n AS DOUBLE))
             / CAST(10000.0 AS DOUBLE), 6) AS intercept
FROM b
"""


@query("a_grouped_ols", _OLS_SQL)
def a_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of value over day index
    (analytics.grouped_ols): millions of per-key line fits from
    sufficient statistics in ONE map-side-combinable aggregation —
    exact BIGINT sums, exact decimal(38,0) cross-products (the int128
    twin of DuckDB's HUGEINT), doubles only at the final division."""
    ev = T(spark, sf_dir, "events")
    return analytics.grouped_ols(
        ev,
        ["event_type"],
        x=F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01")),
        y=F.col("value"),
    )


_PAGERANK_SQL = """
WITH s AS (SELECT user_id, ts, event_id,
                  json_extract_string(props, '$.k') AS item
           FROM events),
 t AS (SELECT item AS src,
              lead(item) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS dst
       FROM s WHERE item IS NOT NULL),
 e AS (SELECT src, dst, COUNT(*) AS weight FROM t
       WHERE dst IS NOT NULL GROUP BY 1, 2),
 nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
 outw AS (SELECT src AS node, SUM(weight) AS w FROM e GROUP BY 1),
 inw AS (SELECT dst AS node, SUM(weight) AS w FROM e GROUP BY 1)
SELECT n.node,
       CAST(COALESCE(outw.w, 0) AS BIGINT) AS out_weight,
       CAST(COALESCE(inw.w, 0) AS BIGINT) AS in_weight,
       TRUE AS rank_ok
FROM nodes n
LEFT JOIN outw ON n.node = outw.node
LEFT JOIN inw ON n.node = inw.node
"""


@query("graph_pagerank", _PAGERANK_SQL)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the per-user item-transition graph
    (operators/graph.py): items are the event props 'k' values, edges
    are time-ordered item→next-item transitions (linear in the log —
    never the quadratic co-occurrence projection), 10 damped
    iterations of broadcast-rank join + dst-keyed sum with proper
    dangling-mass redistribution; pytest pins parity against a
    pure-Python reference.

    The rank vector is engine-specific in the last ulps (iterative
    float), so the ORACLE-STABLE surface is the graph itself — DuckDB
    rebuilds the full transition edge list with lead() and checks
    per-node in/out weights exactly, verifying the whole
    graph-construction half of the query — plus a rank_ok boolean:
    every node got a rank ≥ the (1−d)/N floor and total mass is
    conserved to 1e-6. A dropped node, miscounted edge, or mass leak
    hash-mismatches."""
    from razulibs_spark.operators import graph

    ev = T(spark, sf_dir, "events").withColumn(
        "item", F.get_json_object(F.col("props"), "$.k")
    )
    edges = graph.transition_edges(ev, "item").persist()
    try:
        ranks = graph.pagerank(edges, damping=0.85, iters=10).persist()
        agg = ranks.agg(
            F.sum("rank").alias("mass"),
            F.min("rank").alias("min_rank"),
            F.count("*").alias("n"),
        ).collect()[0]
        ok = bool(
            agg["n"] > 0
            and abs(agg["mass"] - 1.0) <= 1e-6
            and agg["min_rank"] >= (1.0 - 0.85) / agg["n"] - 1e-12
        )
        out_w = edges.groupBy("src").agg(F.sum("weight").alias("ow"))
        in_w = edges.groupBy("dst").agg(F.sum("weight").alias("iw"))
        result = (
            ranks.select("node")
            .join(out_w.withColumnRenamed("src", "node"), "node", "left")
            .join(in_w.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                F.coalesce(F.col("ow"), F.lit(0)).alias("out_weight"),
                F.coalesce(F.col("iw"), F.lit(0)).alias("in_weight"),
                F.lit(ok).alias("rank_ok"),
            )
        )
        # Materialize DISTRIBUTED before unpersisting the inputs it
        # derives from: the eager pin cuts the lineage onto block
        # storage, so no per-node row ever rides through the driver
        # (a collect()+createDataFrame here was the one driver-sized
        # loop in the query — the item vocabulary can be large).
        result = pin_iteration(result)
    finally:
        edges.unpersist()
        ranks.unpersist()
    return result


_TRI_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
canon AS (SELECT DISTINCT i1.l_partkey AS lo, i2.l_partkey AS hi
          FROM items i1 JOIN items i2
            ON i1.l_orderkey = i2.l_orderkey
           AND i1.l_partkey < i2.l_partkey),
nodes AS (SELECT lo AS node FROM canon UNION SELECT hi FROM canon),
tri AS (SELECT COUNT(*) AS n
        FROM canon e1
        JOIN canon e2 ON e2.lo = e1.hi
        JOIN canon e3 ON e3.lo = e1.lo AND e3.hi = e2.hi)
SELECT (SELECT COUNT(*) FROM nodes) AS n_nodes,
       (SELECT COUNT(*) FROM canon) AS n_edges,
       (SELECT n FROM tri) AS n_triangles
"""


@query("graph_triangle_count", _TRI_SQL)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count over the parts-bought-together graph
    (operators/graph.py:triangle_count): edges are pairs of parts
    sharing an order, counting via degree-ordered orientation
    ("compact-forward") — every wedge is enumerated once from its
    lowest-rank apex, so hub parts never explode the self-join the
    way a naive edge×edge×edge plan does (a degree-d node contributes
    O(d²) wedges unoriented, O(m) total oriented). The oracle counts
    the same triangles with the classic a<b<c three-way join —
    different algorithm, identical exact answer, one global row."""
    from razulibs_spark.operators import graph

    # Edge build via per-order collect_set + in-array pair expansion
    # (r13 — the same build graph_bfs_levels uses): ONE groupBy
    # shuffle of the lineitem keys instead of the distinct + self-join
    # + join-output shuffle chain. Baskets are small (TPC-H ≤ 7), the
    # sorted set gives src < dst for free, and canonical_edges'
    # distinct inside triangle_count dedupes cross-order repeats —
    # the canonical edge set (and so the count) is identical.
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("parts"), i + 2, F.size(F.col("parts")) - i - 1
                ),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )
    edges = baskets.select(
        F.explode(pairs).alias("p")
    ).select("p.src", "p.dst")
    return graph.triangle_count(edges)


_JSONL_GZ_SQL = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
       COUNT(DISTINCT source) AS n_sources
FROM documents GROUP BY lang
"""


@query("io_jsonl_gz_roundtrip", _JSONL_GZ_SQL)
def io_jsonl_gz_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-JSONL source/sink roundtrip — the CommonCrawl/WET
    corpus-interchange shape: write the documents table as
    gzip-compressed JSON Lines, re-read it WITH an explicit schema
    (schema-on-read — no inference pass over the corpus, which at
    100 TB would be a full extra scan), and aggregate per language.
    JSON string escaping must round-trip every text byte-exactly for
    the per-lang char sums to hash-match the parquet-derived oracle.
    Store path keyed by sf_dir (same eager-write/lazy-read hazard as
    io_orc_roundtrip)."""

    base = scratch_path("jsonl_gz_" + os.path.basename(sf_dir.rstrip("/")))
    docs = T(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    docs.write.mode("overwrite").option("compression", "gzip").json(base)
    back = spark.read.schema(
        "doc_id long, lang string, source string, text string"
    ).json(base)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("sum_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


_JSONL_BZ2_SQL = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
       md5(string_agg(CAST(doc_id AS VARCHAR), ','
                      ORDER BY doc_id)) AS ids_md5
FROM documents GROUP BY lang
"""


@query("io_bz2_foreign_roundtrip", _JSONL_BZ2_SQL)
def io_bz2_foreign_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bzip2 interop with a FOREIGN producer — the compression that
    actually matters for interchange at 100 TB: gzip is not
    splittable (one 50 GB .json.gz = one task forever), bzip2 is —
    Hadoop's Bzip2Codec finds block boundaries mid-file, so a single
    fat shard still fans out. Wikipedia ships its dumps as .bz2 for
    exactly this reason. Here the shards are written by PYTHON's bz2
    (a producer that owes Spark nothing — executor-side, one shard
    per writer task), read back through the Hadoop codec with an
    explicit schema, and the per-lang rollup plus an ORDER-exact
    doc_id digest must hash-match the parquet oracle: one record
    lost at a block boundary or one byte mangled in transcoding
    mismatches."""

    base = scratch_path("jsonl_bz2_" + os.path.basename(sf_dir.rstrip("/")))
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    docs = T(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )

    def write_partition(rows) -> None:
        import bz2
        import json

        from pyspark import TaskContext

        def line(row) -> str:
            return json.dumps(
                {"doc_id": row["doc_id"], "lang": row["lang"], "text": row["text"]},
                sort_keys=True,
            )

        rows = iter(rows)
        first = next(rows, None)
        if first is None:
            return
        pid = TaskContext.get().partitionId()
        # streamed through the compressor: no partition-sized buffer
        with bz2.open(os.path.join(base, f"part-{pid:05d}.jsonl.bz2"), "wt",
                      encoding="utf-8") as fh:
            fh.write(line(first))
            for row in rows:
                fh.write("\n" + line(row))

    each_partition(docs.repartition(8), write_partition)
    back = spark.read.schema("doc_id long, lang string, text string").json(
        base
    )
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("sum_chars"),
        F.md5(
            F.array_join(
                F.array_sort(F.collect_list(F.col("doc_id"))), ","
            ).cast("binary")
        ).alias("ids_md5"),
    )


_BPE_ENCODE_SQL = """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len([w for w in string_split(text, ' ')
                 if len(w) > 0]) AS BIGINT) AS n_words,
       TRUE AS tokens_ok
FROM documents
"""


@query("text_bpe_encode", _BPE_ENCODE_SQL)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-efficiency report (text.bpe_encode): the 8-merge BPE
    table learned by text.bpe_train applied to the corpus — each
    DISTINCT word encoded once via chained Catalyst HOF rewrites, then
    per-doc token counts and fertility through one word join + one
    doc rollup; pytest pins the segmentation against a pure-Python
    BPE encoder.

    Token counts depend on the iteratively-learned merge table, so
    the ORACLE-STABLE surface is per-doc exact n_chars / n_words
    (DuckDB recomputes both) plus a tokens_ok boolean encoding BPE's
    structural invariant: every word is 1..len(word) tokens, so
    n_words ≤ n_tokens ≤ non-space chars (0 = 0 for wordless docs).
    A join that drops words, a merge chain that corrupts a word, or
    a runaway split flips the boolean into a hash mismatch."""
    docs = T(spark, sf_dir, "documents")
    merges = text.bpe_train(docs, n_merges=8)
    enc = text.bpe_encode(docs, merges)
    nonspace = F.length(F.regexp_replace(F.col("text"), " ", ""))
    return enc.join(
        docs.select("doc_id", nonspace.alias("_ns")), "doc_id"
    ).select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_words").cast("long").alias("n_words"),
        (
            (F.col("n_words") <= F.col("n_tokens"))
            & (F.col("n_tokens") <= F.col("_ns"))
            | ((F.col("n_words") == 0) & (F.col("n_tokens") == 0))
        ).alias("tokens_ok"),
    )


_NOVELTY_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
 sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        FROM w, unnest(range(1, len(ws) - 1)) r(i) WHERE len(ws) >= 3),
 fo AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
SELECT sh.doc_id, COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN fo.first_doc = sh.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       round(CAST(SUM(CASE WHEN fo.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS novelty_ratio
FROM sh JOIN fo ON sh.s = fo.s GROUP BY 1
"""


@query("text_novelty_ratio", _NOVELTY_SQL)
def text_novelty_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus redundancy curve input (text.novelty_ratio): per doc,
    the fraction of its 3-gram shingles first seen in it — MIN
    first-owner aggregate + ownership probe, both shingle-keyed, then
    one doc rollup. The metric that says when another crawl snapshot
    stops adding information."""
    return text.novelty_ratio(T(spark, sf_dir, "documents"))


_WFUNNEL_SQL = """
WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
           WHERE event_type = 'view' GROUP BY 1),
 c AS (SELECT e.user_id, MIN(e.ts) AS t_click
       FROM events e JOIN v USING (user_id)
       WHERE e.event_type = 'click' AND e.ts > v.t_view
         AND e.ts <= v.t_view + INTERVAL 1 HOUR
       GROUP BY 1),
 p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
       FROM events e JOIN c USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts > c.t_click
         AND e.ts <= c.t_click + INTERVAL 1 HOUR
       GROUP BY 1)
SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
       p.t_purchase IS NOT NULL AS converted
FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
"""


@query("events_funnel_windowed", _WFUNNEL_SQL)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window funnel: earliest view → earliest click within
    1 h of it → earliest purchase within 1 h of that, per user, with
    non-converters kept (LEFT joins). Same three keyed MIN aggregates
    as events_funnel — the window constraint is a filter on the joined
    stage, never a per-user sort of full histories."""
    e = T(spark, sf_dir, "events")
    hour = F.expr("INTERVAL 1 HOUR")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + hour)
        )
        .groupBy("user_id").agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + hour)
        )
        .groupBy("user_id").agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id", "t_view", "t_click", "t_purchase",
            F.col("t_purchase").isNotNull().alias("converted"),
        )
    )


_MAXSIM_SQL = """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
 q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
 s AS (SELECT e.label, q.qid,
              round(MAX(list_cosine_similarity(e.v, q.qv)), 6) AS m
       FROM e, q GROUP BY 1, 2),
 sc AS (SELECT label, round(SUM(m), 6) AS maxsim_score FROM s GROUP BY 1)
SELECT label, maxsim_score FROM sc
ORDER BY maxsim_score DESC, label LIMIT 3
"""


@query("sim_maxsim_topk", _MAXSIM_SQL)
def sim_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction MaxSim retrieval (similarity.maxsim_topk):
    labels as multi-vector documents, the 8 query vectors as one
    multi-vector query, score = Σ_q max_doc cos — corpus × broadcast
    query set, two-level aggregate (map-side-combined MAX, then SUM of
    1e-6-grid maxes), TakeOrdered top-3."""
    e = T(spark, sf_dir, "embeddings")
    return similarity.maxsim_topk(e, e.filter(F.col("vec_id") < 8), k=3)


_RUNDIST_SQL = """
WITH it AS (SELECT user_id, ts, event_id,
                   json_extract_string(props, '$.k') AS item
            FROM events),
 f AS (SELECT *,
              CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, item
                                           ORDER BY ts, event_id) = 1
                   THEN 1 ELSE 0 END AS nw
       FROM it)
SELECT user_id, ts, event_id, item,
       CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_distinct_so_far
FROM f
"""


@query("w_running_distinct", _RUNDIST_SQL)
def w_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct items per user at each event
    (analytics.running_distinct): first-occurrence flag + running sum
    — two keyed windows, one counter of state per frame, never a
    collect_set that grows with a power user's history."""
    ev = T(spark, sf_dir, "events").withColumn(
        "item", F.get_json_object(F.col("props"), "$.k")
    )
    return analytics.running_distinct(ev, "item")


_CONFUSION_SQL = """
WITH c AS (SELECT doc_id, lang,
   len([w for w in string_split(text, ' ') if w = 'the' OR w = 'a']) AS c_en,
   len([w for w in string_split(text, ' ') if w = 'data' OR w = 'value']) AS c_es,
   len([w for w in string_split(text, ' ') if w = 'query' OR w = 'join']) AS c_de
 FROM documents),
 p AS (SELECT lang AS labeled_lang,
              CASE WHEN c_en >= c_es AND c_en >= c_de THEN 'en'
                   WHEN c_es >= c_de THEN 'es' ELSE 'de' END AS predicted_lang
       FROM c),
 m AS (SELECT labeled_lang, predicted_lang, COUNT(*) AS n
       FROM p GROUP BY 1, 2),
 t AS (SELECT labeled_lang, CAST(SUM(n) AS BIGINT) AS n_labeled
       FROM m GROUP BY 1)
SELECT m.labeled_lang, m.predicted_lang, m.n, t.n_labeled,
       round(CAST(m.n AS DOUBLE) / t.n_labeled, 6) AS frac
FROM m JOIN t USING (labeled_lang)
"""


@query("eval_confusion_matrix", _CONFUSION_SQL)
def eval_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix vs the gold lang column
    (evaluation.confusion_matrix over text.language_id): per-(label,
    prediction) counts + per-label recall fractions — two count
    aggregates bounded by the class-vocabulary square, the
    model-quality report a classifying pipeline publishes about
    itself."""
    from razulibs_spark.operators import evaluation

    preds = text.language_id(T(spark, sf_dir, "documents"))
    return evaluation.confusion_matrix(
        preds, "labeled_lang", "predicted_lang"
    )


_BOUNCE_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS seq
  FROM flagged),
 s AS (SELECT user_id, seq, COUNT(*) AS n_events, MIN(ts) AS session_start
       FROM sess GROUP BY 1, 2)
SELECT CAST(session_start AS DATE) AS day,
       COUNT(*) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       round(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS bounce_rate
FROM s GROUP BY 1
"""


@query("events_bounce_rate", _BOUNCE_SQL)
def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate over 1-hour-gap sessions
    (analytics.sessionize): single-event sessions / sessions per
    session-start day — the sessionize rollup plus one day-keyed
    aggregate."""
    sess = analytics.sessionize(
        T(spark, sf_dir, "events"), gap_us=3_600_000_000
    )
    bounced = F.when(F.col("n_events") == 1, F.lit(1)).otherwise(F.lit(0))
    return (
        sess.select(
            F.col("session_start").cast("date").alias("day"),
            bounced.alias("_b"),
        )
        .groupBy("day")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("_b").alias("n_bounces"),
            F.round(
                F.sum("_b").cast("double") / F.count("*"), 6
            ).alias("bounce_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Evaluation & distribution-statistics family (operators/evaluation.py,
# operators/stats.py): AUC, kappa, calibration, retrieval P@k/MRR,
# chi-square association, KS drift, embedding feature stats — the
# metrics a 100 TB data pipeline publishes about its own models and
# feeds.
# ---------------------------------------------------------------------------

_AUC_SQL = """
WITH r AS (SELECT CAST(embedding[1] AS DOUBLE) AS score, label
           FROM embeddings
           WHERE CAST(embedding[1] AS DOUBLE) IS NOT NULL
             AND label IS NOT NULL),
 h AS (SELECT score, COUNT(*) AS cnt FROM r GROUP BY 1),
 h2 AS (SELECT score,
               2 * COALESCE(SUM(cnt) OVER (ORDER BY score
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + cnt + 1 AS r2
        FROM h),
 m AS (SELECT score, label, COUNT(*) AS n FROM r GROUP BY 1, 2),
 per AS (SELECT label, SUM(CAST(n AS HUGEINT) * r2) AS s2,
                CAST(SUM(n) AS BIGINT) AS n_pos
         FROM m JOIN h2 USING (score) GROUP BY 1),
 t AS (SELECT COUNT(*) AS n_total FROM r)
SELECT label, n_pos, CAST(n_total - n_pos AS BIGINT) AS n_neg,
       floor(CAST(1000000 AS DOUBLE)
             * (CAST(s2 - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS DOUBLE)
                / CAST(2 * CAST(n_pos AS HUGEINT) * (n_total - n_pos)
                       AS DOUBLE))
             + 0.5) / CAST(1000000 AS DOUBLE) AS auc
FROM per, t
"""


@query("eval_auc_ovr", _AUC_SQL)
def eval_auc_ovr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-vs-rest ROC AUC per embedding class with the first
    component as the score (evaluation.auc_ovr): tie-corrected
    Mann-Whitney from ONE global score histogram prefix-sum (two-tier
    range_cumsum — no single-partition window), then one keyed
    aggregation per class; rank sums in decimal(38,0) so 2N² cannot
    wrap int64."""
    e = T(spark, sf_dir, "embeddings")
    scored = e.select(
        F.col("embedding")[0].cast("double").alias("score"), "label"
    )
    return evaluation.auc_ovr(scored, "score", "label", n_parts=8)


_LANGPRED_CTE = """
WITH c AS (SELECT doc_id, lang,
   len([w for w in string_split(text, ' ') if w = 'the' OR w = 'a']) AS c_en,
   len([w for w in string_split(text, ' ') if w = 'data' OR w = 'value']) AS c_es,
   len([w for w in string_split(text, ' ') if w = 'query' OR w = 'join']) AS c_de
 FROM documents),
 p AS (SELECT lang AS labeled_lang,
              CASE WHEN c_en >= c_es AND c_en >= c_de THEN 'en'
                   WHEN c_es >= c_de THEN 'es' ELSE 'de' END AS predicted_lang
       FROM c)
"""

_KAPPA_SQL = _LANGPRED_CTE + """
, m AS (SELECT labeled_lang AS a, predicted_lang AS b, COUNT(*) AS n
        FROM p
        WHERE labeled_lang IS NOT NULL AND predicted_lang IS NOT NULL
        GROUP BY 1, 2),
 rt AS (SELECT a, CAST(SUM(n) AS BIGINT) AS rt FROM m GROUP BY 1),
 ct AS (SELECT b, CAST(SUM(n) AS BIGINT) AS ct FROM m GROUP BY 1),
 pe AS (SELECT SUM(CAST(rt.rt AS HUGEINT) * ct.ct) AS pe_num
        FROM rt JOIN ct ON rt.a = ct.b),
 po AS (SELECT CAST(SUM(n) AS BIGINT) AS po_num FROM m WHERE a = b),
 nt AS (SELECT CAST(SUM(n) AS BIGINT) AS n FROM m)
SELECT n, po_num, CAST(pe_num AS DOUBLE) AS pe_num,
       floor(CAST(1000000 AS DOUBLE)
             * (CAST(CAST(n AS HUGEINT) * po_num - pe_num AS DOUBLE)
                / CAST(CAST(n AS HUGEINT) * n - pe_num AS DOUBLE))
             + 0.5) / CAST(1000000 AS DOUBLE) AS kappa
FROM nt, po, pe
"""


@query("eval_cohens_kappa", _KAPPA_SQL)
def eval_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the language-ID heuristic and the gold
    lang column (evaluation.cohens_kappa): chance-corrected agreement
    from one (label, prediction)-keyed count — integer arithmetic
    until the final division, output bounded by the class square."""
    preds = text.language_id(T(spark, sf_dir, "documents"))
    return evaluation.cohens_kappa(preds, "labeled_lang", "predicted_lang")


_CALIB_SQL = """
WITH b AS (SELECT (n_chars * 37) % 1000 AS pm,
                  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
           FROM documents)
SELECT pm // 100 AS bin, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos,
       floor(CAST(1000000 AS DOUBLE)
             * (CAST(SUM(pm) AS DOUBLE) / CAST(COUNT(*) * 1000 AS DOUBLE))
             + 0.5) / CAST(1000000 AS DOUBLE) AS mean_pred,
       floor(CAST(1000000 AS DOUBLE)
             * (CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
             + 0.5) / CAST(1000000 AS DOUBLE) AS pos_rate
FROM b GROUP BY 1
"""


@query("eval_calibration", _CALIB_SQL)
def eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins for a permille-quantized pseudo
    probability vs the lang='en' label (evaluation.calibration_bins):
    one map-side-combinable bin-keyed aggregate; integer sums, doubles
    only in the two final divisions."""
    d = T(spark, sf_dir, "documents")
    scored = d.select(
        ((F.col("n_chars") * 37) % 1000).alias("pm"),
        (F.col("lang") == "en").alias("is_en"),
    )
    return evaluation.calibration_bins(scored, "pm", "is_en", n_bins=10)


_RETRIEVAL_SQL = _EMB_CTE + """
, q AS (SELECT * FROM e WHERE vec_id < 10)
, scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                    list_cosine_similarity(q.v, c.v) AS cos
             FROM q, e c WHERE c.vec_id <> q.vec_id)
, ranked AS (SELECT query_id, neighbor_id, cos,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rnk
             FROM scored)
, res AS (SELECT query_id, neighbor_id, rnk FROM ranked WHERE rnk <= 5)
, lab AS (SELECT vec_id, label FROM embeddings)
, j AS (SELECT r.query_id, r.rnk,
               CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END AS rel,
               ql.label AS qlab
        FROM res r
        JOIN lab ql ON r.query_id = ql.vec_id
        JOIN lab nl ON r.neighbor_id = nl.vec_id)
, perq AS (SELECT query_id, qlab, CAST(SUM(rel) AS BIGINT) AS hits,
                  MIN(CASE WHEN rel = 1 THEN rnk END) AS first_rel_rank
           FROM j GROUP BY 1, 2)
, rc AS (SELECT label, COUNT(*) - 1 AS n_relevant FROM lab GROUP BY 1)
SELECT query_id, hits, CAST(n_relevant AS BIGINT) AS n_relevant,
       round(CAST(hits AS DOUBLE) / CAST(5 AS DOUBLE), 6) AS p_at_k,
       CASE WHEN n_relevant > 0 THEN
         CAST(floor(CAST(1000000 AS DOUBLE)
                    * (CAST(hits AS DOUBLE) / CAST(n_relevant AS DOUBLE)))
              AS BIGINT) END AS recall_micro,
       first_rel_rank,
       CAST(floor(CAST(1000000 AS DOUBLE)
                  / CAST(first_rel_rank AS DOUBLE)) AS BIGINT) AS rr_micro
FROM perq JOIN rc ON perq.qlab = rc.label
"""


@query("eval_retrieval_pr", _RETRIEVAL_SQL)
def eval_retrieval_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query retrieval quality of brute cosine top-5 judged by
    label agreement (evaluation.retrieval_metrics over
    similarity.cosine_topk): precision@5, recall@5 (micro-floored
    exact division), and first-relevant reciprocal rank — two keyed
    label joins over the (queries × k) result table, one broadcast
    class-sized relevance-count join."""
    e = T(spark, sf_dir, "embeddings")
    res = similarity.cosine_topk(e, e.filter(F.col("vec_id") < 10), k=5)
    return evaluation.retrieval_metrics(
        res.select("query_id", "neighbor_id", "rnk"),
        e.select("vec_id", "label"),
        "query_id",
        "neighbor_id",
        "rnk",
        "vec_id",
        "label",
        k=5,
    )


_CHI2_SQL = """
WITH cells AS (SELECT lang, source, COUNT(*) AS o
               FROM documents
               WHERE lang IS NOT NULL AND source IS NOT NULL
               GROUP BY 1, 2),
 rt AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
 ct AS (SELECT source, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
 nt AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
 x AS (SELECT cells.lang, cells.source, o,
              (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
                / CAST(n AS DOUBLE) AS e
       FROM cells JOIN rt USING (lang) JOIN ct USING (source), nt)
SELECT lang, source, o,
       CAST(floor(CAST(1000000 AS DOUBLE) * e) AS BIGINT) AS e_micro,
       CAST(floor(CAST(1000 AS DOUBLE)
                  * ((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e))
            AS BIGINT) AS contrib_milli
FROM x
"""


@query("stats_chi_square", _CHI2_SQL)
def stats_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square association cells between document lang and source
    (stats.chi_square_cells): observed vs expected counts and
    per-cell contribution, output bounded by the category square,
    every input-sized step a map-side-combinable count; double
    products avoid the rt·ct int64 wrap at corpus scale."""
    return stats.chi_square_cells(
        T(spark, sf_dir, "documents"), "lang", "source"
    )


_DIMSTATS_SQL = """
WITH x AS (SELECT unnest(range(1, len(embedding) + 1)) AS dim,
                  CAST(unnest(embedding) AS DOUBLE) AS val
           FROM embeddings)
SELECT dim, COUNT(*) AS n,
       CAST(SUM(CAST(floor(val * CAST(1000000 AS DOUBLE)) AS BIGINT))
            AS BIGINT) AS sum_micro,
       MIN(val) AS min_val, MAX(val) AS max_val
FROM x GROUP BY 1
"""


@query("stats_embedding_dims", _DIMSTATS_SQL)
def stats_embedding_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension feature-scaling stats of the embedding matrix
    (stats.embedding_dim_stats): posexplode into a dim-keyed
    aggregate; sums are exact micro-scaled BIGINTs (float·1e6 of a
    24-bit mantissa is exact, so the order-independent integer sum
    hash-matches where a float SUM never could)."""
    return stats.embedding_dim_stats(
        T(spark, sf_dir, "embeddings"), "embedding"
    )


_KS_SQL = """
WITH f AS (SELECT value, event_type FROM events
           WHERE event_type IN ('click', 'purchase')
             AND value IS NOT NULL),
 c AS (SELECT value,
              CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS BIGINT) AS ca,
              CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS BIGINT) AS cb
       FROM f GROUP BY 1),
 cum AS (SELECT SUM(ca) OVER w AS fa, SUM(cb) OVER w AS fb
         FROM c WINDOW w AS (ORDER BY value ROWS UNBOUNDED PRECEDING)),
 t AS (SELECT CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS BIGINT) AS na,
              CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS BIGINT) AS nb
       FROM f),
 d AS (SELECT abs(CAST(fa AS DOUBLE) * CAST(nb AS DOUBLE)
                  - CAST(fb AS DOUBLE) * CAST(na AS DOUBLE)) AS d_num,
              na, nb
       FROM cum, t)
SELECT na, nb,
       CAST(floor(CAST(1000000 AS DOUBLE)
                  * (MAX(d_num) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))))
            AS BIGINT) AS ks_micro
FROM d GROUP BY na, nb
"""


@query("stats_ks_drift", _KS_SQL)
def stats_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift between click and purchase
    value distributions (stats.ks_drift): exact integer CDF counts
    via ONE two-tier range_cumsum (no single-partition window),
    cross-multiplied in deterministic doubles, one scalar max — the
    monitor a pipeline runs between two feeds or two snapshots."""
    return stats.ks_drift(
        T(spark, sf_dir, "events"),
        "value",
        "event_type",
        "click",
        "purchase",
        n_parts=8,
    )


_RESAMPLE_SQL = """
WITH obs AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events),
 o1 AS (SELECT user_id, bucket, value FROM obs WHERE rn = 1),
 span AS (SELECT user_id, date_trunc('hour', min(ts)) AS lo,
                 date_trunc('hour', max(ts)) AS hi
          FROM events GROUP BY 1),
 grid AS (SELECT user_id,
                 unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
          FROM span)
SELECT g.user_id, g.bucket,
       last_value(o1.value IGNORE NULLS)
         OVER (PARTITION BY g.user_id ORDER BY g.bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
FROM grid g LEFT JOIN o1
  ON g.user_id = o1.user_id AND g.bucket = o1.bucket
"""


@query("j_resample_ffill", _RESAMPLE_SQL)
def j_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly resampling with forward fill
    (temporal.resample_ffill): sequence() grid fan-out per key span,
    last-observation pick via a (key, bucket)-partitioned window,
    gap carry with last(ignorenulls) over the key partition — every
    window keyed, grid size span/step independent of event count."""
    return temporal.resample_ffill(
        T(spark, sf_dir, "events"),
        "user_id",
        "ts",
        "value",
        step="1 hour",
        tiebreak_col="event_id",
    )


_COPURCHASE_SQL = """
WITH t AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d,
                  json_extract_string(props, '$.k') AS item
           FROM events
           WHERE json_extract_string(props, '$.k') IS NOT NULL),
 sz AS (SELECT user_id, d FROM t GROUP BY 1, 2 HAVING COUNT(*) <= 50),
 kept AS (SELECT t.* FROM t JOIN sz USING (user_id, d)),
 pairs AS (SELECT a.item AS item_a, b.item AS item_b
           FROM kept a JOIN kept b
             ON a.user_id = b.user_id AND a.d = b.d AND a.item < b.item),
 c AS (SELECT item_a, item_b, COUNT(*) AS n_baskets
       FROM pairs GROUP BY 1, 2)
SELECT * FROM c ORDER BY n_baskets DESC, item_a, item_b LIMIT 20
"""


@query("events_copurchase_pairs", _COPURCHASE_SQL)
def events_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 co-occurring item pairs across (user, day) baskets
    (analytics.cooccurrence_pairs): the quadratic is bounded by the
    max-basket cap (oversize baskets dropped, the standard
    market-basket guard), pair generation is a basket-keyed equi
    self-join, and the final top-k is a TakeOrderedAndProject heap
    with a deterministic (count desc, pair) order."""
    ev = T(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        F.get_json_object(F.col("props"), "$.k").alias("item"),
    )
    return analytics.cooccurrence_pairs(
        ev, ["user_id", "d"], "item", k=20, max_basket=50
    )


_ZSCORE_SQL = """
WITH s AS (SELECT event_id, event_type,
                  CAST(floor(value * 10000 + 0.5) AS BIGINT) AS sv
           FROM events),
 st AS (SELECT event_type, COUNT(*) AS n, SUM(sv) AS ssum,
               SUM(CAST(sv AS HUGEINT) * sv) AS ssq
        FROM s GROUP BY 1),
 j AS (SELECT s.event_id, s.event_type, sv, n, ssum, ssq
       FROM s JOIN st USING (event_type))
SELECT event_id, event_type,
  CASE WHEN CAST(n * ssq - ssum * ssum AS DOUBLE)
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) > 0
    THEN CAST(floor(CAST(1000000 AS DOUBLE)
              * ((CAST(sv AS DOUBLE) - CAST(ssum AS DOUBLE) / CAST(n AS DOUBLE))
                 / sqrt(CAST(n * ssq - ssum * ssum AS DOUBLE)
                        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))))
              AS BIGINT)
  END AS z_micro
FROM j
"""


@query("a_grouped_zscore", _ZSCORE_SQL)
def a_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score standardization of value
    (analytics.grouped_zscore): exact fixed-point moments in
    decimal(38,0) (no order-dependent float sums), variance from
    sufficient statistics, sqrt as the one correctly-rounded
    transcendental — one map-side aggregate + one broadcast join, no
    windows; zero-variance groups yield NULL, not NaN."""
    return analytics.grouped_zscore(
        T(spark, sf_dir, "events"),
        ["event_type"],
        "value",
        ["event_id"],
        scale=10000,
    )


_GINI_SQL = """
WITH m AS (SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY 1, 2),
 per AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n,
                SUM(CAST(c AS HUGEINT) * c) AS sq
         FROM m GROUP BY 1)
SELECT source, n,
       floor(CAST(1000000 AS DOUBLE)
             * (CAST(CAST(n AS HUGEINT) * n - sq AS DOUBLE)
                / CAST(CAST(n AS HUGEINT) * n AS DOUBLE))
             + 0.5) / CAST(1000000 AS DOUBLE) AS gini
FROM per
"""


@query("stats_group_gini", _GINI_SQL)
def stats_group_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gini impurity of the language distribution
    (stats.group_gini): the class-balance audit per shard — exactly
    rational (the log-free twin of entropy), decimal(38,0) squares,
    output bounded by the source vocabulary."""
    return stats.group_gini(T(spark, sf_dir, "documents"), "source", "lang")


_VOCABCOV_SQL = """
WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok
              FROM documents),
 t2 AS (SELECT source, tok FROM toks WHERE tok <> ''),
 cnt AS (SELECT tok, COUNT(*) AS cnt FROM t2 GROUP BY 1),
 vocab AS (SELECT tok FROM cnt ORDER BY cnt DESC, tok LIMIT 50),
 marked AS (SELECT t2.source,
                   CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END AS inv
            FROM t2 LEFT JOIN vocab v USING (tok))
SELECT source, COUNT(*) AS total_tokens,
       CAST(SUM(inv) AS BIGINT) AS covered_tokens,
       CAST(floor(CAST(1000000 AS DOUBLE)
                  * (CAST(SUM(inv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)))
            AS BIGINT) AS coverage_micro
FROM marked GROUP BY 1
"""


@query("text_vocab_coverage", _VOCABCOV_SQL)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source coverage of the global top-50 token vocabulary
    (text.vocab_coverage): the tokenizer-sizing report — one global
    token count, a deterministic TakeOrderedAndProject top-N
    (count desc, token tie-break), a broadcast vocab probe, and a
    source-keyed integer aggregate with micro-floored coverage."""
    return text.vocab_coverage(T(spark, sf_dir, "documents"), top_n=50)


_INTERARRIVAL_SQL = """
WITH g AS (
  SELECT event_type,
         epoch_us(ts) - epoch_us(lag(ts) OVER (
             PARTITION BY user_id, event_type ORDER BY ts, event_id))
           AS gap_us
  FROM events),
 g2 AS (SELECT event_type, gap_us FROM g WHERE gap_us IS NOT NULL),
 h AS (SELECT event_type, gap_us, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
 cum AS (SELECT event_type, gap_us,
                SUM(c) OVER (PARTITION BY event_type ORDER BY gap_us
                             ROWS UNBOUNDED PRECEDING) AS cum
         FROM h),
 t AS (SELECT event_type, COUNT(*) AS n_gaps FROM g2 GROUP BY 1)
SELECT cum.event_type,
       CAST(MIN(CASE WHEN cum >= (50 * n_gaps + 99) // 100
                THEN gap_us END) AS BIGINT) AS p50,
       CAST(MIN(CASE WHEN cum >= (90 * n_gaps + 99) // 100
                THEN gap_us END) AS BIGINT) AS p90,
       CAST(MIN(CASE WHEN cum >= (99 * n_gaps + 99) // 100
                THEN gap_us END) AS BIGINT) AS p99,
       n_gaps
FROM cum JOIN t USING (event_type)
GROUP BY cum.event_type, n_gaps
"""


@query("events_interarrival_quantiles", _INTERARRIVAL_SQL)
def events_interarrival_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-type discrete p50/p90/p99 of a user's inter-arrival gap
    (analytics.interarrival_quantiles): exact integer-microsecond
    gaps from one (user, type)-keyed lag window, then element-picking
    type-1 quantiles via a group-keyed histogram cumsum — no float
    interpolation (engines disagree by an ulp at 1e11 magnitudes), so
    the report is bit-stable."""
    return analytics.interarrival_quantiles(T(spark, sf_dir, "events"))


_CORR_SQL = """
WITH counts AS (SELECT CAST(ts AS DATE) AS d, event_type, COUNT(*) AS c
                FROM events GROUP BY 1, 2),
 buckets AS (SELECT DISTINCT d FROM counts),
 series AS (SELECT DISTINCT event_type FROM counts),
 grid AS (SELECT d, event_type FROM buckets, series),
 full_g AS (SELECT g.d, g.event_type, COALESCE(c.c, 0) AS c
            FROM grid g LEFT JOIN counts c
              ON g.d = c.d AND g.event_type = c.event_type),
 pairs AS (SELECT a.event_type AS series_a, b.event_type AS series_b,
                  a.c AS x, b.c AS y
           FROM full_g a JOIN full_g b
             ON a.d = b.d AND a.event_type < b.event_type),
 suff AS (SELECT series_a, series_b, COUNT(*) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                 SUM(CAST(x AS HUGEINT) * y) AS sxy,
                 SUM(CAST(x AS HUGEINT) * x) AS sxx,
                 SUM(CAST(y AS HUGEINT) * y) AS syy
          FROM pairs GROUP BY 1, 2)
SELECT series_a, series_b, n,
  CASE WHEN sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
            * sqrt(CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)) > 0
    THEN CAST(floor(CAST(1000000 AS DOUBLE)
         * (CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
            / (sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
               * sqrt(CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))))
         + 0.5) AS BIGINT)
  END AS r_micro
FROM suff
"""


@query("a_corr_matrix", _CORR_SQL)
def a_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation between per-type daily activity
    series (stats.corr_matrix): zero-completed (bucket × series)
    grid, bucket-keyed pair self-join bounded by |series|² per
    bucket, exact decimal sufficient statistics, one deterministic
    double expression with correctly-rounded sqrts."""
    ev = T(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("d"), "event_type"
    )
    return stats.corr_matrix(ev, "d", "event_type")


_WINSOR_SQL = """
WITH th AS (SELECT event_type,
                   round(quantile_cont(value, 0.05), 6) AS lo,
                   round(quantile_cont(value, 0.95), 6) AS hi
            FROM events GROUP BY 1)
SELECT event_id, e.event_type, value,
       CASE WHEN value < lo THEN lo
            WHEN value > hi THEN hi
            ELSE value END AS value_winsorized
FROM events e JOIN th USING (event_type)
"""


@query("a_winsorize", _WINSOR_SQL)
def a_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type p05/p95 winsorization of value (analytics.winsorize):
    one group-keyed quantile aggregate broadcast back, clamp in a
    narrow projection — thresholds rounded BEFORE clamping so both
    engines clip against the identical boundary."""
    return analytics.winsorize(
        T(spark, sf_dir, "events"),
        ["event_type"],
        "value",
        ["event_id"],
        lo_q=0.05,
        hi_q=0.95,
    )


_CHANGEPOINT_SQL = """
WITH counts AS (SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS x
                FROM events GROUP BY 1, 2),
 cum AS (SELECT event_type, d,
                SUM(x) OVER (PARTITION BY event_type ORDER BY d
                             ROWS UNBOUNDED PRECEDING) AS cx,
                ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS k
         FROM counts),
 tot AS (SELECT event_type, CAST(SUM(x) AS BIGINT) AS s, COUNT(*) AS m
         FROM counts GROUP BY 1),
 sc AS (SELECT c.event_type, d, k,
               abs(CAST(m AS HUGEINT) * cx - CAST(k AS HUGEINT) * s) AS a
        FROM cum c JOIN tot t ON c.event_type = t.event_type),
 r AS (SELECT event_type, d, a,
              ROW_NUMBER() OVER (PARTITION BY event_type
                                 ORDER BY a DESC, k) AS rn,
              COUNT(*) OVER (PARTITION BY event_type) AS n_buckets
       FROM sc)
SELECT event_type, d AS change_bucket, CAST(a AS BIGINT) AS peak_dev_scaled,
       n_buckets
FROM r WHERE rn = 1
"""


@query("events_changepoint", _CHANGEPOINT_SQL)
def events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint per event type over daily counts
    (stats.cusum_changepoint): exactly-integer m·Σx − k·S deviation
    on the bounded bucket grain, argmax via one max_by(struct) pass
    — the when-did-this-feed-change monitor."""
    ev = T(spark, sf_dir, "events").select(
        "event_type", F.col("ts").cast("date").alias("d")
    )
    return stats.cusum_changepoint(ev, "d", "event_type")


_ANN_AGREE_SQL = _EMB_CTE + """
, exq AS (SELECT * FROM e WHERE vec_id < 10)
, exs AS (SELECT exq.vec_id AS query_id, c.vec_id AS neighbor_id,
                 list_cosine_similarity(exq.v, c.v) AS cos
          FROM exq, e c WHERE c.vec_id <> exq.vec_id)
, exr AS (SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rnk
          FROM exs)
, ex AS (SELECT query_id, neighbor_id FROM exr WHERE rnk <= 5)
, cent AS (SELECT * FROM e WHERE vec_id < 4)
, s0 AS (SELECT e.vec_id, cent.vec_id AS centroid_id,
                list_cosine_similarity(e.v, cent.v) AS cos
         FROM e, cent)
, r0 AS (SELECT vec_id, centroid_id,
                ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY cos DESC, centroid_id) AS rn
         FROM s0)
, assign AS (SELECT vec_id, centroid_id FROM r0 WHERE rn = 1)
, ivq AS (SELECT a.vec_id, a.centroid_id, e.v
          FROM assign a JOIN e USING (vec_id) WHERE a.vec_id < 10)
, ivc AS (SELECT a.vec_id, a.centroid_id, e.v
          FROM assign a JOIN e USING (vec_id))
, ivs AS (SELECT ivq.vec_id AS query_id, ivc.vec_id AS neighbor_id,
                 list_cosine_similarity(ivq.v, ivc.v) AS cos
          FROM ivq JOIN ivc ON ivq.centroid_id = ivc.centroid_id
                           AND ivc.vec_id <> ivq.vec_id)
, ivr AS (SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rnk
          FROM ivs)
, iv AS (SELECT query_id, neighbor_id FROM ivr WHERE rnk <= 5)
SELECT ex.query_id,
       CAST(SUM(CASE WHEN iv.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_overlap,
       round(CAST(SUM(CASE WHEN iv.neighbor_id IS NOT NULL
                      THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(5 AS DOUBLE), 6) AS agreement_at_k
FROM ex LEFT JOIN iv
  ON ex.query_id = iv.query_id AND ex.neighbor_id = iv.neighbor_id
GROUP BY 1
"""


@query("eval_ann_agreement", _ANN_AGREE_SQL)
def eval_ann_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query top-5 agreement between the exact brute ranking and
    the IVF-bucketed ANN (evaluation.topk_agreement over
    similarity.cosine_topk vs similarity.ivf_topk) — the measured
    recall report that justifies shipping the approximate index at
    scale. Joins only (queries × k)-sized tables."""
    e = T(spark, sf_dir, "embeddings")
    queries_df = e.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(e, queries_df, k=5)
    assign = pin_iteration(similarity.ivf_assign(e, e.filter(F.col("vec_id") < 4)))
    ivf = similarity.ivf_topk(e, assign, queries_df, k=5)
    return evaluation.topk_agreement(
        exact, ivf, "query_id", "neighbor_id", k=5
    )


_NEW_RETURNING_SQL = """
WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS fd
           FROM events GROUP BY 1),
 daily AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events)
SELECT day, COUNT(*) AS n_active,
       CAST(SUM(CASE WHEN day = fd THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(COUNT(*) - SUM(CASE WHEN day = fd THEN 1 ELSE 0 END)
            AS BIGINT) AS n_returning
FROM daily JOIN f USING (user_id) GROUP BY 1
"""


@query("events_new_returning", _NEW_RETURNING_SQL)
def events_new_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning active users (analytics.new_returning):
    per-user first-day aggregate + per-day distinct actives + one
    user-keyed join — the acquisition/retention split, exact
    integers throughout."""
    return analytics.new_returning(T(spark, sf_dir, "events"))


_WEEKDAY_SQL = """
WITH cal AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
 dd AS (SELECT isodow(day) AS dow, COUNT(*) AS days_with_dow
        FROM cal GROUP BY 1),
 bd AS (SELECT event_type, isodow(CAST(ts AS DATE)) AS dow,
               COUNT(*) AS n_events
        FROM events GROUP BY 1, 2),
 tt AS (SELECT event_type, COUNT(*) AS nt FROM events GROUP BY 1),
 nd AS (SELECT COUNT(*) AS d FROM cal)
SELECT event_type, dow, n_events, days_with_dow,
  CAST(floor(CAST(1000000 AS DOUBLE)
       * ((CAST(n_events AS DOUBLE) * CAST(d AS DOUBLE))
          / (CAST(days_with_dow AS DOUBLE) * CAST(nt AS DOUBLE)))
       + 0.5) AS BIGINT) AS index_micro
FROM bd JOIN dd USING (dow) JOIN tt USING (event_type), nd
"""


@query("events_weekday_profile", _WEEKDAY_SQL)
def events_weekday_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type ISO-weekday seasonality index
    (analytics.weekday_profile): per-occurring-day rate over the
    type's overall daily rate, calendar-weighted by the observed
    distinct-day calendar (a span ending mid-week has more Mondays
    than Sundays) — exact integer counts, one deterministic double
    expression."""
    return analytics.weekday_profile(T(spark, sf_dir, "events"))


_PCA_SQL = """
WITH x AS (SELECT unnest(range(1, len(embedding) + 1)) AS dim,
                  CAST(unnest(embedding) AS DOUBLE) AS val
           FROM embeddings)
SELECT CAST(dim AS INTEGER) AS dim, COUNT(*) AS n,
       CAST(SUM(m * m) AS BIGINT) AS sumsq_micro,
       TRUE AS converged_ok
FROM (SELECT dim, CAST(floor(val * CAST(1000000 AS DOUBLE)) AS BIGINT)
             AS m FROM x)
GROUP BY dim
"""


@query("sim_pca_power", _PCA_SQL)
def sim_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding matrix by distributed
    power iteration (stats.pca_top_component): two corpus passes per
    iteration built from array HOFs + a dim-keyed aggregate, O(dim)
    driver traffic per round, plan rebuilt from literals each round so
    lineage stays flat. Pinned against numpy eigendecomposition in
    pytest. The eigenvector itself is engine-specific in the last
    ulps, so the ORACLE-STABLE surface is per-dim exact micro-scaled
    second moments (the variance mass PCA decomposes — DuckDB
    recomputes them bit-identically; int64 is safe to ~1e6 micro² ×
    ~1e6 rows, scale the factor down past that) plus a convergence
    boolean from the iteration's own diagnostics: successive-iterate
    alignment ≥ 0.98 and relative eigenvalue delta ≤ 0.08 (measured
    deterministic 0.992–0.997 / 0.012–0.040 across the three SFs at
    iters=6). A diverging or sign-flipping iteration flips the
    boolean and hash-mismatches the oracle's TRUE."""
    e = T(spark, sf_dir, "embeddings")
    conv = (
        stats.pca_top_component(
            e, "embedding", iters=6, with_convergence=True
        )
        .limit(1)
        .collect()
    )
    ok = bool(
        conv
        and conv[0]["v_align"] >= 0.98
        and conv[0]["eig_rel_delta"] <= 0.08
    )
    micro = F.floor(F.col("val") * F.lit(1000000.0)).cast("long")
    return (
        e.select(F.posexplode(similarity.as_double(F.col("embedding")))
                 .alias("pos", "val"))
        .select((F.col("pos") + 1).cast("int").alias("dim"),
                micro.alias("m"))
        .groupBy("dim")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("m") * F.col("m")).alias("sumsq_micro"),
        )
        .withColumn("converged_ok", F.lit(ok))
    )


_LTV_SQL = """
WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort
           FROM events GROUP BY 1),
 sz AS (SELECT cohort, COUNT(*) AS cohort_size FROM f GROUP BY 1),
 j AS (SELECT e.user_id, CAST(e.ts AS DATE) AS day, e.event_type,
              e.value, f.cohort
       FROM events e JOIN f USING (user_id)),
 pa AS (SELECT cohort, date_diff('day', cohort, day) AS age,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(floor(value * 10000 + 0.5) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS revenue_scaled
       FROM j GROUP BY 1, 2),
 cum AS (SELECT cohort, age, n_purchases, revenue_scaled,
                CAST(SUM(revenue_scaled) OVER (
                    PARTITION BY cohort ORDER BY age
                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS cum_revenue_scaled
         FROM pa)
SELECT cum.cohort, age, n_purchases, revenue_scaled, cum_revenue_scaled,
       cohort_size,
       CAST(floor(CAST(cum_revenue_scaled AS DOUBLE)
                  / CAST(cohort_size AS DOUBLE) + 0.5) AS BIGINT)
         AS ltv_per_user_scaled
FROM cum JOIN sz USING (cohort)
"""


@query("events_cohort_ltv", _LTV_SQL)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve (analytics.cohort_ltv): first-day cohorts,
    per-(cohort, age) exact fixed-point purchase revenue, running
    cohort cumulative on a span-bounded keyed window, broadcast
    cohort sizes, deterministic per-user average."""
    return analytics.cohort_ltv(T(spark, sf_dir, "events"))


_SESSHIST_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS seq
  FROM flagged),
 s AS (SELECT user_id, seq,
              (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS dur_s
       FROM sess GROUP BY 1, 2)
SELECT length(bin(dur_s)) AS bucket, COUNT(*) AS n_sessions,
       MIN(dur_s) AS min_s, MAX(dur_s) AS max_s
FROM s GROUP BY 1
"""


@query("events_session_duration_hist", _SESSHIST_SQL)
def events_session_duration_hist(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Log2-bucketed session-duration histogram
    (analytics.session_duration_hist over analytics.sessionize):
    power-of-two second buckets via length(bin(s)) — integer/string
    built-ins only, no transcendental log — the report for tuning
    session gaps and streaming state timeouts."""
    return analytics.session_duration_hist(
        T(spark, sf_dir, "events"), gap_us=3_600_000_000
    )


_PIT_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN LAG(event_type) OVER w IS NULL
                   OR LAG(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
 numbered AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS run_id
  FROM flagged),
 runs AS (
  SELECT user_id, CAST(run_id AS INT) AS version, MIN(event_type) AS state,
         MIN(ts) AS valid_from
  FROM numbered GROUP BY user_id, run_id),
 p AS (SELECT event_id, user_id, ts FROM events
       WHERE event_type = 'purchase'),
 j AS (SELECT p.event_id, p.user_id, p.ts, r.state, r.version,
              ROW_NUMBER() OVER (PARTITION BY p.event_id
                                 ORDER BY r.valid_from DESC, r.version DESC)
                AS rn
       FROM p LEFT JOIN runs r
         ON p.user_id = r.user_id AND r.valid_from < p.ts)
SELECT event_id, user_id, ts, state AS pit_state, version AS pit_version
FROM j WHERE rn = 1 OR rn IS NULL
"""


@query("j_pit_scd2", _PIT_SQL)
def j_pit_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment of purchases against the SCD2 run
    history (temporal.asof_join over analytics.scd2_history with
    inclusive=False): the state each user was in STRICTLY BEFORE the
    purchase — the fact-to-slowly-changing-dimension join every
    warehouse pipeline runs, as one sort-carry pass, never a range
    cross product. First-run purchases keep NULL state."""
    ev = T(spark, sf_dir, "events")
    hist = analytics.scd2_history(ev).select(
        "user_id", "version", "state", "valid_from"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = temporal.asof_join(
        purchases,
        hist.select(
            "user_id",
            F.col("valid_from").alias("vf"),
            "state",
            "version",
        ),
        on="user_id",
        left_time="ts",
        right_time="vf",
        right_prefix="pit_",
        inclusive=False,
        right_tiebreak=["version"],
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "pit_state",
        F.col("pit_version").cast("int").alias("pit_version"),
    )


_PATHS_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, event_id, ts, event_type,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS seq
  FROM flagged),
 ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, seq
                               ORDER BY ts, event_id) AS rn
  FROM sess),
 paths AS (
  SELECT user_id, seq,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM ranked WHERE rn <= 5 GROUP BY user_id, seq),
 c AS (SELECT path, COUNT(*) AS n_sessions FROM paths GROUP BY 1)
SELECT path, n_sessions FROM c ORDER BY n_sessions DESC, path LIMIT 20
"""


@query("events_path_analysis", _PATHS_SQL)
def events_path_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session-opening journeys (analytics.session_paths):
    first five event types per 1-hour-gap session joined into a
    'a>b>c' path, counted corpus-wide — rank-filter BEFORE the
    per-session collect bounds task memory; the top-k is a
    TakeOrderedAndProject heap with deterministic tie-break."""
    return analytics.session_paths(
        T(spark, sf_dir, "events"),
        gap_us=3_600_000_000,
        max_steps=5,
        k=20,
    )


_WRITEPLAN_SQL = """
WITH a AS (SELECT COUNT(*) AS n_rows,
       CAST(0 + SUM(CAST(strlen(text) AS BIGINT))
              + SUM(CAST(strlen(lang) AS BIGINT))
              + SUM(CAST(strlen(source) AS BIGINT))
              + COUNT(*) * 16 AS BIGINT) AS raw_bytes
       FROM documents),
 b AS (SELECT n_rows, raw_bytes,
              raw_bytes * 100 // 300 AS est_bytes,
              CAST(134217728 AS BIGINT) AS target_file_bytes,
              greatest(CAST(1 AS BIGINT),
                       (raw_bytes * 100 // 300 + 134217728 - 1)
                         // 134217728) AS n_files
       FROM a)
SELECT n_rows, raw_bytes, est_bytes, target_file_bytes, n_files,
       (n_rows + n_files - 1) // n_files AS rows_per_file
FROM b
"""


@query("o_write_plan", _WRITEPLAN_SQL)
def o_write_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-layout plan for the documents table
    (maintenance.write_plan): exact octet_length byte accounting →
    target-sized file count and rows-per-file, integer arithmetic
    end-to-end — the small-files guard run before every large write;
    compact_parquet applies it."""
    from razulibs_spark.operators import maintenance

    return maintenance.write_plan(
        T(spark, sf_dir, "documents"),
        ["text", "lang", "source"],
        fixed_bytes_per_row=16,
    )


_SCURVE_SQL = """
WITH g AS (SELECT i, CAST(i AS DOUBLE) / CAST(20 AS DOUBLE) AS s
           FROM generate_series(1, 19) t(i)),
 c1 AS (SELECT 4 AS bands, 3 AS rows_per_band, s,
               CAST(1 AS DOUBLE) - s * s * s AS q FROM g),
 p1 AS (SELECT bands, rows_per_band, s,
               CAST(1 AS DOUBLE) - q * q * q * q AS p FROM c1),
 c2 AS (SELECT 6 AS bands, 2 AS rows_per_band, s,
               CAST(1 AS DOUBLE) - s * s AS q FROM g),
 p2 AS (SELECT bands, rows_per_band, s,
               CAST(1 AS DOUBLE) - q * q * q * q * q * q AS p FROM c2),
 c3 AS (SELECT 8 AS bands, 4 AS rows_per_band, s,
               CAST(1 AS DOUBLE) - s * s * s * s AS q FROM g),
 p3 AS (SELECT bands, rows_per_band, s,
               CAST(1 AS DOUBLE) - q * q * q * q * q * q * q * q AS p
        FROM c3),
 u AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2
       UNION ALL SELECT * FROM p3)
SELECT bands, rows_per_band,
       CAST(floor(CAST(1000000 AS DOUBLE) * s + 0.5) AS BIGINT) AS s_micro,
       CAST(floor(CAST(1000000 AS DOUBLE) * p + 0.5) AS BIGINT)
         AS p_candidate_micro
FROM u
"""


@query("dedup_lsh_tuning", _SCURVE_SQL)
def dedup_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-MinHash S-curve tuning table (dedup.lsh_s_curve): the
    candidate probability 1-(1-s^r)^b over a Jaccard grid for three
    (bands, rows) configurations — powers expanded by repeated
    multiplication (pow() with float exponents is not cross-engine
    stable), pure literal fan-out, output bounded by configs × grid.
    The parameter-planning step before a corpus-scale LSH dedup."""
    return dedup.lsh_s_curve(
        spark, configs=((4, 3), (6, 2), (8, 4)), grid_steps=19
    )


_CLUSTER_SIZES_SQL = """
WITH c AS (SELECT md5(text) AS h, COUNT(*) AS cluster_size
           FROM documents GROUP BY 1)
SELECT cluster_size, COUNT(*) AS n_clusters,
       CAST((cluster_size - 1) * COUNT(*) AS BIGINT) AS rows_removed
FROM c GROUP BY 1
"""


@query("dedup_cluster_sizes", _CLUSTER_SIZES_SQL)
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate cluster-size histogram
    (dedup.cluster_size_histogram): two map-side-combinable counts;
    rows_removed is the exact row reduction a dedup pass would
    deliver — the shape report published alongside dedup_exact."""
    return dedup.cluster_size_histogram(T(spark, sf_dir, "documents"))


_CENTROID_SHIFT_SQL = """
WITH r AS (SELECT label,
                  unnest(range(1, len(embedding) + 1)) AS pos,
                  CAST(unnest(embedding) AS DOUBLE) AS val
           FROM embeddings
           WHERE label IN (0, 1) AND embedding IS NOT NULL),
 sums AS (SELECT label, pos, COUNT(*) AS n,
                 CAST(SUM(CAST(floor(val * CAST(1000000 AS DOUBLE))
                          AS BIGINT)) AS BIGINT) AS s_micro
          FROM r GROUP BY 1, 2),
 a AS (SELECT pos, CAST(s_micro AS DOUBLE)
                   / (CAST(1000000 AS DOUBLE) * CAST(n AS DOUBLE)) AS ma
       FROM sums WHERE label = 0),
 b AS (SELECT pos, CAST(s_micro AS DOUBLE)
                   / (CAST(1000000 AS DOUBLE) * CAST(n AS DOUBLE)) AS mb
       FROM sums WHERE label = 1),
 d AS (SELECT CAST(floor((ma - mb) * (ma - mb) * 1e12) AS BIGINT)
                AS sq_pico
       FROM a JOIN b USING (pos))
SELECT CAST(SUM(sq_pico) AS BIGINT) AS ss_pico,
       CAST(floor(CAST(1000000 AS DOUBLE)
                  * sqrt(CAST(SUM(sq_pico) AS DOUBLE)
                         / CAST(1e12 AS DOUBLE)) + 0.5) AS BIGINT)
         AS shift_micro
FROM d
"""


@query("sim_centroid_shift", _CENTROID_SHIFT_SQL)
def sim_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift between label-0 and label-1 cohorts
    (stats.centroid_shift): L2 distance between mean vectors from
    exact micro-scaled per-dimension integer sums — the embedding
    twin of stats_ks_drift; squared deltas floored to pico BIGINTs
    before the reduce so the scalar is order-independent."""
    e = T(spark, sf_dir, "embeddings").select(
        F.col("label").cast("string").alias("grp"), "embedding"
    )
    return stats.centroid_shift(e, "embedding", "grp", "0", "1")


_PEAK_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS seq
  FROM flagged),
 s AS (SELECT user_id, seq, MIN(ts) AS session_start, MAX(ts) AS session_end
       FROM sess GROUP BY 1, 2),
 pts AS (SELECT session_start AS t, 1 AS delta, user_id, seq FROM s
         UNION ALL
         SELECT session_end AS t, -1 AS delta, user_id, seq FROM s
         UNION ALL
         -- zero-delta probes at each midnight strictly inside the
         -- session, so days fully spanned by a session stay exact
         SELECT CAST(m.d AS TIMESTAMP) AS t, 0 AS delta, user_id, seq
         FROM s, unnest(range(CAST(session_start AS DATE) + 1,
                              CAST(session_end AS DATE) + 1,
                              INTERVAL 1 DAY)) m(d)
         WHERE CAST(session_end AS DATE) > CAST(session_start AS DATE)),
 cum AS (SELECT t, SUM(delta) OVER (ORDER BY t, delta, user_id, seq
                                    ROWS UNBOUNDED PRECEDING) AS level
         FROM pts)
SELECT CAST(t AS DATE) AS day, CAST(MAX(level) AS BIGINT) AS peak_concurrent
FROM cum GROUP BY 1
"""


@query("events_peak_concurrency", _PEAK_SQL)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent 1-hour-gap sessions per day
    (analytics.peak_concurrency): sweep-line +1/-1 boundary points,
    global running sum via the two-tier range_cumsum (no
    single-partition window), daily max — the capacity-planning
    report."""
    return analytics.peak_concurrency(
        T(spark, sf_dir, "events"), gap_us=3_600_000_000
    )


_MM_DECODE_SQL = """
WITH d AS (SELECT doc_id, CAST(doc_id % 4 AS INT) AS kind FROM documents),
bmp AS (SELECT doc_id, 8 + doc_id % 17 AS w, 6 + doc_id % 11 AS h
        FROM d WHERE kind = 0),
bmp_px AS (
  SELECT b.doc_id, b.w, b.h,
         (b.doc_id + 7 * xx.x) % 256 AS r,
         (3 * yy.y + b.doc_id // 5) % 256 AS g,
         xor(b.doc_id, xx.x * yy.y + 1) % 256 AS bb
  FROM bmp b, unnest(range(0, b.w)) xx(x), unnest(range(0, b.h)) yy(y)),
bmp_out AS (
  SELECT doc_id, 'image/bmp' AS media_format, TRUE AS decoded,
         CAST(MAX(w) AS BIGINT) AS width, CAST(MAX(h) AS BIGINT) AS height,
         AVG(CAST(r AS DOUBLE)) AS mean_r, AVG(CAST(g AS DOUBLE)) AS mean_g,
         AVG(CAST(bb AS DOUBLE)) AS mean_b,
         CAST(NULL AS BIGINT) AS sample_rate,
         CAST(NULL AS BIGINT) AS n_channels,
         CAST(NULL AS BIGINT) AS n_samples,
         CAST(NULL AS DOUBLE) AS peak, CAST(NULL AS DOUBLE) AS rms,
         CAST(NULL AS VARCHAR) AS note
  FROM bmp_px GROUP BY doc_id),
ppm AS (SELECT doc_id, 5 + doc_id % 13 AS w, 4 + doc_id % 7 AS h
        FROM d WHERE kind = 1),
ppm_px AS (
  SELECT p.doc_id, p.w, p.h,
         (p.doc_id * 3 + xx.x) % 256 AS r,
         (p.doc_id + xx.x * yy.y) % 256 AS g,
         (5 * yy.y + p.doc_id // 3) % 256 AS bb
  FROM ppm p, unnest(range(0, p.w)) xx(x), unnest(range(0, p.h)) yy(y)),
ppm_out AS (
  SELECT doc_id, 'image/x-portable-pixmap' AS media_format, TRUE AS decoded,
         CAST(MAX(w) AS BIGINT) AS width, CAST(MAX(h) AS BIGINT) AS height,
         AVG(CAST(r AS DOUBLE)) AS mean_r, AVG(CAST(g AS DOUBLE)) AS mean_g,
         AVG(CAST(bb AS DOUBLE)) AS mean_b,
         CAST(NULL AS BIGINT) AS sample_rate,
         CAST(NULL AS BIGINT) AS n_channels,
         CAST(NULL AS BIGINT) AS n_samples,
         CAST(NULL AS DOUBLE) AS peak, CAST(NULL AS DOUBLE) AS rms,
         CAST(NULL AS VARCHAR) AS note
  FROM ppm_px GROUP BY doc_id),
wav AS (SELECT doc_id, 8000 + (doc_id % 3) * 4000 AS sr,
               64 + doc_id % 193 AS n, 8 + doc_id % 23 AS p
        FROM d WHERE kind = 2),
wav_s AS (
  SELECT w.doc_id, w.sr, w.n, (ii.i % w.p) * 2000 - w.p * 1000 AS s
  FROM wav w, unnest(range(0, w.n)) ii(i)),
wav_out AS (
  SELECT doc_id, 'audio/wav' AS media_format, TRUE AS decoded,
         CAST(NULL AS BIGINT) AS width, CAST(NULL AS BIGINT) AS height,
         CAST(NULL AS DOUBLE) AS mean_r, CAST(NULL AS DOUBLE) AS mean_g,
         CAST(NULL AS DOUBLE) AS mean_b,
         CAST(MAX(sr) AS BIGINT) AS sample_rate,
         CAST(1 AS BIGINT) AS n_channels,
         CAST(MAX(n) AS BIGINT) AS n_samples,
         MAX(ABS(CAST(s AS DOUBLE))) AS peak,
         sqrt(AVG(CAST(s AS DOUBLE) * CAST(s AS DOUBLE))) AS rms,
         CAST(NULL AS VARCHAR) AS note
  FROM wav_s GROUP BY doc_id),
png AS (SELECT doc_id, 4 + doc_id % 9 AS w, 3 + doc_id % 5 AS h
        FROM d WHERE kind = 3 AND (doc_id // 4) % 2 = 0),
png_px AS (
  SELECT p.doc_id, p.w, p.h,
         (p.doc_id * 7 + xx.x) % 256 AS r,
         (p.doc_id + 5 * yy.y) % 256 AS g,
         (xx.x * yy.y + p.doc_id // 7) % 256 AS bb
  FROM png p, unnest(range(0, p.w)) xx(x), unnest(range(0, p.h)) yy(y)),
png_out AS (
  SELECT doc_id, 'image/png' AS media_format, TRUE AS decoded,
         CAST(MAX(w) AS BIGINT) AS width, CAST(MAX(h) AS BIGINT) AS height,
         AVG(CAST(r AS DOUBLE)) AS mean_r, AVG(CAST(g AS DOUBLE)) AS mean_g,
         AVG(CAST(bb AS DOUBLE)) AS mean_b,
         CAST(NULL AS BIGINT) AS sample_rate,
         CAST(NULL AS BIGINT) AS n_channels,
         CAST(NULL AS BIGINT) AS n_samples,
         CAST(NULL AS DOUBLE) AS peak, CAST(NULL AS DOUBLE) AS rms,
         CAST(NULL AS VARCHAR) AS note
  FROM png_px GROUP BY doc_id),
jpg AS (SELECT doc_id, 1 + doc_id % 3 AS tw, 1 + (doc_id // 3) % 2 AS th
        FROM d WHERE kind = 3 AND (doc_id // 4) % 2 = 1
                 AND (doc_id // 8) % 4 <> 3),
jpg_tiles AS (
  SELECT j.doc_id, j.tw, j.th,
         (5 * j.doc_id + 11 * xx.tx + 23 * yy.ty) % 256 AS g
  FROM jpg j, unnest(range(0, j.tw)) xx(tx), unnest(range(0, j.th)) yy(ty)),
jpeg_out AS (
  SELECT doc_id, 'image/jpeg' AS media_format, TRUE AS decoded,
         CAST(8 * MAX(tw) AS BIGINT) AS width,
         CAST(8 * MAX(th) AS BIGINT) AS height,
         AVG(CAST(g AS DOUBLE)) AS mean_r, AVG(CAST(g AS DOUBLE)) AS mean_g,
         AVG(CAST(g AS DOUBLE)) AS mean_b,
         CAST(NULL AS BIGINT) AS sample_rate,
         CAST(NULL AS BIGINT) AS n_channels,
         CAST(NULL AS BIGINT) AS n_samples,
         CAST(NULL AS DOUBLE) AS peak, CAST(NULL AS DOUBLE) AS rms,
         CAST(NULL AS VARCHAR) AS note
  FROM jpg_tiles GROUP BY doc_id),
jpeg_poison AS (
  SELECT doc_id, 'image/jpeg' AS media_format, FALSE AS decoded,
         CAST(NULL AS BIGINT) AS width, CAST(NULL AS BIGINT) AS height,
         CAST(NULL AS DOUBLE) AS mean_r, CAST(NULL AS DOUBLE) AS mean_g,
         CAST(NULL AS DOUBLE) AS mean_b,
         CAST(NULL AS BIGINT) AS sample_rate,
         CAST(NULL AS BIGINT) AS n_channels,
         CAST(NULL AS BIGINT) AS n_samples,
         CAST(NULL AS DOUBLE) AS peak, CAST(NULL AS DOUBLE) AS rms,
         'decode failed: no SOF0 frame header' AS note
  FROM d WHERE kind = 3 AND (doc_id // 4) % 2 = 1
           AND (doc_id // 8) % 4 = 3)
SELECT * FROM bmp_out UNION ALL SELECT * FROM ppm_out
UNION ALL SELECT * FROM wav_out UNION ALL SELECT * FROM png_out
UNION ALL SELECT * FROM jpeg_out UNION ALL SELECT * FROM jpeg_poison
"""


@query("multimodal_decode", _MM_DECODE_SQL)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode (multimodal.decode_media): deterministic BMP /
    P6-PPM / 16-bit-PCM-WAV / filtered-PNG / baseline-JPEG payloads
    are synthesized byte-for-byte from doc_id
    (multimodal.synthesize_decodable_media), then parsed back by the
    numpy/stdlib decoders — header walk + pixel/sample stats; for PNG
    a zlib inflate + five-filter unfilter; for JPEG a full Huffman
    entropy decode + IDCT (operators/jpeg.py) — in one split-aware
    Arrow pass. JPEG tiles are flat 8×8 blocks, which survive the
    DCT roundtrip bit-exactly (DC-only, all-ones quant), so the
    oracle recomputes their means from the same integer tile formula;
    every 4th JPEG slot is a deterministic poison payload whose
    decoded=false note the oracle pins literally — the
    a-poison-row-never-kills-the-job posture is itself hash-verified.
    All aggregates are exact integer sums (< 2^53) divided once,
    making the doubles bit-identical across engines."""
    from razulibs_spark.operators.multimodal import (
        decode_media,
        synthesize_decodable_media,
    )

    docs = T(spark, sf_dir, "documents")
    return decode_media(synthesize_decodable_media(docs))


_MM_VIDEO_SQL = """
WITH v AS (SELECT doc_id, 2 + doc_id % 5 AS nf, 1 + doc_id % 3 AS tw,
                  1 + (doc_id // 3) % 2 AS th
           FROM documents),
fr AS (SELECT v.doc_id, v.nf, v.tw, v.th, ff.f AS frame_idx
       FROM v, unnest(range(0, v.nf)) ff(f)
       WHERE ff.f % 2 = 0),
ok AS (SELECT * FROM fr WHERE NOT (doc_id % 9 = 4 AND frame_idx = 0)),
tiles AS (
  SELECT o.doc_id, o.frame_idx, o.nf, o.tw, o.th,
         (5 * o.doc_id + 11 * xx.tx + 23 * yy.ty + 37 * o.frame_idx) % 256 AS g
  FROM ok o, unnest(range(0, o.tw)) xx(tx), unnest(range(0, o.th)) yy(ty)),
ok_out AS (
  SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
         CAST(MAX(nf) AS BIGINT) AS n_frames, TRUE AS decoded,
         CAST(8 * MAX(tw) AS BIGINT) AS width,
         CAST(8 * MAX(th) AS BIGINT) AS height,
         AVG(CAST(g AS DOUBLE)) AS mean_luma,
         CAST(NULL AS VARCHAR) AS note
  FROM tiles GROUP BY doc_id, frame_idx),
poison_out AS (
  SELECT doc_id, CAST(0 AS BIGINT) AS frame_idx,
         CAST(nf AS BIGINT) AS n_frames, FALSE AS decoded,
         CAST(NULL AS BIGINT) AS width, CAST(NULL AS BIGINT) AS height,
         CAST(NULL AS DOUBLE) AS mean_luma,
         'decode failed: no SOF0 frame header' AS note
  FROM v WHERE doc_id % 9 = 4)
SELECT * FROM ok_out UNION ALL SELECT * FROM poison_out
"""


@query("multimodal_video_frames", _MM_VIDEO_SQL)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling (operators/video.py): deterministic
    AVI/MJPEG containers are synthesized byte-for-byte from doc_id —
    a spec-shaped RIFF with avih/strh/strf headers, word-padded 00dc
    chunks, and an idx1 index — then walked back by the strict
    stdlib chunk parser; every 2nd frame is decoded by the
    first-principles baseline-JPEG decoder (operators/jpeg.py:
    Huffman entropy decode + IDCT). Frames are flat 8×8-tile
    grayscale JPEGs, bit-exact through the DCT roundtrip (DC-only
    blocks, all-ones quant tables), so the oracle recomputes each
    sampled frame's mean luma from the same integer tile formula.
    Docs with doc_id % 9 == 4 carry a poison frame 0 (SOI+EOI)
    inside a valid container — the per-frame resilience row
    (decoded=false, pinned note) is itself hash-verified. Replaces
    the reference's shell-out-to-tooling preview path with a
    distributed Arrow stage (no driver loop, no native library)."""
    from razulibs_spark.operators.video import (
        sample_video_frames,
        synthesize_video_media,
    )

    docs = T(spark, sf_dir, "documents")
    return sample_video_frames(synthesize_video_media(docs), every=2)


_MM_MP4_SQL = """
WITH d AS (SELECT doc_id, 1 + doc_id % 9 AS sec,
                  CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END
                    AS brand,
                  1 + doc_id % 2 AS n_tracks,
                  (['und', 'eng', 'nld'])[1 + doc_id % 3] AS lang,
                  1 + doc_id % 3 AS m
           FROM documents WHERE doc_id % 13 <> 7),
vid AS (SELECT doc_id, TRUE AS parsed, brand,
               CAST(n_tracks AS BIGINT) AS n_tracks,
               CAST(1 AS BIGINT) AS track_id, 'vide' AS handler, lang,
               CAST(16 * (1 + doc_id % 4) AS BIGINT) AS width,
               CAST(16 * (1 + (doc_id // 2) % 3) AS BIGINT) AS height,
               CAST(1000 * m AS BIGINT) AS timescale,
               CAST(1000 * m * sec AS BIGINT) AS duration_units,
               CAST(sec AS DOUBLE) AS duration_s,
               CAST(NULL AS VARCHAR) AS note
        FROM d),
aud AS (SELECT doc_id, TRUE AS parsed, brand,
               CAST(n_tracks AS BIGINT) AS n_tracks,
               CAST(2 AS BIGINT) AS track_id, 'soun' AS handler, lang,
               CAST(NULL AS BIGINT) AS width, CAST(NULL AS BIGINT) AS height,
               CAST(8000 * m AS BIGINT) AS timescale,
               CAST(8000 * m * sec AS BIGINT) AS duration_units,
               CAST(sec AS DOUBLE) AS duration_s,
               CAST(NULL AS VARCHAR) AS note
        FROM d WHERE doc_id % 2 = 1),
poison AS (SELECT doc_id, FALSE AS parsed, CAST(NULL AS VARCHAR) AS brand,
               CAST(NULL AS BIGINT) AS n_tracks,
               CAST(NULL AS BIGINT) AS track_id,
               CAST(NULL AS VARCHAR) AS handler,
               CAST(NULL AS VARCHAR) AS lang,
               CAST(NULL AS BIGINT) AS width, CAST(NULL AS BIGINT) AS height,
               CAST(NULL AS BIGINT) AS timescale,
               CAST(NULL AS BIGINT) AS duration_units,
               CAST(NULL AS DOUBLE) AS duration_s,
               'mp4 parse failed: mp4: box b''moov'' overruns its container'
                 AS note
           FROM documents WHERE doc_id % 13 = 7)
SELECT * FROM vid UNION ALL SELECT * FROM aud UNION ALL SELECT * FROM poison
"""


@query("multimodal_mp4_metadata", _MM_MP4_SQL)
def multimodal_mp4_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4/ISO BMFF container METADATA extraction (VERDICT r7 stretch:
    box structure, not codec decode — H.264/AAC sample decode is
    honestly out of scope, operators/mp4.py docstring). Deterministic
    box-exact skeletons (ftyp + moov/mvhd + per-track trak/tkhd/mdia/
    mdhd/hdlr + mdat) are synthesized from doc_id, then walked back by
    the strict first-principles box parser: duration per timescale
    layer, track inventory with handler/geometry/language, brand.
    Docs with doc_id % 13 == 7 carry a moov whose declared size
    overruns the file — the fail-closed row (parsed=false, pinned
    note) is itself hash-verified, proving truncation cannot yield
    half-parsed tracks. One narrow Arrow stage; rows ≤ 2 per doc."""
    from razulibs_spark.operators.mp4 import (
        extract_mp4_metadata,
        synthesize_mp4_media,
    )

    docs = T(spark, sf_dir, "documents")
    return extract_mp4_metadata(synthesize_mp4_media(docs))


_MM_TIFF_SQL = """
WITH ok AS (SELECT doc_id,
                   (4 + doc_id % 9)
                     * CASE WHEN doc_id % 11 = 3 THEN 3 ELSE 1 END AS w,
                   (3 + doc_id % 7)
                     * CASE WHEN doc_id % 11 = 3 THEN 3 ELSE 1 END AS h,
                   CASE WHEN doc_id % 13 = 6 THEN 257 ELSE 1 END AS sc
            FROM documents WHERE doc_id % 17 <> 9),
px AS (SELECT o.doc_id, o.w, o.h, o.sc, xx.x, yy.y
       FROM ok o, unnest(range(0, o.w)) xx(x),
            unnest(range(0, o.h)) yy(y)),
rgb_out AS (
  SELECT doc_id, TRUE AS decoded,
         CASE WHEN doc_id % 5 = 0 THEN 'MM' ELSE 'II' END AS byte_order,
         CASE WHEN doc_id % 3 = 0 THEN 'packbits'
              WHEN doc_id % 3 = 1 AND doc_id % 7 < 3 THEN 'lzw+pred'
              WHEN doc_id % 3 = 1 THEN 'lzw'
              ELSE 'none' END
           || CASE WHEN doc_id % 11 = 3 THEN '+tiled' ELSE '' END
           || CASE WHEN doc_id % 13 = 6 THEN '+16' ELSE '' END
           || CASE WHEN doc_id % 19 = 4
                   THEN '+planar' ELSE '' END
           AS compression,
         CAST(3 AS BIGINT) AS n_channels,
         CAST(MAX(w) AS BIGINT) AS width, CAST(MAX(h) AS BIGINT) AS height,
         AVG(CAST((doc_id + 3*x + 5*y) % 256 * sc AS DOUBLE)) AS mean_c1,
         AVG(CAST((2*doc_id + 7*x + y) % 256 * sc AS DOUBLE)) AS mean_c2,
         AVG(CAST((3*doc_id + x + 2*y) % 256 * sc AS DOUBLE)) AS mean_c3,
         CAST(NULL AS VARCHAR) AS note
  FROM px WHERE doc_id % 2 = 1 GROUP BY doc_id),
gray_out AS (
  SELECT doc_id, TRUE AS decoded,
         CASE WHEN doc_id % 5 = 0 THEN 'MM' ELSE 'II' END AS byte_order,
         CASE WHEN doc_id % 3 = 0 THEN 'packbits'
              WHEN doc_id % 3 = 1 AND doc_id % 7 < 3 THEN 'lzw+pred'
              WHEN doc_id % 3 = 1 THEN 'lzw'
              ELSE 'none' END
           || CASE WHEN doc_id % 11 = 3 THEN '+tiled' ELSE '' END
           || CASE WHEN doc_id % 13 = 6 THEN '+16' ELSE '' END
           AS compression,
         CAST(1 AS BIGINT) AS n_channels,
         CAST(MAX(w) AS BIGINT) AS width, CAST(MAX(h) AS BIGINT) AS height,
         AVG(CAST((5*doc_id + 3*x + 7*y) % 256 * sc AS DOUBLE)) AS mean_c1,
         CAST(NULL AS DOUBLE) AS mean_c2, CAST(NULL AS DOUBLE) AS mean_c3,
         CAST(NULL AS VARCHAR) AS note
  FROM px WHERE doc_id % 2 = 0 GROUP BY doc_id),
poison_out AS (
  SELECT doc_id, FALSE AS decoded,
         CAST(NULL AS VARCHAR) AS byte_order,
         CAST(NULL AS VARCHAR) AS compression,
         CAST(NULL AS BIGINT) AS n_channels,
         CAST(NULL AS BIGINT) AS width, CAST(NULL AS BIGINT) AS height,
         CAST(NULL AS DOUBLE) AS mean_c1, CAST(NULL AS DOUBLE) AS mean_c2,
         CAST(NULL AS DOUBLE) AS mean_c3,
         'tiff: IFD offset overruns file' AS note
  FROM documents WHERE doc_id % 17 = 9)
SELECT * FROM rgb_out UNION ALL SELECT * FROM gray_out
UNION ALL SELECT * FROM poison_out
"""


@query("multimodal_tiff_decode", _MM_TIFF_SQL)
def multimodal_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TIFF decode (operators/tiff.py — the format archival
    imagery masters actually ship in; the reference's DROID sidecar
    classifies TIFFs, razu/demo csv_luchtfotos): deterministic TIFFs
    are encoded byte-for-byte from doc_id across the subset's variant
    axes (II/MM byte order × none/PackBits/LZW[/+Predictor-2]
    compression × gray/RGB × 8/16-bit samples × strip/TILED layout —
    LZW, 16-bit depth and tiles are what archival masters actually
    use; tiled docs triple their geometry so multi-tile stitching and
    edge padding are real), then walked back by the strict IFD parser
    and chunk decoder; the oracle recomputes every per-channel mean
    from the pixel formulas, so a PackBits run slip, an LZW
    EarlyChange width desync, an endianness mix-up, a tile-blit
    off-by-one or a strip boundary error changes a mean. Docs with doc_id % 17 == 9 carry a poison
    payload (valid header, IFD offset past EOF) — the fail-closed row
    is itself hash-verified. One Arrow pass each way."""
    from razulibs_spark.operators.tiff import (
        synthesize_tiff_media,
        tiff_stats,
    )

    docs = T(spark, sf_dir, "documents")
    return tiff_stats(synthesize_tiff_media(docs))


_MM_GIF_SQL = """
WITH ok AS (SELECT doc_id, 4 + doc_id % 13 AS p, 5 + doc_id % 12 AS w,
                   4 + doc_id % 9 AS h
            FROM documents WHERE doc_id % 11 <> 6),
px AS (SELECT o.doc_id, o.w, o.h,
              (o.doc_id + 3 * xx.x + 5 * yy.y) % o.p AS j
       FROM ok o, unnest(range(0, o.w)) xx(x), unnest(range(0, o.h)) yy(y)),
ch AS (SELECT doc_id, w, h,
              (doc_id * 5 + j * 7) % 256 AS r,
              (doc_id + j * 11) % 256 AS g,
              (3 * j + doc_id // 3) % 256 AS b
       FROM px),
ok_out AS (
  SELECT doc_id, 'image/gif' AS media_format, TRUE AS decoded,
         CAST(MAX(w) AS BIGINT) AS width, CAST(MAX(h) AS BIGINT) AS height,
         AVG(CAST(r AS DOUBLE)) AS mean_r, AVG(CAST(g AS DOUBLE)) AS mean_g,
         AVG(CAST(b AS DOUBLE)) AS mean_b,
         CAST(NULL AS BIGINT) AS sample_rate,
         CAST(NULL AS BIGINT) AS n_channels,
         CAST(NULL AS BIGINT) AS n_samples,
         CAST(NULL AS DOUBLE) AS peak, CAST(NULL AS DOUBLE) AS rms,
         CAST(NULL AS VARCHAR) AS note
  FROM ch GROUP BY doc_id),
poison_out AS (
  SELECT doc_id, 'image/gif' AS media_format, FALSE AS decoded,
         CAST(NULL AS BIGINT) AS width, CAST(NULL AS BIGINT) AS height,
         CAST(NULL AS DOUBLE) AS mean_r, CAST(NULL AS DOUBLE) AS mean_g,
         CAST(NULL AS DOUBLE) AS mean_b,
         CAST(NULL AS BIGINT) AS sample_rate,
         CAST(NULL AS BIGINT) AS n_channels,
         CAST(NULL AS BIGINT) AS n_samples,
         CAST(NULL AS DOUBLE) AS peak, CAST(NULL AS DOUBLE) AS rms,
         'decode failed: GIF holds no image frame' AS note
  FROM documents WHERE doc_id % 11 = 6)
SELECT * FROM ok_out UNION ALL SELECT * FROM poison_out
"""


_MM_SPECTRAL_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 13 = 7 THEN FALSE ELSE TRUE END AS decoded,
       CASE WHEN doc_id % 13 = 7 THEN NULL
            ELSE CAST(8000 AS BIGINT) END AS sample_rate,
       CASE WHEN doc_id % 13 = 7 THEN NULL
            ELSE CAST(2048 AS BIGINT) END AS n_samples,
       CASE WHEN doc_id % 13 = 7 THEN NULL
            ELSE CAST(3 + doc_id % 37 AS BIGINT) END AS peak_bin,
       CASE WHEN doc_id % 13 = 7 THEN NULL
            ELSE CAST((3 + doc_id % 37) * 8000 AS DOUBLE) / 2048.0
            END AS dominant_hz,
       CASE WHEN doc_id % 13 = 7 THEN FALSE ELSE TRUE END AS tonal,
       CASE WHEN doc_id % 13 = 7 THEN 'WAV missing fmt/data chunk'
            END AS note
FROM documents
"""


@query("multimodal_audio_spectral", _MM_SPECTRAL_SQL)
def multimodal_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio FFT feature extraction over real PCM: each synthesized
    clip is a pure sine planted EXACTLY on FFT bin 3 + doc_id % 37
    (multimodal.synthesize_tonal_wav_media), so the rFFT peak bin, its
    frequency (an exact power-of-two rational — hash-stable), and the
    tonality flag are integer functions of doc_id the oracle
    recomputes; quantization noise sits ~60 dB under the tone, so the
    argmax cannot move. Poison rows (RIFF header, no chunks) pin the
    decoded=false path with the literal note. One Arrow pass each for
    synthesis and analysis, bounded clips."""
    from razulibs_spark.operators.multimodal import (
        audio_spectral,
        synthesize_tonal_wav_media,
    )

    docs = T(spark, sf_dir, "documents")
    out = audio_spectral(synthesize_tonal_wav_media(docs))
    # Nullable booleans hash differently across pandas bridges (None
    # vs NaN) — pin tonal to FALSE on undecoded rows in both engines.
    return out.withColumn("tonal", F.coalesce("tonal", F.lit(False)))


@query("multimodal_gif_decode", _MM_GIF_SQL)
def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF89a decode (operators/gif.py): palette images with real
    LZW compression — encoder AND decoder from first principles
    (variable-width LSB-first codes, clear/EOI, 12-bit cap, KwKwK
    case, dictionary reset at 4096) — synthesized byte-for-byte from
    doc_id and decoded back through decode_media's dispatch. GIF is
    lossless, so the oracle recomputes the exact channel means from
    the palette + pixel-index formulas. Docs with doc_id % 11 == 6
    carry a poison payload (valid header + color table, trailer
    before any image frame) whose decoded=false note the oracle pins
    literally."""
    from razulibs_spark.operators.multimodal import (
        decode_media,
        synthesize_gif_media,
    )

    docs = T(spark, sf_dir, "documents")
    return decode_media(synthesize_gif_media(docs))


_SOURCE_CAP_SQL = """
WITH q AS (SELECT doc_id, source,
   len(string_split(text, ' ')) AS n_words,
   len([w for w in string_split(text, ' ') if w = 'the' OR w = 'a']) AS n_stop
 FROM documents),
scored AS (
  SELECT doc_id, source,
         round((1.0 - n_stop / n_words) * least(1.0, n_words / 100.0), 6)
           AS quality_score
  FROM q),
ranked AS (
  SELECT doc_id, source, quality_score,
         CAST(ROW_NUMBER() OVER (PARTITION BY source
                                 ORDER BY quality_score DESC, doc_id)
              AS BIGINT) AS rank_in_source
  FROM scored)
SELECT doc_id, source, quality_score, rank_in_source
FROM ranked WHERE rank_in_source <= 20
"""


@query("curate_source_cap", _SOURCE_CAP_SQL)
def curate_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (sampling.source_cap): the C4 /
    RefinedWeb host-frequency-capping curation step — keep the 20
    best-quality documents per source (ties by doc_id) so one
    over-crawled host cannot dominate the training mix. The rank
    window is KEYED by source: one shuffle, per-key bounded state,
    no global sort."""
    return sampling.source_cap(T(spark, sf_dir, "documents"), cap=20)


_HASH_CLF_HEX = " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(tok), {i + 1}, 1)) - 1) "
    f"* {16 ** (7 - i)}"
    for i in range(8)
)

_HASH_CLF_SQL = f"""
WITH w AS (SELECT doc_id,
                  list_filter(string_split(text, ' '), x -> x != '') AS l
           FROM documents),
toks AS (
  SELECT doc_id, unnest(l) AS tok FROM w
  UNION ALL
  SELECT doc_id,
         unnest(list_transform(range(1, len(l)),
                               i -> l[i] || '_' || l[i + 1])) AS tok
  FROM w),
scored AS (
  SELECT doc_id, ({_HASH_CLF_HEX}) % 4096 AS bucket FROM toks),
agg AS (
  SELECT doc_id, COUNT(*) AS n_features,
         SUM((bucket * 2654435761) % 2001 - 1000) AS score
  FROM scored GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(agg.n_features, 0) AS BIGINT) AS n_features,
       CAST(COALESCE(agg.score, 0) AS BIGINT) AS score,
       CASE WHEN COALESCE(agg.score, 0) > 0 THEN 'keep' ELSE 'drop' END
         AS label
FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
"""


@query("text_hash_classifier", _HASH_CLF_SQL)
def text_hash_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shaped linear classifier inference
    (text.hash_classifier): unigram+bigram features hashed to 4096
    buckets (md5 → first 8 hex digits → bucket), deterministic
    integer bucket weights standing in for trained coefficients,
    exact BIGINT per-doc score + keep/drop label — the
    quality-classifier curation step of C4/CCNet-style pipelines.
    One Catalyst-HOF pass (split → zip_with bigrams → one explode),
    keyed SUM with map-side combine; the oracle recomputes the hex
    hash per nibble and matches bit-for-bit."""
    return text.hash_classifier(T(spark, sf_dir, "documents"))


_DSIR_SQL = f"""
WITH w AS (SELECT doc_id, lang,
                  list_filter(string_split(text, ' '), x -> x != '') AS l
           FROM documents),
toks AS (
  SELECT doc_id, lang, unnest(l) AS tok FROM w
  UNION ALL
  SELECT doc_id, lang,
         unnest(list_transform(range(1, len(l)),
                               i -> l[i] || '_' || l[i + 1])) AS tok
  FROM w),
bk AS (SELECT doc_id, lang, ({_HASH_CLF_HEX}) % 1024 AS b FROM toks),
counts AS (
  SELECT b, COUNT(*) AS cr,
         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
  FROM bk GROUP BY b),
tot AS (SELECT SUM(cr) AS tot_r, SUM(ct) AS tot_t FROM counts),
wt AS (
  SELECT b,
         CAST(floor(ln(((ct + 1.0) * (tot_r + 1024))
                       / ((cr + 1.0) * (tot_t + 1024))) * 1000000 + 0.5)
              AS BIGINT) AS micro_w
  FROM counts, tot),
agg AS (
  SELECT bk.doc_id, COUNT(*) AS n_features, SUM(micro_w) AS micro_weight
  FROM bk JOIN wt USING (b) GROUP BY bk.doc_id)
SELECT d.doc_id, d.lang,
       CAST(COALESCE(agg.n_features, 0) AS BIGINT) AS n_features,
       CAST(COALESCE(agg.micro_weight, 0) AS BIGINT) AS micro_weight
FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
"""


@query("text_dsir_importance", _DSIR_SQL)
def text_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights for data selection
    (text.dsir_importance): hashed unigram+bigram bucket
    distributions of the target domain (lang='en') vs the raw corpus,
    per-doc Σ log-ratio emitted as exact micro-log BIGINTs — the
    importance-resampling curation step that biases a training mix
    toward a target domain. Per-bucket log-ratios quantize BEFORE the
    per-doc sum, so the aggregate is order-independent integer math;
    the bucket table broadcasts (≤1024 rows), the corpus shuffles
    once."""
    return text.dsir_importance(T(spark, sf_dir, "documents"))


_ANCESTOR_SQL = """
WITH RECURSIVE e AS (
  SELECT 'urn:order:' || CAST(o_orderkey AS VARCHAR) AS child,
         'urn:customer:' || CAST(o_custkey AS VARCHAR) AS parent
  FROM orders
  UNION ALL
  SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR),
         'urn:nation:' || CAST(c_nationkey AS VARCHAR)
  FROM customer
  UNION ALL
  SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR),
         'urn:region:' || CAST(n_regionkey AS VARCHAR)
  FROM nation),
cl AS (
  SELECT child AS node, parent AS ancestor, 1 AS depth FROM e
  UNION ALL
  SELECT cl.node, e.parent, cl.depth + 1
  FROM cl JOIN e ON cl.ancestor = e.child)
SELECT node, ancestor, CAST(depth AS BIGINT) AS depth FROM cl
"""


@query("rdf_ancestor_closure", _ANCESTOR_SQL)
def rdf_ancestor_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-hierarchy transitive closure
    (graph.transitive_closure): SPARQL `ldto:isOnderdeelVan+`
    property-path semantics over the order→customer→nation→region
    tree — every (node, ancestor, depth) pair, by iterative doubling
    (log2(depth) self-join rounds, localCheckpoint-flattened lineage)
    instead of per-level BFS. The oracle is DuckDB's recursive CTE —
    the textbook fixpoint — so the doubling plan is hash-verified
    against the straightforward semantics."""
    from razulibs_spark.operators import graph

    o = T(spark, sf_dir, "orders").select(
        F.concat(F.lit("urn:order:"), F.col("o_orderkey").cast("string"))
        .alias("child"),
        F.concat(F.lit("urn:customer:"), F.col("o_custkey").cast("string"))
        .alias("parent"),
    )
    c = T(spark, sf_dir, "customer").select(
        F.concat(F.lit("urn:customer:"), F.col("c_custkey").cast("string"))
        .alias("child"),
        F.concat(F.lit("urn:nation:"), F.col("c_nationkey").cast("string"))
        .alias("parent"),
    )
    n = T(spark, sf_dir, "nation").select(
        F.concat(F.lit("urn:nation:"), F.col("n_nationkey").cast("string"))
        .alias("child"),
        F.concat(F.lit("urn:region:"), F.col("n_regionkey").cast("string"))
        .alias("parent"),
    )
    edges = o.unionByName(c).unionByName(n)
    return graph.transitive_closure(edges, max_depth=4)


_SHAPE_SQL = """
WITH subj AS (SELECT 'urn:order:' || CAST(o_orderkey AS VARCHAR) AS s,
                     o_orderkey
              FROM orders)
SELECT s, 'ldto:Informatieobject' AS entity_type,
       'ldto:naam' AS missing_predicate
FROM subj WHERE o_orderkey % 97 = 0
UNION ALL
SELECT s, 'ldto:Informatieobject', 'ldto:omvang'
FROM subj WHERE o_orderkey % 89 = 0
UNION ALL
SELECT s, 'ldto:Informatieobject', 'ldto:waardering' FROM subj
"""


@query("rdf_shape_validation", _SHAPE_SQL)
def rdf_shape_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL-lite required-predicate validation (rdf.shape_report):
    order-derived ldto:Informatieobject entities with PLANTED
    omissions — ldto:naam dropped for o_orderkey % 97 = 0,
    ldto:omvang for % 89 = 0, ldto:waardering never emitted — must be
    reported as exactly those missing (s, predicate) pairs, so the
    validator itself is hash-verified end-to-end (the planted-defect
    oracle trick, like the PII injection proof). Plan: broadcast
    shape table + one LEFT ANTI on (s, p); the triple table scans
    narrowly twice."""
    from razulibs_spark.operators import rdf as rdf_ops

    o = T(spark, sf_dir, "orders")
    s = F.concat(F.lit("urn:order:"), F.col("o_orderkey").cast("string"))
    typ = o.select(
        s.alias("s"), F.lit("rdf:type").alias("p"),
        F.lit("ldto:Informatieobject").alias("o"),
    )
    naam = o.filter(F.col("o_orderkey") % 97 != 0).select(
        s.alias("s"), F.lit("ldto:naam").alias("p"),
        F.col("o_orderstatus").alias("o"),
    )
    omvang = o.filter(F.col("o_orderkey") % 89 != 0).select(
        s.alias("s"), F.lit("ldto:omvang").alias("p"),
        F.col("o_totalprice").cast("string").alias("o"),
    )
    triples = typ.unionByName(naam).unionByName(omvang)
    return rdf_ops.shape_report(
        triples,
        {
            "ldto:Informatieobject": (
                "ldto:naam", "ldto:omvang", "ldto:waardering",
            )
        },
    )


_MULTITOUCH_SQL = """
WITH v AS (SELECT event_id AS view_id, user_id, ts AS view_ts
           FROM events WHERE event_type = 'view'),
p AS (SELECT event_id AS p_id, user_id, ts AS p_ts, value
      FROM events WHERE event_type = 'purchase'),
pairs AS (
  SELECT v.view_id, p.p_id, p.value
  FROM v JOIN p ON v.user_id = p.user_id
               AND v.view_ts <= p.p_ts
               AND v.view_ts > p.p_ts - INTERVAL 1 HOUR),
credited AS (
  SELECT view_id, p_id,
         CAST(FLOOR(value * 1000000 /
                    COUNT(*) OVER (PARTITION BY p_id)) AS BIGINT)
           AS micro_credit
  FROM pairs)
SELECT view_id,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(micro_credit) AS BIGINT) AS micro_credit
FROM credited GROUP BY view_id
"""


@query("events_multitouch_attribution", _MULTITOUCH_SQL)
def events_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value splits
    EQUALLY across the same user's views in the preceding hour
    (first-touch attribution is `events_view_purchase_attribution`;
    this is the equal-credit variant ad analytics actually reports).
    Per-pair credit quantizes to micro-units BEFORE the per-view sum
    (floor(value·10⁶ / n_touches) as BIGINT), so the aggregate is
    order-independent integer math. Plan: one user-keyed interval
    join, one purchase-keyed count window (bounded by touches per
    purchase), one view-keyed sum — all keyed, no global state."""
    ev = T(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        "value",
    )
    pairs = v.join(
        p,
        (v["user_id"] == p["user_id"])
        & (F.col("view_ts") <= F.col("p_ts"))
        & (F.col("view_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    )
    credited = pairs.select(
        "view_id",
        "p_id",
        F.floor(
            F.col("value")
            * F.lit(1_000_000)
            / F.count("*").over(Window.partitionBy("p_id"))
        )
        .cast("long")
        .alias("micro_credit"),
    )
    return credited.groupBy("view_id").agg(
        F.count("*").cast("long").alias("n_purchases"),
        F.sum("micro_credit").alias("micro_credit"),
    )


# ---------------------------------------------------------------------------
# Round-6 (cont.): bucketed co-located storage, URL canonicalization,
# bounded EWMA, min-distance BFS levels
# ---------------------------------------------------------------------------

_BUCKETED_SQL = f"""
SELECT o_orderpriority,
       COUNT(*) AS n_items,
       {DEC_SUM_SQL('l_extendedprice', 'sum_price')}
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
"""


@query("io_bucketed_join", _BUCKETED_SQL)
def io_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located storage end to end: both join sides
    persisted with save_bucketed (sources/bucketed.py) on the order
    key — 8 buckets, sorted, one file per bucket — then joined via
    the bucket layout and aggregated. The `merge` hint pins the
    sort-merge strategy so the co-located path (zero Exchange on
    either side, asserted in tests/test_scale_plans.py::
    test_bucketed_join_no_shuffle) is what actually runs here, not a
    tiny-SF broadcast: this is the one-shuffle-at-write-time,
    zero-shuffle-per-read pattern a 100 TB store uses for its
    recurring entity↔payload joins. Tables are keyed by sf so an
    eager write at one scale never clobbers a lazy read at another;
    the database pins LOCATION under scratch_path so no spark-warehouse
    directory appears wherever the harness happens to cwd."""

    sfx = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    spark.sql(
        "CREATE DATABASE IF NOT EXISTS bjq "
        f"LOCATION '{scratch_path('bucketed_db')}'"
    )
    # A fresh session's in-memory catalog can't see (and so can't
    # overwrite) tables a previous session left on disk — drop any
    # catalog entry AND clear the stale managed locations explicitly.
    for t in (f"orders_{sfx}", f"lineitem_{sfx}"):
        spark.sql(f"DROP TABLE IF EXISTS bjq.{t}")
        shutil.rmtree(scratch_path(f"bucketed_db/{t}"),
                      ignore_errors=True)
    from razulibs_spark.sources.bucketed import save_bucketed

    orders = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    items = T(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice"
    )
    save_bucketed(orders, f"bjq.orders_{sfx}", "o_orderkey", buckets=8)
    save_bucketed(items, f"bjq.lineitem_{sfx}", "o_orderkey", buckets=8)
    joined = spark.table(f"bjq.lineitem_{sfx}").hint("merge").join(
        spark.table(f"bjq.orders_{sfx}"), "o_orderkey"
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_items"),
        dec_sum(F.col("l_extendedprice"), "sum_price"),
    )


# Messy-URL synthesis shared by the Spark query and the oracle: the
# SAME deterministic noise (case, www., default port, duplicate
# slashes, utm params, unsorted query, fragment) is derived from
# doc_id on both engines, so the canonicalizer is the only thing
# under test. Collision design: host carries the source (20 values),
# the item id is (doc_id*7) % 13 (co-prime with the source cycle) —
# recrawl variants of up to 260 canonical resources.
_URL_SQL = """
WITH raw AS (
  SELECT doc_id,
    CASE WHEN doc_id % 2 = 1 THEN 'HTTPS' ELSE 'https' END || '://'
    || CASE WHEN doc_id % 3 = 0 THEN 'WWW.'
            WHEN doc_id % 3 = 1 THEN 'www.' ELSE '' END
    || CASE WHEN doc_id % 2 = 1 THEN upper(source) ELSE source END
    || '.Example.COM'
    || CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END
    || '/catalog//item/' || CAST((doc_id * 7) % 13 AS VARCHAR)
    || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&b=2&a=1'
            ELSE '?a=1&b=2' END
    || CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END AS url
  FROM documents),
 canon AS (
  SELECT doc_id,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
      || '://'
      || regexp_replace(
           lower(regexp_extract(
             regexp_extract(regexp_replace(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^([^/?#]*)', 1),
             '^([^:]*)', 1)),
           '^www\\.', '')
      || CASE WHEN prt <> '' AND NOT (sch = 'https' AND prt = '443')
                           AND NOT (sch = 'http' AND prt = '80')
              THEN ':' || prt ELSE '' END
      || CASE WHEN pth = '' THEN '/' ELSE pth END
      || CASE WHEN qry <> '' THEN '?' || qry ELSE '' END AS canonical_url
  FROM (
    SELECT doc_id, url,
      lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
      regexp_extract(
        regexp_extract(regexp_replace(url,
          '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^([^/?#]*)', 1),
        ':([0-9]+)$', 1) AS prt,
      regexp_replace(
        regexp_extract(regexp_replace(url,
          '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^[^/?#]*([^?#]*)', 1),
        '/{2,}', '/', 'g') AS pth,
      array_to_string(list_sort(list_filter(
        string_split(regexp_extract(regexp_replace(url,
          '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^[^?#]*\\?([^#]*)', 1), '&'),
        x -> NOT regexp_matches(x, '^utm_') AND x <> '')), '&') AS qry
    FROM raw))
SELECT canonical_url,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS keeper_doc_id
FROM canon GROUP BY canonical_url
"""


@query("dedup_url_canonical", _URL_SQL)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level crawl dedup (functions/urls.py): canonicalize —
    scheme/host case, www., default :443, duplicate path slashes,
    utm_* params, query-param order, fragment — then group recrawl
    variants by canonical key, keeping the lowest doc_id. The
    canonical key is a pure codegen expression computed in the scan
    stage; the groupBy on it is the ONLY shuffle, which is the whole
    point of URL-dedup-before-content-dedup at 100 TB: it removes the
    recrawl bulk before MinHash ever tokenizes a byte. The messy URL
    itself is synthesized deterministically from doc_id (fixture
    columns carry no URLs) with the identical expression on the
    oracle side, so both engines canonicalize the same inputs."""
    from razulibs_spark.functions.urls import canonical_url

    d = T(spark, sf_dir, "documents")
    url = F.concat(
        F.when(d.doc_id % 2 == 1, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(d.doc_id % 3 == 0, F.lit("WWW."))
        .when(d.doc_id % 3 == 1, F.lit("www."))
        .otherwise(F.lit("")),
        F.when(d.doc_id % 2 == 1, F.upper(d.source)).otherwise(d.source),
        F.lit(".Example.COM"),
        F.when(d.doc_id % 2 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/catalog//item/"),
        ((d.doc_id * 7) % 13).cast("string"),
        F.when(
            d.doc_id % 3 == 0, F.lit("?utm_source=feed&b=2&a=1")
        ).otherwise(F.lit("?a=1&b=2")),
        F.when(d.doc_id % 5 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    return (
        d.select("doc_id", canonical_url(url).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


_EWMA_SQL = """
SELECT user_id, ts, event_id, value,
       list_reduce(vals, (acc, x) -> acc * 0.75 + x * 0.25) AS ewma
FROM (SELECT user_id, ts, event_id, value,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
               AS vals
      FROM events)
"""


@query("w_ewma", _EWMA_SQL)
def w_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-lookback EWMA per user (temporal.ewma_bounded,
    alpha=0.25, last 8 events): the smoothing feature next to
    events_anomaly_mad's rolling median. The fold seeds with the
    oldest frame value and folds forward — the same IEEE ops in the
    same order on both engines (alpha exactly representable), so the
    doubles are bit-identical with no rounding crutch. One shuffle
    (the user-keyed window), 8-element frame state, codegen HOF —
    no UDF."""
    from razulibs_spark.operators.temporal import ewma_bounded

    return ewma_bounded(
        T(spark, sf_dir, "events"), alpha=0.25, lookback=8
    )


_BFS_SQL = """
WITH RECURSIVE e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
 und AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
 bfs(node, lvl) AS (
  SELECT CAST(0 AS BIGINT), 0
  UNION
  SELECT und.v, bfs.lvl + 1 FROM bfs JOIN und ON und.u = bfs.node
  WHERE bfs.lvl < 4),
 lv AS (SELECT node, MIN(lvl) AS lvl FROM bfs GROUP BY node)
SELECT CAST(lvl AS BIGINT) AS level,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       MIN(node) AS min_part, MAX(node) AS max_part
FROM lv GROUP BY lvl
"""


@query("graph_bfs_levels", _BFS_SQL)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-hop neighborhood of part 0 over the co-purchase graph
    (graph.bfs_levels, max_depth=4): parts sharing an order form
    edges; BFS assigns each reachable part its MINIMUM hop count —
    the related-item expansion / blast-radius primitive. The oracle
    is a recursive CTE with the same depth bound. Result is the
    per-level profile (count + key range), not the node list — the
    driver ships four rows however big the graph is. Co-purchase
    graphs are small-world: expect saturation by level 2-3.

    Edge build: per-order collect_set + in-array pair expansion — one
    groupBy shuffle of the lineitem keys instead of the lineitem
    self-join (which shuffles the table twice and materializes the
    pre-distinct pair stream). Basket sizes are small (TPC-H ≤ 7), so
    the nested transform is a few dozen pairs per order; the sorted
    set gives src < dst for free."""
    from razulibs_spark.operators.graph import bfs_levels

    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("parts"), i + 2, F.size(F.col("parts")) - i - 1
                ),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )
    edges = baskets.select(
        F.explode(pairs).alias("p")
    ).select("p.src", "p.dst")
    seeds = li.sparkSession.range(1).select(
        F.lit(0).cast("long").alias("node")
    )
    # dedup_edges=False (r13): the basket expansion already emits each
    # pair once per order and cross-order repeats measured 0.3%
    # (1,199,858 raw vs 1,196,000 distinct at sf0.1) — the upfront
    # distinct shuffled the whole edge list to remove almost nothing;
    # min-level BFS is invariant to the remaining parallel edges.
    levels = bfs_levels(edges, seeds, max_depth=4, dedup_edges=False)
    return levels.groupBy("level").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.min("node").alias("min_part"),
        F.max("node").alias("max_part"),
    )


_PARTPRUNE_SQL = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents WHERE source = 'src7'
GROUP BY lang
"""


@query("io_partitioned_pruning", _PARTPRUNE_SQL)
def io_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout end to end (sources/bucketed.py::
    save_partitioned): documents written partitionBy(source) — the
    low-cardinality manifest key — then a source-filtered re-read
    aggregates one partition. The filter must resolve as a
    PartitionFilter (directory pruning at planning time, zero data
    rows from the other 19 sources read — asserted for this layout in
    tests/test_scale_plans.py::test_partition_pruning); at 100 TB this
    is the difference between a directory lookup and a full scan.
    Store path keyed by sf_dir (eager write, lazy read)."""

    from razulibs_spark.sources.bucketed import save_partitioned

    base = scratch_path("partitioned_docs_" + os.path.basename(sf_dir.rstrip("/")))
    docs = T(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", "source"
    )
    save_partitioned(docs, base, "source")
    back = spark.read.parquet(base)
    return (
        back.filter(F.col("source") == "src7")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


_CSV_MALFORMED_SQL = """
SELECT lang AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_parsed_ids
FROM documents WHERE doc_id % 7 <> 0 GROUP BY lang
UNION ALL
SELECT '_corrupt', CAST(COUNT(*) AS BIGINT), 0
FROM documents WHERE doc_id % 7 = 0
"""


@query("io_csv_malformed", _CSV_MALFORMED_SQL)
def io_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row-tolerant CSV ingestion: a CSV store where every
    7th row is poison (unparseable doc_id) is read under PERMISSIVE
    mode with columnNameOfCorruptRecord — bad rows land in the corrupt
    column and are COUNTED, never dropped silently and never fatal.
    This is the lake-robustness contract at 100 TB: one poison row in
    a billion must neither kill the ingest (FAILFAST) nor vanish
    (DROPMALFORMED); the _corrupt bucket is the data-quality metric a
    pipeline alerts on. The corruption is synthesized deterministically
    from doc_id so the oracle predicts both the per-lang good counts
    and the corrupt count exactly. The aggregate counts parsed doc_ids
    ON PURPOSE: Spark's CSV column pruning only parses referenced
    fields, so a query that never reads the malformed column would see
    zero corrupt records — the n_parsed_ids column both pins that
    caveat and proves poison rows carry no usable key. Same executor-side store pattern as
    s6_manifest_scan (path keyed by sf)."""

    base = scratch_path("csv_malformed_" + os.path.basename(sf_dir.rstrip("/")))
    docs = T(spark, sf_dir, "documents").select("doc_id", "lang")
    lines = docs.select(
        F.when(
            docs.doc_id % 7 == 0,
            F.concat(F.lit("oops,"), docs.lang),
        )
        .otherwise(
            F.concat(docs.doc_id.cast("string"), F.lit(","), docs.lang)
        )
        .alias("value")
    )
    lines.write.mode("overwrite").text(base)
    back = spark.read.csv(
        base,
        # BIGINT: the fixture doc_id is 64-bit — an INT schema would
        # misroute any doc_id > 2^31-1 into the _corrupt bucket while
        # the oracle still counts it as a good row.
        schema="doc_id BIGINT, lang STRING, _corrupt_record STRING",
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    )
    return (
        back.select(
            F.when(F.col("_corrupt_record").isNotNull(), F.lit("_corrupt"))
            .otherwise(F.col("lang"))
            .alias("bucket"),
            "doc_id",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.count("doc_id").cast("long").alias("n_parsed_ids"),
        )
    )


_AHASH_SQL = """
WITH d AS (SELECT doc_id, CAST(doc_id % 4 AS INT) AS kind FROM documents),
imgs AS (
  SELECT doc_id, kind,
         CASE kind WHEN 0 THEN 8 + doc_id % 17 ELSE 5 + doc_id % 13 END AS w,
         CASE kind WHEN 0 THEN 6 + doc_id % 11 ELSE 4 + doc_id % 7 END AS h
  FROM d WHERE kind IN (0, 1)),
px AS (
  SELECT i.doc_id, i.kind, i.w, i.h, xx.x, yy.y,
         CASE i.kind
           WHEN 0 THEN (i.doc_id + 7 * xx.x) % 256
                     + (3 * yy.y + i.doc_id // 5) % 256
                     + xor(i.doc_id, xx.x * yy.y + 1) % 256
           ELSE (i.doc_id * 3 + xx.x) % 256
              + (i.doc_id + xx.x * yy.y) % 256
              + (5 * yy.y + i.doc_id // 3) % 256
         END AS gray
  FROM imgs i, unnest(range(0, i.w)) xx(x), unnest(range(0, i.h)) yy(y)),
tot AS (SELECT doc_id, SUM(gray) AS total FROM px GROUP BY doc_id),
bits AS (
  SELECT px.doc_id, px.kind, px.w, px.h, px.y, px.x,
         CASE WHEN px.gray * (px.w * px.h) > t.total
              THEN '1' ELSE '0' END AS b
  FROM px JOIN tot t USING (doc_id)),
img_out AS (
  SELECT doc_id,
         CASE MAX(kind) WHEN 0 THEN 'image/bmp'
                        ELSE 'image/x-portable-pixmap' END AS media_format,
         TRUE AS decoded,
         CAST(MAX(w) AS BIGINT) AS width,
         CAST(MAX(h) AS BIGINT) AS height,
         CAST(SUM(CASE WHEN b = '1' THEN 1 ELSE 0 END) AS BIGINT)
           AS bits_set,
         md5(string_agg(b, '' ORDER BY y, x)) AS ahash,
         CAST(NULL AS VARCHAR) AS note
  FROM bits GROUP BY doc_id),
other_out AS (
  SELECT doc_id,
         CASE WHEN kind = 2 THEN 'audio/wav'
              WHEN (doc_id // 4) % 2 = 0 THEN 'image/png'
              ELSE 'image/jpeg' END AS media_format,
         FALSE AS decoded,
         CAST(NULL AS BIGINT) AS width, CAST(NULL AS BIGINT) AS height,
         CAST(NULL AS BIGINT) AS bits_set, CAST(NULL AS VARCHAR) AS ahash,
         'no pixel decoder for '
           || CASE WHEN kind = 2 THEN 'audio/wav'
                   WHEN (doc_id // 4) % 2 = 0 THEN 'image/png'
                   ELSE 'image/jpeg' END AS note
  FROM d WHERE kind IN (2, 3))
SELECT * FROM img_out UNION ALL SELECT * FROM other_out
"""


@query("multimodal_image_ahash", _AHASH_SQL)
def multimodal_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash over REAL decoded pixels
    (multimodal.image_ahash): the image near-dup primitive — identical
    pictures hash identically whatever container carried them, content
    edits flip bits. Every bit is integer-exact (gray·w·h > Σgray,
    bitstring in top-down row-major order, md5), so the oracle
    recomputes the ENTIRE bit grid — not just channel means — from
    the synthesis formulas and hash-matches it: this entry is the
    pixel-exactness proof for the raster decoders (orientation flips
    or a channel swap change the hash). Non-raster payloads
    (WAV/PNG/JPEG slots) come back decoded=false with the reason —
    the poison-tolerant contract shared with multimodal_decode."""
    from razulibs_spark.operators.multimodal import (
        image_ahash,
        synthesize_decodable_media,
    )

    docs = T(spark, sf_dir, "documents")
    return image_ahash(synthesize_decodable_media(docs))


# ---------------------------------------------------------------------------
# §2.1 S4 — foreign Turtle (round 10): the full-grammar path
# ---------------------------------------------------------------------------

_TTL_FOREIGN_SQL = r"""
WITH docs AS (
  SELECT doc_id AS d, lang AS l,
         regexp_replace(string_split(text, ' ')[1],
                        '[^A-Za-z0-9]', '', 'g') AS fw
  FROM documents
),
words AS (
  SELECT d, unnest(generate_series(0, d % 3)) AS i FROM docs
),
seqs AS (
  SELECT d, unnest(generate_series(0, d % 4 - 1)) AS i
  FROM docs WHERE d % 4 > 0
),
notes AS (
  SELECT fw || chr(10) || l || ' with "q" and \ b' AS note FROM docs
)
SELECT * FROM (
SELECT 'type' AS pred,
       CAST((SELECT count(*) FROM docs) AS BIGINT) AS n,
       CAST((SELECT count(*) FROM docs) AS BIGINT) AS n_uri,
       CAST(0 AS BIGINT) AS n_bnode, CAST(0 AS BIGINT) AS n_tagged,
       CAST(0 AS BIGINT) AS int_sum, md5('') AS lit_digest,
       (SELECT md5(string_agg('http://example.org/Document', chr(1)))
        FROM docs) AS uri_digest
UNION ALL
SELECT 'lang', (SELECT count(*) FROM docs), 0, 0,
       (SELECT count(*) FROM docs), 0,
       (SELECT md5(string_agg(l, chr(1) ORDER BY l)) FROM docs),
       md5('')
UNION ALL
SELECT 'words', (SELECT count(*) FROM words), 0, 0, 0,
       (SELECT CAST(sum(d * 10 + i) AS BIGINT) FROM words),
       (SELECT md5(string_agg(CAST(d * 10 + i AS VARCHAR), chr(1)
                   ORDER BY CAST(d * 10 + i AS VARCHAR))) FROM words),
       md5('')
UNION ALL
SELECT 'note', (SELECT count(*) FROM docs), 0, 0, 0, 0,
       (SELECT md5(string_agg(note, chr(1) ORDER BY note)) FROM notes),
       md5('')
UNION ALL
SELECT 'ref', (SELECT count(*) FROM docs), 0,
       (SELECT count(*) FROM docs), 0, 0, md5(''), md5('')
UNION ALL
SELECT 'pos', (SELECT count(*) FROM docs), 0, 0, 0,
       (SELECT CAST(sum(d) AS BIGINT) FROM docs),
       (SELECT md5(string_agg(CAST(d AS VARCHAR), chr(1)
                   ORDER BY CAST(d AS VARCHAR))) FROM docs),
       md5('')
UNION ALL
SELECT 'sub', (SELECT count(*) FROM docs), 0,
       (SELECT count(*) FROM docs), 0, 0, md5(''), md5('')
UNION ALL
SELECT 'deep', (SELECT count(*) FROM docs), 0, 0, 0, 0,
       (SELECT md5(string_agg('x' || CAST(d AS VARCHAR), chr(1)
                   ORDER BY 'x' || CAST(d AS VARCHAR))) FROM docs),
       md5('')
UNION ALL
SELECT 'mark', (SELECT count(*) FROM docs), 0, 0, 0,
       (SELECT CAST(sum(d) AS BIGINT) FROM docs),
       (SELECT md5(string_agg(CAST(d AS VARCHAR), chr(1)
                   ORDER BY CAST(d AS VARCHAR))) FROM docs),
       md5('')
UNION ALL
SELECT 'rel', (SELECT count(*) FROM docs),
       (SELECT count(*) FROM docs), 0, 0, 0, md5(''),
       (SELECT md5(string_agg('http://base.example/r/'
                              || CAST(d AS VARCHAR), chr(1)
                   ORDER BY 'http://base.example/r/'
                              || CAST(d AS VARCHAR))) FROM docs)
UNION ALL
SELECT 'seq', (SELECT count(*) FROM docs),
       (SELECT count(*) FROM docs WHERE d % 4 = 0),
       (SELECT count(*) FROM docs WHERE d % 4 > 0), 0, 0, md5(''),
       (SELECT md5(coalesce(string_agg(
          'http://www.w3.org/1999/02/22-rdf-syntax-ns#nil', chr(1)),
          '')) FROM docs WHERE d % 4 = 0)
UNION ALL
SELECT 'first', (SELECT count(*) FROM seqs), 0, 0, 0,
       (SELECT CAST(sum(d + i) AS BIGINT) FROM seqs),
       (SELECT md5(string_agg(CAST(d + i AS VARCHAR), chr(1)
                   ORDER BY CAST(d + i AS VARCHAR))) FROM seqs),
       md5('')
UNION ALL
SELECT 'rest', (SELECT count(*) FROM seqs),
       (SELECT count(*) FROM docs WHERE d % 4 > 0),
       (SELECT CAST(sum(d % 4 - 1) AS BIGINT) FROM docs WHERE d % 4 > 0),
       0, 0, md5(''),
       (SELECT md5(coalesce(string_agg(
          'http://www.w3.org/1999/02/22-rdf-syntax-ns#nil', chr(1)),
          '')) FROM docs WHERE d % 4 > 0)
) ORDER BY pred
"""


@query("k2_turtle_foreign", _TTL_FOREIGN_SQL)
def k2_turtle_foreign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-Turtle parse (sources/turtle_full.read_turtle_full —
    VERDICT r9 missing #1): the fixture corpus is written WITH the
    real-world grammar the line-oriented read_turtle cannot see —
    ``;`` predicate lists, ``,`` object lists, a triple-quoted
    MULTI-LINE literal with an embedded quote and backslash escape, a
    lang-tagged literal, bare-integer abbreviations, a NESTED
    anonymous ``[...]`` blank node (two levels), a LABELED ``_:``
    blank-node subject, a RELATIVE IRI resolved against ``@base``
    (pinned by a uri digest), and an ``(...)`` collection (empty
    every 4th doc — the rdf:nil-as-URI case). The reference parses this
    surface via rdflib (razu/turtle.py:6-32); here a first-principles
    recursive-descent Turtle 1.1 parser runs one Arrow task per
    document. The oracle never sees the Turtle: it reconstructs every
    per-predicate count, the xsd:integer sums, and order-exact
    literal digests (incl. the reconstructed multi-line note strings
    and the rdf:first/rest collection expansion) straight from
    `documents` — a swallowed object-list tail, a lost literal line,
    a wrong collection chain or a bnode/URI confusion all mismatch.
    Scale: per-FILE binaryFile tasks (statements span lines, so the
    file is the honest split unit); the pivot is one hash
    aggregation."""

    from razulibs_spark.sources.rdf_io import with_partition_header
    from razulibs_spark.sources.turtle_full import XSD, read_turtle_full

    base = scratch_path("turtle_foreign_" + os.path.basename(sf_dir.rstrip("/")))
    shutil.rmtree(base, ignore_errors=True)

    d = F.col("doc_id")
    fw = F.regexp_replace(
        F.split(F.col("text"), " ").getItem(0), "[^A-Za-z0-9]", ""
    )
    i = lambda c: c.cast("string")  # noqa: E731
    words = F.when(
        d % 3 == 0, i(d * 10)
    ).when(
        d % 3 == 1, F.concat(i(d * 10), F.lit(", "), i(d * 10 + 1))
    ).otherwise(
        F.concat(i(d * 10), F.lit(", "), i(d * 10 + 1),
                 F.lit(", "), i(d * 10 + 2))
    )
    seq = F.when(
        d % 4 == 0, F.lit("()")
    ).when(
        d % 4 == 1, F.concat(F.lit("( "), i(d), F.lit(" )"))
    ).when(
        d % 4 == 2,
        F.concat(F.lit("( "), i(d), F.lit(" "), i(d + 1), F.lit(" )")),
    ).otherwise(
        F.concat(F.lit("( "), i(d), F.lit(" "), i(d + 1), F.lit(" "),
                 i(d + 2), F.lit(" )")),
    )
    block = F.concat(
        F.lit("ex:doc"), i(d), F.lit(" a ex:Document ;\n    ex:lang \""),
        F.col("lang"), F.lit("\"@"), F.col("lang"),
        F.lit(" ;\n    ex:words "), words,
        F.lit(" ;\n    ex:note \"\"\""), fw, F.lit("\n"), F.col("lang"),
        F.lit(" with \"q\" and \\\\ b\"\"\" ;\n    ex:ref [ ex:pos "),
        i(d),
        F.lit(" ; ex:sub [ ex:deep \"x"), i(d),
        F.lit("\" ] ] ;\n    ex:rel <r/"), i(d),
        F.lit("> ;\n    ex:seq "), seq,
        F.lit(" .\n_:m"), i(d), F.lit(" ex:mark "), i(d), F.lit(" ."),
    )
    header = (
        "@prefix ex: <http://example.org/> .\n"
        "@base <http://base.example/> .\n"
    )
    value = with_partition_header(header, block)
    (
        T(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .repartition(8)
        .select(value.alias("value"))
        .write.mode("overwrite").text(base)
    )

    tr = read_turtle_full(spark, base, glob="part-*")
    short = F.regexp_extract("p", r"([^/#]+)$", 1)
    lit = F.when(F.col("o_type") == "literal", F.col("o"))
    uri = F.when(F.col("o_type") == "uri", F.col("o"))
    ints = F.when(
        F.col("o_datatype") == XSD + "integer", F.col("o").cast("long")
    )
    return (
        tr.groupBy(short.alias("pred"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("o_type") == "uri").cast("long")).alias("n_uri"),
            F.sum(
                (F.col("o_type") == "bnode").cast("long")
            ).alias("n_bnode"),
            F.sum(F.col("o_lang").isNotNull().cast("long")).alias(
                "n_tagged"
            ),
            F.coalesce(F.sum(ints), F.lit(0)).cast("long").alias(
                "int_sum"
            ),
            F.md5(
                F.concat_ws("\x01", F.sort_array(F.collect_list(lit)))
            ).alias("lit_digest"),
            F.md5(
                F.concat_ws("\x01", F.sort_array(F.collect_list(uri)))
            ).alias("uri_digest"),
        )
        .orderBy("pred")
    )


_XLSX_SQL = """
WITH w AS (SELECT doc_id AS d, string_split(text, ' ') AS ws
           FROM documents),
dig AS (SELECT d,
        'A1=id' || chr(1) || 'B1=word' || chr(1)
        || 'D1=w-' || CAST(d AS VARCHAR)
        || chr(1) || 'A2=' || CAST(d*10+0 AS VARCHAR)
        || chr(1) || 'B2=' || ws[(0 % len(ws)) + 1]
        || chr(1) || 'C2=' || CASE WHEN (d+0) % 2 = 1
             THEN 'TRUE' ELSE 'FALSE' END
        || chr(1) || 'E2=f' || CAST(d+0 AS VARCHAR)
        || chr(1) || 'A3=' || CAST(d*10+1 AS VARCHAR)
        || chr(1) || 'B3=' || ws[(1 % len(ws)) + 1]
        || chr(1) || 'C3=' || CASE WHEN (d+1) % 2 = 1
             THEN 'TRUE' ELSE 'FALSE' END
        || chr(1) || 'E3=f' || CAST(d+1 AS VARCHAR)
        || chr(1) || 'A4=' || CAST(d*10+2 AS VARCHAR)
        || chr(1) || 'B4=' || ws[(2 % len(ws)) + 1]
        || chr(1) || 'C4=' || CASE WHEN (d+2) % 2 = 1
             THEN 'TRUE' ELSE 'FALSE' END
        || chr(1) || 'E4=f' || CAST(d+2 AS VARCHAR)
        || chr(1) || 'F5='
        || strftime(DATE '1899-12-30' + CAST(45000 + d % 1000 AS INTEGER), '%Y-%m-%d')
        || chr(1) || 'G5='
        || strftime(DATE '1899-12-30' + CAST(45000 + d % 1000 AS INTEGER), '%Y-%m-%d')
        || 'T06:00:00'
        || chr(1) || 'H5='
        || strftime(DATE '1899-12-31' + CAST(1 + d % 59 AS INTEGER), '%Y-%m-%d')
        || chr(1) || 'I5=3.14'
        || chr(1) || 'J5=18:00:00'
        || chr(1) || 'K5=1900-02-29'
        AS flat
        FROM w WHERE d % 29 <> 21 AND d % 17 <> 3),
fdig AS (SELECT d,
        'A1=id' || chr(1) || 'B1='
        || strftime(DATE '1904-01-01' + CAST(100 + d % 20000 AS INTEGER), '%Y-%m-%d')
        || chr(1) || 'A2=' || CAST(d AS VARCHAR) AS flat
        FROM w WHERE d % 29 <> 21 AND d % 17 = 3)
SELECT d AS doc_id, TRUE AS parsed, 'Data' AS sheet_name,
       CAST(5 AS BIGINT) AS n_rows, CAST(21 AS BIGINT) AS n_cells,
       md5(flat) AS cell_digest, CAST(NULL AS VARCHAR) AS note
FROM dig
UNION ALL
SELECT d, TRUE, 'Foreign', CAST(2 AS BIGINT), CAST(3 AS BIGINT),
       md5(flat), CAST(NULL AS VARCHAR)
FROM fdig
UNION ALL
SELECT d, FALSE, NULL, NULL, NULL, NULL,
       'xlsx: sheet part xl/worksheets/sheetA.xml missing in package'
FROM w WHERE d % 29 = 21
"""


@query("text_xlsx_extract", _XLSX_SQL)
def text_xlsx_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XLSX value extraction (operators/xlsx.py — the 14th file
    format; open-data portals and enterprise exports ship tables as
    .xlsx far more often than CSV): each doc becomes a REAL OPC
    workbook whose first sheet plants every value-layer trap — a
    RICH-TEXT shared string (two <r> runs that must concatenate),
    plain shared strings, inline strings, booleans (0/1 → TRUE/FALSE),
    raw numbers kept lexical, a cached-formula string whose <f>
    formula must NOT leak, and a sparse grid (column D exists only in
    the header; cell REFERENCES carry the geometry). The sheet part is
    deliberately named sheetA.xml and resolved ONLY through the OPC
    relationship walk — hardcoded-sheet1 readers never find it. The
    oracle reconstructs the order-exact ref=value digest straight from
    documents; docs with d%29 == 21 are the fail-closed poison (rels
    point at a missing part). Writer is template-string, parser is
    ElementTree — independent implementations. One Arrow pass each
    way, map-only."""
    from razulibs_spark.operators.xlsx import (
        synthesize_xlsx_media,
        xlsx_stats,
    )

    docs = T(spark, sf_dir, "documents")
    return xlsx_stats(synthesize_xlsx_media(docs))


_RTF_SQL = """
WITH w AS (SELECT doc_id AS d, string_split(text, ' ') AS ws
           FROM documents),
e AS (SELECT d,
             'Doc ' || CAST(d AS VARCHAR) || chr(10)
             || CASE WHEN d % 43 = 9 THEN '日本語テキスト'
                     ELSE 'café' END
             || ' € and ' || ws[1]
             || ' plus {braced} back\\slash' || chr(9) || 'end'
             || chr(10)
             || array_to_string(
                  [array_to_string(ws[i:i+7], ' ')
                   for i in generate_series(1, len(ws), 8)], chr(10))
               AS expected,
             CAST(2 + ceil(len(ws) / 8.0) AS BIGINT) AS nl
      FROM w WHERE d % 31 <> 17)
SELECT d AS doc_id, TRUE AS parsed, nl AS n_lines,
       md5(expected) AS text_md5, CAST(NULL AS VARCHAR) AS note
FROM e
UNION ALL
SELECT d, FALSE, NULL, NULL,
       'rtf: not an RTF document: b''{\\\\pwned1'''
FROM w WHERE d % 31 = 17
"""


@query("text_rtf_extract", _RTF_SQL)
def text_rtf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RTF text extraction (operators/rtf.py — the 15th file format;
    two decades of archives and court filings are .rtf): each doc
    becomes a real brace-grouped control-word document planting every
    extraction trap — font/color/info tables and a starred generator
    destination that must NOT leak, a codepage byte (\\'e9 → é under
    \\ansicpg1252), a Unicode escape with its uc-counted '?' fallback
    that must be SWALLOWED (\\u8364? → € alone), a bold group
    (formatting transparent), escaped braces/backslash, \\tab, and
    8-word \\par lines. The oracle constructs the EXPECTED text from
    documents.text — a leaked font name, a doubled fallback char or a
    swallowed escape all flip the md5. Docs with d%31 == 17 carry a
    non-RTF payload: the fail-closed note is itself hash-pinned. One
    Arrow pass each way, map-only."""
    from razulibs_spark.operators.rtf import (
        rtf_text_stats,
        synthesize_rtf_media,
    )

    docs = T(spark, sf_dir, "documents")
    return rtf_text_stats(synthesize_rtf_media(docs))


_K2_TTL_GROUPED_SQL = f"""
WITH triples AS ({_O2_SQL})
SELECT s, p, o FROM triples
UNION ALL
SELECT 'ldto:hub0' AS s, 'schema:member' AS p,
       'ldto:cust' || CAST(c_custkey AS VARCHAR) AS o
FROM customer
"""


@query("k2_turtle_grouped_roundtrip", _K2_TTL_GROUPED_SQL)
def k2_turtle_grouped_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Grouped (rdflib-style) Turtle sink + full-grammar source
    round-trip: write PREDICATE-LIST Turtle (per-subject ``;``/``,``
    blocks — the form the reference's own writer emits via rdflib,
    razu/turtle.py:52-56; sources/turtle_full.write_turtle_grouped),
    read it back with the recursive-descent full parser (the
    line-oriented reader CANNOT see this form), compact, and the
    oracle checks the cycle is the identity on the full O2 triple
    set PLUS a deliberate super-node: subject ldto:hub0 holds one
    schema:member triple per customer (1500 at sf0.01 — far above
    the explicit obj_cap=100/pred_cap=4 passed here), so the sink's
    block-salting actually fires at the driver gate: the hub spills
    across ~15 object blocks and 4-entry predicate blocks, and the
    roundtrip proves splitting is triple-invariant. Write side is
    pure codegen + windowed block ids + partial-aggregating groupBys
    (no unbounded per-subject collect_list — the r10 scale hazard);
    read side is per-file Arrow tasks."""
    from razulibs_spark.operators.rdf import compact_triples, expand_triples
    from razulibs_spark.sources.turtle_full import (
        read_turtle_full,
        write_turtle_grouped,
    )

    hub = T(spark, sf_dir, "customer").select(
        F.lit("ldto:hub0").alias("s"),
        F.lit("schema:member").alias("p"),
        F.concat(F.lit("ldto:cust"), F.col("c_custkey").cast("string"))
        .alias("o"),
        F.lit("uri").alias("o_type"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
    )
    triples = _o2_triples_full(spark, sf_dir).unionByName(hub)
    path = scratch_path("turtle_grouped_rt")
    write_turtle_grouped(
        expand_triples(triples), path, obj_cap=100, pred_cap=4
    )
    raw = read_turtle_full(spark, path, glob="part-*")
    return compact_triples(raw).select("s", "p", "o")


_ODT_SQL = """
WITH w AS (SELECT doc_id AS d, string_split(text, ' ') AS ws
           FROM documents),
e AS (SELECT d,
             'Doc ' || CAST(d AS VARCHAR) || chr(10)
             || 'a   b' || chr(9) || 'c' || chr(10)
             || 'd tail-kept ' || ws[1] || ' nested end' || chr(10)
             || array_to_string(
                  [array_to_string(ws[i:i+7], ' ')
                   for i in generate_series(1, len(ws), 8)], chr(10))
               AS expected,
             CAST(2 + ceil(len(ws) / 8.0) AS BIGINT) AS np
      FROM w WHERE d % 37 <> 13)
SELECT d AS doc_id, TRUE AS parsed, np AS n_paragraphs,
       md5(expected) AS text_md5, CAST(NULL AS VARCHAR) AS note
FROM e
UNION ALL
SELECT d, FALSE, NULL, NULL, 'odt: content.xml missing in the package'
FROM w WHERE d % 37 = 13
"""


@query("text_odt_extract", _ODT_SQL)
def text_odt_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ODT text extraction (operators/odt.py — the 16th file format;
    EU/Dutch government bodies, the reference's own domain, mandate
    OpenDocument): each doc becomes a real OCF package (mimetype
    member FIRST and STORED per spec) whose content.xml plants the
    format's defining traps — ``<text:s text:c="3"/>`` whitespace
    elision that must expand to exactly three spaces, ``<text:tab/>``
    and ``<text:line-break/>``, a footnote and an annotation whose
    BODIES drop while their tails stay in the paragraph, and nested
    formatting spans that must be transparent. The oracle constructs
    the expected prose from documents.text — a collapsed text:s, a
    leaked footnote or a lost tail all flip the md5. Docs with
    d%37 == 13 are the fail-closed poison (valid OCF + mimetype, no
    content.xml). Writer is template XML, parser is ElementTree —
    independent implementations. One Arrow pass each way."""
    from razulibs_spark.operators.odt import (
        odt_text_stats,
        synthesize_odt_media,
    )

    docs = T(spark, sf_dir, "documents")
    return odt_text_stats(synthesize_odt_media(docs))


_EPUB_SQL = """
WITH w AS (SELECT doc_id AS d, lang, string_split(text, ' ') AS ws
           FROM documents),
s AS (SELECT d, lang, ws,
             CAST(ceil(len(ws) / 2.0) AS INT) AS h FROM w),
ch AS (SELECT d, lang,
              ws[1:h] AS c1, ws[h+1:len(ws)] AS c2 FROM s),
e AS (SELECT d, lang,
             array_to_string(
               ['Chapter 1'] ||
               [array_to_string(c1[i:i+7], ' ')
                for i in generate_series(1, len(c1), 8)], chr(10))
             || chr(12) ||
             array_to_string(
               ['Chapter 2'] ||
               [array_to_string(c2[i:i+7], ' ')
                for i in generate_series(1, len(c2), 8)], chr(10))
               AS expected
      FROM ch WHERE d % 41 <> 19)
SELECT d AS doc_id, TRUE AS parsed,
       'Doc ' || CAST(d AS VARCHAR) AS title, lang AS language,
       CAST(2 AS BIGINT) AS n_chapters,
       md5(expected) AS text_md5, CAST(NULL AS VARCHAR) AS note
FROM e
UNION ALL
SELECT d, FALSE, NULL, NULL, NULL, NULL,
       'epub: OPF package book/pkg.opf missing'
FROM w WHERE d % 41 = 19
"""


@query("text_epub_extract", _EPUB_SQL)
def text_epub_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPUB extraction (operators/epub.py — the 17th file format;
    books are the most prized long-form training text and they ship
    as EPUB): each doc becomes a real OCF book whose READING ORDER
    lives only in the OPF spine — the manifest is deliberately
    scrambled (ch2, cover, ch1) and a cover document sits in the
    manifest and the zip but NOT in the spine, so walking anything
    but the spine shuffles chapters or leaks cover apparatus into the
    text. The package resolves through META-INF/container.xml to a
    non-default path (book/pkg.opf); dc:title/dc:language come from
    OPF metadata, never from chapter <title> chrome; chapter XHTML
    goes through the SAME html main-text extractor as the crawl
    family (one text-layer implementation). The oracle reconstructs
    the two-chapter text (words split in half, 8-word paragraphs)
    from documents. Docs with d%41 == 19 carry the fail-closed poison
    (container names a missing OPF). One Arrow pass each way."""
    from razulibs_spark.operators.epub import (
        epub_text_stats,
        synthesize_epub_media,
    )

    docs = T(spark, sf_dir, "documents")
    return epub_text_stats(synthesize_epub_media(docs))


def _zorder_oracle() -> str:
    from razulibs_spark.operators.layout import zorder_sql

    z = zorder_sql("d1", "d2", 8)
    stats = """
  SELECT COUNT(*) AS n_groups,
         SUM(CASE WHEN d1_min <= 47 AND d1_max >= 32
                  THEN 1 ELSE 0 END) AS scanned_d1,
         SUM(CASE WHEN d2_min <= 131 AND d2_max >= 100
                  THEN 1 ELSE 0 END) AS scanned_d2,
         SUM(CASE WHEN d1_min <= 47 AND d1_max >= 32
                   AND d2_min <= 131 AND d2_max >= 100
                  THEN 1 ELSE 0 END) AS scanned_both,
         SUM(n) AS rows_total
"""
    return f"""
WITH k AS (SELECT (o_custkey % 256) AS d1,
                  (dayofyear(o_orderdate) % 256) AS d2 FROM orders),
z AS (SELECT d1, d2, {z} AS z FROM k),
zg AS (SELECT (z >> 10) AS g, COUNT(*) AS n,
              MIN(d1) AS d1_min, MAX(d1) AS d1_max,
              MIN(d2) AS d2_min, MAX(d2) AS d2_max
       FROM z GROUP BY 1),
lg AS (SELECT (d2 >> 2) AS g, COUNT(*) AS n,
              MIN(d1) AS d1_min, MAX(d1) AS d1_max,
              MIN(d2) AS d2_min, MAX(d2) AS d2_max
       FROM k GROUP BY 1),
zs AS (SELECT 'zorder' AS layout, * FROM ({stats} FROM zg)),
ls AS (SELECT 'linear_d2' AS layout, * FROM ({stats} FROM lg))
SELECT layout, CAST(n_groups AS BIGINT) AS n_groups,
       CAST(scanned_d1 AS BIGINT) AS scanned_d1,
       CAST(scanned_d2 AS BIGINT) AS scanned_d2,
       CAST(scanned_both AS BIGINT) AS scanned_both,
       CAST(rows_total AS BIGINT) AS rows_total
FROM (SELECT * FROM ls UNION ALL SELECT * FROM zs)
ORDER BY layout
"""


@query("io_zorder_pruning", _zorder_oracle())
def io_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering vs linear sort for min/max
    pruning (operators/layout.py) — at 100 TB the biggest read-path
    lever after partitioning is row-group SKIPPING, and min/max only
    bites on columns the data is clustered by. Rows key on
    (customer-bucket, day-of-year) from `orders`; both layouts get
    the SAME 64-group budget (z >> 10 vs d2 >> 2 — data-independent
    boundaries, the deterministic analog of fixed-size row groups);
    three probes (a d1 range, a d2 range, their conjunction) count
    the groups each layout would scan. The interleave is exact
    integer shift/mask codegen the oracle reproduces bit-for-bit —
    the expected (and verified) shape: linear prunes only its own
    sort key and scans everything for d1, Z-order prunes BOTH. Scale:
    two partial-aggregating groupBys over ≤64 integer keys and a
    2-row union — statistics cost is independent of input size."""
    from razulibs_spark.operators.layout import layout_pruning_stats

    o = T(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 256).alias("c"),
        (F.dayofyear("o_orderdate") % 256).alias("doy"),
    )
    return layout_pruning_stats(
        o, F.col("c"), F.col("doy"),
        bits=8, group_shift=10,
        d1_lo=32, d1_hi=47, d2_lo=100, d2_hi=131,
    )


_COMPACTION_SQL = """
WITH f AS (SELECT doc_id AS fid, lang,
                  128 + (doc_id * 2654435761) % 4294967296 % 3969
                    AS kb
           FROM documents),
o AS (SELECT fid, lang, kb,
             SUM(kb) OVER (PARTITION BY lang
                           ORDER BY kb DESC, fid
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) - kb AS before_kb
      FROM f),
b AS (SELECT lang, kb, CAST(before_kb // 4096 AS BIGINT) AS bin
      FROM o)
SELECT lang, bin,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(kb) AS BIGINT) AS bin_kb,
       CAST(1000 * SUM(kb) // 4096 AS BIGINT) AS fill_permille
FROM b GROUP BY lang, bin
ORDER BY lang, bin
"""


@query("io_compaction_plan", _COMPACTION_SQL)
def io_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning — the OPTIMIZE primitive every
    100 TB lake runs nightly: streaming ingest and fine-grained
    partitioning leave thousands of KB-scale files whose per-file
    open/footer cost dominates scans, so files bin into target-size
    (4 MB here) rewrite groups. The binning is the cumulative-sum
    rule real compactors use (sort by size desc within the partition,
    bin = floor(preceding-bytes / target)) — fully deterministic and
    window-expressible, unlike first-fit heuristics. File sizes are a
    Knuth-hash function of doc_id (exact integer, engine-portable);
    the plan is one window + one aggregate per partition key. The
    oracle reproduces every bin's file count, byte total and fill
    ratio. Scale: the window partitions by the lake partition key
    (lang) — no global sort, no single-partition window; the plan
    output is dimension-sized (bins, not files)."""
    kb = (
        F.lit(128)
        + (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
        % F.lit(3969)
    ).alias("kb")
    f = T(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("fid"), "lang", kb
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("kb").desc(), F.col("fid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    before = (F.sum("kb").over(w) - F.col("kb")).alias("before_kb")
    b = f.select("lang", "kb", before).select(
        "lang", "kb",
        F.expr("before_kb DIV 4096").alias("bin"),
    )
    return (
        b.groupBy("lang", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("kb").cast("long").alias("bin_kb"),
            F.expr("1000 * sum(kb) DIV 4096").alias("fill_permille"),
        )
        .orderBy("lang", "bin")
    )


_SCHEMA_DIFF_SQL = """
WITH n AS (SELECT COUNT(*) AS total,
                  SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)
                    AS note_nulls,
                  SUM(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END)
                    AS lang_nulls,
                  SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
                    AS tag_nulls
           FROM documents)
SELECT * FROM (
SELECT 'doc_id' AS col, TRUE AS in_a, TRUE AS in_b,
       'bigint' AS type_a, 'bigint' AS type_b, 'ok' AS verdict,
       CAST(0 AS BIGINT) AS null_pm_a, CAST(0 AS BIGINT) AS null_pm_b
UNION ALL
SELECT 'lang', TRUE, TRUE, 'string', 'string', 'ok',
       0, (SELECT 1000 * lang_nulls // total FROM n)
UNION ALL
SELECT 'note', TRUE, FALSE, 'string', NULL, 'removed',
       (SELECT 1000 * note_nulls // total FROM n), NULL
UNION ALL
SELECT 'score', TRUE, TRUE, 'bigint', 'double', 'type_changed',
       0, 0
UNION ALL
SELECT 'tags', FALSE, TRUE, NULL, 'string', 'added',
       NULL, (SELECT 1000 * tag_nulls // total FROM n)
) ORDER BY col
"""


@query("io_schema_contract_diff", _SCHEMA_DIFF_SQL)
def io_schema_contract_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-contract diff between two ingest snapshots — the
    data-contract gate a lake runs before promoting a new batch: a
    silently added column, a dropped one, a long→double widening or a
    null-rate spike are exactly the upstream regressions that corrupt
    downstream consumers. Two snapshots are WRITTEN as real parquet
    (A: doc_id/lang/score:long/note with planted nulls; B: score
    becomes DOUBLE, note disappears, tags appears, lang gains nulls)
    and the verdicts come from the READ-BACK schemas and data — the
    parquet layer is genuinely exercised, not mocked. Per column:
    presence, physical type per side, verdict (ok / added / removed /
    type_changed) and exact integer null-permille per side; the
    oracle predicts every row from the construction. Scale: the diff
    is schema metadata (driver-side, O(columns)) plus one
    null-counting aggregate per snapshot — no joins, no shuffle
    beyond the two 1-row aggs."""

    base = scratch_path("schema_diff_" + os.path.basename(sf_dir.rstrip("/")))
    shutil.rmtree(base, ignore_errors=True)
    docs = T(spark, sf_dir, "documents")
    a = docs.select(
        "doc_id", "lang",
        (F.col("doc_id") % 100).alias("score"),
        F.when(F.col("doc_id") % 5 != 0, F.lit("n")).alias("note"),
    )
    b = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 != 0, F.col("lang")).alias("lang"),
        (F.col("doc_id") % 100).cast("double").alias("score"),
        F.when(F.col("doc_id") % 3 != 0, F.lit("t")).alias("tags"),
    )
    a.write.mode("overwrite").parquet(base + "/a")
    b.write.mode("overwrite").parquet(base + "/b")
    ra = spark.read.parquet(base + "/a")
    rb = spark.read.parquet(base + "/b")

    def null_pm(df):
        aggs = [
            F.expr(
                f"1000 * sum(cast(({c} is null) as long)) DIV count(1)"
            ).alias(c)
            for c in df.columns
        ]
        return df.agg(*aggs).first().asDict()

    pa, pb = null_pm(ra), null_pm(rb)
    ta = dict(ra.dtypes)
    tb = dict(rb.dtypes)
    rows = []
    for col in sorted(set(ta) | set(tb)):
        in_a, in_b = col in ta, col in tb
        if not in_a:
            verdict = "added"
        elif not in_b:
            verdict = "removed"
        elif ta[col] != tb[col]:
            verdict = "type_changed"
        else:
            verdict = "ok"
        rows.append(
            (
                col, in_a, in_b,
                ta.get(col), tb.get(col), verdict,
                pa.get(col), pb.get(col),
            )
        )
    return spark.createDataFrame(
        rows,
        "col string, in_a boolean, in_b boolean, type_a string, "
        "type_b string, verdict string, null_pm_a long, "
        "null_pm_b long",
    ).orderBy("col")


_BLOOM_SQL = """
WITH dim AS (SELECT DISTINCT c_custkey AS k FROM customer
             WHERE c_acctbal > 9000),
pos AS (SELECT DISTINCT p FROM (
          SELECT (k * 2654435761) % 4294967296 % 16384 AS p FROM dim
          UNION ALL
          SELECT ((k + 77) * 2654435761) % 4294967296 % 16384 FROM dim)),
facts AS (SELECT o_orderkey, o_custkey,
                 (o_custkey * 2654435761) % 4294967296 % 16384 AS p1,
                 ((o_custkey + 77) * 2654435761) % 4294967296 % 16384
                   AS p2
          FROM orders),
cand AS (SELECT f.* FROM facts f
         WHERE EXISTS (SELECT 1 FROM pos WHERE pos.p = f.p1)
           AND EXISTS (SELECT 1 FROM pos WHERE pos.p = f.p2)),
tru AS (SELECT f.o_orderkey FROM facts f
        JOIN dim ON dim.k = f.o_custkey)
SELECT CAST((SELECT COUNT(*) FROM dim) AS BIGINT) AS n_dim_keys,
       CAST((SELECT COUNT(*) FROM pos) AS BIGINT) AS n_bits_set,
       CAST((SELECT COUNT(*) FROM facts) AS BIGINT) AS n_facts,
       CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
       CAST((SELECT COUNT(*) FROM tru) AS BIGINT) AS n_true,
       CAST((SELECT COUNT(*) FROM cand) -
            (SELECT COUNT(*) FROM tru) AS BIGINT)
         AS n_false_positives
"""


@query("j_bloom_semijoin_reduction", _BLOOM_SQL)
def j_bloom_semijoin_reduction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bloom-filter semi-join reduction — the RUNTIME FILTER that
    makes selective dim→fact joins survive 100 TB: instead of
    shuffling every fact row to discover most match nothing, the dim
    side's keys build a Bloom filter that prunes facts at the SCAN.
    The filter is exact integer arithmetic (two Knuth hashes into a
    2^14-bit space — no RNG, no JVM Bloom internals), built
    distributedly as a distinct bit-position dimension and applied as
    two broadcast LEFT SEMI joins; the exact semi-join then counts
    true matches so the FALSE-POSITIVE overhead — the quantity that
    decides the filter's size budget — is measured, not assumed. The
    oracle replays the identical construction. Scale: the bit table
    is ≤16384 rows whatever the data size (broadcast), facts stream
    map-side; the expensive exact join runs only to audit the
    filter."""
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    dim = (
        cust.filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_custkey").alias("k"))
        .distinct()
    )

    def h(col: F.Column, salt: int) -> F.Column:
        return (
            (col + F.lit(salt)) * F.lit(2654435761)
        ) % F.lit(4294967296) % F.lit(16384)

    pos = (
        dim.select(h(F.col("k"), 0).alias("p"))
        .unionAll(dim.select(h(F.col("k"), 77).alias("p")))
        .distinct()
    )
    facts = orders.select(
        "o_orderkey", "o_custkey",
        h(F.col("o_custkey"), 0).alias("p1"),
        h(F.col("o_custkey"), 77).alias("p2"),
    )
    # ONE job: broadcast flag-joins mark bloom membership and exact
    # membership per fact row; everything aggregates in a single pass
    # (five separate .count() actions would recompute the plan).
    pos1 = pos.select(F.col("p").alias("p1"), F.lit(1).alias("m1"))
    pos2 = pos.select(F.col("p").alias("p2"), F.lit(1).alias("m2"))
    dimm = dim.select(
        F.col("k").alias("o_custkey"), F.lit(1).alias("mt")
    )
    flagged = (
        facts.join(F.broadcast(pos1), "p1", "left")
        .join(F.broadcast(pos2), "p2", "left")
        .join(F.broadcast(dimm), "o_custkey", "left")
    )
    fact_stats = flagged.agg(
        F.count(F.lit(1)).alias("n_facts"),
        F.sum(
            (F.col("m1").isNotNull() & F.col("m2").isNotNull())
            .cast("long")
        ).alias("n_candidates"),
        F.sum(F.col("mt").isNotNull().cast("long")).alias("n_true"),
    )
    dim_stats = dim.agg(F.count(F.lit(1)).alias("n_dim_keys"))
    pos_stats = pos.agg(F.count(F.lit(1)).alias("n_bits_set"))
    return (
        dim_stats.crossJoin(pos_stats)
        .crossJoin(fact_stats)
        .select(
            "n_dim_keys", "n_bits_set", "n_facts", "n_candidates",
            "n_true",
            (F.col("n_candidates") - F.col("n_true")).alias(
                "n_false_positives"
            ),
        )
    )


# ---------------------------------------------------------------------------
# PPTX extraction (r11 — the 18th file format; the OPC office triad
# completed: DOCX words, XLSX tables, PPTX slides)
# ---------------------------------------------------------------------------

_PPTX_SQL = """
WITH w AS (SELECT doc_id AS d, string_split(text, ' ') AS ws
           FROM documents),
pz AS (SELECT d, ws,
              CAST(1 + ceil(ceil(len(ws) / 8.0) / 4.0) AS BIGINT)
                AS ns
       FROM w),
p AS (SELECT d, ns,
             [array_to_string(ws[i:i+7], ' ')
              for i in generate_series(1, len(ws), 8)] AS ps
      FROM pz WHERE d % 31 <> 11),
s AS (SELECT d, ns,
             [array_to_string(ps[j:j+3], chr(10))
              for j in generate_series(1, len(ps), 4)] AS sl
      FROM p),
e AS (SELECT d, ns,
             'Doc ' || CAST(d AS VARCHAR)
             || CASE WHEN d % 53 = 7 THEN ''
                     ELSE chr(10) || 'w-' || CAST(d AS VARCHAR)
                          || chr(10) || 'after'
                          || chr(10) || 'grouped' || chr(10) || 'cellA'
                          || chr(10) || 'cellB' END
             || chr(12) || array_to_string(sl, chr(12)) AS expected
      FROM s)
SELECT d AS doc_id, TRUE AS parsed, ns AS n_slides,
       CASE WHEN d % 53 = 7 THEN ns ELSE ns + 1 END AS n_shapes,
       md5(expected) AS text_md5, CAST(NULL AS VARCHAR) AS note
FROM e
UNION ALL
SELECT d, FALSE, NULL, NULL, NULL,
       'pptx: slide part ppt/slides/slide' || CAST(ns AS VARCHAR)
       || '.xml missing in package'
FROM pz WHERE d % 31 = 11
"""


@query("text_pptx_extract", _PPTX_SQL)
def text_pptx_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPTX slide-text extraction (operators/pptx.py — the 18th file
    format, completing the OPC office triad): each doc becomes a real
    deck whose READING ORDER lives only in p:sldIdLst + the rels walk
    — slide parts are numbered in REVERSE so zip order and file names
    both lie; the torture slide splits words across runs, plants an
    <a:br/> and an <a:fld> slide-number field that must NOT leak; an
    ORPHAN slide sits in the package but not in sldIdLst; a textless
    picture shape contributes nothing. Docs with d%31 == 11 name a
    slide part the package lacks — fail-closed with the part named
    (the oracle derives the reverse-numbered part name from the word
    count). One Arrow pass each way, map-only."""
    from razulibs_spark.operators.pptx import (
        pptx_text_stats,
        synthesize_pptx_media,
    )

    docs = T(spark, sf_dir, "documents")
    return pptx_text_stats(synthesize_pptx_media(docs))


_PPTX_NOTES_SQL = """
WITH w AS (SELECT doc_id AS d, string_split(text, ' ') AS ws
           FROM documents),
pz AS (SELECT d, ws,
              CAST(1 + ceil(ceil(len(ws) / 8.0) / 4.0) AS BIGINT)
                AS ns
       FROM w),
p AS (SELECT d, ns,
             [array_to_string(ws[i:i+7], ' ')
              for i in generate_series(1, len(ws), 8)] AS ps
      FROM pz WHERE d % 31 <> 11),
s AS (SELECT d, ns,
             [array_to_string(ps[j:j+3], chr(10))
              for j in generate_series(1, len(ps), 4)] AS sl
      FROM p),
e AS (SELECT d, ns,
             CASE WHEN d % 53 = 7 THEN
               'Doc ' || CAST(d AS VARCHAR) || chr(10)
               || 'SPEAKER NOTES apparatus'
               || chr(12) || array_to_string(
                    [sl[j] || chr(10) || 'SPEAKER NOTES apparatus'
                     for j in generate_series(1, len(sl))], chr(12))
             ELSE
               'Doc ' || CAST(d AS VARCHAR)
               || chr(10) || 'w-' || CAST(d AS VARCHAR)
               || chr(10) || 'after'
               || chr(10) || 'grouped' || chr(10) || 'cellA'
               || chr(10) || 'cellB'
               || chr(10) || 'smartart-' || CAST(d AS VARCHAR)
               || chr(10) || 'smartart-two'
               || chr(10) || 'note-' || CAST(d AS VARCHAR) || '-s0'
               || chr(12) || array_to_string(
                    [sl[j] || chr(10) || 'note-' || CAST(d AS VARCHAR)
                     || '-s' || CAST(j AS VARCHAR)
                     for j in generate_series(1, len(sl))], chr(12))
             END AS expected
      FROM s)
SELECT d AS doc_id, TRUE AS parsed, ns AS n_slides,
       CASE WHEN d % 53 = 7 THEN ns ELSE ns + 1 END AS n_shapes,
       md5(expected) AS text_md5, CAST(NULL AS VARCHAR) AS note
FROM e
UNION ALL
SELECT d, FALSE, NULL, NULL, NULL,
       'pptx: slide part ppt/slides/slide' || CAST(ns AS VARCHAR)
       || '.xml missing in package'
FROM pz WHERE d % 31 = 11
"""


@query("text_pptx_notes_extract", _PPTX_NOTES_SQL)
def text_pptx_notes_extract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The OPT-IN PPTX surface (r12 — VERDICT r11 missing #2), driver-
    gated: the same decks as text_pptx_extract parsed with
    include_notes=True, so SmartArt diagram-data prose (dgm:ptLst →
    dgm:t, resolved through the slide's own rels) lands in document
    order inside the slide and each slide's speaker notes append
    after its text; the foreign producer's package-absolute notes
    rels resolve too. The oracle rebuilds the full notes-extended
    text per deck — a dropped diagram part, a notes paragraph leaking
    into the wrong slide, or the default path's exclusions bleeding
    in all flip the hash. Same map-only Arrow shape."""
    from razulibs_spark.operators.pptx import (
        pptx_text_stats,
        synthesize_pptx_media,
    )

    docs = T(spark, sf_dir, "documents")
    return pptx_text_stats(
        synthesize_pptx_media(docs), include_notes=True
    )


_K2_TTL_SHARDED_SQL = f"""
WITH triples AS ({_O2_SQL})
SELECT s, p, o FROM triples
UNION ALL
SELECT 'ldto:mld' || CAST(doc_id AS VARCHAR) AS s,
       'ldto:note' AS p,
       'ml ' || CAST(doc_id AS VARCHAR) || chr(10)
         || 'mid . line' || chr(10) || 'tail' AS o
FROM documents WHERE doc_id % 13 = 4
"""


@query("k2_turtle_sharded_roundtrip", _K2_TTL_SHARDED_SQL)
def k2_turtle_sharded_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sharded SINGLE-document Turtle source (r11 — closes VERDICT
    r10 missing #5, the multi-GB-dump shape): the O2 triples write as
    ONE grouped predicate-list Turtle file (multi-line blocks, small
    caps so blocks really span lines), then ``read_turtle_sharded``
    distributes that single document — 8 forced input splits at
    sf0.01, so statements straddle split boundaries and the two-pass
    parallel statement-numbering scan is actually exercised — and
    the oracle checks the cycle is the identity on the O2 set. Docs
    with d%13 == 4 additionally append MULTI-LINE long-string
    statements with '.' inside the literal plus trailing comments
    after terminators (r12 — the r11 contract exclusions, retired):
    the 3-state per-partition transfer-function scan must frame them
    across split boundaries, and the oracle models the reassembled
    literal text exactly. At 100 TB the same plan is ~800 tasks per
    100 GB dump with one bounded-size shuffle (statement reassembly)
    and two small tuples per partition as the only driver traffic."""
    from razulibs_spark.operators.rdf import compact_triples, expand_triples
    from razulibs_spark.sources.rdf_io import TURTLE_FULL_HEADER
    from razulibs_spark.sources.turtle_full import (
        grouped_turtle_blocks,
        read_turtle_sharded,
    )

    blocks = grouped_turtle_blocks(
        expand_triples(_o2_triples_full(spark, sf_dir)),
        obj_cap=64, pred_cap=3,
    )
    value = F.concat(
        F.col("sj"), F.lit(" "), F.col("po"), F.lit(" .")
    ).alias("value")
    header = spark.range(1).select(
        F.lit(TURTLE_FULL_HEADER.rstrip("\n")).alias("value")
    )
    path = scratch_path("turtle_sharded_rt")
    # ONE physical file, the dump shape (the single-file write is the
    # fixture constructor, not the engine plan — real dumps arrive as
    # one file; the point under test is reading it back distributed).
    # repartition(1), NOT coalesce(1): coalesce propagates up and
    # collapses the whole block-building stage into one task, while
    # repartition keeps it parallel and single-tasks only the write.
    ml = (
        T(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 13 == 4)
        .select(
            F.concat(
                F.lit("ldto:mld"), F.col("doc_id"),
                F.lit(' ldto:note """ml '), F.col("doc_id"),
                F.lit("\nmid . line\ntail\"\"\""),
                F.lit(" . # trailing note for "),
                F.col("doc_id"), F.lit("."),
            ).alias("value")
        )
    )
    header.unionAll(blocks.select(value)).unionAll(ml).repartition(
        1
    ).write.mode("overwrite").text(path)
    raw = read_turtle_sharded(spark, path, min_partitions=8)
    return compact_triples(raw).select("s", "p", "o")


_MBOX_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
SELECT doc_id, TRUE AS parsed,
       md5('Report ' || CAST(doc_id AS VARCHAR)
           || CASE WHEN doc_id % 3 = 0 THEN ' plain'
                   ELSE ' naïve' END) AS subject_md5,
       md5(CASE WHEN doc_id % 3 = 0 THEN 'plain summary: '
                ELSE 'naïve résumé: ' END
           || array_to_string(ws[1:20], ' ')
           || CASE WHEN doc_id % 41 = 5 AND doc_id % 3 = 0
                   THEN chr(10) || 'From cl2 dialect' ELSE '' END)
         AS body_md5,
       CAST(CASE WHEN doc_id % 3 = 1 THEN 2 ELSE 1 END AS BIGINT)
         AS n_parts,
       CASE doc_id % 3 WHEN 0 THEN '7bit' WHEN 1 THEN 'base64'
            ELSE 'quoted-printable' END AS cte,
       CAST(NULL AS VARCHAR) AS note
FROM w
"""


@query("text_mbox_extract", _MBOX_SQL)
def text_mbox_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MBOX mail-archive extraction (operators/mbox.py — the 19th
    file format; list archives and mail spools arrive as ONE
    multi-GB file): every document's RFC 5322 message (the same
    three transfer shapes as text_eml_extract) concatenates into a
    single mboxrd file — bodies containing ``From ``-leading lines
    are quoted on write and must un-quote on read — which
    ``read_mbox_sharded`` then distributes across 8 FORCED input
    splits: separator counting is the two-pass parallel scan, so
    messages straddling split boundaries reassemble exactly; doc_id
    is recovered from each message's own (RFC 2047-decoded) Subject
    so correctness never leans on file order. Docs with d%41 == 5
    (r12) write as mboxcl2 — Content-Length framed, bodies unquoted,
    the 7bit ones planting a bare ``From `` body line — and the
    auto-dialect reader must frame them by length (the oracle models
    the planted line, so a mis-split flips both body hash and row
    count). The oracle recomputes
    subject/body md5, leaf-part count and the CTE label per doc. At
    100 TB: ~800 tasks per 100 GB spool, one bounded shuffle, one
    long per partition of driver traffic."""
    from razulibs_spark.operators.eml import encode_eml
    from razulibs_spark.operators.mbox import (
        _FROM_LINE,
        mbox_escape,
        mbox_message_stats,
        read_mbox_sharded,
    )

    def spool_entry(doc_id, text):
        d = int(doc_id)
        msg = encode_eml(d, str(text).split(" ")).decode("utf-8")
        if d % 41 != 5:
            return [(_FROM_LINE + "\n" + mbox_escape(msg),)]
        # mboxcl2 axis (r12): Content-Length framed,
        # bodies UNQUOTED — the 7bit docs plant a bare
        # 'From ' body line that would mis-split under
        # mboxrd framing; the oracle models the extra
        # line, so a framing error flips the hash.
        # LF-native like real Unix spools: CL counts
        # stored bytes, and the stored form is LF.
        msg = msg.replace("\r\n", "\n")
        head, body = msg.split("\n\n", 1)
        if d % 3 == 0:
            body += "\nFrom cl2 dialect"
        cl = len(body.encode("utf-8"))
        msg = head + f"\nContent-Length: {cl}\n\n" + body
        return [(_FROM_LINE + "\n" + msg,)]

    path = scratch_path("mbox_rt")
    (
        map_rows(
            T(spark, sf_dir, "documents").select("doc_id", "text"),
            spool_entry,
            "value string",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .text(path)
    )
    msgs = read_mbox_sharded(spark, path, min_partitions=8)
    return mbox_message_stats(msgs)


@query("text_wiki_sharded_extract", _WIKITEXT_SQL)
def text_wiki_sharded_extract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sharded SINGLE-dump MediaWiki ingestion (r11 — the shape
    Wikipedia actually publishes: pages-articles.xml is ONE ~100 GB
    document, where text_wikitext_extract's per-file tasks need the
    multistream shard layout): the same synthesized pages write as
    ONE dump file (coalesce(1) through the template producer — the
    fixture constructor, not the engine plan), then
    ``read_wiki_dump_sharded`` distributes that single document
    across 8 FORCED input splits — <page> boundary lines frame the
    records, the shared two-pass split-scan reassembles pages that
    straddle split boundaries, and the SAME wikitext stripping runs
    in the Arrow stage. Identical oracle to the per-file entry:
    sharding must be invisible to extraction."""

    from razulibs_spark.operators.wikitext import (
        read_wiki_dump_sharded,
        write_wiki_dump,
    )

    dump_dir = scratch_path("wiki_dump1_" + os.path.basename(sf_dir.rstrip("/")))
    shutil.rmtree(dump_dir, ignore_errors=True)
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    write_wiki_dump(docs.coalesce(1), dump_dir)
    return read_wiki_dump_sharded(
        spark, dump_dir + "/part-00000.xml", min_partitions=8
    )
