"""Core workload: the reference's own operator surface (SURVEY.md §2.1-2.6).

Each entry pairs a Spark DataFrame query with a DuckDB oracle; see
``registry.py`` for the pairing conventions (identical aliases, 2-decimal
rounding of float aggregates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .registry import load, query, r2

# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1 shape — exactly the reference's operator set in one
# query: WHERE comparison + single-pass aggregation + GROUP BY + ORDER BY
# (SURVEY.md §7.1). Reference pipeline: select.go:216-597.
# ---------------------------------------------------------------------------


@query(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                       AS sum_qty,
           round(sum(l_extendedprice), 2)                                  AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)               AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 2)                                       AS avg_qty,
           round(avg(l_extendedprice), 2)                                  AS avg_price,
           round(avg(l_discount), 2)                                       AS avg_disc,
           count(*)                                                        AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            r2(F.sum("l_quantity"), "sum_qty"),
            r2(F.sum("l_extendedprice"), "sum_base_price"),
            r2(F.sum(disc_price), "sum_disc_price"),
            r2(F.sum(disc_price * (1 + F.col("l_tax"))), "sum_charge"),
            r2(F.avg("l_quantity"), "avg_qty"),
            r2(F.avg("l_extendedprice"), "avg_price"),
            r2(F.avg("l_discount"), "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# S1: full table scan (reference ReadAllRows, storage.go:87-117).
# ---------------------------------------------------------------------------


@query("scan_full_table", "SELECT r_regionkey, r_name FROM region")
def scan_full_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "region").select("r_regionkey", "r_name")


# P1/P2: projection + alias (select.go:74-135).
@query(
    "projection_alias",
    """
    SELECT c_custkey AS id, c_name AS customer, round(c_acctbal, 2) AS balance
    FROM customer WHERE c_acctbal > 1000
    """,
)
def projection_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 1000)
        .select(
            F.col("c_custkey").alias("id"),
            F.col("c_name").alias("customer"),
            r2(F.col("c_acctbal"), "balance"),
        )
    )


# E1: comparison operators (expr.go:90-156).
@query(
    "filter_compare",
    """
    SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS total
    FROM orders
    WHERE o_totalprice >= 100000 AND o_orderstatus != 'F'
    """,
)
def filter_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .filter((F.col("o_totalprice") >= 100000) & (F.col("o_orderstatus") != "F"))
        .select("o_orderkey", "o_orderstatus", r2(F.col("o_totalprice"), "total"))
    )


# E4: IN membership (expr.go:159-193).
@query(
    "filter_in",
    """
    SELECT n_nationkey, n_name FROM nation
    WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_21')
    """,
)
def filter_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin("NATION_3", "NATION_7", "NATION_21"))
        .select("n_nationkey", "n_name")
    )


# E5: BETWEEN inclusive (expr.go:196-247).
@query(
    "filter_between",
    """
    SELECT p_partkey, p_name, p_size FROM part
    WHERE p_size BETWEEN 10 AND 20
    """,
)
def filter_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "part")
        .filter(F.col("p_size").between(10, 20))
        .select("p_partkey", "p_name", "p_size")
    )


# E6: LIKE — reference supports only %x%, %x, x% shapes (expr.go:250-277);
# the contains form shown here; standard LIKE is a documented superset.
@query(
    "filter_like",
    """
    SELECT p_partkey, p_name, p_brand FROM part
    WHERE p_name LIKE '%ol%' AND p_brand LIKE 'Brand#1%'
    """,
)
def filter_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("ol") & F.col("p_brand").startswith("Brand#1"))
        .select("p_partkey", "p_name", "p_brand")
    )


# E2/E3/E7: NOT / AND / OR / parenthesized nesting (expr.go:51-87,520-537).
@query(
    "filter_not_and_or",
    """
    SELECT s_suppkey, s_name, round(s_acctbal, 2) AS acctbal FROM supplier
    WHERE NOT (s_acctbal < 0 OR s_nationkey = 3) AND s_acctbal <= 9000
    """,
)
def filter_not_and_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "supplier")
        .filter(
            ~((F.col("s_acctbal") < 0) | (F.col("s_nationkey") == 3))
            & (F.col("s_acctbal") <= 9000)
        )
        .select("s_suppkey", "s_name", r2(F.col("s_acctbal"), "acctbal"))
    )


# A1-A5/A7: global aggregation, one synthetic group (select.go:174-185).
@query(
    "agg_global",
    """
    SELECT count(*) AS count,
           count(l_quantity)            AS count_l_quantity,
           round(sum(l_quantity), 2)    AS sum_l_quantity,
           round(avg(l_quantity), 2)    AS avg_l_quantity,
           round(min(l_quantity), 2)    AS min_l_quantity,
           round(max(l_quantity), 2)    AS max_l_quantity
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reference default output names: count, count_<col>, sum_<col>, ...
    # (select.go:103-121).
    return load(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("count"),
        F.count("l_quantity").alias("count_l_quantity"),
        r2(F.sum("l_quantity"), "sum_l_quantity"),
        r2(F.avg("l_quantity"), "avg_l_quantity"),
        r2(F.min("l_quantity"), "min_l_quantity"),
        r2(F.max("l_quantity"), "max_l_quantity"),
    )


# A6/A9: GROUP BY + HAVING (textual-rewrite HAVING in the reference,
# select.go:370-430 — Catalyst resolves it natively here).
@query(
    "agg_group_having",
    """
    SELECT o_orderpriority, count(*) AS count, round(sum(o_totalprice), 2) AS sum_total
    FROM orders
    GROUP BY o_orderpriority
    HAVING count(*) > 10
    ORDER BY o_orderpriority
    """,
)
def agg_group_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("count"),
            r2(F.sum("o_totalprice"), "sum_total"),
        )
        .filter(F.col("count") > 10)
        .orderBy("o_orderpriority")
    )


# A8: lenient GROUP BY — no aggregate in projection ⇒ implicit COUNT(*)
# (select.go:187-192).
@query(
    "agg_group_implicit_count",
    """
    SELECT c_mktsegment, count(*) AS count FROM customer
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def agg_group_implicit_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.col("c_mktsegment").asc())
    )


# A11: DISTINCT (select.go:536-565).
@query(
    "distinct_values",
    "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)
def distinct_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


# O1-O3: ORDER BY DESC + LIMIT + OFFSET, deterministic via unique tie-break
# (reference: single-column ORDER BY select.go:194-204; LIMIT/OFFSET
# select.go:452-474).
@query(
    "order_limit_offset",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS total
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50 OFFSET 10
    """,
)
def order_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .offset(10)
        .limit(50)
        .select("o_orderkey", r2(F.col("o_totalprice"), "total"))
    )


# Semi-structured column: events.props holds JSON strings — parse JVM-side
# (get_json_object) rather than in Python; DuckDB mirrors with json_extract.
@query(
    "json_extract_props",
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        )
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"))
        .orderBy("event_type")
    )


@query(
    "refsql_json_family",
    """
    WITH doc AS (
      SELECT event_id,
             '{"u": ' || CAST(user_id AS VARCHAR) || ', "t": "' || event_type
             || '", "o": {"k": ' || json_extract_string(props, '$.k')
             || ', "tags": ["' || event_type || '", "x"]}}' AS j
      FROM events WHERE event_id % 7 = 0
    )
    SELECT CAST(j ->> 'u' AS BIGINT) % 10 AS bucket,
           count(*) AS n,
           CAST(SUM(CAST(json_extract_string(j, '$.o.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(SUM(json_array_length(j, '$.o.tags')) AS BIGINT) AS tags,
           CAST(SUM(CASE WHEN json_valid(j) THEN 1 ELSE 0 END) AS BIGINT) AS ok,
           CAST(MAX(array_length(json_keys(j ->> 'o'))) AS BIGINT) AS okeys,
           MIN(json_extract_path_text(j, '$.o.tags[0]')) AS tag0
    FROM doc GROUP BY 1 ORDER BY bucket
    """,
)
def refsql_json_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-13: the JSON text-extraction family THROUGH THE DIALECT on the
    # identical SQL text DuckDB runs natively — nested documents are BUILT
    # in-query (string concat over events columns), then every supported
    # form extracts from them: '->>' (bare key, chained hop), literal
    # bare-key and '$'-path json_extract_string, the Postgres alias
    # json_extract_path_text with an array index, plus the drift-closed
    # wrappers json_valid / json_keys / json_array_length (DuckDB's
    # valid-non-array→0 and non-object→[] edges restored over Spark's
    # NULLs via try_parse_json CASE wrappers). Everything lowers to
    # get_json_object — JVM-side, codegen'd, zero Python in the row path;
    # the one shuffle is the GROUP BY. A path-normalization bug, a wrapper
    # edge miss, or a '->>'-chain mis-parse flips the value hash.
    return _ref_select(
        spark,
        sf_dir,
        "WITH doc AS ("
        " SELECT event_id,"
        " '{\"u\": ' || CAST(user_id AS VARCHAR) || ', \"t\": \"' ||"
        " event_type || '\", \"o\": {\"k\": ' ||"
        " json_extract_string(props, '$.k') ||"
        " ', \"tags\": [\"' || event_type || '\", \"x\"]}}' AS j"
        " FROM events WHERE event_id % 7 = 0)"
        " SELECT CAST(j ->> 'u' AS BIGINT) % 10 AS bucket,"
        " count(*) AS n,"
        " CAST(SUM(CAST(json_extract_string(j, '$.o.k') AS BIGINT))"
        " AS BIGINT) AS sum_k,"
        " CAST(SUM(json_array_length(j, '$.o.tags')) AS BIGINT) AS tags,"
        " CAST(SUM(CASE WHEN json_valid(j) THEN 1 ELSE 0 END) AS BIGINT)"
        " AS ok,"
        " CAST(MAX(array_length(json_keys(j ->> 'o'))) AS BIGINT) AS okeys,"
        " MIN(json_extract_path_text(j, '$.o.tags[0]')) AS tag0"
        " FROM doc GROUP BY 1 ORDER BY bucket",
    )


# A2: COUNT(col) counts non-NULL only — exercised with a genuinely NULL
# column (the reference counts key-presence instead; documented delta,
# SURVEY.md §7.4 / select.go:106-112).
@query(
    "refsql_scalar_family",
    """SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(length(concat(c_name, NULL, '-', c_mktsegment))) AS BIGINT) AS concat_len, CAST(SUM(sign(c_acctbal)) AS BIGINT) AS sign_sum, CAST(SUM(CASE WHEN c_name ~ 'Customer#[0-9]+' THEN 1 ELSE 0 END) AS BIGINT) AS re_full, MIN(left(c_name, -3)) AS l_neg, MAX(right(c_name, 4)) AS r_tail, MAX(split_part(c_name, '#', 2)) AS sp2, CAST(SUM(length(regexp_replace(c_name, '[0-9]', '', 'g'))) AS BIGINT) AS nodigit_len, round(SUM(log(c_acctbal + 1001)), 2) AS log_sum, CAST(SUM((c_nationkey % 5) ^ 2) AS BIGINT) AS pow_sum FROM customer GROUP BY c_mktsegment ORDER BY seg""",
)
def refsql_scalar_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-14: the numeric/string scalar family THROUGH THE DIALECT on
    # the identical SQL text DuckDB runs natively (the JSON/temporal-
    # family pattern). One statement exercises the probed closures
    # end-to-end: concat's NULL-skipping (concat_ws('') lowering),
    # sign's TINYINT-vs-DOUBLE type closure inside SUM, the anchored
    # '~' regex operator (regexp_full_match vs Spark's unanchored
    # rlike), left() with a NEGATIVE length (Spark returns ''),
    # regexp_replace's 'g' flag (DuckDB replaces only the FIRST match
    # without it), 1-arg log (log10 in DuckDB, ln in Spark — the
    # highest-blast-radius silent drift of the family), the '^' power
    # operator (bitwise XOR in Spark), and split_part as a probed twin.
    # Entered by the round-14 one-for-one registry swap retiring
    # multimodal_phash_neardup (rows-only; redundant by composition —
    # see workloads/scale.py). Scale shape: scan-stage Column algebra +
    # ONE hash aggregate on c_mktsegment — zero UDFs, zero extra
    # exchanges; every rewrite is token-level so Catalyst sees plain
    # function calls inside whole-stage codegen.
    return _ref_select(spark, sf_dir, """SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(length(concat(c_name, NULL, '-', c_mktsegment))) AS BIGINT) AS concat_len, CAST(SUM(sign(c_acctbal)) AS BIGINT) AS sign_sum, CAST(SUM(CASE WHEN c_name ~ 'Customer#[0-9]+' THEN 1 ELSE 0 END) AS BIGINT) AS re_full, MIN(left(c_name, -3)) AS l_neg, MAX(right(c_name, 4)) AS r_tail, MAX(split_part(c_name, '#', 2)) AS sp2, CAST(SUM(length(regexp_replace(c_name, '[0-9]', '', 'g'))) AS BIGINT) AS nodigit_len, round(SUM(log(c_acctbal + 1001)), 2) AS log_sum, CAST(SUM((c_nationkey % 5) ^ 2) AS BIGINT) AS pow_sum FROM customer GROUP BY c_mktsegment ORDER BY seg""")


@query(
    "agg_count_null_semantics",
    """
    SELECT count(*) AS count,
           count(nullif(o_orderstatus, 'O')) AS count_nonopen,
           count(DISTINCT nullif(o_orderstatus, 'O')) AS distinct_nonopen
    FROM orders
    """,
)
def agg_count_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    nonopen = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return orders.agg(
        F.count(F.lit(1)).alias("count"),
        F.count(nonopen).alias("count_nonopen"),
        F.count_distinct(nonopen).alias("distinct_nonopen"),
    )


# --- reference-dialect-driven entries --------------------------------------
# These execute through plans/refsql.py (tokenizer → recursive-descent →
# Query builder), so the driver's oracle gate exercises the reference SQL
# dialect end-to-end, not just the DataFrame surface.


class _SfTables:
    """Minimal table resolver so RefSQL can run SELECTs over the sf dir."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    def table(self, name: str) -> DataFrame:
        return load(self.spark, self.sf_dir, name)


def _ref_select(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    from ..plans.refsql import RefSQL

    return RefSQL(_SfTables(spark, sf_dir)).execute(sql)


@query(
    "refsql_group_having_order",
    """
    SELECT o_custkey, count(*) AS count FROM orders
    GROUP BY o_custkey HAVING count(*) > 10
    ORDER BY o_custkey
    """,
)
def refsql_group_having_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Orders-per-customer averages ~10 at EVERY scale factor, so the
    # HAVING threshold discriminates (some groups pass, some don't) at the
    # pytest scale and the driver scales alike — a vacuous HAVING would
    # let a parser bug that drops the clause slip through the gate.
    return _ref_select(
        spark,
        sf_dir,
        "SELECT o_custkey, COUNT(*) FROM orders "
        "GROUP BY o_custkey HAVING count > 10 ORDER BY o_custkey",
    )


@query(
    "refsql_where_like_between",
    """
    SELECT p_partkey, p_name FROM part
    WHERE p_name LIKE '%ol%' AND p_size BETWEEN 5 AND 10
      AND NOT p_brand = 'Brand#3'
    """,
)
def refsql_where_like_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ref_select(
        spark,
        sf_dir,
        "SELECT p_partkey, p_name FROM part "
        "WHERE p_name LIKE '%ol%' AND p_size BETWEEN 5 AND 10 "
        "AND NOT p_brand = 'Brand#3'",
    )


@query(
    "refsql_join_customer_nation",
    """
    SELECT n_name, count(*) AS count,
           min(c_acctbal) AS min_c_acctbal, max(c_acctbal) AS max_c_acctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
)
def refsql_join_customer_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-5 dialect extension driven END-TO-END through the gate: an
    # inner join with a qualified ON predicate, grouped aggregates over the
    # joined frame (min/max are order-insensitive — no float-sum hash
    # risk), reference default output names. A parser regression in the
    # JOIN clause, the alias plumbing, or the qualified-column resolution
    # fails this row, not just a pytest.
    return _ref_select(
        spark,
        sf_dir,
        "SELECT n_name, COUNT(*), MIN(customer.c_acctbal), "
        "MAX(customer.c_acctbal) FROM customer "
        "JOIN nation ON customer.c_nationkey = nation.n_nationkey "
        "GROUP BY n_name ORDER BY n_name",
    )


@query(
    "refsql_left_join_counts",
    """
    SELECT n_name, count(c_custkey) AS n_customers
    FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
)
def refsql_left_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LEFT JOIN through the dialect with table aliases: nations with zero
    # customers must surface with count 0 (COUNT(col) over the null-padded
    # side), pinning the outer-join semantics and the AS-alias resolution.
    return _ref_select(
        spark,
        sf_dir,
        "SELECT n.n_name, COUNT(c.c_custkey) AS n_customers "
        "FROM nation AS n LEFT JOIN customer AS c "
        "ON n.n_nationkey = c.c_nationkey "
        "GROUP BY n.n_name ORDER BY n_name",
    )


@query(
    "refsql_ctas_insert_select",
    """
    WITH hot AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_totalprice > 400000
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_totalprice < 2000
    )
    SELECT o_orderstatus, count(*) AS count,
           min(o_totalprice) AS min_o_totalprice,
           max(o_totalprice) AS max_o_totalprice
    FROM hot GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def refsql_ctas_insert_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CTAS + set-based INSERT ... SELECT through the dialect: materialize
    # the high-value slice as a new table, append the low-value slice with
    # INSERT..SELECT, aggregate the result. Order-insensitive aggregates
    # (count/min/max) keep the hash float-safe; the oracle unions the two
    # slices directly.
    import hashlib
    import os
    import shutil
    import tempfile

    from .. import Engine

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"sparkdb_ctas_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    e = Engine(spark, root)
    e.ingest_parquet(f"{sf_dir}/orders.parquet", "orders_ct")
    e.ref_sql(
        "CREATE TABLE hot_ct AS SELECT o_orderkey, o_orderstatus, "
        "o_totalprice FROM orders_ct WHERE o_totalprice > 400000"
    )
    e.ref_sql(
        "INSERT INTO hot_ct SELECT o_orderkey, o_orderstatus, o_totalprice "
        "FROM orders_ct WHERE o_totalprice < 2000"
    )
    return e.ref_sql(
        "SELECT o_orderstatus, COUNT(*), MIN(o_totalprice), "
        "MAX(o_totalprice) FROM hot_ct "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"
    )


@query(
    "refsql_window_topk",
    """
    WITH r AS (
      SELECT o_orderstatus, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_orderstatus
                                     ORDER BY o_totalprice DESC, o_orderkey)
                  AS INT) AS rn
      FROM orders)
    SELECT o_orderstatus, o_orderkey, o_totalprice, rn
    FROM r ORDER BY rn, o_orderstatus LIMIT 9
    """,
)
def refsql_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Window functions through the dialect: per-status price ranking with a
    # deterministic (price DESC, key) order, top-3 ranks across the three
    # statuses. The oracle computes the identical window in ANSI SQL — a
    # partition/order/frame bug in the OVER plumbing reorders rows and
    # flips the hash.
    return _ref_select(
        spark,
        sf_dir,
        "SELECT o_orderstatus, o_orderkey, o_totalprice, "
        "ROW_NUMBER() OVER (PARTITION BY o_orderstatus "
        "ORDER BY o_totalprice DESC, o_orderkey) AS rn "
        "FROM orders ORDER BY rn, o_orderstatus LIMIT 9",
    )


@query(
    "refsql_lateral_topk",
    """
    SELECT c.c_custkey, a.n_f, x.o_orderkey AS top_ok,
           x.o_totalprice AS top_price
    FROM customer AS c
    CROSS JOIN LATERAL (SELECT count(*) AS n_f FROM orders
                        WHERE o_custkey = c.c_custkey
                          AND o_orderstatus = 'F') AS a
    LEFT JOIN LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                       WHERE o_custkey = c.c_custkey
                       ORDER BY o_totalprice DESC, o_orderkey
                       LIMIT 1) AS x ON TRUE
    WHERE c.c_custkey < 200
    ORDER BY c.c_custkey
    """,
)
def refsql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LATERAL joins through the dialect (DataFrame.lateralJoin), which
    # Catalyst decorrelates: the aggregate body becomes an aggregate over
    # o_custkey left-joined to the distinct customer keys, with its
    # count-bug guard making n_f 0 (not a dropped row) for customers with
    # NO 'F' orders; the ORDER BY ... LIMIT 1 body becomes a per-key
    # WindowGroupLimit top-1 + LEFT join (customers with no orders at all
    # NULL-pad). The oracle is DuckDB's NATIVE LATERAL on the identical
    # SQL text, so both plans must agree with per-row evaluation,
    # including empty groups and ties (broken deterministically by
    # o_orderkey).
    return _ref_select(
        spark,
        sf_dir,
        "SELECT c.c_custkey, a.n_f, x.o_orderkey AS top_ok, "
        "x.o_totalprice AS top_price "
        "FROM customer AS c "
        "CROSS JOIN LATERAL (SELECT count(*) AS n_f FROM orders "
        "WHERE o_custkey = c.c_custkey AND o_orderstatus = 'F') AS a "
        "LEFT JOIN LATERAL (SELECT o_orderkey, o_totalprice FROM orders "
        "WHERE o_custkey = c.c_custkey "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) AS x ON TRUE "
        "WHERE c.c_custkey < 200 "
        "ORDER BY c.c_custkey",
    )


@query(
    "refsql_lateral_group_by",
    """
    SELECT c.c_custkey, g.st, g.n, g.tot
    FROM customer AS c
    CROSS JOIN LATERAL (SELECT o_orderstatus AS st, count(*) AS n,
                        round(sum(o_totalprice), 2) AS tot
                        FROM orders
                        WHERE o_custkey = c.c_custkey
                          AND o_totalprice > 1000.0
                        GROUP BY o_orderstatus) AS g
    WHERE c.c_custkey < 150
    ORDER BY c.c_custkey, g.st
    """,
)
def refsql_lateral_group_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    # GROUP BY inside a LATERAL body — the multi-row grouped lateral. The
    # correlation conjunct becomes an extra grouping key matched to the
    # outer key after the aggregate, so the plan is ONE aggregate over
    # (o_orderstatus, o_custkey) + ONE equi-join (plan-pinned in
    # test_plans.py). Unlike the scalar-aggregate form an empty body
    # yields no row: a customer with no qualifying orders has zero groups
    # and drops under CROSS (ANSI). The oracle is DuckDB's NATIVE grouped
    # LATERAL on the identical SQL text, so the plan must agree with
    # per-row evaluation, including the residual inner-only conjunct and
    # empty groups.
    return _ref_select(
        spark,
        sf_dir,
        "SELECT c.c_custkey, g.st, g.n, g.tot "
        "FROM customer AS c "
        "CROSS JOIN LATERAL (SELECT o_orderstatus AS st, count(*) AS n, "
        "round(sum(o_totalprice), 2) AS tot "
        "FROM orders WHERE o_custkey = c.c_custkey "
        "AND o_totalprice > 1000.0 "
        "GROUP BY o_orderstatus) AS g "
        "WHERE c.c_custkey < 150 "
        "ORDER BY c.c_custkey, g.st",
    )


@query(
    "refsql_in_subquery",
    """
    SELECT o_orderstatus, count(*) AS count,
           min(o_totalprice) AS min_o_totalprice,
           max(o_totalprice) AS max_o_totalprice
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 7500)
      AND o_custkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def refsql_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IN / NOT IN subqueries through the dialect: semi join against the
    # rich-customer set, null-aware anti join against the negative-balance
    # suppliers, combined as conjuncts with grouped order-insensitive
    # aggregates. The oracle runs the identical ANSI subqueries — wrong
    # semi/anti semantics, a dropped conjunct, or broken three-valued
    # NOT IN flips the hash.
    return _ref_select(
        spark,
        sf_dir,
        "SELECT o_orderstatus, COUNT(*), MIN(o_totalprice), "
        "MAX(o_totalprice) FROM orders "
        "WHERE o_custkey IN (SELECT c_custkey FROM customer "
        "WHERE c_acctbal > 7500) "
        "AND o_custkey NOT IN (SELECT s_suppkey FROM supplier "
        "WHERE s_acctbal < 0) "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus",
    )


@query(
    "refsql_q1_expression_aggregates",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE)
             AS sum_base,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8)))
                AS DOUBLE) AS sum_disc,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                    AS DECIMAL(24,8))) AS DOUBLE) AS sum_charge,
           count(*) AS count
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def refsql_q1_expression_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The flagship TPC-H Q1 shape run ENTIRELY through the dialect — the
    # round-5 value-expression surface aggregates computed expressions
    # (revenue, charge) via Catalyst's own parser. Sums run in DECIMAL, so
    # the results are bit-exact against the oracle with NO rounding: any
    # drift in expression parsing, cast semantics, or aggregation flips
    # the hash at the 8th decimal.
    df = _ref_select(
        spark,
        sf_dir,
        "SELECT l_returnflag, l_linestatus, "
        "SUM(CAST(l_quantity AS DECIMAL(20,2))) AS sum_qty, "
        "SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS sum_base, "
        "SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) "
        "AS sum_disc, "
        "SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) "
        "AS DECIMAL(24,8))) AS sum_charge, "
        "COUNT(*) "
        "FROM lineitem WHERE l_shipdate <= '1998-09-01' "
        "GROUP BY l_returnflag, l_linestatus "
        "ORDER BY l_returnflag, l_linestatus",
    )
    # Final outputs are never DECIMAL-typed — the DECIMAL sums stay exact
    # inside the plan; the delivered columns are cast to DOUBLE here and
    # identically in the oracle SQL, so a single decimal ULP of drift in
    # the plan still flips the hash after the (deterministic) final cast.
    for c in ("sum_qty", "sum_base", "sum_disc", "sum_charge"):
        df = df.withColumn(c, F.col(c).cast("double"))
    return df


@query(
    "refsql_derived_table",
    """
    SELECT o_orderstatus, count(*) AS n,
           round(sum(big_total), 2) AS total
    FROM (SELECT o_orderstatus, o_totalprice AS big_total
          FROM orders WHERE o_totalprice > 150000) AS d
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def refsql_derived_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FROM (SELECT ...) AS x through the dialect (round-7): an aliased,
    # renamed, filtered subselect aggregated by the outer query. DuckDB
    # runs nearly the same text (ROUND-around-SUM moves to a CTE on the
    # dialect side, same plan); a broken subselect resolution, dropped
    # rename, or alias leak flips the hash.
    return _ref_select(
        spark,
        sf_dir,
        "WITH a AS (SELECT o_orderstatus, COUNT(*) AS n, "
        "SUM(big_total) AS t "
        "FROM (SELECT o_orderstatus, o_totalprice AS big_total "
        "FROM orders WHERE o_totalprice > 150000) AS d "
        "GROUP BY o_orderstatus) "
        "SELECT o_orderstatus, n, ROUND(t, 2) AS total FROM a "
        "ORDER BY o_orderstatus",
    )


@query(
    "refsql_group_by_all_ordinals",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY ALL ORDER BY 1, 2
    """,
)
def refsql_group_by_all_ordinals(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-7 ergonomics through the dialect: GROUP BY ALL (every
    # non-aggregate SELECT item becomes a key) + ORDER BY output ordinals.
    # DuckDB supports the identical surface, so the oracle runs the SAME
    # text — a wrong ALL expansion or ordinal mapping flips the hash.
    # (ROUND around SUM isn't a dialect aggregate shape; the CTE rounds
    # post-aggregation, same plan.)
    return _ref_select(
        spark,
        sf_dir,
        "WITH a AS (SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, "
        "SUM(o_totalprice) AS t FROM orders GROUP BY ALL) "
        "SELECT o_orderstatus, o_orderpriority, n, ROUND(t, 2) AS total "
        "FROM a ORDER BY 1, 2",
    )


@query(
    "refsql_group_by_expression",
    """
    SELECT CAST(floor(o_totalprice / 50000) AS INT) AS bucket,
           count(*) AS count,
           min(o_totalprice) AS min_o_totalprice,
           max(o_totalprice) AS max_o_totalprice
    FROM orders
    GROUP BY CAST(floor(o_totalprice / 50000) AS INT)
    ORDER BY bucket
    """,
)
def refsql_group_by_expression(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Expression GROUP BY keys through the dialect: price-bucket histogram
    # grouped on a computed CAST, with the same expression repeated in the
    # projection (resolved to the grouped column, not recomputed post-agg).
    # Bucket boundaries land on exact doubles (k * 50000 vs 2-dp data), so
    # the integer division is engine-exact; min/max/count are
    # order-insensitive.
    return _ref_select(
        spark,
        sf_dir,
        "SELECT CAST(FLOOR(o_totalprice / 50000) AS INT) AS bucket, COUNT(*), "
        "MIN(o_totalprice), MAX(o_totalprice) FROM orders "
        "GROUP BY CAST(FLOOR(o_totalprice / 50000) AS INT) ORDER BY bucket",
    )


@query(
    "refsql_distinct_order_limit",
    """
    SELECT DISTINCT c_mktsegment FROM customer
    ORDER BY c_mktsegment LIMIT 3 OFFSET 1
    """,
)
def refsql_distinct_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ref_select(
        spark,
        sf_dir,
        "SELECT DISTINCT c_mktsegment FROM customer "
        "ORDER BY c_mktsegment LIMIT 3 OFFSET 1",
    )


@query(
    "refsql_setops_orders",
    """
    ((SELECT o_orderkey FROM orders WHERE o_totalprice > 400000
      UNION
      SELECT o_orderkey FROM orders WHERE o_totalprice < 2000)
     EXCEPT
     SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
    INTERSECT
    SELECT o_orderkey FROM orders WHERE o_custkey > 100
    ORDER BY o_orderkey LIMIT 50
    """,
)
def refsql_setops_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-6 dialect extension through the gate: a UNION / EXCEPT /
    # INTERSECT chain (left-associative, like the executor folds it — the
    # oracle parenthesizes explicitly because DuckDB binds INTERSECT
    # tighter), with the trailing ORDER BY + LIMIT applied to the COMBINED
    # result. Integer keys keep the hash exact; the LIMIT forces the
    # compound-level sort to be real (an arm-level sort would pick
    # different survivors).
    return _ref_select(
        spark,
        sf_dir,
        "SELECT o_orderkey FROM orders WHERE o_totalprice > 400000 "
        "UNION SELECT o_orderkey FROM orders WHERE o_totalprice < 2000 "
        "EXCEPT SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F' "
        "INTERSECT SELECT o_orderkey FROM orders WHERE o_custkey > 100 "
        "ORDER BY o_orderkey LIMIT 50",
    )


@query(
    "refsql_scalar_subquery",
    """
    SELECT o_orderstatus, count(*) AS count,
           min(o_totalprice) AS min_o_totalprice,
           max(o_totalprice) AS max_o_totalprice
    FROM orders
    WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def refsql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Uncorrelated scalar subquery through the dialect: the AVG runs once
    # as its own subplan and Catalyst pushes the comparison into the
    # orders scan. Grouped count/min/max stay
    # order-insensitive; min/max return stored values (no arithmetic), so
    # the hash is exact as long as both engines agree on the threshold
    # comparison.
    return _ref_select(
        spark,
        sf_dir,
        "SELECT o_orderstatus, COUNT(*), MIN(o_totalprice), "
        "MAX(o_totalprice) FROM orders "
        "WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders) "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus",
    )


@query(
    "refsql_rollup_orders",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderpriority) AS INT) AS grouping_o_orderpriority,
           count(*) AS count,
           min(o_totalprice) AS min_o_totalprice
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)
def refsql_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # GROUP BY ROLLUP through the dialect: per-(status, priority) groups,
    # per-status subtotals, and the grand total in ONE Expand pass, with
    # GROUPING() distinguishing super-aggregate NULL keys from data NULLs.
    # No ORDER BY — Spark and DuckDB disagree on NULL sort position, and
    # the driver's hash is order-insensitive anyway.
    return _ref_select(
        spark,
        sf_dir,
        "SELECT o_orderstatus, o_orderpriority, GROUPING(o_orderpriority), "
        "COUNT(*), MIN(o_totalprice) "
        "FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)",
    )


@query(
    "refsql_window_frame",
    """
    SELECT o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2)))
             OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
             AS DOUBLE) AS moving_sum
    FROM orders WHERE o_custkey <= 200
    ORDER BY o_orderkey
    """,
)
def refsql_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Explicit ROWS frame through the dialect: a 3-row moving sum per
    # customer ordered by the unique order key (deterministic frame
    # contents), DECIMAL-cast so the windowed sum is bit-exact on both
    # engines.
    df = _ref_select(
        spark,
        sf_dir,
        "SELECT o_orderkey, SUM(CAST(o_totalprice AS DECIMAL(20,2))) "
        "OVER (PARTITION BY o_custkey ORDER BY o_orderkey "
        "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_sum "
        "FROM orders WHERE o_custkey <= 200 ORDER BY o_orderkey",
    )
    # Final outputs are never DECIMAL-typed — see the oracle-conventions
    # rule in workloads/registry.py; the oracle applies the same CAST.
    return df.withColumn("moving_sum", F.col("moving_sum").cast("double"))


@query(
    "refsql_range_frame",
    """
    SELECT o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2)))
             OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                   RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
             AS DOUBLE) AS range_sum
    FROM orders WHERE o_custkey <= 200
    ORDER BY o_orderkey
    """,
)
def refsql_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RANGE frame through the dialect (round-7): logical VALUE offsets over
    # the numeric sort key — rows whose o_orderkey lies within 5 of the
    # current row's key sum together, however many physical rows that is
    # (the semantic ROWS frames can't express). DECIMAL inside the plan,
    # DOUBLE delivered (oracle-conventions rule).
    df = _ref_select(
        spark,
        sf_dir,
        "SELECT o_orderkey, SUM(CAST(o_totalprice AS DECIMAL(20,2))) "
        "OVER (PARTITION BY o_custkey ORDER BY o_orderkey "
        "RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS range_sum "
        "FROM orders WHERE o_custkey <= 200 ORDER BY o_orderkey",
    )
    return df.withColumn("range_sum", F.col("range_sum").cast("double"))


@query(
    "refsql_string_agg",
    """
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           count(*) AS count
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name ORDER BY r_name
    """,
)
def refsql_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # STRING_AGG through the dialect (round-8): per-region sorted nation
    # list. The dialect accepts DuckDB's portable in-call ORDER BY form
    # and rewrites it to Spark's WITHIN GROUP syntax — the in-call sort
    # makes the concatenation deterministic, so the whole string
    # hash-checks against the oracle byte-for-byte.
    return _ref_select(
        spark,
        sf_dir,
        "SELECT r_name, STRING_AGG(n_name, ',' ORDER BY n_name) AS nations, "
        "COUNT(*) FROM nation "
        "JOIN region ON nation.n_regionkey = region.r_regionkey "
        "GROUP BY r_name ORDER BY r_name",
    )


@query(
    "refsql_filtered_agg",
    """
    SELECT o_orderstatus,
           count(*) AS count,
           count(*) FILTER (WHERE o_totalprice > 150000) AS big_n,
           round(sum(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'),
                 2) AS urgent_total,
           round(avg(o_totalprice) FILTER (WHERE o_totalprice <= 150000),
                 2) AS small_avg
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def refsql_filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FILTER (WHERE ...) through the dialect (round-8): conditional
    # aggregation — three filtered aggregates with different predicates in
    # ONE grouped pass (the standard-SQL replacement for CASE-WHEN-inside-
    # SUM). Compiled verbatim by Catalyst; the oracle runs the identical
    # FILTER clauses in DuckDB, so a dropped or misattached predicate
    # flips the hash.
    return _ref_select(
        spark,
        sf_dir,
        "WITH a AS (SELECT o_orderstatus, COUNT(*), "
        "COUNT(*) FILTER (WHERE o_totalprice > 150000) AS big_n, "
        "SUM(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT') "
        "AS ut, "
        "AVG(o_totalprice) FILTER (WHERE o_totalprice <= 150000) AS sa "
        "FROM orders GROUP BY o_orderstatus) "
        "SELECT o_orderstatus, count, big_n, "
        "ROUND(ut, 2) AS urgent_total, ROUND(sa, 2) AS small_avg "
        "FROM a ORDER BY o_orderstatus",
    )


@query(
    "refsql_window_value_functions",
    """
    SELECT o_orderkey,
           round(FIRST_VALUE(o_totalprice) OVER
             (PARTITION BY o_custkey ORDER BY o_orderkey), 2) AS first_price,
           round(LAST_VALUE(o_totalprice) OVER
             (PARTITION BY o_custkey ORDER BY o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
             2) AS last_price,
           round(NTH_VALUE(o_totalprice, 2) OVER
             (PARTITION BY o_custkey ORDER BY o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
             2) AS second_price
    FROM orders WHERE o_custkey <= 200
    ORDER BY o_orderkey
    """,
)
def refsql_window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FIRST_VALUE / LAST_VALUE / NTH_VALUE through the DIALECT (round-8
    # driver row for the round-7 verbs): per-customer first/last/second
    # order value. FIRST_VALUE rides the default ORDER BY frame (prefix →
    # first row, deterministic); LAST_VALUE and NTH_VALUE need the explicit
    # unbounded ROWS frame or they'd see only the prefix — exactly the
    # standard-SQL footgun, so the oracle runs the identical frames in
    # DuckDB. Unique sort key (o_orderkey) keeps every value deterministic.
    df = _ref_select(
        spark,
        sf_dir,
        "SELECT o_orderkey, "
        "FIRST_VALUE(o_totalprice) OVER (PARTITION BY o_custkey "
        "ORDER BY o_orderkey) AS first_price, "
        "LAST_VALUE(o_totalprice) OVER (PARTITION BY o_custkey "
        "ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND "
        "UNBOUNDED FOLLOWING) AS last_price, "
        "NTH_VALUE(o_totalprice, 2) OVER (PARTITION BY o_custkey "
        "ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND "
        "UNBOUNDED FOLLOWING) AS second_price "
        "FROM orders WHERE o_custkey <= 200 ORDER BY o_orderkey",
    )
    return df.select(
        "o_orderkey",
        F.round("first_price", 2).alias("first_price"),
        F.round("last_price", 2).alias("last_price"),
        F.round("second_price", 2).alias("second_price"),
    )


@query(
    "refsql_exists_subquery",
    """
    SELECT c_mktsegment, count(*) AS count
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE orders.o_custkey = customer.c_custkey
                    AND orders.o_totalprice > 300000)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE orders.o_custkey = customer.c_custkey
                        AND orders.o_orderstatus = 'F'
                        AND orders.o_totalprice < 50000)
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def refsql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Correlated [NOT] EXISTS through the dialect (round-6): customers with
    # a big order (left-semi on the correlation predicate) but no cheap
    # failed order (left-anti), grouped per segment. The oracle runs the
    # identical ANSI EXISTS pair — a broken correlation rewrite, a
    # semi/anti mixup, or a dropped conjunct flips the hash.
    return _ref_select(
        spark,
        sf_dir,
        "SELECT c_mktsegment, COUNT(*) FROM customer "
        "WHERE EXISTS (SELECT 1 FROM orders "
        "WHERE orders.o_custkey = customer.c_custkey "
        "AND orders.o_totalprice > 300000) "
        "AND NOT EXISTS (SELECT 1 FROM orders "
        "WHERE orders.o_custkey = customer.c_custkey "
        "AND orders.o_orderstatus = 'F' "
        "AND orders.o_totalprice < 50000) "
        "GROUP BY c_mktsegment ORDER BY c_mktsegment",
    )


@query(
    "refsql_isnull_distinct_agg",
    """
    SELECT o_orderstatus, count(*) AS count,
           count(DISTINCT o_custkey) AS u_custs
    FROM orders o LEFT JOIN customer c
      ON o.o_custkey = c.c_custkey AND c.c_acctbal > 9000
    WHERE c.c_custkey IS NULL
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def refsql_isnull_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IS NULL + DISTINCT aggregates through the dialect (round-6): orders
    # whose customer is NOT in the rich tier surface as null-padded rows
    # of the LEFT JOIN (the classic anti-join-via-outer-join shape), then
    # per-status counts + distinct-customer counts. The oracle runs the
    # identical ANSI text — a broken null test or a DISTINCT planned as a
    # plain aggregate shifts u_custs and flips the hash.
    return _ref_select(
        spark,
        sf_dir,
        "SELECT o_orderstatus, COUNT(*), COUNT(DISTINCT o.o_custkey) AS u_custs "
        "FROM orders AS o LEFT JOIN customer AS c "
        "ON o.o_custkey = c.c_custkey AND c.c_acctbal > 9000 "
        "WHERE c.c_custkey IS NULL "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus",
    )


@query(
    "refsql_sample_nulls_order",
    """
    WITH s AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '33'
    )
    SELECT o_orderstatus, count(*) AS count,
           min(o_totalprice) AS min_o_totalprice,
           max(o_totalprice) AS max_o_totalprice
    FROM s GROUP BY o_orderstatus ORDER BY o_orderstatus NULLS LAST
    """,
)
def refsql_sample_nulls_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic SAMPLE + NULLS placement through the dialect
    # (round-6): a 20% md5-bucket sample (keep = 256·20//100 = 0x33
    # buckets) evaluated in the scan stage — byte-identical across runs
    # and engines, which is exactly why the oracle can replay it as a
    # WHERE — aggregated per status with an explicit NULLS LAST sort.
    return _ref_select(
        spark,
        sf_dir,
        "SELECT o_orderstatus, COUNT(*), MIN(o_totalprice), "
        "MAX(o_totalprice) FROM orders SAMPLE 20 PERCENT BY o_orderkey "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus NULLS LAST",
    )


@query(
    "refsql_stats_aggregates",
    """
    SELECT o_orderpriority, count(*) AS n,
           round(quantile_cont(o_totalprice, 0.5), 2) AS med,
           round(stddev_samp(o_totalprice), 2) AS sd
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def refsql_stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Statistical aggregates through the dialect (round-6): exact
    # interpolated PERCENTILE (≡ DuckDB quantile_cont) and sample STDDEV
    # per priority, compiled verbatim by Catalyst inside the grouped
    # aggregation. Rounded to 2 dp post-query on both sides (the float
    # convention every stats workload uses).
    df = _ref_select(
        spark,
        sf_dir,
        "SELECT o_orderpriority, COUNT(*) AS n, "
        "PERCENTILE(o_totalprice, 0.5) AS med, "
        "STDDEV(o_totalprice) AS sd "
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority",
    )
    return df.withColumn("med", F.round("med", 2)).withColumn(
        "sd", F.round("sd", 2)
    )


@query(
    "refsql_q3_shipping",
    """
    SELECT l_orderkey,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8)))
                AS DOUBLE) AS revenue,
           min(o_orderdate) AS o_orderdate, min(o_orderpriority) AS priority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def refsql_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q3 run ENTIRELY through the dialect (round-6): a three-table
    # join chain, expression aggregate with DECIMAL-exact revenue, date
    # filters on both fact sides, and a top-10 by computed revenue. The
    # DataFrame-native q3_shipping_priority pins the same semantics; this
    # entry pins the PARSER's end-to-end path — join assembly, qualified
    # columns, expression aggregates, multi-key ORDER BY with LIMIT.
    df = _ref_select(
        spark,
        sf_dir,
        "SELECT l_orderkey, "
        "SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) "
        "AS revenue, "
        "MIN(o_orderdate) AS o_orderdate, MIN(o_orderpriority) AS priority "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON o_orderkey = l_orderkey "
        "WHERE c_mktsegment = 'BUILDING' "
        "AND o_orderdate < '1995-03-15' "
        "AND l_shipdate > '1995-03-15' "
        "GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10",
    )
    # Final outputs are never DECIMAL-typed (oracle-conventions rule): the
    # sum stays DECIMAL inside the plan for exactness; only the delivered
    # column is re-typed, and the oracle applies the identical final CAST.
    return df.withColumn("revenue", F.col("revenue").cast("double"))


@query(
    "refsql_cte_semi_join",
    """
    WITH rich AS (
      SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 7500
    ),
    seg AS (
      SELECT c_mktsegment, count(*) AS n_rich FROM rich GROUP BY c_mktsegment
    )
    SELECT o.o_orderstatus, s.n_rich, count(*) AS count
    FROM orders o
    SEMI JOIN rich r ON o.o_custkey = r.c_custkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN seg s ON c.c_mktsegment = s.c_mktsegment
    GROUP BY o.o_orderstatus, s.n_rich
    ORDER BY o_orderstatus, n_rich
    """,
)
def refsql_cte_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CTEs + LEFT SEMI JOIN + a CTE-to-CTE chain through the dialect
    # (round-6): orders of rich customers (semi join against the first
    # CTE), enriched with the per-segment rich-customer counts aggregated
    # in the second CTE (which reads the first). The oracle runs the ANSI
    # equivalent — DuckDB's SEMI JOIN — so a CTE resolution bug, a broken
    # semi rewrite, or a stale CTE binding flips the hash.
    return _ref_select(
        spark,
        sf_dir,
        "WITH rich AS (SELECT c_custkey, c_mktsegment FROM customer "
        "WHERE c_acctbal > 7500), "
        "seg AS (SELECT c_mktsegment, COUNT(*) AS n_rich FROM rich "
        "GROUP BY c_mktsegment) "
        "SELECT o.o_orderstatus, s.n_rich, COUNT(*) "
        "FROM orders AS o "
        "LEFT SEMI JOIN rich AS r ON o.o_custkey = r.c_custkey "
        "JOIN customer AS c ON o.o_custkey = c.c_custkey "
        "JOIN seg AS s ON c.c_mktsegment = s.c_mktsegment "
        "GROUP BY o.o_orderstatus, s.n_rich "
        "ORDER BY o_orderstatus, n_rich",
    )


@query(
    "refsql_grouped_window_rank",
    """
    WITH a AS (
      SELECT o_orderpriority, count(*) AS count,
             max(o_totalprice) AS max_o_totalprice
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, count, max_o_totalprice,
           CAST(RANK() OVER (ORDER BY count DESC, o_orderpriority) AS INT)
             AS rk
    FROM a ORDER BY rk
    """,
)
def refsql_grouped_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Windows over the aggregated frame through the dialect (round-6):
    # rank order priorities by their order counts in ONE statement —
    # GROUP BY evaluates first, the RANK runs over the per-priority rows
    # (deterministic tie-break on the group key). The oracle states the
    # same thing as an explicit CTE + window.
    return _ref_select(
        spark,
        sf_dir,
        "SELECT o_orderpriority, COUNT(*), MAX(o_totalprice), "
        "RANK() OVER (ORDER BY count DESC, o_orderpriority) AS rk "
        "FROM orders GROUP BY o_orderpriority ORDER BY rk",
    )


@query(
    "refsql_qualify_topk",
    """
    SELECT o_orderstatus, o_orderkey, o_totalprice,
           CAST(ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                   ORDER BY o_totalprice DESC, o_orderkey)
                AS INT) AS rn
    FROM orders
    QUALIFY rn <= 2
    ORDER BY o_orderstatus, rn
    """,
)
def refsql_qualify_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # QUALIFY through the dialect (round-6): top-2 orders per status in
    # ONE statement — the window-result filter DuckDB also speaks, so the
    # oracle is the identical text. Deterministic tie-break on the order
    # key; Catalyst plans WindowGroupLimit for the rank cut.
    return _ref_select(
        spark,
        sf_dir,
        "SELECT o_orderstatus, o_orderkey, o_totalprice, "
        "ROW_NUMBER() OVER (PARTITION BY o_orderstatus "
        "ORDER BY o_totalprice DESC, o_orderkey) AS rn "
        "FROM orders QUALIFY rn <= 2 ORDER BY o_orderstatus, rn",
    )


@query(
    "refsql_pivot_status",
    """
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'F'
                    THEN CAST(o_totalprice AS DECIMAL(20,2)) END)
                AS DOUBLE) AS f_total,
           CAST(sum(CASE WHEN o_orderstatus = 'O'
                    THEN CAST(o_totalprice AS DECIMAL(20,2)) END)
                AS DOUBLE) AS o_total,
           CAST(sum(CASE WHEN o_orderstatus = 'P'
                    THEN CAST(o_totalprice AS DECIMAL(20,2)) END)
                AS DOUBLE) AS p_total
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def refsql_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-8: PIVOT through the dialect — revenue by order status fanned
    # into one column per status, grouped implicitly on the one column the
    # pivot clause doesn't consume (standard semantics). Sums run in
    # DECIMAL inside the pivot aggregation (bit-exact), delivered as
    # DOUBLE per the no-decimal-outputs convention. The oracle is the
    # definitionally-equivalent conditional aggregation, so a wrong
    # implicit-group inference, value routing, or AS naming flips rows,
    # schema, or hash.
    return _ref_select(
        spark,
        sf_dir,
        "WITH src AS (SELECT o_orderpriority, o_orderstatus, o_totalprice "
        "FROM orders), "
        "p AS (SELECT * FROM src PIVOT ("
        "SUM(CAST(o_totalprice AS DECIMAL(20,2))) FOR o_orderstatus "
        "IN ('F' AS f_total, 'O' AS o_total, 'P' AS p_total))) "
        "SELECT o_orderpriority, CAST(f_total AS DOUBLE) AS f_total, "
        "CAST(o_total AS DOUBLE) AS o_total, "
        "CAST(p_total AS DOUBLE) AS p_total "
        "FROM p ORDER BY o_orderpriority",
    )


@query(
    "refsql_unpivot_measures",
    """
    WITH u AS (
      SELECT 'quantity' AS measure, l_quantity AS val FROM lineitem
      UNION ALL SELECT 'discount', l_discount FROM lineitem
      UNION ALL SELECT 'tax', l_tax FROM lineitem
    )
    SELECT measure, count(*) AS n,
           CAST(sum(CAST(val AS DECIMAL(20,4))) AS DOUBLE) AS total
    FROM u GROUP BY measure ORDER BY measure
    """,
)
def refsql_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-8: UNPIVOT through the dialect — three lineitem measures
    # rotated into (measure, val) rows (a scan-stage Expand, no shuffle
    # until the aggregate), then re-aggregated. DECIMAL sums inside,
    # DOUBLE out. The oracle is the definitional UNION ALL expansion; a
    # dropped column, wrong measure labeling, or NULL mishandling flips
    # the hash.
    return _ref_select(
        spark,
        sf_dir,
        "WITH src AS (SELECT l_quantity AS quantity, l_discount AS "
        "discount, l_tax AS tax FROM lineitem), "
        "u AS (SELECT * FROM src UNPIVOT (val FOR measure IN "
        "(quantity, discount, tax))), "
        "a AS (SELECT measure, COUNT(*) AS n, "
        "SUM(CAST(val AS DECIMAL(20,4))) AS t FROM u GROUP BY measure) "
        "SELECT measure, n, CAST(t AS DOUBLE) AS total FROM a "
        "ORDER BY measure",
    )


@query(
    "refsql_window_rank_family",
    """
    SELECT c_custkey, c_nationkey,
           RANK() OVER (PARTITION BY c_nationkey
                        ORDER BY c_acctbal DESC, c_custkey) AS rnk,
           PERCENT_RANK() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS prank,
           CUME_DIST() OVER (PARTITION BY c_nationkey
                             ORDER BY c_acctbal DESC, c_custkey) AS cdist
    FROM customer
    """,
)
def refsql_window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-8: the full ranking family through the dialect — RANK,
    # PERCENT_RANK, CUME_DIST in one SELECT over the same window. The
    # oracle runs the identical text; outputs are delivered UNROUNDED
    # deliberately: percent_rank = (rank-1)/(n-1) and cume_dist =
    # peers/n are pure rational arithmetic over identical integers, so
    # the doubles agree bit-for-bit across engines — any divergence in
    # window framing, tie handling, or partition bounds flips the hash
    # at full precision.
    return _ref_select(
        spark,
        sf_dir,
        "SELECT c_custkey, c_nationkey, "
        "RANK() OVER (PARTITION BY c_nationkey "
        "ORDER BY c_acctbal DESC, c_custkey) AS rnk, "
        "PERCENT_RANK() OVER (PARTITION BY c_nationkey "
        "ORDER BY c_acctbal DESC, c_custkey) AS prank, "
        "CUME_DIST() OVER (PARTITION BY c_nationkey "
        "ORDER BY c_acctbal DESC, c_custkey) AS cdist "
        "FROM customer",
    )


@query(
    "refsql_asof_join",
    """
    WITH c AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click'),
    p0 AS (SELECT user_id, ts, MAX(value) AS pval FROM events
           WHERE event_type = 'purchase' GROUP BY user_id, ts),
    p AS (SELECT user_id, ts AS pts, pval FROM p0)
    SELECT c.event_id, c.user_id, p.pval
    FROM c ASOF LEFT JOIN p
      ON c.user_id = p.user_id AND c.ts >= p.pts
    """,
)
def refsql_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-8: ASOF LEFT JOIN through the dialect — each click picks up
    # the latest prior purchase value per user, compiled to the
    # union-tag single-shuffle asof plan (operators/joins.asof_join),
    # never a theta join. DuckDB runs its own native ASOF LEFT JOIN on
    # the identical text, so the oracle checks the dialect's key
    # resolution, direction inference (>= = backward), and NULL
    # handling for never-purchased users against an independent native
    # implementation. pval is an exact MAX of parquet doubles — no
    # rounding needed for hash parity.
    return _ref_select(
        spark,
        sf_dir,
        "WITH c AS (SELECT event_id, user_id, ts FROM events "
        "WHERE event_type = 'click'), "
        "p0 AS (SELECT user_id, ts, MAX(value) AS pval FROM events "
        "WHERE event_type = 'purchase' GROUP BY user_id, ts), "
        "p AS (SELECT user_id, ts AS pts, pval FROM p0) "
        "SELECT event_id, user_id, pval FROM c "
        "ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.pts",
    )


@query(
    "refsql_named_window",
    """
    SELECT c_custkey, c_nationkey,
           ROW_NUMBER() OVER w AS rn,
           LAG(c_custkey) OVER w AS prev_key,
           CAST(SUM(c_custkey) OVER w2 AS BIGINT) AS run_keys
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey
                 ORDER BY c_acctbal DESC, c_custkey),
           w2 AS (PARTITION BY c_nationkey
                  ORDER BY c_acctbal DESC, c_custkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def refsql_named_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-8: the WINDOW clause — two verbs sharing one named window
    # plus a framed named window, all integer outputs. Round-10: the
    # running sum is CAST to BIGINT on BOTH sides — DuckDB types
    # SUM(BIGINT) as HUGEINT, which exports to Arrow as decimal128(38,0)
    # and diverges the driver's value hash even on cell-identical rows
    # (round-9's only red). The CAST exercises the round-10 named-window
    # inlining too: ``OVER w2`` inside a CAST expression.
    return _ref_select(
        spark,
        sf_dir,
        "SELECT c_custkey, c_nationkey, "
        "ROW_NUMBER() OVER w AS rn, "
        "LAG(c_custkey) OVER w AS prev_key, "
        "CAST(SUM(c_custkey) OVER w2 AS BIGINT) AS run_keys "
        "FROM customer "
        "WINDOW w AS (PARTITION BY c_nationkey "
        "ORDER BY c_acctbal DESC, c_custkey), "
        "w2 AS (PARTITION BY c_nationkey "
        "ORDER BY c_acctbal DESC, c_custkey "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
    )


@query(
    "refsql_star_exclude",
    """
    SELECT * EXCLUDE (text) FROM documents ORDER BY doc_id LIMIT 25
    """,
)
def refsql_star_exclude(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-8: SELECT * EXCLUDE (...) — the wide-table ergonomic, on its
    # natural use case (drop the huge text column, keep the metadata).
    # DuckDB runs the identical text. Note Catalyst prunes the excluded
    # column out of the scan entirely (drop folds into the projection),
    # so this is column pruning, not read-then-discard.
    return _ref_select(
        spark,
        sf_dir,
        "SELECT * EXCLUDE (text) FROM documents ORDER BY doc_id LIMIT 25",
    )


@query(
    "refsql_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE)
             AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())
    """,
)
def refsql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-8: explicit GROUPING SETS through the dialect — the general
    # form ROLLUP/CUBE are shorthands of, compiled to ONE Expand +
    # aggregate pass (DataFrame.groupingSets). DuckDB runs the identical
    # text; DECIMAL sums inside, DOUBLE out. A wrong set expansion
    # changes the row count; a wrong column union changes the NULL
    # pattern — either flips the hash.
    return _ref_select(
        spark,
        sf_dir,
        "WITH a AS (SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, "
        "SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS t FROM orders "
        "GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), "
        "(o_orderstatus), ())) "
        "SELECT o_orderstatus, o_orderpriority, n, "
        "CAST(t AS DOUBLE) AS total FROM a",
    )


@query(
    "refsql_recursive_cte",
    """
    WITH RECURSIVE s AS (
      SELECT 1 AS n
      UNION ALL
      SELECT n + 1 FROM s WHERE n < 31
    ),
    o AS (SELECT day(o_orderdate) AS n, CAST(COUNT(*) AS BIGINT) AS n_orders
          FROM orders GROUP BY 1)
    SELECT s.n AS day_of_month, COALESCE(o.n_orders, 0) AS n_orders
    FROM s LEFT JOIN o ON s.n = o.n
    """,
)
def refsql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-8: WITH RECURSIVE through the dialect — Spark has no native
    # recursive CTE, so the executor runs the standard fixpoint loop
    # driver-side (frontier semantics, localCheckpoint per round, 100-
    # round cap). The classic reporting shape: a recursively generated
    # day series LEFT-joined to per-day order counts so absent days
    # surface as zeros. The oracle is DuckDB's NATIVE recursive CTE —
    # an independent implementation of the same fixpoint. (The dialect
    # anchor here keeps the historical FROM region LIMIT 1 seed; the
    # round-10 FROM-less form is exercised by
    # refsql_fromless_recursive_anchor.)
    return _ref_select(
        spark,
        sf_dir,
        "WITH RECURSIVE s AS ("
        "SELECT 1 AS n FROM region LIMIT 1 "
        "UNION ALL "
        "SELECT n + 1 AS n FROM s WHERE n < 31), "
        "o AS (SELECT DAY(o_orderdate) AS n, COUNT(*) AS n_orders "
        "FROM orders GROUP BY DAY(o_orderdate)) "
        "SELECT s.n AS day_of_month, COALESCE(o.n_orders, 0) AS n_orders "
        "FROM s LEFT JOIN o AS o ON s.n = o.n",
    )


@query(
    "refsql_fromless_recursive_anchor",
    """
    WITH RECURSIVE m AS (
      SELECT 1 AS month_no
      UNION ALL
      SELECT month_no + 1 FROM m WHERE month_no < 12
    ),
    o AS (SELECT month(o_orderdate) AS month_no,
                 CAST(COUNT(*) AS BIGINT) AS n_orders,
                 CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_finished
          FROM orders GROUP BY 1)
    SELECT m.month_no,
           COALESCE(o.n_orders, 0) AS n_orders,
           COALESCE(o.n_finished, 0) AS n_finished,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS total_orders
    FROM m LEFT JOIN o ON m.month_no = o.month_no
    """,
)
def refsql_fromless_recursive_anchor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # Round-10: FROM-less SELECT through the dialect — the recursive-CTE
    # anchor is a bare ``SELECT 1 AS month_no`` (no more ``FROM region
    # LIMIT 1`` workaround; the parser splices a one-row dual relation),
    # and the projection carries a FROM-less-adjacent uncorrelated scalar
    # subquery. A recursively generated month series LEFT-joins to
    # per-month order counts so absent months surface as zeros. All
    # outputs integer (exact hash); the oracle is DuckDB's NATIVE
    # recursive CTE + scalar subquery engine over identical text modulo
    # aggregate-naming sugar.
    return _ref_select(
        spark,
        sf_dir,
        "WITH RECURSIVE m AS ("
        "SELECT 1 AS month_no "
        "UNION ALL "
        "SELECT month_no + 1 AS month_no FROM m WHERE month_no < 12), "
        "o AS (SELECT MONTH(o_orderdate) AS month_no, "
        "COUNT(*) AS n_orders, "
        "SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS n_finished "
        "FROM orders GROUP BY MONTH(o_orderdate)) "
        "SELECT m.month_no AS month_no, "
        "COALESCE(o.n_orders, 0) AS n_orders, "
        "COALESCE(o.n_finished, 0) AS n_finished, "
        "(SELECT COUNT(*) FROM orders) AS total_orders "
        "FROM m LEFT JOIN o AS o ON m.month_no = o.month_no",
    )


@query(
    "refsql_values_dim_join",
    """
    SELECT d.bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(floor(o_totalprice)::BIGINT) AS BIGINT) AS total_floor
    FROM orders
    JOIN (VALUES ('1-URGENT', 'hot'), ('2-HIGH', 'hot'),
                 ('3-MEDIUM', 'warm'), ('4-NOT SPECIFIED', 'cold'),
                 ('5-LOW', 'cold')) AS d(pri, bucket)
      ON orders.o_orderpriority = d.pri
    GROUP BY d.bucket
    """,
)
def refsql_values_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-10: inline VALUES table constructor as a JOIN side — the
    # classic "decode codes via a literal dimension" lookup, plus the ::
    # cast shorthand inside an aggregate argument. floor() BEFORE the
    # BIGINT cast on BOTH sides: Spark's double→BIGINT cast TRUNCATES
    # toward zero while DuckDB's ROUNDS to nearest, so the bare cast
    # diverges by 1 on about half the rows — floor() is defined
    # identically in both engines and makes the summed integers exact.
    # The VALUES rows compile to a LocalRelation and the join broadcasts
    # — at 100 TB this is a map-side hash lookup, zero extra shuffles.
    return _ref_select(
        spark,
        sf_dir,
        "SELECT d.bucket, "
        "COUNT(*) AS n_orders, "
        "SUM(floor(o_totalprice)::BIGINT) AS total_floor "
        "FROM orders "
        "JOIN (VALUES ('1-URGENT', 'hot'), ('2-HIGH', 'hot'), "
        "('3-MEDIUM', 'warm'), ('4-NOT SPECIFIED', 'cold'), "
        "('5-LOW', 'cold')) AS d(pri, bucket) "
        "ON orders.o_orderpriority = d.pri "
        "GROUP BY d.bucket",
    )


@query(
    "refsql_agg_expressions",
    """
    SELECT o_orderstatus,
           CAST(floor(MAX(o_totalprice)) - floor(MIN(o_totalprice))
                AS BIGINT) AS spread_floor,
           CAST(SUM(floor(o_totalprice)) AS BIGINT) AS total_floor
    FROM orders
    GROUP BY o_orderstatus
    HAVING COUNT(*) > 2
    """,
)
def refsql_agg_expressions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-10: expressions OVER aggregates as single aggregate items —
    # a MAX-minus-MIN spread and a CAST-wrapped SUM (closing the old
    # "wrap an aggregate needs a CTE" limitation) — plus HAVING over an
    # aggregate NOT in the SELECT list (COUNT(*) computes as a hidden
    # column and drops from the output). floor() keeps every delivered
    # value an exact integer (no rounding convention needed); DuckDB runs
    # the IDENTICAL text.
    return _ref_select(
        spark,
        sf_dir,
        "SELECT o_orderstatus, "
        "CAST(floor(MAX(o_totalprice)) - floor(MIN(o_totalprice)) "
        "AS BIGINT) AS spread_floor, "
        "CAST(SUM(floor(o_totalprice)) AS BIGINT) AS total_floor "
        "FROM orders "
        "GROUP BY o_orderstatus "
        "HAVING COUNT(*) > 2",
    )


@query(
    "refsql_typed_literal_range",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(event_id) AS BIGINT) AS first_id
    FROM events
    WHERE ts BETWEEN TIMESTAMP '2024-01-01 06:00:00'
                 AND TIMESTAMP '2024-01-03 00:00:00'
    GROUP BY event_type
    """,
)
def refsql_typed_literal_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-10: TIMESTAMP typed literals as BETWEEN bounds in the dialect
    # — the time-range report every events pipeline writes. MIN(event_id)
    # pins that the range filter (not just the count) matches; all
    # outputs integer (exact hash). DuckDB runs the IDENTICAL text; both
    # engines evaluate the literals in the session's UTC zone.
    return _ref_select(
        spark,
        sf_dir,
        "SELECT event_type, COUNT(*) AS n, MIN(event_id) AS first_id "
        "FROM events "
        "WHERE ts BETWEEN TIMESTAMP '2024-01-01 06:00:00' "
        "AND TIMESTAMP '2024-01-03 00:00:00' "
        "GROUP BY event_type",
    )


@query(
    "refsql_correlated_scalar",
    """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
    FROM orders AS o
    WHERE o_totalprice > 2 * (SELECT AVG(o2.o_totalprice) FROM orders AS o2
                              WHERE o2.o_custkey = o.o_custkey)
    ORDER BY o_orderkey
    """,
)
def refsql_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-9: correlated scalar subquery through the dialect — orders
    # more than twice their customer's average order value. Catalyst's
    # RewriteCorrelatedScalarSubquery decorrelates it (group the inner by
    # its equality-correlation key, aggregate once, LEFT JOIN onto the
    # outer — one shuffle bounded by distinct customers, never a per-row
    # re-execution). The oracle is
    # DuckDB's NATIVE correlated-subquery engine — an independent
    # implementation of the same semantics.
    return _ref_select(
        spark,
        sf_dir,
        "SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS price "
        "FROM orders AS o "
        "WHERE o_totalprice > 2 * (SELECT AVG(o2.o_totalprice) "
        "FROM orders AS o2 WHERE o2.o_custkey = o.o_custkey) "
        "ORDER BY o_orderkey",
    )


@query(
    "refsql_in_or_membership",
    """
    SELECT o_orderpriority, count(*) AS count
    FROM orders
    WHERE (o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 8000))
       OR o_totalprice > 300000
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def refsql_in_or_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-9: IN (SELECT ...) in a NON-conjunct position — under OR the
    # membership test plans as an existence join (UNKNOWN and FALSE both
    # drop the row there), ANSI Kleene semantics intact. Oracle: DuckDB's
    # native unrestricted IN.
    return _ref_select(
        spark,
        sf_dir,
        "SELECT o_orderpriority, COUNT(*) FROM orders "
        "WHERE (o_custkey IN (SELECT c_custkey FROM customer "
        "WHERE c_acctbal > 8000)) OR o_totalprice > 300000 "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority",
    )


@query(
    "refsql_arg_max_orders",
    """
    SELECT o_orderpriority,
           arg_max(o_orderkey, o_totalprice) AS top_order,
           arg_min(o_orderkey, o_totalprice) AS bottom_order,
           max(o_totalprice) AS top_price
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def refsql_arg_max_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-9: selector aggregates through the dialect — arg_max/arg_min
    # (DuckDB's names, rewritten to Spark's max_by/min_by at capture;
    # identical documented semantics). Ties would be nondeterministic in
    # BOTH engines, so the workload keys on o_totalprice extremes, which
    # are verified tie-free per priority group at sf0.001/0.01/0.1.
    return _ref_select(
        spark,
        sf_dir,
        "SELECT o_orderpriority, "
        "ARG_MAX(o_orderkey, o_totalprice) AS top_order, "
        "ARG_MIN(o_orderkey, o_totalprice) AS bottom_order, "
        "MAX(o_totalprice) AS top_price "
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority",
    )


@query(
    "refsql_intersect_all",
    """
    SELECT l_orderkey FROM lineitem WHERE l_quantity > 45
    INTERSECT ALL
    SELECT o_orderkey AS l_orderkey FROM orders WHERE o_totalprice > 100000
    """,
)
def refsql_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-9: INTERSECT ALL — multiset intersection (min multiplicity
    # per value: an order key appearing for k qualifying lineitems and
    # once on the orders side survives exactly min(k, 1) times). Spark's
    # intersectAll and DuckDB's INTERSECT ALL are both the ANSI multiset
    # form; the value hash sees the duplicate rows, so multiplicity is
    # checked, not just membership.
    return _ref_select(
        spark,
        sf_dir,
        "SELECT l_orderkey FROM lineitem WHERE l_quantity > 45 "
        "INTERSECT ALL "
        "SELECT o_orderkey FROM orders WHERE o_totalprice > 100000",
    )


@query(
    "refsql_locf_ignore_nulls",
    """
    SELECT event_id, user_id,
           last_value(CASE WHEN value > 50 THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS locf
    FROM events
    """,
)
def refsql_locf_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-9: in-call IGNORE NULLS (the DuckDB-portable spelling) on the
    # value window functions — the LOCF primitive: carry the last
    # above-threshold reading forward per user. event_id breaks ORDER BY
    # ties so the window is total and both engines walk identical row
    # orders. Delivered UNROUNDED: the carried value is an exact input
    # double (no arithmetic), so both engines emit identical bits.
    return _ref_select(
        spark,
        sf_dir,
        "SELECT event_id, user_id, "
        "LAST_VALUE(CASE WHEN value > 50 THEN value END IGNORE NULLS) "
        "OVER (PARTITION BY user_id ORDER BY ts, event_id) AS locf "
        "FROM events",
    )


@query(
    "refsql_distinct_on",
    """
    SELECT DISTINCT ON (o_orderpriority)
           o_orderpriority, o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey
    """,
)
def refsql_distinct_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-9: DISTINCT ON — the DuckDB/Postgres top-1-per-group verb,
    # compiled to a row_number window + rank-1 filter (one shuffle on the
    # ON columns). The trailing o_orderkey key makes the pick total even
    # under value ties, so both engines select identical rows; delivered
    # o_totalprice is an exact input double (unrounded-safe). The oracle
    # runs DuckDB's NATIVE DISTINCT ON — same SQL text, independent
    # implementation.
    return _ref_select(
        spark,
        sf_dir,
        "SELECT DISTINCT ON (o_orderpriority) "
        "o_orderpriority, o_orderkey, o_totalprice "
        "FROM orders "
        "ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey",
    )


@query(
    "refsql_rolling_time_window",
    """
    WITH w AS (
      SELECT event_id, user_id,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL '6 hours' PRECEDING
                 AND CURRENT ROW) AS n_6h,
             SUM(value) OVER (PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL '6 hours' PRECEDING
                 AND CURRENT ROW) AS v_6h
      FROM events
    )
    SELECT event_id, user_id, n_6h, round(v_6h, 2) AS v_6h FROM w
    """,
)
def refsql_rolling_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-9: INTERVAL bounds in RANGE frames — the rolling time window
    # ("events/value in the trailing 6 hours per user"). The dialect
    # desugars the timestamp sort key to unix epoch microseconds +
    # rangeBetween micro offsets, matching DuckDB's NATIVE timestamp
    # RANGE frame exactly (micros are exact integers). The window SUM
    # rounds through a CTE (true sums of 2-dp inputs are multiples of
    # 0.01, so the half-cent boundary is unreachable and the 2-dp round
    # is engine-stable despite differing float accumulation orders).
    return _ref_select(
        spark,
        sf_dir,
        "WITH w AS (SELECT event_id, user_id, "
        "COUNT(*) OVER (PARTITION BY user_id ORDER BY ts "
        "RANGE BETWEEN INTERVAL '6 hours' PRECEDING AND CURRENT ROW) "
        "AS n_6h, "
        "SUM(value) OVER (PARTITION BY user_id ORDER BY ts "
        "RANGE BETWEEN INTERVAL '6 hours' PRECEDING AND CURRENT ROW) "
        "AS v_6h "
        "FROM events) "
        "SELECT event_id, user_id, n_6h, ROUND(v_6h, 2) AS v_6h FROM w",
    )


@query(
    "storage_column_stats",
    """
    SELECT path_in_schema AS column,
           CAST(SUM(total_compressed_size) AS BIGINT) AS compressed_bytes,
           CAST(SUM(total_uncompressed_size) AS BIGINT) AS uncompressed_bytes,
           CAST(SUM(num_values) AS BIGINT) AS n_values
    FROM parquet_metadata('{sf_dir}/lineitem.parquet')
    GROUP BY 1 ORDER BY 1
    """,
)
def storage_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage audit (round 9): per-column compressed/uncompressed bytes
    and value counts straight from the parquet FOOTERS — the numbers
    that price a 100-TB scan (EXPLAIN ESTIMATE's per-scan line, as a
    queryable table). One pyarrow metadata read, zero row groups; the
    oracle replays DuckDB's own parquet_metadata() over the same file,
    so two independent footer readers must agree byte-for-byte."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(f"{sf_dir}/lineitem.parquet").metadata
    acc: dict[str, list[int]] = {}
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for i in range(md.num_columns):
            c = rg.column(i)
            a = acc.setdefault(c.path_in_schema, [0, 0, 0])
            a[0] += c.total_compressed_size
            a[1] += c.total_uncompressed_size
            a[2] += c.num_values
    return spark.createDataFrame(
        [(k, *v) for k, v in sorted(acc.items())],
        "column string, compressed_bytes long, uncompressed_bytes long, "
        "n_values long",
    )


@query(
    "refsql_union_by_name",
    """
    SELECT o_orderkey AS k, o_totalprice AS v, o_orderpriority AS p
    FROM orders WHERE o_totalprice > 400000
    UNION ALL BY NAME
    SELECT o_orderpriority AS p, o_orderkey AS k, o_totalprice AS v
    FROM orders WHERE o_totalprice < 1000
    ORDER BY k
    """,
)
def refsql_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-9: UNION ALL BY NAME — arms combine by COLUMN NAME instead of
    # position (Spark unionByName ≡ DuckDB BY NAME), the schema-evolution
    # ergonomic for concatenating shards whose column order drifted. The
    # second arm's columns are deliberately permuted: a positional union
    # would scramble k/v/p, so the hash check pins name resolution.
    return _ref_select(
        spark,
        sf_dir,
        "SELECT o_orderkey AS k, o_totalprice AS v, o_orderpriority AS p "
        "FROM orders WHERE o_totalprice > 400000 "
        "UNION ALL BY NAME "
        "SELECT o_orderpriority AS p, o_orderkey AS k, o_totalprice AS v "
        "FROM orders WHERE o_totalprice < 1000 "
        "ORDER BY k",
    )
