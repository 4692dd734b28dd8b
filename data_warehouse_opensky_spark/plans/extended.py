"""Extended relational surface: pivot/unpivot, subquery forms, and
sliding event-time windows.

These round out the mart-report shapes the reference's diagram stages
5–6 imply (SURVEY §2 T2.6–T2.9 "Create aggregate script" / DataMart
pane: cross-tab reports, metric melts) and the subquery surface the
reference's delegated-SQL model gets from Postgres for free (SURVEY §0:
its "query engine" IS Postgres; e.g. scalar config lookups
extract_script.py:66-68 are subqueries when inlined into a report).

The three subquery queries run ONE SQL string through BOTH engines —
Spark's Catalyst rewrites the correlated scalars into aggregate + outer
join (visible in .explain as a rewritten join, no per-row re-execution),
DuckDB runs the identical text natively. That shared-text property is
itself the portability test.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cents
from ..sources import load_table
from .catalog import query


def _sql_over_views(
    spark: SparkSession, sf_dir: str, sql: str, tables: list[str]
) -> DataFrame:
    """Run one SQL text over temp views of the parquet tables.

    View names are suffixed per-call so concurrent catalog queries
    never collide, then substituted into the SQL via {table} slots.
    """
    tag = uuid.uuid4().hex[:8]
    names = {}
    for t in tables:
        name = f"{t}_{tag}"
        load_table(spark, sf_dir, t).createOrReplaceTempView(name)
        names[t] = name
    return spark.sql(sql.format(**names))


# --------------------------------------------------------------------------
# T2.6/T2.8 — pivot: order-status cross-tab per priority (mart report)
# --------------------------------------------------------------------------
@query(
    "pivot_status_by_priority",
    tier="T2",
    doc="Pivot (cross-tab): order counts and exact-cents spend per "
    "priority × status, statuses as columns (the diagram's DataMart "
    "report shape). Spark groupBy().pivot() with an explicit value "
    "list — one hash aggregate, no extra shuffle vs the flat groupBy.",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS n_partial,
           coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    FILTER (WHERE o_orderstatus = 'O'), 0) / 100.0
             AS open_spend
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").withColumn(
        "price_c", cents("o_totalprice")
    )
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("price_c").alias("spend_c"),
        )
    )
    return p.select(
        "o_orderpriority",
        F.coalesce("O_n", F.lit(0)).alias("n_open"),
        F.coalesce("F_n", F.lit(0)).alias("n_filled"),
        F.coalesce("P_n", F.lit(0)).alias("n_partial"),
        (F.coalesce("O_spend_c", F.lit(0)) / 100.0).alias("open_spend"),
    ).orderBy("o_orderpriority")


# --------------------------------------------------------------------------
# T2.8 — unpivot (melt): wide per-nation metrics → long (metric, value)
# --------------------------------------------------------------------------
@query(
    "unpivot_nation_metrics",
    tier="T2",
    doc="Unpivot/melt: wide per-nation customer metrics (count, exact "
    "acctbal cents) to long (nation, metric, value) via DataFrame."
    "unpivot — the inverse mart shape, row-local (no extra shuffle "
    "after the aggregate).",
    oracle="""
    WITH w AS (
      SELECT n.n_name,
             count(*) AS n_customers,
             CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS acctbal_c
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    )
    SELECT n_name, 'n_customers' AS metric, n_customers AS value FROM w
    UNION ALL
    SELECT n_name, 'acctbal_c' AS metric, acctbal_c AS value FROM w
    ORDER BY n_name, metric
    """,
)
def unpivot_nation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    wide = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(cents("c_acctbal")).alias("acctbal_c"),
        )
    )
    return wide.unpivot(
        ids=["n_name"],
        values=["n_customers", "acctbal_c"],
        variableColumnName="metric",
        valueColumnName="value",
    ).orderBy("n_name", "metric")


# --------------------------------------------------------------------------
# Subqueries — ONE SQL text for Spark and DuckDB
# --------------------------------------------------------------------------
_SCALAR_SUBQ = """
    SELECT p_brand,
           count(*) AS n_above,
           max(CAST(round(p_retailprice * 100) AS BIGINT))
             / CAST(100 AS DOUBLE) AS max_price
    FROM {part}
    WHERE CAST(round(p_retailprice * 100) AS BIGINT)
          * (SELECT count(*) FROM {part})
          > (SELECT sum(CAST(round(p_retailprice * 100) AS BIGINT))
             FROM {part})
    GROUP BY p_brand
    ORDER BY p_brand
"""


@query(
    "subquery_scalar_above_avg",
    tier="T2",
    doc="Uncorrelated scalar subqueries: parts priced above the global "
    "mean, compared in exact integer cross-multiplication (p·n > Σp — "
    "no float average). Catalyst plans the scalars as broadcast "
    "one-row joins; identical SQL text runs on DuckDB.",
    oracle=_SCALAR_SUBQ.format(part="part"),
)
def subquery_scalar_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_over_views(spark, sf_dir, _SCALAR_SUBQ, ["part"])


_CORR_SUBQ = """
    SELECT o.o_orderpriority,
           count(*) AS n_above
    FROM {orders} o
    WHERE CAST(round(o.o_totalprice * 100) AS BIGINT)
          * (SELECT count(*) FROM {orders} i
             WHERE i.o_custkey = o.o_custkey)
          > (SELECT sum(CAST(round(i.o_totalprice * 100) AS BIGINT))
             FROM {orders} i
             WHERE i.o_custkey = o.o_custkey)
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
"""


@query(
    "subquery_correlated_above_cust_avg",
    tier="T2",
    doc="Correlated scalar subqueries: orders above their own "
    "customer's mean order value (exact integer cross-multiply). "
    "Catalyst de-correlates into per-customer aggregates + joins — "
    "no per-row re-execution; same text runs on DuckDB.",
    oracle=_CORR_SUBQ.format(orders="orders"),
)
def subquery_correlated_above_cust_avg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _sql_over_views(spark, sf_dir, _CORR_SUBQ, ["orders"])


_EXISTS_SUBQ = """
    SELECT c.c_mktsegment,
           count(*) AS n_customers
    FROM {customer} c
    WHERE EXISTS (SELECT 1 FROM {orders} o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
"""


@query(
    "subquery_exists_urgent",
    tier="T2",
    doc="EXISTS correlated subquery (T2.4's semi-join via its SQL "
    "surface form): customers with ≥1 urgent order, counted per "
    "segment. Catalyst plans EXISTS as a left-semi hash join.",
    oracle=_EXISTS_SUBQ.format(customer="customer", orders="orders"),
)
def subquery_exists_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_over_views(spark, sf_dir, _EXISTS_SUBQ, ["customer", "orders"])


# --------------------------------------------------------------------------
# T2.16 — sliding (hopping) event-time window, batch form
# --------------------------------------------------------------------------
@query(
    "window_sliding_2h",
    tier="T2",
    doc="Sliding event-time window (2-hour width, 1-hour hop) over "
    "events: each event lands in two windows (F.window with slide). "
    "Oracle replicates via a 2-element hop join. Exact cents sums; "
    "window keyed by its start hour.",
    oracle="""
    SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 - hop AS window_hour,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
             AS sum_value
    FROM events, (SELECT unnest([0, 1]) AS hop)
    GROUP BY window_hour
    ORDER BY window_hour
    """,
)
def window_sliding_2h(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            (F.sum(cents("value")) / 100.0).alias("sum_value"),
        )
        .select(
            F.expr("unix_timestamp(w.start) div 3600")
            .cast("long")
            .alias("window_hour"),
            "n_events",
            "n_users",
            "sum_value",
        )
        .orderBy("window_hour")
    )


# --------------------------------------------------------------------------
# Map functions: JSON props → typed MapType, map ops JVM-side
# --------------------------------------------------------------------------
@query(
    "map_funcs",
    tier="T2",
    doc="MapType surface: from_json(props) → map<string,bigint>, then "
    "map_keys / element_at / map_contains_key aggregated per event "
    "type — the typed-map twin of the string-path JSON extraction "
    "(json_extract_props). Everything stays in codegen; no map is "
    "output raw (map ordering is engine-specific).",
    oracle="""
    SELECT event_type,
           CAST(sum(len(json_keys(props))) AS BIGINT) AS n_entries,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           count(*) FILTER (
             WHERE json_extract_string(props, '$.k') IS NOT NULL
           ) AS n_with_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return (
        e.select(
            "event_type",
            F.size(F.map_keys(m)).cast("long").alias("n_keys"),
            F.element_at(m, "k").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("n_keys").alias("n_entries"),
            F.sum("k").alias("sum_k"),
            F.count("k").alias("n_with_k"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Skew mitigation: salted two-phase aggregation under hot keys
# --------------------------------------------------------------------------
@query(
    "agg_salted_hot_keys",
    tier="T2",
    doc="Salted two-phase aggregation over a genuinely hot key "
    "(events.event_type has ~5 distinct values, so every key is a "
    "hot key): partials on (key, salt-of-event_id), finals on key "
    "(operators/skew.py). The gate proves the salted decomposition "
    "is EXACT for algebraic aggs — identical to the plain GROUP BY "
    "the oracle runs. The explicit form covers what AQE skew "
    "handling can't: reducer-side hot spots in the aggregation "
    "itself at 100 TB.",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_c,
           CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS min_value_c,
           CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS max_value_c
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def agg_salted_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_agg

    e = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", cents("value").alias("value_c")
    )
    return salted_agg(
        e,
        key="event_type",
        spread_col="event_id",
        aggs=[
            ("value_c", "count", "n_events"),
            ("value_c", "sum", "sum_value_c"),
            ("value_c", "min", "min_value_c"),
            ("value_c", "max", "max_value_c"),
        ],
    ).orderBy("event_type")


@query(
    "join_salted_skew",
    tier="T2",
    doc="Salted equi-join (operators/skew.py): events (skewed side, "
    "salted on event_id) joined to customer replicated across 8 "
    "salts, then rolled up per market segment. The shape for a hot "
    "join key when the other side is too big to broadcast — one hot "
    "key spreads over num_salts reducers. Gate proves the salted "
    "join is row-for-row identical to the plain join the oracle "
    "runs. Forced non-broadcast so the salted path is what actually "
    "executes.",
    oracle="""
    SELECT c.c_mktsegment,
           count(*) AS n_events,
           count(DISTINCT e.user_id) AS n_users,
           CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_c
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", cents("value").alias("value_c")
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(e, c, on="user_id", spread_col="event_id", num_salts=8)
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum("value_c").cast("long").alias("sum_value_c"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# T2.11 — EXCEPT ALL (multiset semantics)
# --------------------------------------------------------------------------
@query(
    "set_ops_except_all",
    tier="T2",
    doc="EXCEPT ALL — bag difference of order priorities between open "
    "and finished orders: each 'F' occurrence cancels exactly ONE 'O' "
    "occurrence (T2.11's multiset variant; distinct EXCEPT is "
    "set_ops_except). Spark exceptAll ↔ SQL EXCEPT ALL; planned as a "
    "count-diff aggregation + replicate, one shuffle per side.",
    oracle="""
    SELECT o_orderpriority AS priority FROM orders WHERE o_orderstatus = 'O'
    EXCEPT ALL
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
    ORDER BY priority
    """,
)
def set_ops_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_orderpriority").alias("priority")
    )
    b = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderpriority").alias("priority")
    )
    return a.exceptAll(b).orderBy("priority")


# --------------------------------------------------------------------------
# T2.4 — LATERAL correlated subquery (top-3-per-group as a join shape)
# --------------------------------------------------------------------------
_LATERAL_TOP3 = """
    SELECT m.c_mktsegment, t.custkey, t.acctbal_c
    FROM (SELECT DISTINCT c_mktsegment FROM {customer}) m,
         LATERAL (
           SELECT c_custkey AS custkey,
                  CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_c
           FROM {customer} c
           WHERE c.c_mktsegment = m.c_mktsegment
           ORDER BY acctbal_c DESC, custkey
           LIMIT 3
         ) t
    ORDER BY m.c_mktsegment, t.acctbal_c DESC, t.custkey
"""


@query(
    "lateral_top3_per_segment",
    tier="T2",
    doc="LATERAL correlated subquery with ORDER BY + LIMIT: top-3 "
    "customers by balance per market segment, as ONE SQL text both "
    "engines run verbatim (the shared-text portability property of "
    "the subquery family). Catalyst de-correlates the lateral into a "
    "window-group-limit over a single shuffle — same physical shape "
    "as rank_topn_per_group, derived from the SQL form.",
    oracle=_LATERAL_TOP3.format(customer="customer"),
)
def lateral_top3_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_over_views(spark, sf_dir, _LATERAL_TOP3, ["customer"])


# --------------------------------------------------------------------------
# T2.3 — null-safe equi-join (eqNullSafe ↔ IS NOT DISTINCT FROM)
# --------------------------------------------------------------------------
@query(
    "join_null_safe",
    tier="T2",
    doc="Null-safe equi-join: per-type event counts from the two "
    "user-id halves matched with eqNullSafe — the NULL key (one type "
    "nulled via nullif) matches NULL, which a plain equi-join drops. "
    "Spark plans <=> as a hash join key like any other (broadcast "
    "here), not a nested loop.",
    oracle="""
    WITH a AS (
      SELECT nullif(event_type, 'click') AS k, count(*) AS na
      FROM events WHERE user_id % 2 = 0 GROUP BY 1
    ),
    b AS (
      SELECT nullif(event_type, 'click') AS k, count(*) AS nb
      FROM events WHERE user_id % 2 = 1 GROUP BY 1
    )
    SELECT a.k AS k, na, nb
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    ORDER BY k NULLS FIRST
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    half = lambda r: (  # noqa: E731
        e.filter(F.col("user_id") % 2 == r)
        .groupBy(F.nullif(F.col("event_type"), F.lit("click")).alias("k"))
        .agg(F.count("*").alias("na" if r == 0 else "nb"))
    )
    a, b = half(0), half(1)
    return (
        a.join(b, a["k"].eqNullSafe(b["k"]))
        .select(a["k"].alias("k"), "na", "nb")
        .orderBy(F.asc_nulls_first("k"))
    )


# --------------------------------------------------------------------------
# T1.16 at table scale — schema-evolution union (generation merge)
# --------------------------------------------------------------------------
@query(
    "schema_evolution_union",
    tier="T1",
    doc="Merging table GENERATIONS with drifted schemas — the batch "
    "twin of the reference's NULL back-fill projection "
    "(load_warehouse.py:77-91, T1.16): generation 1 (even orderkeys) "
    "lacks the status/priority columns, generation 2 (odd) lacks "
    "totalprice; unionByName(allowMissingColumns=True) aligns by NAME "
    "and back-fills NULL — positional UNION would silently misalign. "
    "Verified by a per-generation null profile over the merged frame "
    "(one scan per branch + one map-side-combined agg; union is a "
    "zero-shuffle plan node).",
    oracle="""
    WITH g1 AS (
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    g2 AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 1
    ),
    m AS (FROM g1 UNION ALL BY NAME FROM g2)
    SELECT o_orderkey % 2 AS generation,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS null_totalprice,
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS null_status,
           CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS null_priority
    FROM m GROUP BY 1 ORDER BY 1
    """,
)
def schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    g1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    g2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
    )
    m = g1.unionByName(g2, allowMissingColumns=True)
    nulls = lambda c: F.sum(  # noqa: E731
        F.when(F.col(c).isNull(), 1).otherwise(0)
    ).cast("long")
    return (
        m.groupBy((F.col("o_orderkey") % 2).alias("generation"))
        .agg(
            F.count("*").alias("n_rows"),
            nulls("o_totalprice").alias("null_totalprice"),
            nulls("o_orderstatus").alias("null_status"),
            nulls("o_orderpriority").alias("null_priority"),
        )
        .orderBy("generation")
    )


# --------------------------------------------------------------------------
# T2 — ordered string aggregation (listagg, Spark 4 / SQL:2016)
# --------------------------------------------------------------------------
@query(
    "agg_listagg_statuses",
    tier="T2",
    doc="Ordered string aggregation (SQL:2016 LISTAGG, new in Spark "
    "4): per order priority, the comma-joined DISTINCT statuses in "
    "lexical order plus supporting counts. String aggregation is "
    "hash-unstable UNLESS the order is total — the WITHIN GROUP "
    "(ORDER BY) clause is what makes the value deterministic and "
    "cross-engine comparable (DuckDB twin: string_agg ... ORDER BY). "
    "Map-side combinable only in its sorted-merge form; grouped on a "
    "5-key dimension so the agg state is trivially bounded. The csv "
    "aggregates a PRE-DISTINCTED (priority, status) frame and joins "
    "the counts back: Spark 4.1's ListAgg(DISTINCT x ... ORDER BY x) "
    "throws a ClassCastException in withNewChildrenInternal — the "
    "rewrite is equivalent and engine-portable.",
    oracle="""
    SELECT o_orderpriority AS priority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
             AS status_csv,
           CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
)
def agg_listagg_statuses(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "__listagg_orders"
    )
    return spark.sql(
        """
        WITH ds AS (
          SELECT DISTINCT o_orderpriority, o_orderstatus
          FROM __listagg_orders
        ),
        csv AS (
          SELECT o_orderpriority AS priority,
                 listagg(o_orderstatus, ',')
                   WITHIN GROUP (ORDER BY o_orderstatus) AS status_csv,
                 CAST(count(*) AS BIGINT) AS n_statuses
          FROM ds GROUP BY 1
        ),
        n AS (
          SELECT o_orderpriority AS priority,
                 CAST(count(*) AS BIGINT) AS n_orders
          FROM __listagg_orders GROUP BY 1
        )
        SELECT csv.priority, csv.status_csv, csv.n_statuses, n.n_orders
        FROM csv JOIN n USING (priority)
        ORDER BY priority
        """
    )


# --------------------------------------------------------------------------
# T1.2/T2 — XML decode round-trip (from_xml, Spark 4)
# --------------------------------------------------------------------------
@query(
    "xml_roundtrip_extract",
    tier="T2",
    doc="XML ingestion surface (from_xml, new in Spark 4) proven by "
    "ROUND-TRIP: each order renders to an XML fragment "
    "(format_string — row-local), from_xml parses it back against a "
    "typed schema, and the aggregate over PARSED fields must equal "
    "the aggregate over the originals (the oracle computes the "
    "latter directly — any parse/type defect breaks the hash). The "
    "JSON/VARIANT twin of the same pattern is json_extract_props / "
    "json_variant_extract; together they cover the three "
    "semi-structured decode paths a landing zone meets. Everything "
    "stays JVM-side.",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_price_c,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
)
def xml_roundtrip_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.format_string(
            "<o><k>%d</k><st>%s</st><pc>%d</pc></o>",
            F.col("o_orderkey"),
            F.col("o_orderstatus"),
            cents("o_totalprice"),
        ).alias("xml")
    )
    p = o.select(
        F.from_xml("xml", "k BIGINT, st STRING, pc BIGINT").alias("p")
    )
    return (
        p.groupBy(F.col("p.st").alias("status"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("p.pc").cast("long").alias("sum_price_c"),
            F.max("p.k").cast("long").alias("max_key"),
        )
        .orderBy("status")
    )


# --------------------------------------------------------------------------
# T2.9/T2.10 — GROUP BY ALL over a window-filtered subquery
# --------------------------------------------------------------------------
@query(
    "group_by_all_latest_order",
    tier="T2",
    doc="Each customer's single most recent order (row_number = 1 over "
    "(customer, date desc, key desc) — WindowGroupLimit prunes to one "
    "row per key before the full sort), rolled up with GROUP BY ALL "
    "(Spark 4 + DuckDB sugar: grouping keys inferred from the "
    "non-aggregate select list — zero plan difference from the "
    "explicit form, asserted by the identical oracle using the same "
    "sugar). QUALIFY is NOT in Spark 4.1's parser (tried and "
    "ParseException'd — DuckDB-only for now), so the window filter "
    "stays an explicit subquery. Dates emit as epoch days.",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_orderkey,
             CAST(CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400
                  AS BIGINT) AS order_day,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC
             ) AS rn
      FROM orders
    )
    SELECT order_day % 7 AS day_mod7,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(price_c) AS BIGINT) AS sum_latest_price_c
    FROM ranked WHERE rn = 1
    GROUP BY ALL
    ORDER BY day_mod7
    """,
)
def group_by_all_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "__gba_orders"
    )
    return spark.sql(
        """
        WITH ranked AS (
          SELECT o_custkey, o_orderkey,
                 CAST(cast(floor(unix_timestamp(o_orderdate)) as bigint)
                      div 86400 AS BIGINT) AS order_day,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
                 row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC
                 ) AS rn
          FROM __gba_orders
        )
        SELECT order_day % 7 AS day_mod7,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(price_c) AS BIGINT) AS sum_latest_price_c
        FROM ranked WHERE rn = 1
        GROUP BY ALL
        ORDER BY day_mod7
        """
    )


# --------------------------------------------------------------------------
# Spark 4 SQL pipe syntax (|> operators)
# --------------------------------------------------------------------------
@query(
    "sql_pipe_syntax_summary",
    tier="T2",
    doc="Spark 4 SQL pipe-operator surface (FROM ... |> WHERE |> "
    "AGGREGATE ... GROUP BY |> ORDER BY): the linear query-authoring "
    "syntax added in Spark 4.0, exercised on a real aggregate "
    "(finished-order counts + exact-cents spend per priority). "
    "Catalyst compiles pipes to the identical logical plan as the "
    "nested form — this query pins that the surface EXISTS and "
    "matches the classic-SQL oracle bit-for-bit. Exact integer "
    "money per catalog doctrine.",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS spend_c
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def sql_pipe_syntax_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_over_views(
        spark,
        sf_dir,
        """
        FROM {orders}
        |> WHERE o_orderstatus = 'F'
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n_orders,
                     CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS spend_c
           GROUP BY o_orderpriority
        |> ORDER BY o_orderpriority
        """,
        ["orders"],
    )


# --------------------------------------------------------------------------
# Interval-overlap join via bin bucketing
# --------------------------------------------------------------------------
#: Promo calendar: 10-day windows opening every Monday-equivalent from a
#: fixed anchor. A production run derives (anchor, n_windows) from the
#: data's min/max date in a control-plane agg; constants here keep the
#: oracle self-contained.
_IV_ANCHOR = "DATE '1995-01-01'"
_IV_N_WINDOWS = 370
_IV_LEN_DAYS = 10  # inclusive span = [start, start + 9]


@query(
    "join_interval_overlap",
    tier="T2",
    doc="Interval-overlap join WITHOUT a quadratic or inequality-only "
    "join: 7-day order-activity intervals [orderdate, orderdate+6] "
    "vs an overlapping 10-day promo calendar (one window per week — "
    "windows overlap each other AND the order intervals, so this is "
    "interval×interval, not point-in-band like "
    "range_join_price_bands). Technique: both sides explode to the "
    "7-day BINS their interval covers, join on the bin equi-key, "
    "dedup (an overlapping pair can meet in 2+ bins), then apply the "
    "exact overlap predicate — turning the O(|A|·|B|) comparison "
    "Spark would plan as BroadcastNestedLoopJoin into an equi-"
    "shuffle bounded by span/7 bins per interval (≤2 here, both "
    "sides). The oracle IS the quadratic join, proving the bucketed "
    "plan exact. Exact-cents revenue per window.",
    oracle=f"""
    WITH span AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
             date_diff('day', {_IV_ANCHOR}, CAST(o_orderdate AS DATE)) AS a0,
             date_diff('day', {_IV_ANCHOR}, CAST(o_orderdate AS DATE)) + 6
               AS a1
      FROM orders
    ),
    promo AS (
      SELECT i AS promo_id, 7 * i AS p0, 7 * i + {_IV_LEN_DAYS - 1} AS p1
      FROM generate_series(0, {_IV_N_WINDOWS - 1}) t(i)
    )
    SELECT promo.promo_id,
           CAST(CAST({_IV_ANCHOR} + to_days(CAST(promo.p0 AS INT)) AS DATE)
                AS VARCHAR) AS window_start,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(span.price_c) AS BIGINT) AS revenue_c
    FROM promo JOIN span
      ON span.a0 <= promo.p1 AND promo.p0 <= span.a1
    GROUP BY 1, 2
    ORDER BY promo_id
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    anchor = F.to_date(F.lit("1995-01-01"))
    span = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        cents("o_totalprice").alias("price_c"),
        F.datediff(F.to_date("o_orderdate"), anchor).cast("long").alias("a0"),
        (F.datediff(F.to_date("o_orderdate"), anchor) + 6)
        .cast("long")
        .alias("a1"),
    )
    promo = spark.range(_IV_N_WINDOWS).select(
        F.col("id").alias("promo_id"),
        (F.col("id") * 7).alias("p0"),
        (F.col("id") * 7 + (_IV_LEN_DAYS - 1)).alias("p1"),
    )
    # Bin bucketing: each side explodes to its covered 7-day bins.
    span_b = span.select(
        "*", F.explode(F.expr("sequence(a0 div 7, a1 div 7)")).alias("bin")
    )
    promo_b = promo.select(
        "*", F.explode(F.expr("sequence(p0 div 7, p1 div 7)")).alias("bin")
    )
    pairs = (
        span_b.join(F.broadcast(promo_b), "bin")
        .filter((F.col("a0") <= F.col("p1")) & (F.col("p0") <= F.col("a1")))
        .select("promo_id", "p0", "o_orderkey", "price_c")
        .distinct()
    )
    return (
        pairs.groupBy("promo_id", "p0")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("price_c").cast("long").alias("revenue_c"),
        )
        .select(
            "promo_id",
            F.date_add(anchor, F.col("p0").cast("int"))
            .cast("string")
            .alias("window_start"),
            "n_orders",
            "revenue_c",
        )
        .orderBy("promo_id")
    )


# --------------------------------------------------------------------------
# SQL session variables (Spark 4 DECLARE / SET VAR)
# --------------------------------------------------------------------------
@query(
    "sql_session_variables",
    tier="T2",
    doc="Spark 4 SQL session variables (DECLARE VARIABLE / SET VAR): "
    "the parameterized-script surface a warehouse control script uses "
    "instead of string interpolation — the threshold and status "
    "parameters live as typed session variables and the analytic "
    "query references them by name. Constant-folded by Catalyst into "
    "the same plan as inlined literals (the oracle inlines them), so "
    "parameterization is free at any scale. Exact-cents aggregation "
    "per catalog doctrine. CREATE OR REPLACE form keeps the query "
    "re-entrant within a session.",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_big_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS spend_c
    FROM orders
    WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 15000000
      AND o_orderstatus = 'O'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.sql(
        "DECLARE OR REPLACE VARIABLE big_order_cents BIGINT DEFAULT 0"
    )
    spark.sql("DECLARE OR REPLACE VARIABLE status_filter STRING DEFAULT ''")
    spark.sql("SET VAR big_order_cents = 15000000")
    spark.sql("SET VAR status_filter = 'O'")
    return _sql_over_views(
        spark,
        sf_dir,
        """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_big_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS spend_c
        FROM {orders}
        WHERE CAST(round(o_totalprice * 100) AS BIGINT) > big_order_cents
          AND o_orderstatus = status_filter
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        ["orders"],
    )


# --------------------------------------------------------------------------
# T2.3 — skew-salted join (the hot-key playbook, semantics-preserving)
# --------------------------------------------------------------------------
_SALT_BUCKETS = 8


@query(
    "join_skew_salted_hot_users",
    tier="T2",
    doc=f"Skew-salted dimension join: event traffic where every third "
    "user collapses onto one HOT key (user_id % 3 = 0 -> key 0, a "
    "~35% single-key spike — the power-law shape that stalls a "
    "shuffle join at 100 TB: one reducer gets the hot key's entire "
    f"fact slice). The playbook, executed: fact side salts the key "
    f"(event_id % {_SALT_BUCKETS}), dim side EXPLODES each row into "
    f"all {_SALT_BUCKETS} salts, and the equi-join runs on "
    "(key, salt) — the hot key's rows spread across "
    f"{_SALT_BUCKETS} tasks while every fact row still meets its dim "
    "row exactly once, so results are BIT-IDENTICAL to the plain "
    "join (the oracle IS the plain join). Salting is forced visible "
    "with a merge-join hint (Catalyst would broadcast this tiny dim; "
    "at 100 TB a fact-x-fact or huge-dim join can't broadcast — AQE "
    "skew-join splits only SORT-MERGE partitions anyway). The "
    "post-join per-key agg needs no salt: partial aggregation "
    "(map-side combine) absorbs agg-side skew. Plan-pinned: "
    "SortMergeJoin on (key, salt), zero BroadcastHashJoin.",
    oracle="""
    WITH f AS (
      SELECT CASE WHEN user_id % 3 = 0 THEN 0 ELSE user_id END AS k,
             CAST(round(value * 100) AS BIGINT) AS value_c
      FROM events
    )
    SELECT f.k AS user_key, c.c_name,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(value_c) AS BIGINT) AS total_value_c
    FROM f JOIN customer c ON c.c_custkey = f.k
    GROUP BY 1, 2
    ORDER BY n_events DESC, user_key ASC
    LIMIT 10
    """,
)
def join_skew_salted_hot_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "CASE WHEN user_id % 3 = 0 THEN 0 ELSE user_id END AS k",
        "CAST(round(value * 100) AS BIGINT) AS value_c",
        f"CAST(pmod(event_id, {_SALT_BUCKETS}) AS INT) AS salt",
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("k"), "c_name")
        .withColumn(
            "salt", F.explode(F.expr(f"sequence(0, {_SALT_BUCKETS - 1})"))
        )
        .withColumn("salt", F.col("salt").cast("int"))
    )
    joined = ev.hint("merge").join(cust, ["k", "salt"])
    return (
        joined.groupBy(F.col("k").alias("user_key"), "c_name")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("value_c").cast("long").alias("total_value_c"),
        )
        .orderBy(F.desc("n_events"), F.asc("user_key"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Spark 4 recursive CTE (WITH RECURSIVE → UnionLoop) — round 9b
# --------------------------------------------------------------------------
_RECURSIVE_HIERARCHY = """
WITH RECURSIVE edges AS (
  SELECT 'R' || CAST(n_regionkey AS STRING) AS parent,
         'N' || CAST(n_nationkey AS STRING) AS child
  FROM {nation}
  UNION ALL
  SELECT 'N' || CAST(c_nationkey AS STRING),
         'C' || CAST(c_custkey AS STRING)
  FROM {customer}
),
tree(node, root, depth) AS (
  SELECT 'R' || CAST(r_regionkey AS STRING), r_name, 0 FROM {region}
  UNION ALL
  SELECT e.child, t.root, t.depth + 1
  FROM tree t JOIN edges e ON e.parent = t.node
)
SELECT root, CAST(depth AS BIGINT) AS depth,
       CAST(count(*) AS BIGINT) AS n_nodes
FROM tree GROUP BY root, depth ORDER BY root, depth
"""


@query(
    "sql_recursive_hierarchy",
    tier="T2",
    doc="WITH RECURSIVE over the region→nation→customer tree: per-root "
    "node counts by depth, written as a genuine recursive CTE — the "
    "Spark 4.0+ surface (UnionLoop physical operator: the recursion "
    "repeats frontier⋈edges until a fixpoint, exactly the "
    "level-synchronous join graph_bfs_hops hand-unrolls). Recursion "
    "is the RIGHT tool here because the walked structure is a TREE — "
    "paths are unique, so UNION ALL recursion carries no "
    "combinatorial blowup (contrast graph_bfs_hops' docstring: on a "
    "cyclic graph all-paths recursion explodes and the deduped "
    "frontier form is mandatory; its oracle hand-unrolls for the same "
    "reason). Each recursive step is one hash join bounded by the "
    "level's size, so a 100 TB child table costs the same single "
    "equi-join it would in the unrolled plan. Keys are prefixed "
    "('R'/'N'/'C') because the three key spaces overlap numerically.",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT 'R' || CAST(n_regionkey AS VARCHAR) AS parent,
             'N' || CAST(n_nationkey AS VARCHAR) AS child
      FROM nation
      UNION ALL
      SELECT 'N' || CAST(c_nationkey AS VARCHAR),
             'C' || CAST(c_custkey AS VARCHAR)
      FROM customer
    ),
    tree(node, root, depth) AS (
      SELECT 'R' || CAST(r_regionkey AS VARCHAR), r_name, 0 FROM region
      UNION ALL
      SELECT e.child, t.root, t.depth + 1
      FROM tree t JOIN edges e ON e.parent = t.node
    )
    SELECT root, CAST(depth AS BIGINT) AS depth,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM tree GROUP BY root, depth ORDER BY root, depth
    """,
)
def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_over_views(
        spark, sf_dir, _RECURSIVE_HIERARCHY, ["region", "nation", "customer"]
    )


# --------------------------------------------------------------------------
# T1.7 end-to-end — MERGE INTO under the oracle harness
# --------------------------------------------------------------------------
@query(
    "merge_upsert_replay",
    tier="T1",
    doc="MERGE INTO as a latest-wins upsert, checked end-to-end "
    "(T1.7 — the reference's keyed UPDATE runs in Postgres, "
    "load_warehouse.py:117-129), on the streaming sink's kernel "
    "(streaming/sink.py::upsert_latest): upsert the orders snapshot "
    "slice (keys not divisible by 3) into an empty flat parquet "
    "snapshot at version 0, then a deterministic CDC batch (keys "
    "divisible by 7: status 'M', price +10.00) at version 1, so a "
    "source row replaces its key-matched target row (the %7==0 keys "
    "not divisible by 3) and the %21==0 keys are pure inserts. Each "
    "upsert merges the stale part files with the batch, appends the "
    "result and deletes the stale files; the snapshot is read back. "
    "The oracle replays the same upsert in SQL: source UNION ALL "
    "(target ANTI-JOIN source). Money in exact integer cents; the date "
    "as a string.",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
             strftime(o_orderdate, '%Y-%m-%d') AS o_date,
             strftime(o_orderdate, '%Y') AS o_year
      FROM orders
    ), target AS (
      SELECT * FROM base WHERE o_orderkey % 3 <> 0
    ), src AS (
      SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus,
             price_cents + 1000 AS price_cents, o_date, o_year
      FROM base WHERE o_orderkey % 7 = 0
    )
    SELECT * FROM src
    UNION ALL
    SELECT t.* FROM target t
    WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.o_orderkey = t.o_orderkey)
    ORDER BY o_orderkey
    """,
)
def merge_upsert_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..streaming.sink import upsert_latest

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        cents("o_totalprice").alias("price_cents"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
        F.date_format("o_orderdate", "yyyy").alias("o_year"),
    )
    # The table dir must OUTLIVE this fn (the returned frame reads it
    # lazily; the driver collects later) — same contract as the
    # streaming upsert-sink snapshot. Each invocation recycles the
    # previous one's dir so repeated bench samples stay bounded.
    global _MERGE_REPLAY_DIR
    root = tempfile.mkdtemp(prefix="merge_replay_")
    table = root + "/orders"
    upsert_latest(
        base.filter(F.col("o_orderkey") % 3 != 0).withColumn("_v", F.lit(0)),
        table, ["o_orderkey"], "_v",
    )
    upsert_latest(
        base.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_orderstatus", F.lit("M"))
        .withColumn("price_cents", F.col("price_cents") + 1000)
        .withColumn("_v", F.lit(1)),
        table, ["o_orderkey"], "_v",
    )
    prev, _MERGE_REPLAY_DIR = _MERGE_REPLAY_DIR, root
    if prev is not None:
        shutil.rmtree(prev, ignore_errors=True)
    return spark.read.parquet(table).select(*base.columns).orderBy("o_orderkey")


_MERGE_REPLAY_DIR: str | None = None
