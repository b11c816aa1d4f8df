"""The search-index rebuild query — the reference's flagship pipeline.

Reference: ``dags/search_engine/sql_search_full_rebuild_dag.py:24-115`` —
a 115-line T-SQL query run inside SQL Server nightly:

    FilteredDeposits   (status equality + 1-month ModifiedDate window)
    PivotCustomFields  (EAV tall→wide: MAX(CASE WHEN id IN (...) THEN
                        COALESCE(cfv.Value, cfo.Value) END) GROUP BY DepositId)
    MinUserRole        (GROUP BY UserId, MIN(RoleId))
    → 5 LEFT JOINs (3 small dims + pivot + min-role) → projection → ORDER BY Id DESC

plus the hourly incremental variant
(``sql_search_incremental_dag.py:24-117``) which swaps the time window
for ``ModifiedDate > :watermark`` and adds ``StatusId <> 1254``, and the
point lookup (``search_engine/scripts/fetch_deposit_by_id.py:20-75``).

Here the same plan shape runs on the harness star schema:

    fact ``orders``            ↔ Deposits
    tall ``lineitem`` ⟕ ``part``  ↔ CustomFieldValues ⟕ CustomFieldOptions
    dims ``customer``/``nation``/``region`` ↔ DepositCategories/BaseInfos/Regions
    tall ``events``            ↔ usr.UserRoles (MIN aggregate)

Scale design (100 TB):
- the three dim joins are broadcast (dims stay small at any SF);
- the EAV pivot is a partial-aggregating hash groupBy on the tall table's
  foreign key — map-side combine collapses it before the shuffle;
- pivot result joins the filtered fact on the same key (sort-merge at
  scale; AQE converts to broadcast when the filter is selective);
- the MIN-role aggregate output is tiny → broadcast;
- the status/date filter is pushed into the parquet scan of the fact
  (verify with ``.explain``: PushedFilters on o_orderstatus/o_orderdate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import read_table

# Deterministic stand-ins for the reference's GETDATE()-derived window
# (sql_search_full_rebuild_dag.py:43). Test data spans 1995-2001.
FULL_REBUILD_STATUS = "F"  # ↔ StatusId = 1247
FULL_REBUILD_SINCE = "1998-01-01 00:00:00"  # ↔ ModifiedDate > now - 1 month
INCREMENTAL_EXCLUDED_STATUS = "P"  # ↔ StatusId <> 1254


def pivot_custom_fields_frames(
    li: DataFrame, part: DataFrame, keys: DataFrame | None = None
) -> DataFrame:
    """EAV tall→wide conditional-aggregation pivot (A1 + J1), on
    caller-supplied frames (the continuous indexer feeds storage-table
    snapshots; the sf_dir wrapper below feeds parquet reads — one plan
    either way).

    ↔ PivotCustomFields CTE: the tall table left-joins the options dim to
    resolve values (COALESCE(cfv.Value, cfo.Value)), then one MAX(CASE...)
    per attribute id-set, grouped by the fact key.

    ``keys`` (a 1-column DataFrame of qualifying fact keys) semi-join-
    prunes the tall table BEFORE the aggregate — semantically identical
    under the downstream fact⟕pivot left join, and it cuts the dominant
    shuffle by the fact filter's selectivity (the reference's CTE chain
    filters before pivoting too, sql_search_full_rebuild_dag.py:29-48).
    The keys side is broadcast: the pivot input is then filtered map-side
    and only pre-aggregated survivors shuffle.
    """
    if keys is not None:
        kcol = keys.columns[0]
        li = li.join(
            F.broadcast(keys), li.l_orderkey == keys[kcol], "left_semi"
        )

    # J1: value resolution against the small options dim — broadcast.
    resolved = li.join(
        F.broadcast(part.select("p_partkey", "p_retailprice")),
        li.l_partkey == part.p_partkey,
        "left",
    ).withColumn("resolved_value", F.coalesce("l_extendedprice", "p_retailprice"))

    def attr(flag_col: str, values: list[str], alias: str):
        return F.max(
            F.when(F.col(flag_col).isin(values), F.col("resolved_value"))
        ).alias(alias)

    # A1: one MAX(CASE WHEN attr-id IN (...)) per output column.
    return resolved.groupBy(F.col("l_orderkey").alias("pv_orderkey")).agg(
        attr("l_returnflag", ["R"], "returned_price"),
        attr("l_returnflag", ["A"], "accepted_price"),
        attr("l_returnflag", ["N"], "neutral_price"),
        F.max(F.when(F.col("l_linestatus") == "O", F.col("l_quantity"))).alias("open_qty"),
        F.max(F.when(F.col("l_linestatus") == "F", F.col("l_quantity"))).alias("filled_qty"),
        F.max(F.when(F.col("l_linenumber") <= 2, F.col("l_discount"))).alias("head_discount"),
        F.max(F.when(F.col("l_linenumber") > 2, F.col("l_tax"))).alias("tail_tax"),
        F.max(F.when(F.col("l_quantity") >= 25.0, F.col("resolved_value"))).alias("bulk_price"),
    )


def min_user_role_frames(
    events: DataFrame, users: DataFrame | None = None
) -> DataFrame:
    """↔ MinUserRole CTE (A2): GROUP BY UserId, MIN(RoleId).

    ``users`` semi-join-prunes the tall events table to the fact's
    customer keys before aggregating (same legality argument as the
    pivot prune: the downstream join is fact-preserving left).
    """
    if users is not None:
        ucol = users.columns[0]
        events = events.join(
            F.broadcast(users.distinct()), events.user_id == users[ucol], "left_semi"
        )
    return events.groupBy(F.col("user_id").alias("mr_user_id")).agg(
        F.min("value").alias("min_role_value")
    )


def build_index_frames(
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    lineitem: DataFrame,
    part: DataFrame,
    events: DataFrame,
    fact_filter: F.Column,
) -> DataFrame:
    """Shared plan for full / incremental / point-lookup variants, on
    caller-supplied frames (jobs.search_indexer feeds storage-table
    snapshots here; the sf_dir path wraps parquet reads).

    Plan shape (verified via .explain):
    - the fact filter pushes into the parquet scan (PushedFilters);
    - J2-J4 small dims broadcast;
    - the pivot and min-role arms are semi-join-pruned on the filtered
      fact's keys before aggregating, so both tall-table shuffles carry
      only qualifying rows (the single biggest 100 TB lever here);
    - J5 fact ⟕ pivot shuffles on the shared key; J6 min-role broadcast.
    """
    # FilteredDeposits: equality + temporal window; pushed to parquet scan.
    filtered = orders.where(fact_filter)

    pivot = pivot_custom_fields_frames(
        lineitem, part, keys=filtered.select("o_orderkey")
    )
    min_role = min_user_role_frames(
        events, users=filtered.select("o_custkey")
    )

    joined = (
        filtered.join(
            F.broadcast(customer.select("c_custkey", "c_name", "c_nationkey")),
            filtered.o_custkey == F.col("c_custkey"),
            "left",
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey, "left")
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
        .join(pivot, filtered.o_orderkey == F.col("pv_orderkey"), "left")
        .join(F.broadcast(min_role), filtered.o_custkey == F.col("mr_user_id"), "left")
    )

    # Final projection-with-rename (P1).
    return joined.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderpriority").alias("title"),
        F.col("c_name").alias("category_link"),
        F.col("n_name").alias("nation_name"),
        F.col("r_name").alias("region_name"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").alias("modified_date"),
        F.col("o_totalprice").alias("price"),
        F.col("min_role_value").alias("role_value"),
        "returned_price",
        "accepted_price",
        "neutral_price",
        "open_qty",
        "filled_qty",
        "head_discount",
        "tail_tax",
        "bulk_price",
    )


def _build_index(
    spark: SparkSession, sf_dir: str, fact_filter: F.Column
) -> DataFrame:
    return build_index_frames(
        read_table(spark, sf_dir, "orders"),
        read_table(spark, sf_dir, "customer"),
        read_table(spark, sf_dir, "nation"),
        read_table(spark, sf_dir, "region"),
        read_table(spark, sf_dir, "lineitem"),
        read_table(spark, sf_dir, "part"),
        read_table(spark, sf_dir, "events"),
        fact_filter,
    )


def search_index_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full nightly rebuild (↔ sql_search_full_rebuild_dag.py QUERY):
    shared plan + global sort (W1)."""
    return _build_index(
        spark,
        sf_dir,
        (F.col("o_orderstatus") == FULL_REBUILD_STATUS)
        & (F.col("o_orderdate") > F.lit(FULL_REBUILD_SINCE).cast("timestamp")),
    ).orderBy(F.col("id").desc())


def search_index_incremental(
    spark: SparkSession, sf_dir: str, watermark: str = "2000-06-01 00:00:00"
) -> DataFrame:
    """Hourly incremental variant (↔ sql_search_incremental_dag.py:24-117).

    Same join/pivot plan; the upstream filter becomes
    ``ModifiedDate > :watermark AND StatusId <> 1254`` (P3 + P5). The
    production path reads the watermark from the state table
    (storage.watermark) shifted back 1 h for overlap (ST3).
    """
    return _build_index(
        spark,
        sf_dir,
        (F.col("o_orderstatus") != INCREMENTAL_EXCLUDED_STATUS)
        & (F.col("o_orderdate") > F.lit(watermark).cast("timestamp")),
    ).orderBy(F.col("id").desc())


def fetch_by_id(spark: SparkSession, sf_dir: str, order_id: int | None = None) -> DataFrame:
    """Point lookup (↔ fetch_deposit_by_id.py:20-75) — ONE plan, one job.

    Explicit id: the equality goes into the fact filter itself, so it
    pushes to the parquet scan AND the semi-join prunes both tall arms
    down to that single key's rows. Default (no id): "first qualifying
    row" = ascending sort + limit 1 → TakeOrderedAndProject, no second
    execution and no driver-side ``.first()`` (ids are unique, so this
    equals the old min-id filter).
    """
    base = (F.col("o_orderstatus") == FULL_REBUILD_STATUS) & (
        F.col("o_orderdate") > F.lit(FULL_REBUILD_SINCE).cast("timestamp")
    )
    if order_id is not None:
        return _build_index(spark, sf_dir, base & (F.col("o_orderkey") == order_id))
    return _build_index(spark, sf_dir, base).orderBy("id").limit(1)


_PIVOT_SQL = """
    SELECT
        l.l_orderkey AS pv_orderkey,
        MAX(CASE WHEN l.l_returnflag IN ('R') THEN COALESCE(l.l_extendedprice, p.p_retailprice) END) AS returned_price,
        MAX(CASE WHEN l.l_returnflag IN ('A') THEN COALESCE(l.l_extendedprice, p.p_retailprice) END) AS accepted_price,
        MAX(CASE WHEN l.l_returnflag IN ('N') THEN COALESCE(l.l_extendedprice, p.p_retailprice) END) AS neutral_price,
        MAX(CASE WHEN l.l_linestatus = 'O' THEN l.l_quantity END) AS open_qty,
        MAX(CASE WHEN l.l_linestatus = 'F' THEN l.l_quantity END) AS filled_qty,
        MAX(CASE WHEN l.l_linenumber <= 2 THEN l.l_discount END) AS head_discount,
        MAX(CASE WHEN l.l_linenumber > 2 THEN l.l_tax END) AS tail_tax,
        MAX(CASE WHEN l.l_quantity >= 25.0 THEN COALESCE(l.l_extendedprice, p.p_retailprice) END) AS bulk_price
    FROM lineitem l
    LEFT JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY l.l_orderkey
"""

_PROJECTION_SQL = """
    SELECT
        o.o_orderkey AS id,
        o.o_orderpriority AS title,
        c.c_name AS category_link,
        n.n_name AS nation_name,
        r.r_name AS region_name,
        o.o_orderstatus AS status,
        o.o_orderdate AS modified_date,
        o.o_totalprice AS price,
        m.min_role_value AS role_value,
        p.returned_price, p.accepted_price, p.neutral_price,
        p.open_qty, p.filled_qty, p.head_discount, p.tail_tax, p.bulk_price
    FROM filtered_orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    LEFT JOIN pivot_fields p ON o.o_orderkey = p.pv_orderkey
    LEFT JOIN min_role m ON o.o_custkey = m.mr_user_id
    ORDER BY o.o_orderkey DESC
"""


def _oracle(filter_clause: str) -> str:
    return f"""
    WITH filtered_orders AS (
        SELECT * FROM orders WHERE {filter_clause}
    ),
    pivot_fields AS ({_PIVOT_SQL}),
    min_role AS (
        SELECT user_id AS mr_user_id, MIN(value) AS min_role_value
        FROM events GROUP BY user_id
    )
    {_PROJECTION_SQL}
    """


def _oracle_point(filter_clause: str) -> str:
    # ids are unique, so "row with MIN(id)" == ascending sort + LIMIT 1
    # (mirrors the Spark side's single-plan TakeOrderedAndProject).
    inner = _oracle(filter_clause)
    return f"SELECT * FROM ({inner}) q ORDER BY q.id LIMIT 1"


SPARK_QUERIES = {
    "search_index_full": search_index_full,
    "search_index_incremental": search_index_incremental,
    "search_index_fetch_by_id": fetch_by_id,
}

ORACLE_SQL = {
    "search_index_full": _oracle(
        f"o_orderstatus = '{FULL_REBUILD_STATUS}' AND o_orderdate > TIMESTAMP '{FULL_REBUILD_SINCE}'"
    ),
    "search_index_incremental": _oracle(
        f"o_orderstatus <> '{INCREMENTAL_EXCLUDED_STATUS}' AND o_orderdate > TIMESTAMP '2000-06-01 00:00:00'"
    ),
    "search_index_fetch_by_id": _oracle_point(
        f"o_orderstatus = '{FULL_REBUILD_STATUS}' AND o_orderdate > TIMESTAMP '{FULL_REBUILD_SINCE}'"
    ),
}
