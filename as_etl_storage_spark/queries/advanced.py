"""Advanced operators: as-of join, dedup clustering (connected components),
applyInPandas sequence analysis, and the extended SQL surface (cube,
grouping sets, percentile, listagg, array ops, exact-sum statistics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from as_etl_storage_spark.functions import word_tokens
from as_etl_storage_spark.operators.asof import asof_join
from as_etl_storage_spark.operators.graph import connected_components
from as_etl_storage_spark.operators.sequence import event_transitions
from as_etl_storage_spark.operators import dedup
from as_etl_storage_spark.queries.common import load_table, sql_query

QUERIES: dict = {}
ORACLES: dict = {}


def _register(name: str, fn, oracle: str | None) -> None:
    QUERIES[name] = fn
    if oracle is not None:
        ORACLES[name] = oracle


# ------------------------------------------------------------ as-of join --
def _asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where("event_type = 'click'").select("user_id", "ts", "event_id")
    views = ev.where("event_type = 'view'").select(
        "user_id", ev["ts"].alias("view_ts")
    )
    joined = asof_join(
        clicks, views, on="user_id", left_time="ts", right_time="view_ts",
        payload=["view_ts"],
    )
    return joined.select("user_id", "event_id", "ts", "view_ts")


_register(
    "q_asof_join",
    _asof,
    """
    WITH clicks AS (SELECT user_id, ts, event_id FROM events
                    WHERE event_type = 'click'),
         views AS (SELECT user_id, ts AS view_ts FROM events
                   WHERE event_type = 'view')
    SELECT c.user_id, c.event_id, c.ts, v.view_ts
    FROM clicks c ASOF LEFT JOIN views v
      ON c.user_id = v.user_id AND c.ts >= v.view_ts
    """,
)


# ----------------------------------------------- dedup clusters (graph) ---
def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(docs, "doc_id", "text", p=4, q=5)
    return connected_components(pairs.select("doc_i", "doc_j"))


_register(
    "dedup_clusters",
    _dedup_clusters,
    """
    WITH RECURSIVE
    pos AS (SELECT doc_id, text,
                   unnest(range(1, greatest(length(text)-3, 2))) AS g
            FROM documents),
    sh AS (SELECT DISTINCT doc_id, substring(text, g::INT, 5) AS s FROM pos),
    pair AS (SELECT a.doc_id i, b.doc_id j, count(*) AS inter
             FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    dup AS (SELECT i, j
            FROM pair JOIN sz x ON x.doc_id = i JOIN sz y ON y.doc_id = j
            WHERE inter * 5 >= (x.n + y.n - inter) * 4),
    edges AS (SELECT i AS u, j AS v FROM dup UNION SELECT j, i FROM dup),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    )
    SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
    """,
)


# ----------------------------------------------- dedup drop list ----------
def _dedup_drop_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable output of the dedup pipeline: near-dup pairs ->
    connected components -> keep ONE canonical doc per cluster (longest
    text, tie-break smallest doc_id) -> emit everything else as the drop
    list. This is the table an ingest job anti-joins against."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(docs, "doc_id", "text", p=4, q=5)
    comp = connected_components(pairs.select("doc_i", "doc_j"))
    sized = comp.join(
        docs.select("doc_id", F.length("text").alias("len")), "doc_id"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("len").desc(), F.col("doc_id")
    )
    return (
        sized.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") > 1)
        .select("doc_id", "cluster_id")
    )


_register(
    "dedup_drop_list",
    _dedup_drop_list,
    """
    WITH RECURSIVE
    pos AS (SELECT doc_id, text,
                   unnest(range(1, greatest(length(text)-3, 2))) AS g
            FROM documents),
    sh AS (SELECT DISTINCT doc_id, substring(text, g::INT, 5) AS s FROM pos),
    pair AS (SELECT a.doc_id i, b.doc_id j, count(*) AS inter
             FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    dup AS (SELECT i, j
            FROM pair JOIN sz x ON x.doc_id = i JOIN sz y ON y.doc_id = j
            WHERE inter * 5 >= (x.n + y.n - inter) * 4),
    edges AS (SELECT i AS u, j AS v FROM dup UNION SELECT j, i FROM dup),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
             FROM reach GROUP BY u),
    ranked AS (
      SELECT c.doc_id, c.cluster_id,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY length(d.text) DESC, c.doc_id) AS rn
      FROM comp c JOIN documents d USING (doc_id))
    SELECT doc_id, cluster_id FROM ranked WHERE rn > 1
    """,
)


# --------------------------------------- applyInPandas event transitions --
def _transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return event_transitions(load_table(spark, sf_dir, "events"))


_register(
    "seq_event_transitions",
    _transitions,
    """
    WITH o AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events)
    SELECT user_id, prev_type AS from_type, event_type AS to_type,
           count(*) AS n
    FROM o WHERE prev_type IS NOT NULL
    GROUP BY 1, 2, 3
    """,
)


# ------------------------------------------------- extended SQL surface ---
_DEFS: dict[str, tuple[tuple[str, ...], str]] = {}


def _q(name: str, tables: tuple[str, ...], sql: str) -> None:
    _DEFS[name] = (tables, sql)


_q(
    "q_cube",
    ("lineitem",),
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)

_q(
    "q_grouping_sets",
    ("orders",),
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)

_q(
    "q_percentile_disc",
    ("orders",),
    """
    SELECT o_orderstatus,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)
                AS DOUBLE) AS median_price,
           CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)
                AS DOUBLE) AS p90_price
    FROM orders GROUP BY o_orderstatus
    """,
)

_q(
    "q_string_agg",
    ("nation", "region"),
    """
    SELECT r_name,
           count(*) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)

# semantics-reference: this query DELIBERATELY uses unpartitioned window
# functions, so Spark logs its "No Partition Defined for Window operation"
# WindowExec warning on every run — that warning is the point, not a
# defect. It exists as the SQL-semantics baseline that the scale-safe
# rewrite (q_scalable_ntile via operators/rank.global_ntile, asserted
# bit-equal) is verified against. Do not "fix" it; at 100 TB use
# global_ntile/global_rank instead.
_q(
    "q_window_ntile",
    ("customer",),
    """
    SELECT c_custkey,
           ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS bal_quartile,
           dense_rank() OVER (ORDER BY c_nationkey) AS nation_rank
    FROM customer
    """,
)

_q(
    "q_first_last_window",
    ("lineitem",),
    """
    SELECT DISTINCT l_orderkey,
           first_value(l_linenumber) OVER w AS first_line,
           last_value(l_linenumber) OVER (PARTITION BY l_orderkey
                ORDER BY l_linenumber
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS last_line
    FROM lineitem
    WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber)
    """,
)

_q(
    "q_array_ops",
    ("lineitem",),
    """
    SELECT l_orderkey,
           count(*) AS n_lines,
           min(l_linenumber) AS min_line,
           max(l_linenumber) AS max_line
    FROM lineitem
    WHERE l_orderkey <= 5000
    GROUP BY l_orderkey
    """,
)

# exact-sum statistics: stddev/corr from decimal-cast power sums — the
# order-independent way to do float statistics on a cluster
_q(
    "q_stats_exact",
    ("lineitem",),
    """
    WITH s AS (
      SELECT l_returnflag,
             count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) *
                      CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx2,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy2,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) *
                      CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           round(sqrt((n * sx2 - sx * sx) / (n * (n - 1.0))), 4) AS std_qty,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy)), 6)
             AS corr_qty_price
    FROM s
    """,
)

for name, (tables, sql) in _DEFS.items():
    QUERIES[name] = sql_query(tables, sql)
    ORACLES[name] = sql

# listagg differs by dialect: Spark listagg WITHIN GROUP, DuckDB string_agg
_SPARK_LISTAGG = """
    SELECT r_name,
           listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
"""
_DUCK_LISTAGG = """
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
"""
QUERIES["q_listagg"] = sql_query(("nation", "region"), _SPARK_LISTAGG)
ORACLES["q_listagg"] = _DUCK_LISTAGG


# ------------------------------------------------------- table stats ------
def _table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from as_etl_storage_spark.writers.layout import table_stats

    orders = load_table(spark, sf_dir, "orders")
    return table_stats(
        orders, ["o_orderkey", "o_orderstatus", "o_totalprice"], exact_ndv=True
    )


_register(
    "q_table_stats",
    _table_stats,
    """
    SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
           count(*) - count(o_orderkey) AS n_nulls,
           CAST(min(o_orderkey) AS VARCHAR) AS min_value,
           CAST(max(o_orderkey) AS VARCHAR) AS max_value,
           count(DISTINCT o_orderkey) AS approx_ndv
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
           CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR),
           count(DISTINCT o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
           CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR),
           count(DISTINCT o_totalprice)
    FROM orders
    """,
)


# ------------------------------------------------------- funnel analysis --
# multi-step funnel: for each user, did view -> click -> purchase occur in
# order? Window mins over typed event times; identical SQL both engines.
_FUNNEL_SQL = """
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id)
    SELECT
      count(*) AS n_users,
      count(t_view) AS reached_view,
      count(CASE WHEN t_click > t_view THEN 1 END) AS reached_click,
      count(CASE WHEN t_purchase > t_click AND t_click > t_view THEN 1 END)
        AS reached_purchase
    FROM per_user
"""
QUERIES["q_funnel"] = sql_query(("events",), _FUNNEL_SQL)
ORACLES["q_funnel"] = _FUNNEL_SQL


# ------------------------------------------- versioned-table write query --
def _w2_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE through the transaction log (writers/versioned.py): final
    state must equal the plain-merge oracle; the route exercises atomic
    commits + snapshot versions."""
    import os

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable
    from pyspark.sql import functions as F

    out = _scratch_dir()
    orders = load_table(spark, sf_dir, "orders")
    vt = VersionedTable(spark, os.path.join(out, "w2v"))
    vt.overwrite(orders)
    batch = orders.where("o_orderkey <= 1000").withColumn(
        "o_orderstatus", F.lit("X")
    )
    vt.replace(batch, ["o_orderkey"])
    return vt.read().select("o_orderkey", "o_orderstatus")


_register(
    "w2_replace_versioned",
    _w2_versioned,
    """
    SELECT o_orderkey, CASE WHEN o_orderkey <= 1000 THEN 'X'
           ELSE o_orderstatus END AS o_orderstatus FROM orders
    """,
)


def _w_versioned_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental read through the transaction log: changes(0) after two
    appends must be exactly the appended rows — the "what's new since my
    last cycle?" primitive, answered from delta manifests alone."""
    import os
    import uuid

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    # fresh table per invocation: a re-run's overwrite would otherwise
    # put a rewrite inside the changes range (which correctly raises)
    out = os.path.join(_scratch_dir(), f"wchg-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders")
    vt = VersionedTable(spark, out)
    vt.overwrite(orders.where("o_orderkey <= 1000"))
    vt.append(orders.where("o_orderkey > 1000 AND o_orderkey <= 2000"))
    vt.append(orders.where("o_orderkey > 2000 AND o_orderkey <= 3000"))
    return vt.changes(0).select("o_orderkey", "o_orderstatus")


_register(
    "w_versioned_changes",
    _w_versioned_changes,
    """
    SELECT o_orderkey, o_orderstatus FROM orders
    WHERE o_orderkey > 1000 AND o_orderkey <= 3000
    """,
)


def _w_versioned_changes_since_ts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """changes(from_timestamp=t) — Delta CDF's startingTimestamp at the
    batch surface: an instant captured between two appends yields
    exactly the rows the later append added (resolved through the
    manifest commit clocks, monotonic-adjusted)."""
    import os
    import time
    import uuid

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    from pyspark.sql import functions as F

    out = os.path.join(_scratch_dir(), f"wcts-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders")
    # scale-relative split key so the local sf0.001 gate compares real
    # rows too (fixed literals made the compare vacuous there)
    hi = orders.agg(F.max("o_orderkey")).collect()[0][0]
    split = hi // 2
    vt = VersionedTable(spark, out)
    vt.append(orders.where(F.col("o_orderkey") <= split))
    t_mid = time.time()
    vt.append(orders.where(F.col("o_orderkey") > split))
    return vt.changes(from_timestamp=t_mid).select(
        "o_orderkey", "o_orderstatus"
    )


_register(
    "w_versioned_changes_since_ts",
    _w_versioned_changes_since_ts,
    """
    SELECT o_orderkey, o_orderstatus FROM orders
    WHERE o_orderkey > (SELECT max(o_orderkey) FROM orders) // 2
    """,
)


def _w_versioned_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-stats data skipping: the pruned read must equal the plain
    filter (file skipping is an optimization, never a semantic); the
    bounds come from the per-file min/max recorded at commit."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    # fresh table per invocation: two concurrent runs sharing one path
    # would interleave overwrite/append and duplicate the appended rows
    out = os.path.join(_scratch_dir(), f"wprn-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders")
    # scale-relative split/prune keys: fixed literals left the sf0.001
    # local gate comparing empty-vs-empty (vacuous pass) while sf0.01 hit
    # real rows — thresholds must select at EVERY gate scale
    hi = orders.agg(F.max("o_orderkey")).collect()[0][0]
    split, sel = 2 * hi // 3, 5 * hi // 6
    vt = VersionedTable(spark, out)
    vt.overwrite(orders.where(F.col("o_orderkey") <= split).coalesce(1))
    vt.append(orders.where(F.col("o_orderkey") > split).coalesce(1))
    pruned = vt.read(prune=[("o_orderkey", ">", sel)])
    if len(pruned.inputFiles()) != 1:
        raise AssertionError("expected the low-key file to be skipped")
    return pruned.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"),
            2,
        ).alias("total"),
    )


_register(
    "w_versioned_pruned_read",
    _w_versioned_pruned,
    """
    SELECT o_orderstatus, count(*) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total
    FROM orders
    WHERE o_orderkey > (SELECT 5 * max(o_orderkey) // 6 FROM orders)
    GROUP BY o_orderstatus
    """,
)


def _w_versioned_in_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list manifest pruning: an IN is a disjunction of equalities
    against the per-file bounds, so a keyed multi-row lookup lists only
    the files whose bounds cover SOME listed key (asserted in-query) —
    at 10^6 files a 3-key point lookup opens 2 footers, not a column of
    every file. Skipping stays an optimization: the same IN predicate
    is applied as a real filter, and the result must equal the oracle's
    plain WHERE ... IN."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    out = os.path.join(_scratch_dir(), f"winp-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders")
    hi = orders.agg(F.max("o_orderkey")).collect()[0][0]
    third = hi // 3
    vt = VersionedTable(spark, out)
    vt.overwrite(orders.where(F.col("o_orderkey") <= third).coalesce(1))
    vt.append(
        orders.where(
            (F.col("o_orderkey") > third) & (F.col("o_orderkey") <= 2 * third)
        ).coalesce(1)
    )
    vt.append(orders.where(F.col("o_orderkey") > 2 * third).coalesce(1))
    # keys from the first and last thirds only: the middle file skips
    keys = [1, hi]
    pruned = vt.read(prune=[("o_orderkey", "in", keys)])
    if len(pruned.inputFiles()) != 2:
        raise AssertionError("expected the middle-range file to be skipped")
    return pruned.select("o_orderkey", "o_custkey", "o_totalprice")


_register(
    "w_versioned_in_prune",
    _w_versioned_in_prune,
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey IN (1, (SELECT max(o_orderkey) FROM orders))
    """,
)


def _w_versioned_dv_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector DELETE (Delta's merge-on-read): the delete
    records (file, row position) sidecars and re-lists the SAME data
    files — asserted in-query: the file set is IDENTICAL across the
    delete, so a selective delete on a 100 TB table rewrites zero data
    bytes. Readers filter the positions out of the scan;
    COUNT(*) stays metadata-only via the per-file deleted-row counts
    (also asserted); time travel before the delete still sees the rows.
    The result must equal the oracle's plain WHERE NOT — merge-on-read
    is an optimization, never a semantic."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wdvd-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders")
    hi = orders.agg(F.max("o_orderkey")).collect()[0][0]
    vt = VersionedTable(spark, root)
    vt.overwrite(
        orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    before = vt._state(vt.latest_version())
    v = vt.delete([("o_orderkey", "<=", hi // 4)], mode="dv")
    assert vt._state(v) == before, "DV delete must rewrite zero data files"
    assert vt.count() == vt.read().count(), (
        "metadata-only COUNT must subtract the dv rows"
    )
    return vt.read()


_register(
    "w_versioned_dv_delete",
    _w_versioned_dv_delete,
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    WHERE o_orderkey > (SELECT max(o_orderkey) FROM orders) // 4
    """,
)


def _w_versioned_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER BY through the transaction log: orderkey-ordered
    ingest leaves every file spanning the whole custkey space (manifest
    pruning on o_custkey keeps all files — asserted), the z-ordered
    compaction re-clusters on (o_custkey, o_totalprice) and the
    re-collected per-file stats must prune again (asserted) while the
    query result stays exactly the plain filter — layout is never a
    semantic."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    out = os.path.join(_scratch_dir(), f"wzo-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders")
    hi, hi_cust = orders.agg(
        F.max("o_orderkey"), F.max("o_custkey")
    ).collect()[0]
    thr = 0.2 * hi_cust  # scale-independent selectivity (~20% of rows)
    vt = VersionedTable(spark, out)
    for q in range(4):  # arrival order = orderkey ranges
        # first slice's lower bound is inclusive-of-everything: the
        # fixture's keys start at 0, an exclusive "> 0" would drop it
        lo_k = q * hi // 4 if q else -1
        hi_k = (q + 1) * hi // 4
        vt.append(
            orders.where(
                (F.col("o_orderkey") > lo_k) & (F.col("o_orderkey") <= hi_k)
            ).coalesce(1)
        )
    if len(vt.read(prune=[("o_custkey", "<", thr)]).inputFiles()) != 4:
        raise AssertionError("arrival layout should not prune on o_custkey")
    vt.compact(target_file_bytes=8_000, zorder=["o_custkey", "o_totalprice"])
    pruned = vt.read(prune=[("o_custkey", "<", thr)])
    n_files = len(vt.read().inputFiles())
    if not (0 < len(pruned.inputFiles()) < n_files):
        raise AssertionError(
            f"zorder stats not selective: {len(pruned.inputFiles())}/{n_files}"
        )
    return pruned.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"),
            2,
        ).alias("total"),
    )


_register(
    "w_versioned_zorder_compact",
    _w_versioned_zorder,
    """
    SELECT o_orderstatus, count(*) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total
    FROM orders WHERE o_custkey < (SELECT 0.2 * max(o_custkey) FROM orders)
    GROUP BY o_orderstatus
    """,
)


def _w_versioned_consume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-consumer contract, end to end: a consumer mirrors
    an upstream versioned table into a downstream one via changes()
    (appending increments). A COMPACT inside its range is consumed
    INCREMENTALLY — compact manifests carry data_change: false (Delta's
    OPTIMIZE flag), so nightly layout maintenance never costs consumers
    a re-read (asserted in-query). A data-changing rewrite (here a
    replace) makes changes() raise rather than fabricate a diff, and the
    consumer recovers with a full re-read (overwrite), then resumes
    incrementally — also asserted. The first cycle consumes from version
    -1, covering the append-created version 0 incrementally (no special
    bootstrap path). Downstream must equal upstream exactly; no row
    lost, none double-delivered."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import (
        VersionedTable,
        VersionedTableError,
    )

    root = os.path.join(_scratch_dir(), f"wvc-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders")
    hi = orders.agg(F.max("o_orderkey")).collect()[0][0]
    up = VersionedTable(spark, os.path.join(root, "up"))
    down = VersionedTable(spark, os.path.join(root, "down"))

    def slice_(q: int, parts: int = 5) -> DataFrame:
        # slice 0 is lower-unbounded: the fixture's keys start at 0
        lo_k = q * hi // parts if q else -1
        hi_k = (q + 1) * hi // parts
        return orders.where(
            (F.col("o_orderkey") > lo_k) & (F.col("o_orderkey") <= hi_k)
        )

    def consume(from_v: int) -> tuple[int, bool]:
        latest = up.latest_version()
        try:
            # changes() raises during its manifest walk — i.e. HERE, not
            # at append time — so only the rewrite-in-range error lands in
            # the except; a failure of the downstream append itself (e.g.
            # commit-retry exhaustion) propagates instead of being
            # misdiagnosed as a rewrite and masked by an overwrite
            inc = up.changes(from_v, latest)
        except VersionedTableError:
            # data-changing rewrite inside the range: full re-read
            # replaces downstream
            down.overwrite(up.read(version_as_of=latest))
            return latest, True
        down.append(inc)
        return latest, False

    up.append(slice_(0))
    up.append(slice_(1))
    ckpt, recovered = consume(-1)  # incremental from nothing (v0 appends)
    assert not recovered
    up.append(slice_(2))
    up.compact()  # OPTIMIZE races in before the next cycle
    up.append(slice_(3))
    ckpt, recovered = consume(ckpt)
    assert not recovered, "compact must be consumed incrementally"
    up.replace(slice_(4), merge_keys=["o_orderkey"])  # data-changing
    _, recovered = consume(ckpt)
    assert recovered, "replace must force the full-reread recovery"
    return down.read().select("o_orderkey", "o_orderstatus", "o_totalprice")


_register(
    "w_versioned_incremental_consume",
    _w_versioned_consume,
    "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders",
)


def _w_versioned_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """timestampAsOf time travel, Delta's other half (versionAsOf's twin):
    three appends land with a wall-clock captured between the 2nd and
    3rd; read(timestamp_as_of=that instant) must return exactly the first
    two slices — the snapshot that was current then — and must equal the
    version_as_of read of the same commit bit for bit (asserted in-query:
    the timestamp resolver and the version reader are independent paths
    to the same manifest)."""
    import os
    import time
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wvt-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders")
    hi = orders.agg(F.max("o_orderkey")).collect()[0][0]
    vt = VersionedTable(spark, root)

    def slice_(q: int, parts: int = 3) -> DataFrame:
        lo_k = q * hi // parts if q else -1
        hi_k = (q + 1) * hi // parts
        return orders.select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        ).where((F.col("o_orderkey") > lo_k) & (F.col("o_orderkey") <= hi_k))

    vt.append(slice_(0))
    v_mid = vt.append(slice_(1))
    t_mid = time.time()
    vt.append(slice_(2))
    assert vt.resolve_timestamp(t_mid) == v_mid
    return vt.read(timestamp_as_of=t_mid)


_register(
    "w_versioned_time_travel",
    _w_versioned_time_travel,
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    WHERE o_orderkey <= 2 * (SELECT max(o_orderkey) FROM orders) // 3
    """,
)


def _w_versioned_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Schema enforcement + additive evolution (Delta's mergeSchema over
    a log-recorded schema): the first half of orders lands with two
    columns; appending the second half WITH an extra column is an error
    until merge_schema=True, which evolves the schema — pre-evolution
    rows read the new column as NULL, a time-travel read of the
    pre-evolution version still shows the two-column schema (asserted
    in-query), and every scan runs under the schema DECLARED in the log
    (no parquet footer merging — at 10^6 files that's the difference
    between a metadata read and a driver-side merge of every footer)."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import (
        VersionedTable,
        VersionedTableError,
    )

    root = os.path.join(_scratch_dir(), f"wvse-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders")
    hi = orders.agg(F.max("o_orderkey")).collect()[0][0]
    first = orders.where(F.col("o_orderkey") <= hi // 2)
    second = orders.where(F.col("o_orderkey") > hi // 2)

    vt = VersionedTable(spark, root)
    vt.overwrite(first.select("o_orderkey", "o_totalprice"))
    v_old = vt.latest_version()
    evolved = second.select("o_orderkey", "o_totalprice", "o_orderstatus")
    try:  # enforcement: unknown columns are an error without the flag
        vt.append(evolved)
        raise AssertionError("schema drift must not append silently")
    except VersionedTableError:
        pass
    vt.append(evolved, merge_schema=True)
    assert vt.read(version_as_of=v_old).columns == [
        "o_orderkey",
        "o_totalprice",
    ], "time travel must show the pre-evolution schema"
    return vt.read()


_register(
    "w_versioned_schema_evolution",
    _w_versioned_schema_evolution,
    """
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_orderkey > (SELECT max(o_orderkey) FROM orders) // 2
                THEN o_orderstatus END AS o_orderstatus
    FROM orders
    """,
)


def _w_versioned_column_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE ADD/DROP COLUMN as metadata-only commits over the
    log-recorded schema: ADD evolves the schema in an O(1) manifest
    (existing files read the column as NULL), DROP narrows it without
    rewriting a byte — the declared-schema scan never selects the
    dropped bytes, the column-mapping-free form (asserted in-query: the
    data-file set is IDENTICAL across both DDL commits). The dropped
    name is tombstoned against resurrection from pre-drop files."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wvcd-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders")
    hi = orders.agg(F.max("o_orderkey")).collect()[0][0]
    first = orders.where(F.col("o_orderkey") <= hi // 2)
    second = orders.where(F.col("o_orderkey") > hi // 2)

    vt = VersionedTable(spark, root)
    vt.overwrite(first.select("o_orderkey", "o_totalprice"))
    files_before = set(vt._state(vt.latest_version()))
    vt.add_column("o_orderstatus", "string")
    assert set(vt._state(vt.latest_version())) == files_before, (
        "ADD COLUMN must not touch data files"
    )
    vt.append(second.select("o_orderkey", "o_totalprice", "o_orderstatus"))
    before_drop = set(vt._state(vt.latest_version()))
    vt.drop_column("o_totalprice")
    assert set(vt._state(vt.latest_version())) == before_drop, (
        "DROP COLUMN must not rewrite data files"
    )
    return vt.read()


_register(
    "w_versioned_column_ddl",
    _w_versioned_column_ddl,
    """
    SELECT o_orderkey,
           CASE WHEN o_orderkey > (SELECT max(o_orderkey) FROM orders) // 2
                THEN o_orderstatus END AS o_orderstatus
    FROM orders
    """,
)


def _w_versioned_rename_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE RENAME COLUMN via column mapping (Delta's
    columnMapping.mode=name restated over the log,
    writers/versioned.py:rename_column): data files keep their stable
    PHYSICAL column names; the rename is an O(1) metadata commit
    (asserted in-query: the data-file set is IDENTICAL across it), scans
    resolve logical→physical with one alias projection, appends after
    the rename land under the same physical name, and time travel
    before the rename still shows the old name (asserted). Reference
    scope: the reference has no DDL surface; this is Delta-parity
    extension API."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wvrn-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders")
    hi = orders.agg(F.max("o_orderkey")).collect()[0][0]
    first = orders.where(F.col("o_orderkey") <= hi // 2)
    second = orders.where(F.col("o_orderkey") > hi // 2)

    vt = VersionedTable(spark, root)
    vt.overwrite(first.select("o_orderkey", "o_totalprice"))
    v_pre = vt.latest_version()
    files_before = set(vt._state(v_pre))
    vt.rename_column("o_totalprice", "price")
    assert set(vt._state(vt.latest_version())) == files_before, (
        "RENAME COLUMN must not touch data files"
    )
    assert vt.read(version_as_of=v_pre).columns == [
        "o_orderkey", "o_totalprice",
    ], "time travel before the rename must show the old name"
    # appends after the rename use the new logical name; their bytes
    # land under the ORIGINAL physical name so all files stay uniform
    vt.append(
        second.select(
            "o_orderkey", F.col("o_totalprice").alias("price")
        )
    )
    return vt.read()


_register(
    "w_versioned_rename_column",
    _w_versioned_rename_column,
    """
    SELECT o_orderkey, o_totalprice AS price FROM orders
    """,
)


def _w_versioned_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE (writers/versioned.py:delete): remove the 'F'
    orders from a versioned copy and read the result — the snapshot must
    equal the plain SQL anti-filter, and the two-phase file-pruned plan
    (find touched files, rewrite only those) is a layout detail the
    result must not betray. Reference scope: the reference has no
    row-level store (database/table.go:198-214 writes whole result
    sets); this is Delta-style DML surface on the Spark side."""
    import os
    import uuid

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wdel-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    vt = VersionedTable(spark, root)
    vt.overwrite(orders)
    vt.delete("o_orderstatus = 'F'")
    return vt.read()


_register(
    "w_versioned_delete",
    _w_versioned_delete,
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    WHERE NOT (o_orderstatus = 'F')
    """,
)


def _w_versioned_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level UPDATE: double the open orders' totalprice in place; the
    new snapshot must equal the CASE expression over the source table
    (matched rows transformed, unmatched rows byte-identical)."""
    import os
    import uuid

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wupd-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    vt = VersionedTable(spark, root)
    vt.overwrite(orders)
    vt.update("o_orderstatus = 'O'", {"o_totalprice": "o_totalprice * 2"})
    return vt.read()


_register(
    "w_versioned_update",
    _w_versioned_update,
    """
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    """,
)


def _w_versioned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (upsert): target holds the LOW half of orders, the
    source overlaps it — keys in (hi/4, hi/2] update (negated price),
    keys above hi/2 insert — so the merged table is exactly the full
    orders set with the source's transform applied to every key above
    hi/4. The file-pruned rewrite and the cardinality rule are exercised
    on real data; the oracle is one CASE over the union."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wmrg-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    hi = orders.agg(F.max("o_orderkey")).collect()[0][0]
    vt = VersionedTable(spark, root)
    vt.overwrite(orders.where(F.col("o_orderkey") <= hi // 2))
    source = orders.where(F.col("o_orderkey") > hi // 4).withColumn(
        "o_totalprice", -F.col("o_totalprice")
    )
    vt.merge(source, ["o_orderkey"])
    return vt.read()


_register(
    "w_versioned_merge",
    _w_versioned_merge,
    """
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey > (SELECT max(o_orderkey) FROM orders) // 4
                THEN -o_totalprice ELSE o_totalprice END AS o_totalprice
    FROM orders
    """,
)


def _w_versioned_merge_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with schema evolution (Delta's autoMerge for MERGE,
    writers/versioned.py:merge(merge_schema=True)): the source carries a
    column the target lacks (``price_band``) — the CDC-feed-added-a-
    column case. The merge evolves the schema additively: updated and
    inserted rows take the source's value, pre-evolution rows read NULL.
    Asserted in-query: the same merge WITHOUT the flag raises naming
    ``merge_schema`` and commits nothing, and the CDF for the evolving
    version carries the new column (postimages/inserts valued,
    preimages null-filled)."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import (
        VersionedTable,
        VersionedTableError,
    )

    root = os.path.join(_scratch_dir(), f"wmev-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    hi = orders.agg(F.max("o_orderkey")).collect()[0][0]
    vt = VersionedTable(spark, root)
    v0 = vt.overwrite(orders.where(F.col("o_orderkey") <= hi // 2))
    source = (
        orders.where(F.col("o_orderkey") > hi // 4)
        .withColumn(
            "price_band",
            F.when(F.col("o_totalprice") > 150000, "hi").otherwise("lo"),
        )
        .withColumn("o_totalprice", -F.col("o_totalprice"))
    )
    # without the flag: an error naming the fix, nothing committed
    try:
        vt.merge(source, ["o_orderkey"])
        raise AssertionError("extra-column merge must error without the flag")
    except VersionedTableError as e:
        assert "merge_schema" in str(e), e
    assert vt.latest_version() == v0
    v = vt.merge(source, ["o_orderkey"], merge_schema=True)
    # the CDF records the evolving version under the evolved schema
    cf = vt.change_feed(v - 1, v)
    assert "price_band" in cf.columns
    assert cf.where(
        "_change_type = 'update_preimage' AND price_band IS NOT NULL"
    ).limit(1).count() == 0
    assert cf.where(
        "_change_type = 'insert' AND price_band IS NULL"
    ).limit(1).count() == 0
    return vt.read()


_register(
    "w_versioned_merge_evolve",
    _w_versioned_merge_evolve,
    """
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey > (SELECT max(o_orderkey) FROM orders) // 4
                THEN -o_totalprice ELSE o_totalprice END AS o_totalprice,
           CASE WHEN o_orderkey > (SELECT max(o_orderkey) FROM orders) // 4
                THEN (CASE WHEN o_totalprice > 150000
                           THEN 'hi' ELSE 'lo' END)
                ELSE NULL END AS price_band
    FROM orders
    """,
)


def _w_versioned_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERT TO VERSIONED (Delta's CONVERT TO DELTA;
    writers/versioned.py:convert): a plain hive-partitioned parquet
    directory — written by an ordinary Spark job, no log — is adopted
    IN PLACE as version 0 (zero bytes rewritten, asserted by file
    listing), with footer stats and the merged schema recorded; the
    table is immediately fully functional (a row-level DELETE runs on
    it here). The migration story: a pipeline's existing lake gains
    transactions/time-travel/DML with one metadata commit."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wcv-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    # a FOREIGN plain-parquet directory: ordinary partitioned Spark write
    orders.write.partitionBy("o_orderstatus").parquet(root)
    def _listing():
        return sorted(
            (r, os.path.getsize(os.path.join(r, f)))
            for r, _, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        )

    listing_before = _listing()
    vt = VersionedTable.convert(
        spark, root, partition_by=["o_orderstatus"]
    )
    assert vt.latest_version() == 0
    # zero-copy: the same files byte-for-byte in the same directories
    # (basename de-collision renames, never rewrites — Spark's
    # dynamic-partition write reuses task filenames across dirs)
    assert _listing() == listing_before
    # immediately functional: partition pruning from footer/name stats
    # and row-level DML through the normal protocol
    assert 0 < len(
        vt.read(prune=[("o_orderstatus", "=", "F")]).inputFiles()
    ) < len(vt.read().inputFiles())
    vt.delete("o_orderkey % 10 = 3")
    return vt.read()


_register(
    "w_versioned_convert",
    _w_versioned_convert,
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 10 <> 3
    """,
)


def _w_versioned_null_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS NULL / IS NOT NULL manifest skipping via per-column null
    counts (Delta's nullCount stat; writers/versioned.py:_collect_stats
    + _file_may_match): orders lands in two files — one whose
    ``clerk_note`` is entirely NULL, one with zero NULLs — and the
    ``isnull`` read must open ONLY the all-null file (asserted via
    inputFiles), the ``notnull`` read only the other. At 100 TB "find
    the rows still missing enrichment" is an IS NULL scan; without the
    null count it reads the whole table to find the gap."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wnp-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    vt = VersionedTable(spark, root)
    vt.overwrite(  # the not-yet-enriched slice: clerk_note all NULL
        orders.where(F.col("o_orderkey") % 7 == 0)
        .withColumn("clerk_note", F.lit(None).cast("string"))
        .coalesce(1)
    )
    vt.append(  # the enriched slice: zero NULLs
        orders.where(F.col("o_orderkey") % 7 != 0)
        .withColumn("clerk_note", F.concat(F.lit("ok:"), "o_orderstatus"))
        .coalesce(1)
    )
    gaps = vt.read(prune=[("clerk_note", "isnull", None)])
    assert len(gaps.inputFiles()) == 1, "zero-null file must skip"
    done = vt.read(prune=[("clerk_note", "notnull", None)])
    assert len(done.inputFiles()) == 1, "all-null file must skip"
    return gaps.select("o_orderkey", "o_orderstatus", "o_totalprice")


_register(
    "w_versioned_null_prune",
    _w_versioned_null_prune,
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 7 = 0
    """,
)


def _w_versioned_dml_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The versioned layer's HEADLINE bench row (r13): one composite
    lifecycle — overwrite → append → row-level DELETE → MERGE
    (update+insert) → snapshot read — so a perf regression anywhere in
    the commit/discovery/rewrite machinery (the subsystem rounds 8–13
    built) shows up in the round-over-round bench trend instead of
    being invisible. Oracle: the whole lifecycle reduces to one CASE +
    anti-filter over orders."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wdmlc-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    hi = orders.agg(F.max("o_orderkey")).collect()[0][0]
    vt = VersionedTable(spark, root)
    vt.overwrite(orders.where(F.col("o_orderkey") <= hi // 2))
    vt.append(
        orders.where(
            (F.col("o_orderkey") > hi // 2)
            & (F.col("o_orderkey") <= 3 * hi // 4)
        )
    )
    # spread delete: hits most files (the rewrite path, not the prune)
    vt.delete("o_orderkey % 10 = 3")
    # merge re-covers (hi/4, hi]: updates survivors, re-inserts the
    # deleted keys in range, inserts the top quarter — all negated
    vt.merge(
        orders.where(F.col("o_orderkey") > hi // 4).withColumn(
            "o_totalprice", -F.col("o_totalprice")
        ),
        ["o_orderkey"],
    )
    return vt.read()


_register(
    "w_versioned_dml_composite",
    _w_versioned_dml_composite,
    """
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey > (SELECT max(o_orderkey) FROM orders) // 4
                THEN -o_totalprice ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE NOT (o_orderkey <= (SELECT max(o_orderkey) FROM orders) // 4
               AND o_orderkey % 10 = 3)
    """,
)


def _w_versioned_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED ALWAYS AS IDENTITY (writers/versioned.py:
    add_identity_column): the table allocates a monotonic,
    collision-free, gap-tolerant bigint key at every insert-like write —
    high-water mark in the log, per-row assignment in-plan via the
    prefix-sum shape (one partition-id exchange + a ≤P-row offsets
    broadcast; never a driver loop). Built: declare on empty, append the
    low half of orders (ids 1..n1, contiguous), then MERGE the upper
    three quarters — updated rows KEEP their ids (asserted in-query),
    inserted rows allocate n1+1..n1+n2. The oracle checks the
    deterministic shape: every row has a distinct id, min 1, max = row
    count (per-row id assignment is partition-order-dependent by design,
    so the contract is the value set, not the row mapping)."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import (
        VersionedTable,
        VersionedTableError,
    )

    root = os.path.join(_scratch_dir(), f"wid-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    hi = orders.agg(F.max("o_orderkey")).collect()[0][0]
    vt = VersionedTable(spark, root)
    vt.overwrite(orders.limit(0))
    vt.add_identity_column("rid")
    vt.append(orders.where(F.col("o_orderkey") <= hi // 2))
    n1 = vt.identity_columns()["rid"]["high"]
    # a frame supplying the column is refused (GENERATED ALWAYS)
    try:
        vt.append(
            orders.where(F.col("o_orderkey") > hi).withColumn(
                "rid", F.lit(0)
            )
        )
        raise AssertionError("supplying an identity column must error")
    except VersionedTableError as e:
        assert "GENERATED ALWAYS" in str(e), e
    vt.merge(
        orders.where(F.col("o_orderkey") > hi // 4).withColumn(
            "o_totalprice", -F.col("o_totalprice")
        ),
        ["o_orderkey"],
    )
    snap = vt.read()
    # updated rows kept ids from the first allocation (<= n1); inserted
    # rows allocated above it — fused as one in-plan assertion
    assert (
        snap.where(
            (
                (F.col("o_orderkey") <= hi // 2) & (F.col("rid") > n1)
            )
            | ((F.col("o_orderkey") > hi // 2) & (F.col("rid") <= n1))
        )
        .limit(1)
        .count()
        == 0
    )
    return snap.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("rid").alias("n_ids"),
        F.min("rid").alias("min_id"),
        F.max("rid").alias("max_id"),
    )


_register(
    "w_versioned_identity",
    _w_versioned_identity,
    """
    SELECT count(*) AS n_rows,
           count(*) AS n_ids,
           1 AS min_id,
           count(*) AS max_id
    FROM orders
    """,
)


def _w_versioned_compact_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ... WHERE (Delta's partition-scoped compaction,
    writers/versioned.py:compact(where=...)): only files whose manifest
    bounds may match the predicate are re-packed; out-of-scope files
    are carried BY NAME with their stats reused (asserted in-query). At
    100 TB nightly maintenance compacts yesterday's partition, never
    the world. Layout-only either way: the result must equal the plain
    table and the manifest carries data_change: false."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wcw-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    hi = orders.agg(F.max("o_orderkey")).collect()[0][0]
    frag = orders.where(F.col("o_orderkey") <= hi // 20)
    vt = VersionedTable(spark, root)
    vt.overwrite(orders, partition_by=["o_orderstatus"])
    # fragment every partition with two deterministic key slices
    for _ in range(2):
        vt.append(frag)
    before = vt._state(vt.latest_version())
    out_scope = [f for f in before if not f.startswith("o_orderstatus=F")]
    v = vt.compact(where=[("o_orderstatus", "=", "F")])
    st = vt._state(v)
    assert [f for f in st if not f.startswith("o_orderstatus=F")] == (
        out_scope
    ), "out-of-scope partitions must be carried by name"
    assert vt._manifest(v)["data_change"] is False
    return vt.read()


_register(
    "w_versioned_compact_where",
    _w_versioned_compact_where,
    """
    WITH hi AS (SELECT max(o_orderkey) AS h FROM orders),
    frag AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders, hi WHERE o_orderkey <= h // 20
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    UNION ALL SELECT * FROM frag
    UNION ALL SELECT * FROM frag
    """,
)


def _w_versioned_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE (Delta parity, writers/versioned.py:clone): the
    clone's version 0 references the source's data files by absolute
    path — asserted in-query: zero parquet exists under the clone's
    root. The logs are independent afterwards: a DELETE on the clone
    (rewriting only the files it touches, the untouched source files
    still carried by absolute reference) must leave the source intact
    (asserted) while the clone equals the oracle's filtered view — the
    zero-copy experiment-on-100TB primitive."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    base_dir = os.path.join(_scratch_dir(), f"wcl-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    src = VersionedTable(spark, os.path.join(base_dir, "src"))
    src.overwrite(orders)
    n_src = src.count()
    cl = src.clone(os.path.join(base_dir, "cl"))
    local = [
        f
        for r, _, ns in os.walk(os.path.join(base_dir, "cl"))
        for f in ns
        if f.endswith(".parquet") and os.path.basename(r) != "_log"
    ]
    assert local == [], "shallow clone must copy zero data files"
    cl.delete("o_orderstatus = 'F'")
    assert src.count() == n_src, "DML on the clone must not touch the source"
    return cl.read()


_register(
    "w_versioned_clone",
    _w_versioned_clone,
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    WHERE NOT (o_orderstatus = 'F')
    """,
)


def _w_versioned_clone_partitioned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SHALLOW CLONE of a hive-partitioned source (writers/versioned.py:
    clone + _scan_files's in-plan partition-value parse): basePath
    reconstruction cannot run on external absolute references, so the
    clone's scans parse ``col=value`` from the source's path segments in
    codegen. Asserted in-query: zero data files copied, partition
    PRUNING on the clone skips files from the carried manifest bounds
    alone, and a predicate-scoped delete on the clone leaves the source
    intact. Result: the clone after deleting one partition, prices
    summed per remaining partition — any partition-value miswiring
    changes every group."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    base_dir = os.path.join(_scratch_dir(), f"wclp-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    src = VersionedTable(spark, os.path.join(base_dir, "src"))
    src.overwrite(orders, partition_by=["o_orderstatus"])
    n_src = src.count()
    cl = src.clone(os.path.join(base_dir, "cl"))
    local = [
        f
        for r, _, ns in os.walk(os.path.join(base_dir, "cl"))
        for f in ns
        if f.endswith(".parquet") and os.path.basename(r) != "_log"
    ]
    assert local == [], "shallow clone must copy zero data files"
    # partition pruning works on the clone from carried bounds alone
    v0 = cl.latest_version()
    kept = cl._prune_files(
        cl._state(v0), cl._stats_at(v0), [("o_orderstatus", "=", "O")]
    )
    assert 0 < len(kept) < len(cl._state(v0)), (
        "partition pruning must skip files on the clone"
    )
    cl.delete([("o_orderstatus", "=", "P")])
    assert src.count() == n_src, "DML on the clone must not touch the source"
    return (
        cl.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("total"),
        )
    )


_register(
    "w_versioned_clone_partitioned",
    _w_versioned_clone_partitioned,
    """
    SELECT o_orderstatus, count(*) AS n,
           round(sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE, 2) AS total
    FROM orders
    WHERE o_orderstatus <> 'P'
    GROUP BY o_orderstatus
    """,
)


def _w_versioned_widen_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER COLUMN TYPE widening (Delta 3.2's type widening,
    writers/versioned.py:widen_column): the schema records the wider
    type in an O(1) metadata commit — ZERO files rewritten (asserted
    in-query) — and Spark 4's parquet reader widens the old narrow
    files at scan time under the declared schema. Appends at either
    width align afterwards. Reference scope: none (no DDL surface);
    Delta-parity extension."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wvwc-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders")
    hi = orders.agg(F.max("o_orderkey")).collect()[0][0]
    first = orders.where(F.col("o_orderkey") <= hi // 2)
    second = orders.where(F.col("o_orderkey") > hi // 2)
    vt = VersionedTable(spark, root)
    # first half stored NARROW (sf<=0.1 keys fit int)
    vt.overwrite(
        first.select(
            F.col("o_orderkey").cast("int").alias("o_orderkey"),
            "o_totalprice",
        )
    )
    files_before = set(vt._state(vt.latest_version()))
    vt.widen_column("o_orderkey", "bigint")
    assert set(vt._state(vt.latest_version())) == files_before, (
        "type widening must not touch data files"
    )
    # second half appended at the WIDE type
    vt.append(second.select("o_orderkey", "o_totalprice"))
    out = vt.read()
    assert out.schema["o_orderkey"].dataType.simpleString() == "bigint"
    return out


_register(
    "w_versioned_widen_column",
    _w_versioned_widen_column,
    """
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_totalprice
    FROM orders
    """,
)


def _w_versioned_merge_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MERGE with when_not_matched_by_source='delete' (Delta's third
    MERGE clause, writers/versioned.py:_merge_with_keys): target
    rows matching no source key are removed, so update+insert+by-source-
    delete makes the table an EXACT MIRROR of the source — the
    CDC-sync/retention primitive. Scale shape asserted in-query: target
    files holding no key match are dropped from the snapshot WHOLESALE
    (by name, zero rewrite). The oracle is simply the source expression
    itself — mirror semantics leave nothing else."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wmbs-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    hi = orders.agg(F.max("o_orderkey")).collect()[0][0]
    vt = VersionedTable(spark, root)
    # three arrival-ordered files; the low one holds no source key
    vt.overwrite(orders.where(F.col("o_orderkey") <= hi // 3).coalesce(1))
    vt.append(
        orders.where(
            (F.col("o_orderkey") > hi // 3)
            & (F.col("o_orderkey") <= 2 * hi // 3)
        ).coalesce(1)
    )
    vt.append(orders.where(F.col("o_orderkey") > 2 * hi // 3).coalesce(1))
    files_before = vt._state(vt.latest_version())
    low_file = files_before[0]
    # source: middle third updated (negated price) + keys past hi inserted
    source = (
        orders.where(
            (F.col("o_orderkey") > hi // 3)
            & (F.col("o_orderkey") <= 2 * hi // 3)
        ).withColumn("o_totalprice", -F.col("o_totalprice"))
    ).unionByName(
        orders.where(F.col("o_orderkey") > 2 * hi // 3).select(
            (F.col("o_orderkey") + hi).alias("o_orderkey"), "o_totalprice"
        )
    )
    v = vt.merge(source, ["o_orderkey"], when_not_matched_by_source="delete")
    assert low_file not in vt._state(v), (
        "a file with no key match must be dropped wholesale, not rewritten"
    )
    return vt.read()


_register(
    "w_versioned_merge_by_source",
    _w_versioned_merge_by_source,
    """
    WITH hi AS (SELECT max(o_orderkey) AS h FROM orders)
    SELECT o_orderkey, -o_totalprice AS o_totalprice
    FROM orders, hi WHERE o_orderkey > h // 3 AND o_orderkey <= 2 * h // 3
    UNION ALL
    SELECT o_orderkey + h AS o_orderkey, o_totalprice
    FROM orders, hi WHERE o_orderkey > 2 * h // 3
    """,
)


def _w_versioned_dv_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DV churn guard (writers/versioned.py:_rewrite_commit, Delta's own
    tuning): one dv-mode delete, two treatments — a file whose deleted
    fraction reaches dv_rewrite_fraction is REWRITTEN (its vectors
    purge), lightly-hit files still take vectors (file carried by name —
    both asserted in-query). The result must equal the plain SQL
    anti-filter either way: the threshold is a layout policy, never a
    semantic."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wdvt-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    hi = orders.agg(F.max("o_orderkey")).collect()[0][0]
    vt = VersionedTable(spark, root)
    # two files: low half, high half
    vt.overwrite(orders.where(F.col("o_orderkey") <= hi // 2).coalesce(1))
    vt.append(orders.where(F.col("o_orderkey") > hi // 2).coalesce(1))
    f_low, f_high = vt._state(vt.latest_version())
    # deletes ~80% of the LOW file (trips the 0.5 threshold → rewrite)
    # and ~20% of the HIGH file (stays merge-on-read)
    v = vt.delete(
        [("o_orderkey", ">", hi // 10), ("o_orderkey", "<=", 6 * hi // 10)],
        mode="dv",
    )
    st = set(vt._state(v))
    assert f_low not in st, "heavily-deleted file must be rewritten"
    assert f_high in st, "lightly-deleted file must stay merge-on-read"
    assert vt._dv_at(v).keys() == {f_high}, "rewritten file's vectors purge"
    assert vt.count() == vt.read().count()
    return vt.read()


_register(
    "w_versioned_dv_threshold",
    _w_versioned_dv_threshold,
    """
    WITH hi AS (SELECT max(o_orderkey) AS h FROM orders)
    SELECT o_orderkey, o_totalprice FROM orders, hi
    WHERE NOT (o_orderkey > h // 10 AND o_orderkey <= 6 * h // 10)
    """,
)


def _w_versioned_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned versioned table (Delta's partition columns): an
    overwrite with partition_by lays orders out under
    ``o_orderstatus=<v>/`` directories and injects each file's partition
    value as a degenerate manifest bound, so ``read(prune=…)`` on the
    partition column skips every other partition FROM THE MANIFEST
    (zero footer reads, no file listing) — asserted in-query before
    returning the pruned read, which must equal the plain SQL filter."""
    import os
    import uuid

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wpart-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    vt = VersionedTable(spark, root)
    vt.overwrite(orders, partition_by=["o_orderstatus"])
    files = vt._state(0)
    stats = vt._stats_at(0)
    kept = [
        f
        for f in files
        if vt._file_may_match(stats.get(f, {}), "o_orderstatus", "=", "F")
    ]
    if not kept or not all(f.startswith("o_orderstatus=F/") for f in kept):
        raise AssertionError(
            f"manifest partition pruning failed: kept {kept[:3]}... of "
            f"{len(files)} files"
        )
    return vt.read(prune=[("o_orderstatus", "=", "F")])


_register(
    "w_versioned_partitioned_prune",
    _w_versioned_partitioned,
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    WHERE o_orderstatus = 'F'
    """,
)


def _w_versioned_dynamic_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition overwrite (Spark's partitionOverwriteMode=
    dynamic / Delta's partition replaceWhere) on a versioned table: the
    nightly-restate pattern — one commit replaces exactly the 'O'
    partition with a transformed recomputation while every other
    partition's files are carried by name, never listed or rewritten.
    The result must equal the SQL restatement of the same partition."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wdyn-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    vt = VersionedTable(spark, root)
    vt.overwrite(orders, partition_by=["o_orderstatus"])
    restated = orders.where("o_orderstatus = 'O'").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    before = {
        f for f in vt._state(0) if not f.startswith("o_orderstatus=O/")
    }
    v = vt.overwrite_partitions(restated)
    after = set(vt._state(v))
    if not before <= after:
        raise AssertionError(
            "dynamic overwrite must carry untouched partitions by name"
        )
    return vt.read()


_register(
    "w_versioned_dynamic_overwrite",
    _w_versioned_dynamic_overwrite,
    """
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    """,
)


def _w_versioned_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data feed across mixed commits (Delta CDF): two appends,
    a delete and an update produce a deterministic version history; the
    feed over the whole log must carry exactly the insert rows, the
    deleted rows, and the update pre/postimage pairs, each stamped with
    its commit version — reconstructed in the oracle as literal-tagged
    unions over the source table."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wcdf-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    hi = orders.agg(F.max("o_orderkey")).collect()[0][0]
    split = hi // 2
    vt = VersionedTable(spark, root)
    vt.append(orders.where(F.col("o_orderkey") <= split))   # v0
    vt.append(orders.where(F.col("o_orderkey") > split))    # v1
    vt.delete(f"o_orderkey <= {split // 2}")                # v2
    # the update sees the POST-delete snapshot: its pre/postimages cover
    # only the surviving 'F' keys — the oracle scopes the same way
    vt.update(
        "o_orderstatus = 'F'", {"o_totalprice": "o_totalprice + 1"}
    )                                                       # v3
    return vt.change_feed(-1).select(
        "o_orderkey", "o_totalprice", "_change_type", "_commit_version"
    )


_register(
    "w_versioned_change_feed",
    _w_versioned_change_feed,
    """
    WITH t AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
         split AS (SELECT max(o_orderkey) // 2 AS k FROM t)
    SELECT o_orderkey, o_totalprice,
           'insert' AS _change_type, CAST(0 AS BIGINT) AS _commit_version
    FROM t WHERE o_orderkey <= (SELECT k FROM split)
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'insert', CAST(1 AS BIGINT)
    FROM t WHERE o_orderkey > (SELECT k FROM split)
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'delete', CAST(2 AS BIGINT)
    FROM t WHERE o_orderkey <= (SELECT k FROM split) // 2
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'update_preimage', CAST(3 AS BIGINT)
    FROM t WHERE o_orderstatus = 'F'
      AND o_orderkey > (SELECT k FROM split) // 2
    UNION ALL
    SELECT o_orderkey, o_totalprice + 1, 'update_postimage', CAST(3 AS BIGINT)
    FROM t WHERE o_orderstatus = 'F'
      AND o_orderkey > (SELECT k FROM split) // 2
    """,
)


def _w_versioned_merge_dup_target(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MERGE onto a duplicate-key TARGET (Delta's whenMatchedUpdateAll
    semantics, writers/versioned.py:merge): each matched target row is
    updated individually — a target holding two rows with the same key
    keeps two (updated) rows, never one. The target here duplicates
    every 'F' order; the source restates all F/O keys with bumped
    prices; the oracle applies the same CASE over the duplicated
    union, so any collapse (or fan-out) hash-mismatches."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wmdt-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    target = orders.unionByName(orders.where("o_orderstatus = 'F'"))
    source = orders.where("o_orderstatus IN ('F', 'O')").withColumn(
        "o_totalprice", F.col("o_totalprice") + 1
    )
    vt = VersionedTable(spark, root)
    vt.overwrite(target)
    v = vt.merge(source, ["o_orderkey"])
    # CDF pairs per TARGET row: every duplicated F key contributes TWO
    # preimages and TWO postimages
    feed = vt.change_feed(from_version=v - 1, to_version=v)
    pre = feed.where("_change_type = 'update_preimage'").count()
    post = feed.where("_change_type = 'update_postimage'").count()
    assert pre == post, "pre/postimage counts must pair per target row"
    return vt.read()


_register(
    "w_versioned_merge_dup_target",
    _w_versioned_merge_dup_target,
    """
    WITH t AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        UNION ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        WHERE o_orderstatus = 'F'
    )
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderstatus IN ('F', 'O')
                THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice
    FROM t
    """,
)


def _w_versioned_merge_conditional(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Conditional MERGE clauses (Delta's whenMatchedUpdate(condition),
    whenNotMatchedInsert(condition); writers/versioned.py:merge): the
    matched clause is guarded by the classic CDC rule ``source.
    o_totalprice > target.o_totalprice`` — stale source rows (here the
    'O'/'P' restatements, priced LOWER) leave their target rows
    untouched while fresh ones ('F', priced higher) update; the insert
    clause is guarded by a positivity check that drops half the new
    keys. Every guard is oracle-reconstructed as a CASE/WHERE."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wmc-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    mk = orders.agg(F.max("o_orderkey")).collect()[0][0]
    vt = VersionedTable(spark, root)
    vt.overwrite(orders)
    restate = orders.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderstatus") == "F", F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice") - 1),
    )
    fresh = orders.select(
        (F.col("o_orderkey") + mk + 1).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        F.when(F.col("o_orderkey") % 2 == 0, F.lit(50.0))
        .otherwise(F.lit(-50.0))
        .alias("o_totalprice"),
    )
    vt.merge(
        restate.unionByName(fresh),
        ["o_orderkey"],
        when_matched_condition="source.o_totalprice > target.o_totalprice",
        when_not_matched_condition="o_totalprice > 0",
    )
    return vt.read()


_register(
    "w_versioned_merge_conditional",
    _w_versioned_merge_conditional,
    """
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 1
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    UNION ALL
    SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM orders),
           'N' AS o_orderstatus, 50.0 AS o_totalprice
    FROM orders WHERE o_orderkey % 2 = 0
    """,
)


def _w_versioned_generated_column(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Generated columns (Delta parity, writers/versioned.py:
    add_generated_column): declared on the empty table, the derived
    ``order_year`` is COMPUTED inside every write (the incoming frame
    never carries it) and doubles as the hive partition column — the
    canonical derived-date layout. Asserted in-query: pruning on the
    generated column skips files from the manifest alone, and a write
    supplying a WRONG value fails without committing. The oracle
    recomputes the same derivation with plain SQL."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wgen-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    vt = VersionedTable(spark, root)
    vt.overwrite(orders.limit(0))
    vt.add_generated_column("order_year", "int", "year(o_orderdate)")
    vt.overwrite(orders, partition_by=["order_year"])
    base = vt.latest_version()
    kept = vt._prune_files(
        vt._state(base), vt._stats_at(base), [("order_year", "=", 1995)]
    )
    assert 0 < len(kept) < len(vt._state(base)), (
        "pruning on the generated partition column must skip files"
    )
    try:
        vt.append(
            orders.limit(3).withColumn("order_year", F.lit(1800))
        )
        raise AssertionError("a wrong generated value must fail the write")
    except Exception as exc:  # the fused assert_true fails the job
        assert "generated" in str(exc)
    assert vt.latest_version() == base
    return (
        vt.read()
        .groupBy("order_year")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(
                    F.col("o_totalprice").cast("decimal(18,2)")
                ).cast("double"),
                2,
            ).alias("total"),
        )
    )


_register(
    "w_versioned_generated_column",
    _w_versioned_generated_column,
    """
    SELECT CAST(year(o_orderdate) AS INT) AS order_year, count(*) AS n,
           round(sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE, 2) AS total
    FROM orders
    GROUP BY 1
    """,
)


def _w_versioned_merge_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level MERGE SET (Delta's whenMatchedUpdate(set={...}),
    writers/versioned.py:merge): matched rows ACCUMULATE
    ``target.o_totalprice + source.o_totalprice`` while every other
    column keeps the target's value — the partial-update form. The
    source holds only the 'F' rows, so the oracle is a CASE doubling
    exactly those prices; a whole-row replace (UpdateAll) would also
    pass here, so the query additionally sets a sentinel status in the
    source that must NOT surface (kept columns keep target values)."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wmset-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    vt = VersionedTable(spark, root)
    vt.overwrite(orders)
    src = orders.where("o_orderstatus = 'F'").withColumn(
        "o_orderstatus", F.lit("SENTINEL")
    )
    vt.merge(
        src,
        ["o_orderkey"],
        when_matched_set={
            "o_totalprice": "target.o_totalprice + source.o_totalprice"
        },
        when_not_matched=None,
    )
    return vt.read()


_register(
    "w_versioned_merge_set",
    _w_versioned_merge_set,
    """
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    """,
)


def _w_versioned_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-predicate scoped overwrite (Delta's replaceWhere;
    writers/versioned.py:replace_where): restate the low-key half of the
    orders table in ONE atomic commit — delete every row matching the
    predicate, insert the recomputed slice, enforce that every written
    row satisfies the predicate. Structural assertions in-query: files
    the predicate provably cannot match are carried BY NAME (the
    out-of-scope file set is identical across the commit), and a
    violating write raises without committing. Reference scope: the
    reference's write modes are whole-table (database/db.go:380-396);
    the predicate-scoped form is Delta surface on the Spark side."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import (
        VersionedTable,
        VersionedTableError,
    )

    root = os.path.join(_scratch_dir(), f"wrpw-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    hi = orders.agg(F.max("o_orderkey")).collect()[0][0]
    split = hi // 2
    vt = VersionedTable(spark, root)
    # several files so the carry-by-name split is real
    vt.append(orders.where(F.col("o_orderkey") <= split).repartition(4))
    vt.append(orders.where(F.col("o_orderkey") > split).repartition(4))
    base = vt.latest_version()
    out_of_scope = {
        f
        for f in vt._state(base)
        if not vt._file_may_match(
            vt._stats_at(base).get(f, {}), "o_orderkey", "<=", split
        )
    }
    v = vt.replace_where(
        orders.where(F.col("o_orderkey") <= split).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        ),
        [("o_orderkey", "<=", split)],
    )
    after = set(vt._state(v))
    assert out_of_scope <= after, (
        "replace_where rewrote files the predicate cannot match — the "
        "out-of-scope side must be carried by name"
    )
    # enforcement: a written row outside the predicate fails, no commit
    try:
        vt.replace_where(
            orders.limit(50), [("o_orderkey", "<=", 0)]
        )
        raise AssertionError("replace_where accepted out-of-scope rows")
    except VersionedTableError:
        raise  # a commit-layer error would be a different bug
    except Exception:
        pass  # the write job failed on the assert_true — nothing committed
    assert vt.latest_version() == v
    return vt.read()


_register(
    "w_versioned_replace_where",
    _w_versioned_replace_where,
    """
    WITH split AS (SELECT max(o_orderkey) // 2 AS k FROM orders)
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey <= (SELECT k FROM split)
                THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
    FROM orders
    """,
)


def _w_versioned_replace_where_cdf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """replaceWhere's change feed: the replaced rows emit ``delete``
    changes and the incoming rows ``insert`` changes, so incremental
    consumers apply the restatement without a snapshot diff — which a
    plain overwrite (no change files) can never offer. The oracle
    reconstructs the feed as literal-tagged unions."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wrwc-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    vt = VersionedTable(spark, root)
    vt.overwrite(orders)  # v0
    v = vt.replace_where(
        orders.where("o_orderstatus = 'F'").withColumn(
            "o_totalprice", F.col("o_totalprice") + 1
        ),
        "o_orderstatus = 'F'",
    )  # v1
    return vt.change_feed(from_version=v - 1, to_version=v).select(
        "o_orderkey", "o_totalprice", "_change_type"
    )


_register(
    "w_versioned_replace_where_cdf",
    _w_versioned_replace_where_cdf,
    """
    SELECT o_orderkey, o_totalprice, 'delete' AS _change_type
    FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, o_totalprice + 1, 'insert'
    FROM orders WHERE o_orderstatus = 'F'
    """,
)


# --------------------------------------- partitioned-layout write query ---
def _w_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned write + pruned read-back: the layout tool a 100 TB
    table needs; result hash-matched against a plain filtered aggregate."""
    import os

    from pyspark.sql import functions as F
    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.layout import write_partitioned

    out = _scratch_dir()
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = os.path.join(out, "orders_by_year")
    write_partitioned(orders, path, ["order_year"])
    pruned = spark.read.parquet(path).where("order_year IN (1996, 1997)")
    return pruned.groupBy("order_year").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
          .alias("total"),
    )


_register(
    "w_partitioned_roundtrip",
    _w_partitioned,
    """
    SELECT year(o_orderdate) AS order_year, count(*) AS n,
           round(sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE, 2) AS total
    FROM orders
    WHERE year(o_orderdate) IN (1996, 1997)
    GROUP BY 1
    """,
)


# ------------------------------------- embedding dedup clusters (graph) ---
def _embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compose embedding-cosine near-dup pairs with connected components —
    the vector-side analog of dedup_clusters (threshold 0.4 so the fixture
    graph is non-trivial)."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_cosine_pairs(emb, "vec_id", "embedding", 0.4)
    return connected_components(
        pairs.select(
            pairs["vec_i"].alias("doc_i"), pairs["vec_j"].alias("doc_j")
        )
    )


_register(
    "dedup_embedding_clusters",
    _embedding_clusters,
    """
    WITH RECURSIVE
    e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
          FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    dup AS (SELECT a.vec_id AS i, b.vec_id AS j
            FROM n a, n b
            WHERE a.vec_id < b.vec_id
              AND list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4),
    edges AS (SELECT i AS u, j AS v FROM dup UNION SELECT j, i FROM dup),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u
    )
    SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
    """,
)


# ------------------------------------------- corpus-cleaning pipeline -----
def _corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end cleaning decision: quality + repetition + PII + exact-dup
    filters composed into keep/drop with a reason column — the actual shape
    of a training-data filter stage."""
    from pyspark.sql import functions as F
    from as_etl_storage_spark.operators import text as T_

    docs = load_table(spark, sf_dir, "documents")
    quality = T_.quality_score(docs, "doc_id", "text")
    rep = T_.repetition_ratio(docs, "doc_id", "text")
    keeper = dedup.exact_dedup(docs, "doc_id", ["text"]).select(
        F.col("doc_id").alias("keep_id")
    )
    joined = (
        docs.select("doc_id")
        .join(quality, "doc_id")
        .join(rep, "doc_id")
        .join(keeper, docs["doc_id"] == F.col("keep_id"), "left")
    )
    reason = (
        F.when(F.col("keep_id").isNull(), F.lit("duplicate"))
        .when(F.col("n_tokens") < 20, F.lit("too_short"))
        .when(F.col("rep_ratio") > 0.2, F.lit("repetitive"))
        .otherwise(F.lit("keep"))
    )
    return joined.select("doc_id", reason.alias("decision"))


_register(
    "corpus_clean_decisions",
    _corpus_clean,
    """
    WITH keepers AS (SELECT min(doc_id) AS keep_id FROM documents GROUP BY text),
    tk AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
           FROM documents),
    ntok AS (SELECT doc_id, len(toks) AS n_tokens FROM tk),
    rep AS (
      SELECT doc_id, max(c)::DOUBLE / sum(c) AS rep_ratio FROM (
        SELECT doc_id, t, count(*) AS c
        FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
              FROM documents) GROUP BY 1, 2)
      GROUP BY doc_id)
    SELECT d.doc_id,
           CASE WHEN k.keep_id IS NULL THEN 'duplicate'
                WHEN ntok.n_tokens < 20 THEN 'too_short'
                WHEN rep.rep_ratio > 0.2 THEN 'repetitive'
                ELSE 'keep' END AS decision
    FROM documents d
    LEFT JOIN keepers k ON d.doc_id = k.keep_id
    JOIN ntok ON d.doc_id = ntok.doc_id
    JOIN rep ON d.doc_id = rep.doc_id
    """,
)


# ------------------------------------------------ CDC keep-latest dedup ---
def _keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return dedup.keep_latest(
        ev.select("user_id", "event_type", "event_id", "ts"),
        key_cols=["user_id", "event_type"],
        order_cols=["ts", "event_id"],
    )


_register(
    "dedup_keep_latest",
    _keep_latest,
    """
    WITH r AS (
      SELECT user_id, event_type, event_id, ts,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT user_id, event_type, event_id, ts FROM r WHERE rn = 1
    """,
)


# ------------------------------------------------- equi-width histogram ---
# floor-division bucketing: identical IEEE arithmetic in both engines, and
# min/max are order-independent so raw-double aggregation is safe
_HIST_SQL = """
    SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
           count(*) AS n,
           CAST(min(o_totalprice) AS DOUBLE) AS lo,
           CAST(max(o_totalprice) AS DOUBLE) AS hi
    FROM orders
    GROUP BY 1
"""
_register("q_histogram", sql_query(("orders",), _HIST_SQL), _HIST_SQL)


# ------------------------------------------- time-series gap filling ------
# calendar spine (sequence/generate_series) x dimension values, zero-filled
# where no events occurred — the canonical reporting/feature-table shape.
# The spine is tiny (days x types) so Spark broadcasts it against the
# aggregated actuals; at 100 TB the aggregation shrinks first, the spine
# join stays O(buckets).
_SPARK_GAP_FILL = """
    WITH bounds AS (SELECT CAST(min(ts) AS DATE) AS lo,
                           CAST(max(ts) AS DATE) AS hi FROM events),
    days AS (SELECT explode(sequence(lo, hi, interval 1 day)) AS d
             FROM bounds),
    types AS (SELECT DISTINCT event_type FROM events),
    actual AS (SELECT CAST(ts AS DATE) AS d, event_type, count(*) AS n
               FROM events GROUP BY 1, 2)
    SELECT days.d, types.event_type, coalesce(actual.n, 0) AS n
    FROM days CROSS JOIN types
    LEFT JOIN actual ON days.d = actual.d
                    AND types.event_type = actual.event_type
"""
_DUCK_GAP_FILL = """
    WITH bounds AS (SELECT CAST(min(ts) AS DATE) AS lo,
                           CAST(max(ts) AS DATE) AS hi FROM events),
    days AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d
             FROM bounds),
    types AS (SELECT DISTINCT event_type FROM events),
    actual AS (SELECT CAST(ts AS DATE) AS d, event_type, count(*) AS n
               FROM events GROUP BY 1, 2)
    SELECT days.d, types.event_type, coalesce(actual.n, 0) AS n
    FROM days CROSS JOIN types
    LEFT JOIN actual ON days.d = actual.d
                    AND types.event_type = actual.event_type
"""
QUERIES["q_gap_fill"] = sql_query(("events",), _SPARK_GAP_FILL)
ORACLES["q_gap_fill"] = _DUCK_GAP_FILL

# ------------------------------------------------------------- unpivot ----
# wide metrics -> long form: Spark stack() generator, DuckDB UNPIVOT
_SPARK_UNPIVOT = """
    WITH m AS (SELECT c_nationkey,
                      CAST(count(*) AS DOUBLE) AS n_cust,
                      CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                        AS total_bal
               FROM customer GROUP BY c_nationkey)
    SELECT c_nationkey,
           stack(2, 'n_cust', n_cust, 'total_bal', total_bal)
             AS (metric, val)
    FROM m
"""
_DUCK_UNPIVOT = """
    WITH m AS (SELECT c_nationkey,
                      CAST(count(*) AS DOUBLE) AS n_cust,
                      CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                        AS total_bal
               FROM customer GROUP BY c_nationkey)
    SELECT c_nationkey, metric, val
    FROM m UNPIVOT (val FOR metric IN (n_cust, total_bal))
"""
QUERIES["q_unpivot"] = sql_query(("customer",), _SPARK_UNPIVOT)
ORACLES["q_unpivot"] = _DUCK_UNPIVOT


# ------------------------------------------- approx sketches, validated ---
def _approx_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path sketches (HLL ndv, quantile sketch) validated in-plan
    against their exact counterparts: the query emits per-metric booleans
    that the oracle pins to TRUE. Both sketches are deterministic for a
    fixed input, so this hash-matches — and a sketch drifting outside its
    error bound breaks the match. At 100 TB the exact side drops away and
    the sketch is the product."""
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders")
    agg = orders.agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("andv"),
        F.countDistinct("o_custkey").alias("endv"),
        F.expr("approx_percentile(o_totalprice, 0.5, 10000)").alias("amed"),
        F.expr("percentile_approx(o_totalprice, 0.5, 2147483647)").alias("emed"),
    )
    within = lambda a, e, tol: (a >= e * (1 - tol)) & (a <= e * (1 + tol))  # noqa: E731
    return agg.select(
        within(F.col("andv"), F.col("endv"), 0.05).alias("ndv_within_5pct"),
        within(F.col("amed"), F.col("emed"), 0.02).alias("median_within_2pct"),
    )


_register(
    "q_approx_bounds",
    _approx_bounds,
    "SELECT TRUE AS ndv_within_5pct, TRUE AS median_within_2pct",
)


# ---------------------------------------------- time-grain rollup ---------
# hypertable-style continuous-aggregate shape: hour/day/month grains in ONE
# pass via GROUPING SETS (the scan and partial aggregation are shared; a
# per-grain loop would re-read the fact table three times)
_TIME_ROLLUP = """
    SELECT CASE WHEN GROUPING(hour_b) = 0 THEN 'hour'
                WHEN GROUPING(day_b) = 0 THEN 'day'
                ELSE 'month' END AS grain,
           coalesce(hour_b, day_b, month_b) AS bucket,
           event_type, count(*) AS n
    FROM (SELECT date_trunc('hour', ts) AS hour_b,
                 date_trunc('day', ts) AS day_b,
                 date_trunc('month', ts) AS month_b,
                 event_type
          FROM events) t
    GROUP BY GROUPING SETS ((hour_b, event_type), (day_b, event_type),
                            (month_b, event_type))
"""
QUERIES["q_time_rollup"] = sql_query(("events",), _TIME_ROLLUP)
ORACLES["q_time_rollup"] = _TIME_ROLLUP

# ------------------------------------------- stratified hash sampling -----
# per-stratum rates with the deterministic md5 key (rerun- and
# partitioning-stable, unlike seeded df.sample/sampleBy)
_STRAT_SPARK = """
    SELECT event_id, event_type FROM events
    WHERE pmod(CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 15),
                         16, 10) AS BIGINT), 1000)
          < CASE event_type WHEN 'click' THEN 50
                            WHEN 'view' THEN 20 ELSE 100 END
"""
_STRAT_DUCK = """
    SELECT event_id, event_type FROM events
    WHERE ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT % 1000
          < CASE event_type WHEN 'click' THEN 50
                            WHEN 'view' THEN 20 ELSE 100 END
"""
QUERIES["q_stratified_sample"] = sql_query(("events",), _STRAT_SPARK)
ORACLES["q_stratified_sample"] = _STRAT_DUCK


# ------------------------------------------------------- salted join ------
def _salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join (operators/skew.salted_join) aggregated per
    supplier — result is provably identical to the plain join, which is
    exactly what the oracle checks."""
    from pyspark.sql import functions as F
    from as_etl_storage_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_quantity")
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    joined = salted_join(li, sup, ["l_suppkey"], n_salts=16)
    return joined.groupBy("s_name").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_qty"),
    )


_register(
    "skew_salted_join",
    _salted_join,
    """
    SELECT s_name, count(*) AS n_lines,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_name
    """,
)


# ------------------------------------------------- snapshot reconcile -----
# Table-diff between two snapshot versions (the validation step after any
# replace/merge): FULL OUTER join on the key classifies every row as
# added / removed / changed. One shuffle on the key; at scale both sides
# prune to key+compare-columns before the join, and a changed-row
# fingerprint (hash of compare columns) replaces wide comparisons. The
# "v2" snapshot is derived deterministically in-query so both engines see
# identical inputs.
_SNAPSHOT_DIFF_SQL = """
    WITH v1 AS (SELECT o_orderkey, o_orderstatus FROM orders),
    v2 AS (SELECT o_orderkey,
                  CASE WHEN o_orderkey % 7 = 0 THEN 'Z'
                       ELSE o_orderstatus END AS o_orderstatus
           FROM orders WHERE o_orderkey % 11 <> 0
           UNION ALL
           SELECT o_orderkey + 10000000, 'N' FROM orders
           WHERE o_orderkey % 13 = 0)
    SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
           CASE WHEN v1.o_orderkey IS NULL THEN 'added'
                WHEN v2.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type,
           v1.o_orderstatus AS old_status,
           v2.o_orderstatus AS new_status
    FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
    WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
       OR v1.o_orderstatus <> v2.o_orderstatus
"""
QUERIES["q_snapshot_diff"] = sql_query(("orders",), _SNAPSHOT_DIFF_SQL)
ORACLES["q_snapshot_diff"] = _SNAPSHOT_DIFF_SQL


# --------------------------------------- linear-interpolation gap fill ----
# Time-series repair: missing (day, type) points on the calendar spine are
# filled by linear interpolation between the nearest present neighbors
# (leading/trailing gaps take the nearest single value). The interpolation
# is one closed-form expression over integer day offsets and two anchor
# values — identical arithmetic in both engines, so doubles hash-match.
# One shuffle on event_type for all four IGNORE-NULLS windows.
_INTERP_TMPL = """
    WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
    types AS (SELECT DISTINCT event_type FROM events),
    actual AS (SELECT CAST(ts AS DATE) AS d, event_type,
                      count(*) AS n
               FROM events WHERE user_id % 97 = 0
               GROUP BY 1, 2),
    spine AS (SELECT days.d, types.event_type, actual.n
              FROM days CROSS JOIN types
              LEFT JOIN actual ON actual.d = days.d
                              AND actual.event_type = types.event_type),
    anch AS (SELECT d, event_type, n,
                    {lastv} OVER (PARTITION BY event_type ORDER BY d
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS pv,
                    {lastd} OVER (PARTITION BY event_type ORDER BY d
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS pd,
                    {firstv} OVER (PARTITION BY event_type ORDER BY d
                                   ROWS BETWEEN CURRENT ROW
                                   AND UNBOUNDED FOLLOWING) AS nv,
                    {firstd} OVER (PARTITION BY event_type ORDER BY d
                                   ROWS BETWEEN CURRENT ROW
                                   AND UNBOUNDED FOLLOWING) AS nd
             FROM spine)
    SELECT d, event_type,
           round(CASE WHEN n IS NOT NULL THEN CAST(n AS DOUBLE)
                      WHEN pv IS NULL THEN CAST(nv AS DOUBLE)
                      WHEN nv IS NULL THEN CAST(pv AS DOUBLE)
                      ELSE pv + (nv - pv) * ({off_pd} * 1.0 / {nd_pd})
                 END, 4) AS n_filled,
           (n IS NULL) AS interpolated
    FROM anch
"""
_D_EXPR = "CASE WHEN n IS NOT NULL THEN d END"
QUERIES["q_interpolate_gaps"] = sql_query(
    ("events",),
    _INTERP_TMPL.format(
        lastv="last_value(n) IGNORE NULLS",
        lastd=f"last_value({_D_EXPR}) IGNORE NULLS",
        firstv="first_value(n) IGNORE NULLS",
        firstd=f"first_value({_D_EXPR}) IGNORE NULLS",
        off_pd="datediff(d, pd)",
        nd_pd="datediff(nd, pd)",
    ),
)
ORACLES["q_interpolate_gaps"] = _INTERP_TMPL.format(
    lastv="last_value(n IGNORE NULLS)",
    lastd=f"last_value({_D_EXPR} IGNORE NULLS)",
    firstv="first_value(n IGNORE NULLS)",
    firstd=f"first_value({_D_EXPR} IGNORE NULLS)",
    off_pd="date_diff('day', pd, d)",
    nd_pd="date_diff('day', pd, nd)",
)


# --------------------------------------------------- null-safe join -------
# NULL-keyed joins: the equality operator drops NULL keys, the null-safe
# operator (Spark <=>, ANSI IS NOT DISTINCT FROM) groups them — the
# difference matters for dedup/reconciliation over nullable business keys.
# Both engines plan it as a plain hash join (NULL hashes like any value).
_NULLSAFE_TMPL = """
    WITH k AS (SELECT o_orderkey,
                      CASE WHEN o_orderkey % 10 = 0 THEN NULL
                           ELSE o_orderpriority END AS pk
               FROM orders WHERE o_orderkey <= 3000)
    SELECT COALESCE(CAST(a.pk AS {str_t}), '<null>') AS pk,
           count(*) AS n_pairs
    FROM k a JOIN k b ON {eq} AND a.o_orderkey < b.o_orderkey
    GROUP BY 1
"""
QUERIES["q_null_safe_join"] = sql_query(
    ("orders",), _NULLSAFE_TMPL.format(eq="a.pk <=> b.pk", str_t="STRING")
)
ORACLES["q_null_safe_join"] = _NULLSAFE_TMPL.format(
    eq="a.pk IS NOT DISTINCT FROM b.pk", str_t="VARCHAR"
)


# --------------------------------------- weighted bottom-k sampling -------
# deterministic weighted sampling: each row draws a 60-bit uniform key from
# md5(id) and its priority is key DIV weight — higher-weight rows get
# systematically smaller priorities, so the bottom-k by priority is a
# weighted sample that is rerun- and partitioning-stable (same rows on any
# cluster layout, unlike seeded df.sample). Integer-only arithmetic, so
# both engines agree bit-for-bit; the top-k sort runs on (priority, key)
# AFTER a cheap projection, and at 100 TB becomes a per-partition bottom-k
# + driver merge (TakeOrderedAndProject — no global sort).
_WSAMPLE_SPARK = """
    SELECT o_orderkey, o_totalprice
    FROM (SELECT o_orderkey, o_totalprice,
                 CAST(conv(substring(md5(CAST(o_orderkey AS STRING)), 1, 15),
                           16, 10) AS BIGINT)
                 DIV greatest(CAST(floor(o_totalprice) AS BIGINT), 1)
                   AS priority
          FROM orders)
    ORDER BY priority, o_orderkey
    LIMIT 100
"""
_WSAMPLE_DUCK = """
    SELECT o_orderkey, o_totalprice
    FROM (SELECT o_orderkey, o_totalprice,
                 ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 15))::BIGINT
                 // greatest(CAST(floor(o_totalprice) AS BIGINT), 1)
                   AS priority
          FROM orders)
    ORDER BY priority, o_orderkey
    LIMIT 100
"""
QUERIES["q_weighted_sample"] = sql_query(("orders",), _WSAMPLE_SPARK)
ORACLES["q_weighted_sample"] = _WSAMPLE_DUCK


# ------------------------------------- HLL set-intersection estimate ------
# mergeable-sketch set algebra: |A∩B| ≈ est(A) + est(B) - est(A∪B) by
# inclusion-exclusion — the only way to intersect distinct-sets at 100 TB
# without co-shuffling the raw keys (sketches are KB-sized and union in
# O(registers)). Validated in-plan against the exact INTERSECT count; HLL
# is deterministic for fixed input, so the booleans are stable. Error
# compounds through inclusion-exclusion (three ±1.6% terms), pinned at 10%
# of the UNION size (the correct denominator for the subtraction's error).
_HLL_INT_SPARK = """
    WITH a AS (SELECT DISTINCT o_custkey FROM orders
               WHERE year(o_orderdate) = 1994),
    b AS (SELECT DISTINCT o_custkey FROM orders
          WHERE year(o_orderdate) = 1995),
    exact AS (SELECT count(*) AS n_both
              FROM (SELECT * FROM a INTERSECT SELECT * FROM b)),
    exact_u AS (SELECT count(*) AS n_union
                FROM (SELECT * FROM a UNION SELECT * FROM b)),
    sk AS (SELECT (SELECT hll_sketch_estimate(hll_sketch_agg(o_custkey)) FROM a)
                  + (SELECT hll_sketch_estimate(hll_sketch_agg(o_custkey)) FROM b)
                  - (SELECT hll_sketch_estimate(hll_sketch_agg(o_custkey))
                     FROM (SELECT * FROM a UNION ALL SELECT * FROM b))
                  AS n_est)
    SELECT e.n_both, u.n_union,
           (abs(sk.n_est - e.n_both) <= 0.10 * u.n_union + 10)
             AS est_within_tol
    FROM exact e, exact_u u, sk
"""
_HLL_INT_DUCK = """
    WITH a AS (SELECT DISTINCT o_custkey FROM orders
               WHERE year(o_orderdate) = 1994),
    b AS (SELECT DISTINCT o_custkey FROM orders
          WHERE year(o_orderdate) = 1995)
    SELECT (SELECT count(*)
            FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) AS n_both,
           (SELECT count(*)
            FROM (SELECT * FROM a UNION SELECT * FROM b)) AS n_union,
           TRUE AS est_within_tol
"""
QUERIES["q_hll_intersect_validated"] = sql_query(("orders",), _HLL_INT_SPARK)
ORACLES["q_hll_intersect_validated"] = _HLL_INT_DUCK


# ------------------------------------------- schema-evolution union -------
# merging two schema versions of the same feed (the additive-evolution
# read path: older files lack the new column): unionByName with
# allowMissingColumns fills the gap with NULLs — positional UNION would
# silently misalign. Oracle is DuckDB's UNION ALL BY NAME.
def _union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.where("o_orderkey % 2 = 0").select(
        "o_orderkey", "o_orderstatus"
    )
    v2 = orders.where("o_orderkey % 2 = 1").select(
        "o_orderkey", "o_orderstatus", F.col("o_totalprice").alias("price")
    )
    return v1.unionByName(v2, allowMissingColumns=True)


QUERIES["q_union_by_name"] = _union_by_name
ORACLES["q_union_by_name"] = """
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL BY NAME
    SELECT o_orderkey, o_orderstatus, o_totalprice AS price
    FROM orders WHERE o_orderkey % 2 = 1
"""


# --------------------------------------------------- per-group mode -------
# statistical mode with deterministic tie-break (count desc, value asc) —
# the row_number-over-counts shape shared verbatim by both engines; the
# count aggregation is two-phase, the window sorts only the per-key
# distinct-value counts (bounded by the value domain, not row count)
_MODE_SQL = """
    WITH c AS (SELECT user_id, event_type, count(*) AS n
               FROM events GROUP BY user_id, event_type),
    r AS (SELECT user_id, event_type, n,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY n DESC, event_type) AS rn
          FROM c)
    SELECT user_id, event_type AS mode_event, CAST(n AS BIGINT) AS n
    FROM r WHERE rn = 1
"""
QUERIES["q_mode_per_user"] = sql_query(("events",), _MODE_SQL)
ORACLES["q_mode_per_user"] = _MODE_SQL


# ------------------------------- end-to-end training-data prep pipeline ----
def _pipeline_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ingest chain a training-data pipeline actually runs, as ONE
    composed plan: quality filter -> exact dedup (normalized text, keep
    smallest id) -> near-dup drop list (MinHash+LSH candidates, exact
    verification, connected components, longest-text canonical keeper) ->
    anti-join the drop list -> per-language corpus stats. Every stage is an
    operator that is also gated standalone; this query proves the
    COMPOSITION stays correct and each intermediate feeds the next without
    materialization barriers."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from as_etl_storage_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    quality = docs.where(F.length("text") >= 50)
    norm = F.lower(F.trim(F.col("text")))
    keep_ids = (
        quality.groupBy(norm.alias("norm"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    uniq = quality.join(F.broadcast(keep_ids), "doc_id", "left_semi")
    pairs = dedup.minhash_dedup_pairs(uniq, "doc_id", "text", p=4, q=5)
    comp = connected_components(pairs.select("doc_i", "doc_j"))
    sized = comp.join(
        uniq.select("doc_id", F.length("text").alias("len")), "doc_id"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("len").desc(), F.col("doc_id")
    )
    drop = (
        sized.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") > 1)
        .select("doc_id")
    )
    final = uniq.join(F.broadcast(drop), "doc_id", "left_anti")
    return final.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(word_tokens(F.trim(F.col("text"))))).alias(
            "n_tokens"
        ),
        F.sum(F.length("text")).alias("n_chars"),
    )


_register(
    "pipeline_training_prep",
    _pipeline_training_prep,
    """
    WITH RECURSIVE
    quality AS (SELECT * FROM documents WHERE length(text) >= 50),
    keep AS (SELECT min(doc_id) AS doc_id FROM quality
             GROUP BY lower(trim(text))),
    uniq AS (SELECT q.* FROM quality q JOIN keep USING (doc_id)),
    pos AS (SELECT doc_id, text,
                   unnest(range(1, greatest(length(text)-3, 2))) AS g
            FROM uniq),
    sh AS (SELECT DISTINCT doc_id, substring(text, g::INT, 5) AS s FROM pos),
    pair AS (SELECT a.doc_id i, b.doc_id j, count(*) AS inter
             FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    dup AS (SELECT i, j
            FROM pair JOIN sz x ON x.doc_id = i JOIN sz y ON y.doc_id = j
            WHERE inter * 5 >= (x.n + y.n - inter) * 4),
    edges AS (SELECT i AS u, j AS v FROM dup UNION SELECT j, i FROM dup),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
             FROM reach GROUP BY u),
    ranked AS (
      SELECT c.doc_id,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY length(d.text) DESC, c.doc_id) AS rn
      FROM comp c JOIN uniq d USING (doc_id)),
    drop_list AS (SELECT doc_id FROM ranked WHERE rn > 1),
    final AS (SELECT * FROM uniq
              WHERE doc_id NOT IN (SELECT doc_id FROM drop_list))
    SELECT lang, count(*) AS n_docs,
           CAST(sum(length(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
             AS n_tokens,
           CAST(sum(length(text)) AS BIGINT) AS n_chars
    FROM final GROUP BY lang
    """,
)


# ----------------------------------------------- LATERAL correlated join --
# per-customer top-2 orders via a correlated LATERAL subquery — the same
# SQL string runs on both engines. Catalyst decorrelates the lateral into
# a window-ranked join (no per-row re-execution); deterministic via the
# unique (o_totalprice, o_orderkey) order.
_LATERAL_SQL = """
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) AS o
"""
QUERIES["q_lateral_topn"] = sql_query(("customer", "orders"), _LATERAL_SQL)
ORACLES["q_lateral_topn"] = _LATERAL_SQL


# ------------------------------------------ spec-driven manifest pruning --
def _w_versioned_spec_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest data skipping from the DECLARATIVE surface (the
    reference's JSON job spec, SURVEY §1.4): the reader's ``where``
    string is parsed into (col, op, literal) prune triples
    (spec.prune_triples_from_where) and threaded through
    VersionedSource.read → VersionedTable.read(prune=...), so a
    spec-driven job skips files at the stats manifest exactly like a
    Python-API caller — asserted in-query via inputFiles. The full
    predicate (including an OR leg no triple can express) remains the
    semantic filter, so the result equals the oracle's plain WHERE."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.runner import run_job
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wsp-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders")
    hi = orders.agg(F.max("o_orderkey")).collect()[0][0]
    split, sel = 2 * hi // 3, 5 * hi // 6
    vt = VersionedTable(spark, os.path.join(root, "t"))
    vt.overwrite(orders.where(F.col("o_orderkey") <= split).coalesce(1))
    vt.append(orders.where(F.col("o_orderkey") > split).coalesce(1))
    df = run_job(
        spark,
        {
            "reader": {
                "dialect": "versioned",
                "connection": {"url": root, "table": {"name": "t"}},
                "column": ["*"],
                "where": (
                    f"o_orderkey > {sel} AND "
                    f"(o_orderstatus = 'O' OR o_orderstatus = 'F')"
                ),
            }
        },
    )
    if len(df.inputFiles()) != 1:
        raise AssertionError(
            "spec-driven read must skip the low-key file at the manifest"
        )
    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"),
            2,
        ).alias("total"),
    )


_register(
    "w_versioned_spec_prune",
    _w_versioned_spec_prune,
    """
    SELECT o_orderstatus, count(*) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total
    FROM orders
    WHERE o_orderkey > (SELECT 5 * max(o_orderkey) // 6 FROM orders)
      AND (o_orderstatus = 'O' OR o_orderstatus = 'F')
    GROUP BY o_orderstatus
    """,
)


# ----------------------------------------------- LIKE-prefix skipping --
def _w_versioned_like_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE-prefix data skipping (r15): ``col LIKE '3%'`` implies the
    half-open range ``['3', '4')``, which the footer min/max stats CAN
    serve — Delta derives the same range from startsWith filters. The
    table is laid out as three files split by ``o_orderpriority``'s
    leading digit, so the prefix predicate must reach exactly one file;
    asserted in-query via inputFiles. The full LIKE (with a suffix the
    range alone cannot express) stays the semantic filter, so the
    result equals the oracle's plain LIKE. Extractor:
    spec._like_prefix_triples."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.runner import run_job
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wlp-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders")
    pfx = F.substring("o_orderpriority", 1, 1)
    vt = VersionedTable(spark, os.path.join(root, "t"))
    vt.overwrite(orders.where(pfx < "3").coalesce(1))
    vt.append(orders.where(pfx == "3").coalesce(1))
    vt.append(orders.where(pfx > "3").coalesce(1))
    df = run_job(
        spark,
        {
            "reader": {
                "dialect": "versioned",
                "connection": {"url": root, "table": {"name": "t"}},
                "column": ["*"],
                # suffix 'DIUM' exercises full-LIKE filtering on top of
                # the extracted ['3', '4') skip range
                "where": "o_orderpriority LIKE '3%DIUM'",
            }
        },
    )
    if len(df.inputFiles()) != 1:
        raise AssertionError(
            "LIKE-prefix read must skip the non-'3' files at the manifest"
        )
    return df.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"),
            2,
        ).alias("total"),
    )


_register(
    "w_versioned_like_prune",
    _w_versioned_like_prune,
    """
    SELECT o_orderpriority, count(*) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total
    FROM orders
    WHERE o_orderpriority LIKE '3%DIUM'
    GROUP BY o_orderpriority
    """,
)


# ------------------------------------------- declarative maintenance --
def _w_versioned_maintenance_job(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spec-reachable table maintenance (r15): ONE JSON job runs
    compact → checkpoint → vacuum(dryRun) on a versioned table — the
    reference's declared-job shape (writer/job.go:63-93) extended to
    layout work, as Delta exposes OPTIMIZE/VACUUM through SQL. The
    compact step takes its clustering keys from the DECLARED
    vt.clusterBy (no zorder in the spec), the checkpoint lands at the
    compaction version, and the dry-run vacuum lists the pre-compact
    files it WOULD reclaim while deleting nothing — all asserted
    in-query. Rows never move, so the result equals a plain aggregate
    over the source."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.runner import run_job
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wmj-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders")
    vt = VersionedTable(spark, os.path.join(root, "t"))
    # interleaved ingest: every file spans the whole key range
    vt.overwrite(orders.where(F.col("o_orderkey") % 3 == 0).coalesce(1))
    vt.set_properties({"vt.clusterBy": "o_orderkey"})
    for m in (1, 2):
        vt.append(orders.where(F.col("o_orderkey") % 3 == m).coalesce(1))
    files_before = len(vt.read().inputFiles())
    res = run_job(
        spark,
        {
            "maintenance": {
                "connection": {"url": root, "table": {"name": "t"}},
                "compact": {"targetFileBytes": 1 << 30},
                "checkpoint": True,
                "vacuum": {
                    "retainLast": 1,
                    "graceSeconds": 0,
                    "dryRun": True,
                },
            }
        },
    )
    m_c = vt._manifest(res.compact_version)
    if m_c["op"] != "compact" or not m_c["params"]["zorder"]:
        raise AssertionError("compact step must honor declared clusterBy")
    if res.checkpoint_version != res.compact_version:
        raise AssertionError("checkpoint must capture the packed snapshot")
    if not res.vacuum_dry_run:
        raise AssertionError("dry-run vacuum must list the stale files")
    if len(vt.read().inputFiles()) >= files_before:
        raise AssertionError("compaction must shrink the live file count")
    # dry run deleted nothing: every retired file is still on disk
    for rel in res.vacuum_dry_run:
        if not os.path.exists(os.path.join(vt.path, rel)):
            raise AssertionError("dryRun must not delete")
    return (
        vt.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(
                    F.col("o_totalprice").cast("decimal(18,2)")
                ).cast("double"),
                2,
            ).alias("total"),
        )
    )


_register(
    "w_versioned_maintenance_job",
    _w_versioned_maintenance_job,
    """
    SELECT o_orderstatus, count(*) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total
    FROM orders
    GROUP BY o_orderstatus
    """,
)


# ------------------------------------------ incremental clustering --
def _w_versioned_incremental_cluster(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental clustering through the DECLARATIVE surface (r15,
    Delta's incremental liquid clustering): two maintenance jobs on a
    vt.clusterBy table — the first clustering round is full (plants the
    anchor), fresh interleaved ingest lands, and the second round sorts
    ONLY the unclustered tail, carrying the first round's output by
    name. Asserted in-query from the manifests (params.cluster
    full → incremental; round-1 files survive round 2) plus the
    ordering-sensitive prune staying selective over the mixed layout.
    Rows never move, so the result equals a plain aggregate."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.runner import run_job
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wic-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders")
    vt = VersionedTable(spark, os.path.join(root, "t"))
    vt.overwrite(orders.where(F.col("o_orderkey") % 3 == 0).coalesce(1))
    vt.set_properties({"vt.clusterBy": "o_orderkey"})
    vt.append(orders.where(F.col("o_orderkey") % 3 == 1).coalesce(1))

    def maint():
        return run_job(
            spark,
            {
                "maintenance": {
                    "connection": {"url": root, "table": {"name": "t"}},
                    "compact": {"targetFileBytes": 64 * 1024},
                }
            },
        )

    r1 = maint()
    if vt._manifest(r1.compact_version)["params"]["cluster"] != "full":
        raise AssertionError("first clustering round must be full")
    clustered = set(vt._state(r1.compact_version))
    vt.append(orders.where(F.col("o_orderkey") % 3 == 2).coalesce(1))
    r2 = maint()
    m2 = vt._manifest(r2.compact_version)
    if m2["params"]["cluster"] != "incremental":
        raise AssertionError("second round must sort only the tail")
    if not clustered <= set(vt._state(r2.compact_version)):
        raise AssertionError("round-1 output must be carried by name")
    hi = orders.agg(F.max("o_orderkey")).collect()[0][0]
    sel = vt.read(prune=[("o_orderkey", ">", 9 * hi // 10)])
    n_live = len(vt.read().inputFiles())
    # at tiny SF each clustering round emits ONE whole-range file (the
    # two rounds cover disjoint row sets, so both files match any key
    # predicate) — the strict-subset claim only has content once some
    # round split its sorted output, i.e. at 3+ live files
    if n_live > 2 and not len(sel.inputFiles()) < n_live:
        raise AssertionError("clustered layout must stay prunable")
    return vt.read().groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"),
            2,
        ).alias("total"),
    )


_register(
    "w_versioned_incremental_cluster",
    _w_versioned_incremental_cluster,
    """
    SELECT o_orderpriority, count(*) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total
    FROM orders
    GROUP BY o_orderpriority
    """,
)


# --------------------------------------------- spec-driven MERGE (CDC) --
def _w_versioned_spec_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The declarative CDC-apply loop in ONE JSON job spec
    (writeMode=merge + connection.changeFeedFrom): a source table takes
    an append and two overlapping UPDATEs, the job reads its row-level
    change feed, compresses to the latest image per key
    (keepLatestBy=_commit_version — the keep-latest window Delta's own
    CDC recipe ranks with), and conditionally merges into a target
    seeded with the base snapshot. Delete events ride the feed but the
    reader's where excludes them (delete propagation is its own
    policy). Oracle: the whole loop reduces to base ∪ shifted-appends
    with sequential +1000 price adjustments — double math mirrored
    left-associated, exactly as the two UPDATEs composed."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.runner import run_job
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wspm-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    hi = orders.agg(F.max("o_orderkey")).collect()[0][0]
    src = VersionedTable(spark, os.path.join(root, "src", "a"))
    src.overwrite(orders)  # v0: the already-synced base
    src.append(  # v1: fresh keys above the base range → feed inserts
        orders.where(F.col("o_orderkey") % 13 == 1).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(hi)
        )
    )
    src.update(  # v2: first price image
        "o_orderkey % 10 = 0", {"o_totalprice": "o_totalprice + 1000"}
    )
    src.update(  # v3: SECOND image for %20 keys — keepLatestBy must win
        "o_orderkey % 20 = 0", {"o_totalprice": "o_totalprice + 1000"}
    )
    src.delete("o_orderkey % 17 = 2")  # v4: excluded by the reader where

    tgt = VersionedTable(spark, os.path.join(root, "tgt", "b"))
    tgt.overwrite(orders)
    run_job(
        spark,
        {
            "reader": {
                "dialect": "versioned",
                "connection": {
                    "url": os.path.join(root, "src"),
                    "table": {"name": "a"},
                    "changeFeedFrom": 0,
                },
                "column": ["*"],
                "where": "_change_type IN ('insert', 'update_postimage')",
            },
            "writer": {
                "connection": {
                    "url": os.path.join(root, "tgt"),
                    "table": {"name": "b"},
                },
                "writeMode": "merge",
                "versioned": True,
                "mergeKeys": ["o_orderkey"],
                "keepLatestBy": "_commit_version",
                "column": ["o_orderkey", "o_orderstatus", "o_totalprice"],
                "whenMatchedCondition": (
                    "NOT (source.o_totalprice <=> target.o_totalprice)"
                ),
            },
        },
    )
    if tgt.latest_version() != 1:
        raise AssertionError("the CDC apply must land as ONE commit")
    return tgt.read().groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                "double"
            ),
            2,
        ).alias("total"),
    )


_register(
    "w_versioned_spec_merge",
    _w_versioned_spec_merge,
    """
    WITH hi AS (SELECT max(o_orderkey) AS hi FROM orders),
    un AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      UNION ALL
      SELECT o_orderkey + (SELECT hi FROM hi), o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 13 = 1
    ),
    adj AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 20 = 0
                    THEN (o_totalprice + 1000) + 1000
                  WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000
                  ELSE o_totalprice END AS o_totalprice
      FROM un
    )
    SELECT o_orderstatus, count(*) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total
    FROM adj GROUP BY o_orderstatus
    """,
)


# ----------------------------------------- bloom-filter point lookup --
def _w_versioned_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter data skipping for the point lookup min/max cannot
    serve (Delta's bloom filter index, as_etl_storage_spark/writers/
    bloom.py): three files bucketed by ``o_custkey % 3`` each span the
    WHOLE key range of the string key ``'c' || o_custkey`` — min/max
    bounds keep all of them (asserted in-query as the premise) — yet
    the equality probe on the max custkey scans exactly ONE file,
    proven absent from the others by their split-block bloom filters.
    The probe rides the same ``read(prune=...)`` path the JSON job
    spec's ``where`` feeds, so spec-driven jobs get the index for free
    once the TBLPROPERTY is set."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wbp-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("ck"),
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
    )
    hi = orders.agg(F.max("o_custkey")).collect()[0][0]
    vt = VersionedTable(spark, os.path.join(root, "t"))
    # seed outside the key range so ITS file min/max-prunes away (it
    # was written before the property and carries no filter)
    vt.overwrite(
        orders.where(F.col("o_custkey") < 0).unionAll(
            spark.createDataFrame(
                [("zzz-seed", -1, -1, 0.0)], orders.schema
            )
        ).coalesce(1)
    )
    vt.set_properties(
        {"vt.bloomFilter.columns": "ck", "vt.bloomFilter.fpp": "0.001"}
    )
    for b in range(3):
        vt.append(orders.where(F.col("o_custkey") % 3 == b).coalesce(1))
    key = f"c{hi}"
    latest = vt.latest_version()
    files = vt._state(latest)
    # premise: min/max alone keeps every bucket file for this key
    minmax = vt._prune_files(
        files, vt._stats_at(latest), [("ck", "=", key)], {}
    )
    if len(minmax) != 3:
        raise AssertionError(
            f"premise broken: min/max should keep the 3 bucket files, "
            f"kept {len(minmax)}"
        )
    df = vt.read(prune=[("ck", "=", key)])
    if len(df.inputFiles()) != 1:
        raise AssertionError(
            f"bloom index should prove the key absent from 2 of 3 "
            f"bucket files; scanned {len(df.inputFiles())}"
        )
    return df.groupBy("ck").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                "double"
            ),
            2,
        ).alias("total"),
    )


_register(
    "w_versioned_bloom_prune",
    _w_versioned_bloom_prune,
    """
    SELECT 'c' || CAST(o_custkey AS VARCHAR) AS ck, count(*) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total
    FROM orders
    WHERE o_custkey = (SELECT max(o_custkey) FROM orders)
    GROUP BY ck
    """,
)


# ------------------------------------------------- auto-compaction --
def _w_versioned_auto_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-commit auto-compaction under append-only ingest (Delta's
    autoOptimize.autoCompact, the vt.autoCompact.minFiles TBLPROPERTY):
    twelve single-file appends — the streaming micro-batch shape — keep
    the live file count bounded under the threshold, with zero rows
    lost or duplicated (the oracle aggregates the same union), and
    every compaction commit is ``data_change: false`` so incremental
    consumers skip the maintenance wholesale. Asserted in-query: the
    bound, that compactions really fired, and their CDF invisibility."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wac-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    vt = VersionedTable(spark, os.path.join(root, "t"))
    vt.overwrite(orders.where(F.col("o_orderkey") % 12 == 0).coalesce(1))
    vt.set_properties({"vt.autoCompact.minFiles": "5"})
    for b in range(1, 12):
        vt.append(
            orders.where(F.col("o_orderkey") % 12 == b).coalesce(1),
            txn=("ingest", b),
        )
    n_files = len(vt._state(vt.latest_version()))
    if n_files >= 5:
        raise AssertionError(
            f"auto-compaction failed to bound the file count: {n_files}"
        )
    hist = vt.history()
    compacts = [m for m in hist if m.get("op") == "compact"]
    if not compacts:
        raise AssertionError("auto-compaction never fired")
    if any(m.get("data_change") is not False for m in compacts):
        raise AssertionError("compaction commits must be data_change: false")
    return vt.read().groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                "double"
            ),
            2,
        ).alias("total"),
    )


_register(
    "w_versioned_auto_compact",
    _w_versioned_auto_compact,
    """
    SELECT o_orderstatus, count(*) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total
    FROM orders GROUP BY o_orderstatus
    """,
)


# ----------------------------------------------------- row tracking --
def _w_versioned_row_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable row IDs through the full DML lifecycle (r16, Delta's row
    tracking): enable materializes a hidden ``_row_id`` on every row
    (backfill), then update / OPTIMIZE / DELETE / MERGE run and the
    in-query asserts pin the contract — ids are dense 0..n-1 at
    enablement, the id MULTISET is invariant under update and compact
    (fingerprinted in-plan: count + sum + bit_xor), survivors keep
    their ids under delete while deleted ids NEVER reappear
    (re-inserting a deleted key allocates a fresh id above the mark),
    merge-matched rows keep the target's id, and the CDF update
    pre/postimages PAIR one-to-one by ``_row_id``
    (change_feed(with_row_ids=True)) — the merge-free CDC-join
    primitive. The ``row-tracking`` protocol feature is asserted on the
    log so pre-feature readers fail fast by name. The id column is
    invisible to plain reads, so the result equals the oracle's
    restatement of the same DML over the raw table."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wrt-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        F.col("o_orderstatus").alias("s"),
    )
    vt = VersionedTable(spark, os.path.join(root, "t"))
    vt.overwrite(orders.repartition(4))
    vt.enable_row_tracking()

    def fp(df):
        # in-plan id-multiset fingerprint: one single-row aggregate
        r = df.agg(
            F.count("*").alias("n"),
            F.count_distinct("_row_id").alias("d"),
            F.sum("_row_id").alias("s"),
            F.expr("bit_xor(_row_id)").alias("x"),
            F.min("_row_id").alias("lo"),
            F.max("_row_id").alias("hi"),
        ).collect()[0]
        return r["n"], r["d"], r["s"], r["x"], r["lo"], r["hi"]

    n0, d0, s0, x0, lo0, hi0 = fp(vt.read(with_row_ids=True))
    if not (n0 == d0 and lo0 == 0 and hi0 == n0 - 1):
        raise AssertionError("enablement must allocate dense ids 0..n-1")
    if "row-tracking" not in vt._features_at(vt.latest_version()):
        raise AssertionError("row-tracking protocol feature must be set")
    # UPDATE: ids are invariant (the multiset fingerprint is unchanged)
    vt.update("k % 7 = 0", {"p": "CAST(p + 100 AS DECIMAL(18,2))"})
    if fp(vt.read(with_row_ids=True)) != (n0, d0, s0, x0, lo0, hi0):
        raise AssertionError("UPDATE must preserve every row id")
    # OPTIMIZE: layout maintenance never loses row identity
    vt.compact(target_file_bytes=256 * 1024)
    if fp(vt.read(with_row_ids=True)) != (n0, d0, s0, x0, lo0, hi0):
        raise AssertionError("compact must preserve every row id")
    # DELETE: survivors keep theirs; the doomed ids leave the table
    doomed = vt.read(with_row_ids=True).where("k % 5 = 0").select("_row_id")
    n_doom = doomed.count()
    vt.delete("k % 5 = 0")
    after_del = vt.read(with_row_ids=True)
    nd, dd, *_ = fp(after_del)
    if nd != n0 - n_doom or dd != nd:
        raise AssertionError("delete must retire exactly the doomed ids")
    if after_del.join(doomed, on="_row_id", how="left_semi").count():
        raise AssertionError("a deleted id reappeared")
    # MERGE: matched rows keep the TARGET's id; not-matched (incl. the
    # re-insert of deleted keys) allocate FRESH ids above the mark
    pre_merge = vt.read(with_row_ids=True).select(
        "k", F.col("_row_id").alias("id_before")
    )
    vt.merge(
        orders.where("k % 11 = 0").withColumn(
            "p", (F.col("p") * 2).cast("decimal(18,2)")
        ),
        ["k"],
    )
    post = vt.read(with_row_ids=True)
    moved = (
        post.join(pre_merge, on="k")
        .where(F.col("_row_id") != F.col("id_before"))
        .count()
    )
    if moved:
        raise AssertionError("merge-matched rows must keep their ids")
    fresh = post.join(pre_merge, on="k", how="left_anti")
    lo_fresh = fresh.agg(F.min("_row_id")).collect()[0][0]
    if lo_fresh is None or lo_fresh <= hi0:
        raise AssertionError("merge inserts must allocate above the mark")
    if fresh.join(doomed, on="_row_id", how="left_semi").count():
        raise AssertionError("a deleted id was re-issued")
    # CDF: update pre/postimages pair ONE-TO-ONE by _row_id
    cf = vt.change_feed(
        from_version=vt.latest_version() - 1, with_row_ids=True
    )
    pre_i = cf.where("_change_type = 'update_preimage'").select(
        "_row_id", F.col("p").alias("p_pre")
    )
    post_i = cf.where("_change_type = 'update_postimage'").select(
        "_row_id", F.col("p").alias("p_post")
    )
    n_pre, n_post, n_pair = (
        pre_i.count(),
        post_i.count(),
        pre_i.join(post_i, on="_row_id").count(),
    )
    if not (n_pre == n_post == n_pair and n_pair > 0):
        raise AssertionError("CDF images must pair one-to-one by _row_id")
    # the hidden column never leaks into the logical surface
    if "_row_id" in vt.read().columns or "_row_id" in [
        f.name for f in vt.table_schema().fields
    ]:
        raise AssertionError("_row_id must stay hidden from plain reads")
    return vt.read().groupBy("s").agg(
        F.count("*").alias("n"),
        F.round(F.sum("p").cast("double"), 2).alias("total"),
    )


_register(
    "w_versioned_row_tracking",
    _w_versioned_row_tracking,
    """
    SELECT s, count(*) AS n, round(CAST(sum(p2) AS DOUBLE), 2) AS total
    FROM (
        SELECT o_orderstatus AS s,
               CASE
                 WHEN o_orderkey % 11 = 0
                   THEN CAST(o_totalprice AS DECIMAL(18,2)) * 2
                 WHEN o_orderkey % 7 = 0
                   THEN CAST(o_totalprice AS DECIMAL(18,2)) + 100
                 ELSE CAST(o_totalprice AS DECIMAL(18,2))
               END AS p2,
               o_orderkey AS k
        FROM orders
    )
    WHERE k % 11 = 0 OR k % 5 <> 0
    GROUP BY s
    """,
)


# --------------------------------------- declarative table lifecycle --
def _w_versioned_spec_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full table lifecycle from JSON job specs (r16): CONVERT
    adopts a plain-parquet directory in place (zero rewrite), a second
    maintenance job then RESTOREs the table past an unwanted append,
    enables ROW TRACKING (backfill), OPTIMIZEs, checkpoints, SHALLOW
    CLONEs the result and dry-run vacuums — the declared step order
    convert → restore → enableRowTracking → compact → checkpoint →
    clone → vacuum. Asserted in-query: the convert commits v0 over the
    original bytes, the restore returns exactly the converted content,
    row ids come back dense, the clone is an independent table with the
    same rows AND the same ids, and the dry run deletes nothing. The
    result aggregates the CLONE — equal to the oracle's aggregate over
    the adopted slice."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.runner import run_job
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wsl-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    keep = orders.where("o_orderkey % 4 = 0")
    keep.coalesce(2).write.parquet(os.path.join(root, "t"))

    def job(**steps):
        return {
            "maintenance": {
                "connection": {"url": root, "table": {"name": "t"}},
                **steps,
            }
        }

    res1 = run_job(spark, job(convert={}))
    if res1.convert_version != 0:
        raise AssertionError("convert must commit v0 in place")
    vt = VersionedTable(spark, os.path.join(root, "t"))
    n0 = vt.count()
    # an unwanted append the restore must roll back
    vt.append(orders.where("o_orderkey % 4 = 1"))
    res2 = run_job(
        spark,
        job(
            restore={"version": 0},
            enableRowTracking=True,
            compact={"targetFileBytes": 1 << 30},
            checkpoint=True,
            clone={"target": os.path.join(root, "t_dev")},
            vacuum={"retainLast": 1, "graceSeconds": 3600, "dryRun": True},
        ),
    )
    if res2.restore_version is None or vt.count() != n0:
        raise AssertionError("restore must roll the content back")
    if res2.row_tracking_version is None:
        raise AssertionError("enableRowTracking must commit")
    if res2.checkpoint_version != res2.compact_version:
        raise AssertionError("checkpoint must capture the packed snapshot")
    if res2.clone_path != os.path.join(root, "t_dev"):
        raise AssertionError("clone must land at the declared target")
    clone = VersionedTable(spark, res2.clone_path)
    ids = clone.read(with_row_ids=True).agg(
        F.count("*").alias("n"),
        F.count_distinct("_row_id").alias("d"),
        F.min("_row_id").alias("lo"),
        F.max("_row_id").alias("hi"),
    ).collect()[0]
    if not (
        ids["n"] == n0
        and ids["d"] == n0
        and ids["lo"] == 0
        and ids["hi"] == n0 - 1
    ):
        raise AssertionError("the clone must carry the backfilled dense ids")
    for rel in res2.vacuum_dry_run:
        if not os.path.exists(os.path.join(vt.path, rel)):
            raise AssertionError("dryRun must not delete")
    return clone.read().groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"),
            2,
        ).alias("total"),
    )


_register(
    "w_versioned_spec_lifecycle",
    _w_versioned_spec_lifecycle,
    """
    SELECT o_orderstatus, count(*) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total
    FROM orders
    WHERE o_orderkey % 4 = 0
    GROUP BY o_orderstatus
    """,
)


# ------------------------------------------------- cluster-on-write --
def _w_versioned_cluster_on_write(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cluster-on-write (r16, Delta's liquid clustering at ingest):
    with ``vt.clusterBy.onWrite=true`` every append is range-partitioned
    and sorted on the declared keys BEFORE the write, so a freshly
    appended, never-compacted table already serves an ordering-sensitive
    prune selectively — asserted in-query via inputFiles — and the
    incremental maintenance round that follows is a zero-cost no-op
    (the born-sorted files are already clustered; asserted from the
    version number). Rows never move, so the result equals a plain
    aggregate over the same slice."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wcow-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders")
    vt = VersionedTable(spark, os.path.join(root, "t"))
    vt.overwrite(orders.where("o_orderkey % 3 = 0").repartition(2))
    vt.set_properties(
        {"vt.clusterBy": "o_orderkey", "vt.clusterBy.onWrite": "true"}
    )
    # re-seed under the property (born fully clustered = the anchor),
    # then interleaved ingest — each batch spans the whole key range,
    # but cluster-on-write sorts it into tight-bounded files
    vt.overwrite(orders.where("o_orderkey % 3 = 0").repartition(2))
    for m in (1, 2):
        vt.append(orders.where(f"o_orderkey % 3 = {m}").repartition(2))
    hi = orders.agg(F.max("o_orderkey")).collect()[0][0]
    n_all = len(vt.read().inputFiles())
    sel = vt.read(
        prune=[("o_orderkey", ">", 9 * hi // 10)]
    )
    if n_all > 3 and not len(sel.inputFiles()) < n_all:
        raise AssertionError(
            "cluster-on-write must give fresh ingest prunable bounds"
        )
    # born-sorted right-sized files: maintenance finds an empty tail
    v = vt.latest_version()
    if vt.compact(target_file_bytes=1024) != v:
        raise AssertionError(
            "incremental maintenance must no-op on born-clustered files"
        )
    return vt.read().groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"),
            2,
        ).alias("total"),
    )


_register(
    "w_versioned_cluster_on_write",
    _w_versioned_cluster_on_write,
    """
    SELECT o_orderpriority, count(*) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total
    FROM orders
    GROUP BY o_orderpriority
    """,
)


# --------------------------------------- incremental materialized view --
def _w_versioned_incremental_mv(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Row-id-keyed incremental materialized view over the CDF (r17):
    a declarative {materialize: ...} job keeps a filtered per-row
    transform of a row-tracked source continuously true — the
    reference's reader → transform → writer batch job
    (reader/job.go:122 → writer/job.go:63) restated as an incremental
    loop. The cycle here: initial build, then append + delete + an
    update that moves rows ACROSS the view's filter boundary, one
    incremental refresh (net change feed applied with two id-keyed
    merges), then a layout-only source commit whose refresh must touch
    ZERO view data files. Asserted in-query: the refresh modes come
    back initial/incremental/bookmark in order, the view exactly
    equals a from-scratch rebuild of its definition (both exceptAll
    directions empty), and the bookmark refresh left the view's data
    file set byte-identical. The result aggregates the VIEW; the
    oracle replays the same DML as SQL over the orders table."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.runner import run_job
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wmv-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    src = VersionedTable(spark, os.path.join(root, "src"))
    src.overwrite(orders.where("o_orderkey % 3 = 0"))
    src.enable_row_tracking()

    job = {
        "materialize": {
            "connection": {"url": root, "table": {"name": "src"}},
            "target": os.path.join(root, "view"),
            "select": [
                "o_orderkey",
                "o_orderstatus",
                "CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS double_price",
            ],
            "where": "o_totalprice > 150000",
        }
    }
    r1 = run_job(spark, job)
    if r1.mode != "initial":
        raise AssertionError(f"first run must build, got {r1.mode}")
    # the DML cycle: ingest, retention delete, a restating update that
    # moves rows across the filter boundary (into the view)
    src.append(orders.where("o_orderkey % 3 = 1"))
    src.delete("o_orderkey % 10 = 1")
    src.update(
        "o_orderkey % 7 = 0", {"o_totalprice": "o_totalprice + 100000"}
    )
    r2 = run_job(spark, job)
    if r2.mode != "incremental" or not r2.upserts:
        raise AssertionError(
            f"DML must apply incrementally, got {r2.mode}"
        )
    view = VersionedTable(spark, r2.view_path)
    # the view must EXACTLY equal a from-scratch rebuild (ignoring the
    # id key, which a rebuild would re-derive identically anyway)
    fresh = (
        src.read()
        .where("o_totalprice > 150000")
        .select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_totalprice").cast("decimal(18,2)") * 2).alias(
                "double_price"
            ),
        )
    )
    got = view.read().drop("_src_row_id")
    if got.exceptAll(fresh).count() or fresh.exceptAll(got).count():
        raise AssertionError("view diverged from a from-scratch rebuild")
    # a layout-only source commit refreshes as a bookmark: one metadata
    # commit, zero view data files touched
    files_before = sorted(view._state(view.latest_version()))
    if src.compact(target_file_bytes=1 << 30) == r2.source_version:
        raise AssertionError("compact must commit a layout-only version")
    r3 = run_job(spark, job)
    if r3.mode != "bookmark":
        raise AssertionError(
            f"layout-only refresh must bookmark, got {r3.mode}"
        )
    if sorted(view._state(view.latest_version())) != files_before:
        raise AssertionError(
            "a bookmark refresh touched the view's data files"
        )
    return view.read().groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum("double_price").cast("double"), 2
        ).alias("total"),
    )


_register(
    "w_versioned_incremental_mv",
    _w_versioned_incremental_mv,
    """
    WITH src AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 7 = 0
                    THEN o_totalprice + 100000
                    ELSE o_totalprice END AS o_totalprice
        FROM orders
        WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 10 <> 1
    ), v AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS double_price
        FROM src
        WHERE o_totalprice > 150000
    )
    SELECT o_orderstatus, count(*) AS n,
           round(CAST(sum(double_price) AS DOUBLE), 2) AS total
    FROM v
    GROUP BY o_orderstatus
    """,
)


# ----------------------------------------- aggregate materialized view --
def _w_versioned_aggregate_mv(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Aggregate incremental materialized view (r17): a groupBy +
    count/sum view maintained by ±delta from the change feed ALONE —
    no row tracking needed, groups key on their own columns. Inserts
    and update postimages add, deletes and update preimages subtract,
    per-group deltas fold in with ONE group-keyed merge, and a group
    whose live-row count reaches zero is swept from the view. The
    cycle: initial build on an untracked source, append + retention
    delete + a filter-crossing update, one incremental refresh, then a
    whole-group kill whose refresh must remove the group row, then a
    layout-only commit whose refresh must touch zero view data files.
    Asserted in-query: mode transitions, exact equality with a
    from-scratch aggregation at every step, the swept group, and the
    untouched file set. The result IS the view; the oracle replays the
    DML as SQL over orders."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.runner import run_job
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wamv-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    src = VersionedTable(spark, os.path.join(root, "src"))
    src.overwrite(orders.where("o_orderkey % 3 = 0"))
    # NOTE: no enable_row_tracking — the aggregate form needs only CDF

    job = {
        "materialize": {
            "connection": {"url": root, "table": {"name": "src"}},
            "target": os.path.join(root, "view"),
            "groupBy": ["o_orderstatus"],
            "aggregates": {
                "n": "count(*)",
                "total_dec": "sum(CAST(o_totalprice AS DECIMAL(18,2)))",
            },
            "where": "o_totalprice > 150000",
        }
    }

    def fresh():
        return (
            src.read()
            .where("o_totalprice > 150000")
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    F.col("o_totalprice").cast("decimal(18,2)")
                ).alias("total_dec"),
            )
        )

    def assert_matches(view, when):
        got = view.read().select("o_orderstatus", "n", "total_dec")
        f = fresh()
        if got.exceptAll(f).count() or f.exceptAll(got).count():
            raise AssertionError(f"aggregate view diverged {when}")

    r1 = run_job(spark, job)
    if r1.mode != "initial":
        raise AssertionError(f"first run must build, got {r1.mode}")
    view = VersionedTable(spark, r1.view_path)
    assert_matches(view, "after the initial build")
    src.append(orders.where("o_orderkey % 3 = 1"))
    src.delete("o_orderkey % 10 = 1")
    src.update(
        "o_orderkey % 7 = 0", {"o_totalprice": "o_totalprice + 100000"}
    )
    r2 = run_job(spark, job)
    if r2.mode != "incremental" or not r2.upserts:
        raise AssertionError(f"DML must fold incrementally, got {r2.mode}")
    assert_matches(view, "after the DML cycle")
    # whole-group kill: the status row must LEAVE the view, not remain
    # as a zero-count husk
    src.delete("o_orderstatus = 'P'")
    r3 = run_job(spark, job)
    if r3.mode != "incremental":
        raise AssertionError(f"group kill must fold, got {r3.mode}")
    if view.read().where("o_orderstatus = 'P'").count():
        raise AssertionError("a dead group survived in the view")
    assert_matches(view, "after the group kill")
    # layout-only source commit: bookmark, zero view data files touched
    files_before = sorted(view._state(view.latest_version()))
    if src.compact(target_file_bytes=1 << 30) == r3.source_version:
        raise AssertionError("compact must commit a layout-only version")
    r4 = run_job(spark, job)
    if r4.mode != "bookmark":
        raise AssertionError(f"layout-only must bookmark, got {r4.mode}")
    if sorted(view._state(view.latest_version())) != files_before:
        raise AssertionError(
            "a bookmark refresh touched the view's data files"
        )
    return view.read().select(
        "o_orderstatus",
        "n",
        F.round(F.col("total_dec").cast("double"), 2).alias("total"),
    )


_register(
    "w_versioned_aggregate_mv",
    _w_versioned_aggregate_mv,
    """
    WITH src AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 7 = 0
                    THEN o_totalprice + 100000
                    ELSE o_totalprice END AS o_totalprice
        FROM orders
        WHERE o_orderkey % 3 IN (0, 1)
          AND o_orderkey % 10 <> 1
          AND o_orderstatus <> 'P'
    )
    SELECT o_orderstatus, count(*) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE),
                 2) AS total
    FROM src
    WHERE o_totalprice > 150000
    GROUP BY o_orderstatus
    """,
)


# ------------------------------------- min/max/avg materialized view --
def _w_versioned_mv_minmax(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """min/max/avg incremental materialized view (r17): avg folds
    abelian on hidden sum/count state columns; min/max fold on inserts
    (least/greatest against the stored extreme) and RECOMPUTE only the
    groups whose stored extreme a removal may have invalidated — the
    dirty set. The cycle: initial build, a pure-insert refresh that
    must fold with ZERO recomputed groups (the steady-state claim made
    measurable), then a delete of every group's max WITNESS rows whose
    refresh must mark every group dirty and still land exactly on a
    from-scratch aggregation. Asserted in-query at each step; the
    oracle replays the DML with a window (drop each group's post-append
    max) over orders."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.runner import run_job
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wmmv-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    src = VersionedTable(spark, os.path.join(root, "src"))
    src.overwrite(orders.where("o_orderkey % 3 = 0"))

    job = {
        "materialize": {
            "connection": {"url": root, "table": {"name": "src"}},
            "target": os.path.join(root, "view"),
            "groupBy": ["o_orderstatus"],
            "aggregates": {
                "n": "count(*)",
                "avg_price": "avg(o_totalprice)",
                "lo": "min(o_totalprice)",
                "hi": "max(o_totalprice)",
            },
        }
    }

    def fresh():
        return (
            src.read()
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n"),
                F.avg("o_totalprice").alias("avg_price"),
                F.min("o_totalprice").alias("lo"),
                F.max("o_totalprice").alias("hi"),
            )
        )

    def assert_matches(view, when):
        got = view.read().select(
            "o_orderstatus", "n", "avg_price", "lo", "hi"
        )
        f = fresh()
        if got.exceptAll(f).count() or f.exceptAll(got).count():
            raise AssertionError(f"min/max/avg view diverged {when}")

    r1 = run_job(spark, job)
    if r1.mode != "initial":
        raise AssertionError(f"first run must build, got {r1.mode}")
    view = VersionedTable(spark, r1.view_path)
    assert_matches(view, "after the initial build")
    # pure inserts: every group folds clean, ZERO source rows re-read
    src.append(orders.where("o_orderkey % 3 = 1"))
    r2 = run_job(spark, job)
    if r2.mode != "incremental" or r2.recomputed != 0:
        raise AssertionError(
            f"a pure-insert refresh must fold without recompute, got "
            f"mode={r2.mode} recomputed={r2.recomputed}"
        )
    assert_matches(view, "after the pure-insert fold")
    n_groups = view.read().count()
    # remove every group's max WITNESS rows: each stored extreme loses
    # its witness, so the refresh must recompute exactly every group
    mx = (
        src.read()
        .groupBy("o_orderstatus")
        .agg(F.max("o_totalprice").alias("mx"))
        .collect()
    )
    for row in mx:
        src.delete(
            f"o_orderstatus = '{row.o_orderstatus}' "
            f"AND o_totalprice = {row.mx!r}"
        )
    r3 = run_job(spark, job)
    if r3.mode != "incremental" or r3.recomputed != n_groups:
        raise AssertionError(
            f"deleting every max witness must dirty every group, got "
            f"mode={r3.mode} recomputed={r3.recomputed} of {n_groups}"
        )
    assert_matches(view, "after the max-witness deletes")
    return view.read().select(
        "o_orderstatus",
        "n",
        F.round(F.col("avg_price"), 2).alias("avg_price"),
        F.round(F.col("lo"), 2).alias("lo"),
        F.round(F.col("hi"), 2).alias("hi"),
    )


_register(
    "w_versioned_mv_minmax",
    _w_versioned_mv_minmax,
    """
    WITH base AS (
        SELECT o_orderstatus, o_totalprice,
               max(o_totalprice)
                   OVER (PARTITION BY o_orderstatus) AS __mx
        FROM orders
        WHERE o_orderkey % 3 IN (0, 1)
    ),
    survivors AS (
        SELECT o_orderstatus, o_totalprice
        FROM base
        WHERE o_totalprice < __mx
    )
    SELECT o_orderstatus, count(*) AS n,
           round(avg(o_totalprice), 2) AS avg_price,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM survivors
    GROUP BY o_orderstatus
    """,
)


# ----------------------------------------- enrichment (join) MV --------
def _w_versioned_mv_enrich(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dimension-enrichment incremental materialized view (r17): the
    join form keeps fact ⋈ dim continuously true from BOTH change
    feeds. Source DML refreshes id-keyed with ZERO dim keys recomputed
    (asserted); dimension DML recomputes ONLY the source rows holding
    affected join keys — the refresh reports exactly the touched-key
    count (asserted against an in-query count), and the >64-key
    affected set exercises the broadcast-semi-join scoped-snapshot
    path. Exact equality with a from-scratch join at every step; the
    oracle replays the DML as a LEFT JOIN with a CASE over customer."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.runner import run_job
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wemv-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    src = VersionedTable(spark, os.path.join(root, "fact"))
    src.overwrite(orders.where("o_orderkey % 3 = 0"))
    src.enable_row_tracking()
    dim = VersionedTable(spark, os.path.join(root, "dim"))
    dim.overwrite(customer)

    job = {
        "materialize": {
            "connection": {"url": root, "table": {"name": "fact"}},
            "target": os.path.join(root, "view"),
            "join": {
                "connection": {"table": {"name": "dim"}},
                "on": ["o_custkey"],
                "how": "left",
                "select": [
                    "c_custkey AS o_custkey",
                    "c_name",
                    "c_acctbal",
                ],
            },
            "select": [
                "o_orderkey",
                "o_custkey",
                "o_totalprice",
                "c_name",
                # exact decimal arithmetic: double near-ties round
                # differently between engines at the last cent
                "CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.1 AS DECIMAL(2,1)) + CAST(coalesce(c_acctbal, 0.0) AS DECIMAL(18,2)) AS score",
            ],
        }
    }

    def fresh():
        return (
            src.read()
            .join(
                dim.read().select(
                    F.col("c_custkey").alias("o_custkey"),
                    "c_name",
                    "c_acctbal",
                ),
                "o_custkey",
                "left",
            )
            .select(
                "o_orderkey",
                "o_custkey",
                "o_totalprice",
                "c_name",
                F.expr("CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.1 AS DECIMAL(2,1)) + CAST(coalesce(c_acctbal, 0.0) AS DECIMAL(18,2))").alias("score"),
            )
        )

    def assert_matches(view, when):
        got = view.read().select(
            "o_orderkey", "o_custkey", "o_totalprice", "c_name", "score"
        )
        f = fresh()
        if got.exceptAll(f).count() or f.exceptAll(got).count():
            raise AssertionError(f"enrichment view diverged {when}")

    r1 = run_job(spark, job)
    if r1.mode != "initial":
        raise AssertionError(f"first run must build, got {r1.mode}")
    view = VersionedTable(spark, r1.view_path)
    assert_matches(view, "after the initial build")
    # fact-only DML: id-keyed, no dim key recomputed
    src.append(orders.where("o_orderkey % 3 = 1"))
    src.delete("o_orderkey % 10 = 1")
    r2 = run_job(spark, job)
    if r2.mode != "incremental" or r2.recomputed != 0:
        raise AssertionError(
            f"fact-only DML must be id-keyed, got mode={r2.mode} "
            f"recomputed={r2.recomputed}"
        )
    assert_matches(view, "after the fact DML")
    # dim DML: every 5th customer's balance moves, a band of customers
    # leaves — the refresh must recompute EXACTLY the touched keys
    dim.update("c_custkey % 5 = 0", {"c_acctbal": "c_acctbal + 1000.0"})
    dim.delete("c_custkey % 7 = 3")
    # distinct affected keys = (updated keys) ∪ (deleted keys), both
    # counted over the ORIGINAL dim (every one produced feed events)
    n_updated = customer.where("c_custkey % 5 = 0").count()
    n_deleted = customer.where(
        "c_custkey % 7 = 3 AND c_custkey % 5 <> 0"
    ).count()
    r3 = run_job(spark, job)
    expect = n_updated + n_deleted
    if r3.mode != "incremental" or r3.recomputed != expect:
        raise AssertionError(
            f"dim DML must recompute exactly the touched keys: got "
            f"recomputed={r3.recomputed}, expected {expect}"
        )
    assert_matches(view, "after the dim DML")
    return view.read().select(
        "o_orderkey",
        "o_custkey",
        "c_name",
        F.round(F.col("score"), 2).cast("double").alias("score"),
    )


_register(
    "w_versioned_mv_enrich",
    _w_versioned_mv_enrich,
    """
    WITH fact AS (
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_orderkey % 3 IN (0, 1)
          AND o_orderkey % 10 <> 1
    ),
    dim AS (
        SELECT c_custkey,
               c_name,
               CASE WHEN c_custkey % 5 = 0
                    THEN c_acctbal + 1000.0
                    ELSE c_acctbal END AS c_acctbal
        FROM customer
        WHERE c_custkey % 7 <> 3
    )
    SELECT f.o_orderkey, f.o_custkey, d.c_name,
           CAST(round(CAST(f.o_totalprice AS DECIMAL(18,2))
                          * CAST(0.1 AS DECIMAL(2,1))
                      + CAST(coalesce(d.c_acctbal, 0.0) AS DECIMAL(18,2)),
                      2) AS DOUBLE) AS score
    FROM fact f LEFT JOIN dim d ON f.o_custkey = d.c_custkey
    """,
)


# -------------------------------------------------- pipeline job -------
def _w_versioned_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Declarative pipeline job (r17): ONE spec runs a stacked view DAG
    — enrichment (orders ⋈ customer) feeding a per-market-segment
    aggregate — with the steps auto-ordered by their data dependencies
    (the aggregate is DECLARED FIRST; the stable toposort must refresh
    the enrichment before it, asserted on the step order). A second
    tick after DML on BOTH bases must refresh each layer incrementally
    and land the downstream view exactly on a from-scratch computation.
    The oracle replays the whole DAG as one SQL join+group-by."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from as_etl_storage_spark.queries.parity import _scratch_dir
    from as_etl_storage_spark.runner import run_job
    from as_etl_storage_spark.writers.versioned import VersionedTable

    root = os.path.join(_scratch_dir(), f"wpipe-{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    src = VersionedTable(spark, os.path.join(root, "fact"))
    src.overwrite(orders.where("o_orderkey % 3 = 0"))
    src.enable_row_tracking()
    dim = VersionedTable(spark, os.path.join(root, "dim"))
    dim.overwrite(customer)

    pipeline = {
        "pipeline": [
            {  # declared FIRST, depends on the enriched view below
                "materialize": {
                    "connection": {
                        "url": root,
                        "table": {"name": "enriched"},
                    },
                    "target": os.path.join(root, "by_segment"),
                    "groupBy": ["c_mktsegment"],
                    "aggregates": {
                        "n": "count(*)",
                        # decimal: exact associative addition, so the
                        # incremental fold lands bit-equal to a rebuild
                        "revenue": (
                            "sum(CAST(o_totalprice AS DECIMAL(18,2)))"
                        ),
                        "top": "max(o_totalprice)",
                    },
                }
            },
            {
                "materialize": {
                    "connection": {"url": root, "table": {"name": "fact"}},
                    "target": os.path.join(root, "enriched"),
                    "join": {
                        "connection": {"table": {"name": "dim"}},
                        "on": ["o_custkey"],
                        "how": "inner",
                        "select": [
                            "c_custkey AS o_custkey",
                            "c_mktsegment",
                            "c_acctbal",
                        ],
                    },
                    "select": [
                        "o_orderkey",
                        "o_custkey",
                        "o_totalprice",
                        "c_mktsegment",
                    ],
                }
            },
        ]
    }

    r1 = run_job(spark, pipeline)
    if not r1.steps[0].view_path.endswith("enriched"):
        raise AssertionError(
            "the toposort must refresh the enrichment before the "
            "aggregate that consumes it"
        )
    if [s.mode for s in r1.steps] != ["initial", "initial"]:
        raise AssertionError(f"first tick must build, got {r1.steps}")
    # DML on both bases, then ONE tick refreshes the whole DAG
    src.append(orders.where("o_orderkey % 3 = 1"))
    src.delete("o_orderkey % 10 = 7")
    dim.delete("c_custkey % 6 = 2")
    r2 = run_job(spark, pipeline)
    if [s.mode for s in r2.steps] != ["incremental", "incremental"]:
        raise AssertionError(f"second tick must fold, got {r2.steps}")
    view = VersionedTable(spark, os.path.join(root, "by_segment"))
    got = view.read().select("c_mktsegment", "n", "revenue", "top")
    fresh = (
        src.read()
        .join(
            dim.read().select(
                F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
            ),
            "o_custkey",
            "inner",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.col("o_totalprice").cast("decimal(18,2)")
            ).alias("revenue"),
            F.max("o_totalprice").alias("top"),
        )
    )
    if got.exceptAll(fresh).count() or fresh.exceptAll(got).count():
        raise AssertionError("pipeline DAG diverged after the DML tick")
    return view.read().select(
        "c_mktsegment",
        "n",
        F.round(F.col("revenue").cast("double"), 2).alias("revenue"),
        F.round(F.col("top"), 2).alias("top"),
    )


_register(
    "w_versioned_pipeline",
    _w_versioned_pipeline,
    """
    WITH fact AS (
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_orderkey % 3 IN (0, 1)
          AND o_orderkey % 10 <> 7
    ),
    dim AS (
        SELECT c_custkey, c_mktsegment
        FROM customer
        WHERE c_custkey % 6 <> 2
    )
    SELECT d.c_mktsegment, count(*) AS n,
           round(CAST(sum(CAST(f.o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2) AS revenue,
           round(max(f.o_totalprice), 2) AS top
    FROM fact f JOIN dim d ON f.o_custkey = d.c_custkey
    GROUP BY d.c_mktsegment
    """,
)
