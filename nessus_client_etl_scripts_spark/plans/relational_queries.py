"""Relational-completeness query registry: temporal joins, outer/anti
joins, set operations, cube grouping, percentiles, and range frames.

The reference's query surface stops at inner equi-joins + one ranking
window (SURVEY.md §2.3/§2.5 — "Not present: outer/anti joins,
theta/range/as-of/interval joins"). A user switching engines gets these
for free from Spark, so the engine declares them as first-class,
oracle-verified operators over the same testdata star schema:

- q42 as-of join           (operators/temporal.as_of_join)
- q43 band/range join      (operators/temporal.band_join)
- q44 anti join            (left_anti + NOT EXISTS oracle)
- q45 set operations       (INTERSECT / EXCEPT)
- q46 cube grouping        (df.cube + grouping_id)
- q47 discrete percentiles (window-rank formulation, engine-exact)
- q48 range-frame window   (7-day trailing aggregate)

Cross-engine determinism follows testdata_queries.py's rules: decimal
aggregation of money columns, integer-floor epoch seconds (epoch_us //
1_000_000 on the DuckDB side matches Spark's micros-truncating cast),
explicit tiebreakers on every argmax.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, load_tables
from ..operators.temporal import as_of_join, band_join
from .testdata_queries import dsum, register
from ..pins import pin_lazy as _pin_lazy

# ---------------------------------------------------------------------------
# q42 — as-of join: for each click, the user's most recent prior purchase
# ---------------------------------------------------------------------------


@register(
    "q42_asof_click_purchase",
    """
SELECT c.user_id, c.event_id, c.ts,
       p.event_id AS asof_event_id,
       p.ts       AS asof_ts,
       p.value    AS asof_value
FROM (SELECT user_id, event_id, ts FROM events
      WHERE event_type = 'click') c
LEFT JOIN LATERAL (
  SELECT event_id, ts, value
  FROM events p
  WHERE p.event_type = 'purchase'
    AND p.user_id = c.user_id AND p.ts <= c.ts
  ORDER BY p.ts DESC, p.event_id DESC
  LIMIT 1) p ON TRUE
""",
)
def q42(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join — "last known value" point-in-time lookup.

    The oracle is the literal argmax (LATERAL top-1 per probe row); the
    engine runs the union-and-carry-forward plan: one shuffle on
    user_id + one sort, linear in |events| where the naive form is a
    per-row rescan. Ties on (user_id, ts) break on greatest event_id.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    return as_of_join(
        clicks,
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["event_id", "value"],
        right_tiebreaker="event_id",
    ).select(
        "user_id",
        "event_id",
        "ts",
        F.col("asof_event_id"),
        F.col("asof_ts"),
        F.col("asof_value"),
    )


# ---------------------------------------------------------------------------
# q43 — band join: error events within 120 s of a click by the same user
# ---------------------------------------------------------------------------


@register(
    "q43_band_error_click",
    """
SELECT e.user_id,
       e.event_id AS err_event_id,
       c.event_id AS click_event_id,
       (epoch_us(c.ts) // 1000000) - (epoch_us(e.ts) // 1000000) AS dt_sec
FROM events e
JOIN events c
  ON e.user_id = c.user_id
 AND e.event_type = 'error' AND c.event_type = 'click'
 AND ABS((epoch_us(e.ts) // 1000000) - (epoch_us(c.ts) // 1000000)) <= 120
""",
)
def q43(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band (range) join — |t_error − t_click| ≤ 120 s per user, as an
    equi-join on (user_id, time bucket). The oracle is the plain
    inequality join; the engine's bucketed plan shuffles once on
    (user_id, bucket) and never forms the |E|×|C| cross product.
    """
    ev = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("long")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("err_event_id"), sec.alias("err_sec")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_event_id"),
        sec.alias("click_sec"),
    )
    return band_join(
        errors, clicks, on=["user_id"], left_val="err_sec",
        right_val="click_sec", band=120,
    ).select(
        "user_id",
        "err_event_id",
        "click_event_id",
        (F.col("click_sec") - F.col("err_sec")).alias("dt_sec"),
    )


# ---------------------------------------------------------------------------
# q44 — anti join: customers with no orders, per nation
# ---------------------------------------------------------------------------


@register(
    "q44_anti_orderless_customers",
    """
SELECT n.n_name, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal_sum
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate < TIMESTAMP '1996-01-01')
GROUP BY n.n_name
""",
)
def q44(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS) — the TPC-H Q22 shape: customers with no
    order before 1996, per nation. The date predicate pushes into the
    orders scan (row-group skipping) before the key column is even
    materialized; Catalyst plans a hash anti join on o_custkey and the
    nation dim broadcasts."""
    t = load_tables(spark, sf_dir, ("customer", "orders", "nation"))
    orderless = t["customer"].join(
        t["orders"]
        .filter(F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
        .select("o_custkey"),
        F.col("c_custkey") == F.col("o_custkey"),
        "left_anti",
    )
    return (
        orderless.join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", "acctbal_sum"),
        )
    )


# ---------------------------------------------------------------------------
# q45 — set operations: INTERSECT / EXCEPT membership classes
# ---------------------------------------------------------------------------


@register(
    "q45_set_ops_membership",
    """
WITH clicks AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
     purch  AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT 'both' AS grp, user_id FROM (SELECT user_id FROM clicks INTERSECT SELECT user_id FROM purch)
UNION ALL
SELECT 'click_only' AS grp, user_id FROM (SELECT user_id FROM clicks EXCEPT SELECT user_id FROM purch)
UNION ALL
SELECT 'purchase_only' AS grp, user_id FROM (SELECT user_id FROM purch EXCEPT SELECT user_id FROM clicks)
""",
)
def q45(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations — intersect/except over distinct key sets,
    tagged into one relation. Both ops plan as aggregate + join under
    Catalyst (no sort needed); distinct key sets are small after the
    map-side partial distinct."""
    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
    )
    tag = lambda df, g: df.select(F.lit(g).alias("grp"), "user_id")  # noqa: E731
    return (
        tag(clicks.intersect(purch), "both")
        .unionByName(tag(clicks.subtract(purch), "click_only"))
        .unionByName(tag(purch.subtract(clicks), "purchase_only"))
    )


# ---------------------------------------------------------------------------
# q46 — cube: all grouping combinations of (status, priority)
# ---------------------------------------------------------------------------


@register(
    "q46_cube_status_priority",
    """
SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
       COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
       GROUPING(o_orderstatus, o_orderpriority) AS grp_id,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def q46(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (the 2^n companion to q37's ROLLUP), with the
    grouping_id bit vector declared so the oracle checks which grouping
    set produced each row, not just the coalesced labels."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("grp_id"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias(
                "o_orderpriority"
            ),
            "grp_id",
            "n_orders",
            "total_price",
        )
    )


# ---------------------------------------------------------------------------
# q47 — discrete percentiles via rank formulation (engine-exact)
# ---------------------------------------------------------------------------

_PCTS = ((25, "p25"), (50, "p50"), (75, "p75"), (95, "p95"))


@register(
    "q47_percentile_disc",
    """
WITH ranked AS (
  SELECT l_returnflag, l_quantity,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem)
SELECT l_returnflag, """
    + ", ".join(
        f"MAX(CASE WHEN rn * 100 >= {p} * n AND (rn - 1) * 100 < {p} * n "
        f"THEN l_quantity END) AS {a}"
        for p, a in _PCTS
    )
    + """
FROM ranked GROUP BY l_returnflag
""",
)
def q47(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentiles (type-1 quantile: smallest x with
    rank/n ≥ p) via a VALUE HISTOGRAM, not a full-table window: the
    oracle's rank formulation picks the value at row ceil(p·n/100),
    which equals the smallest value whose cumulative count reaches
    p·n/100 — integer-only arithmetic either way, bit-exact across
    engines.

    Scale shape (VERDICT r1 weak #4): the old plan ranked every
    lineitem row in a 3-partition window — the whole table through 3
    tasks. Here the map-side-combined groupBy collapses the table to
    |distinct (flag, qty)| rows (~150 for lineitem) BEFORE any window;
    the cumulative window then runs on the tiny histogram. For
    near-unique value columns this degrades gracefully to the same
    cost as the window plan, never worse."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity"
    )
    hist = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "l_returnflag",
        "l_quantity",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("l_returnflag")).alias("n"),
    )
    aggs = [
        F.min(
            F.when(F.col("cum") * 100 >= p * F.col("n"), F.col("l_quantity"))
        ).alias(a)
        for p, a in _PCTS
    ]
    return cum.groupBy("l_returnflag").agg(*aggs)


# ---------------------------------------------------------------------------
# q48 — range frame: 7-day trailing spend per customer
# ---------------------------------------------------------------------------


@register(
    "q48_trailing_window",
    """
SELECT o_orderkey, o_custkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
         AS trailing_sum,
       COUNT(*) OVER w AS trailing_cnt
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
""",
)
def q48(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame window — 7-day trailing order value per customer.
    The frame is value-based (all peers included), so ties on
    o_orderdate need no tiebreaker to be deterministic. Engine orders
    by epoch-day so rangeBetween(-7, 0) is exactly the oracle's
    INTERVAL 7 DAY frame (order dates are midnight-aligned)."""
    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-7, Window.currentRow)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("trailing_sum"),
        F.count(F.lit(1)).over(w).alias("trailing_cnt"),
    )


_Q57_ORACLE = """
SELECT p_brand,
       count(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


@register("q57_salted_join_brand", _Q57_ORACLE)
def q57(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted-join equivalence proof: lineitem ⋈ part through
    operators/skew.salted_join (fact side salted, dim side replicated
    salt×, join key widened to (key, _salt)) must aggregate to exactly
    the plain-join oracle — salting spreads hot keys over reducers
    WITHOUT changing join semantics, and this query pins that with a
    value-exact cross-engine check. The deterministic salt_by keeps
    row placement stable across retries (exactly-once posture)."""
    from ..operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_orderkey", "l_quantity"
    )
    part = (
        load_table(spark, sf_dir, "part")
        .select(F.col("p_partkey").alias("l_partkey"), "p_brand")
    )
    j = salted_join(li, part, "l_partkey", salt=8, salt_by="l_orderkey")
    return j.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# q58-q64 extensions: unpivot, listagg, PII scrubbing, exact correlation
# ---------------------------------------------------------------------------

_Q61_ORACLE = """
WITH base AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM base
UNION ALL
SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM base
UNION ALL
SELECT l_returnflag, 'sum_disc' AS measure, sum_disc AS value FROM base
"""


@register("q61_unpivot_measures", _Q61_ORACLE)
def q61(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long unpivot (melt) of per-flag decimal-exact measure
    columns — the reshape step feature stores and metric exporters run
    constantly. Spark's native ``DataFrame.unpivot`` expands rows
    inside the projection (an Expand node: no shuffle, no UDF); the
    oracle is the portable UNION ALL formulation. The input frame is
    already aggregated (|returnflag| rows), so the 3x expansion is
    dimension-sized at any corpus scale."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag").agg(
        dsum("l_quantity", "sum_qty"),
        dsum("l_extendedprice", "sum_price"),
        dsum("l_discount", "sum_disc"),
    )
    return base.unpivot(
        ["l_returnflag"],
        ["sum_qty", "sum_price", "sum_disc"],
        "measure",
        "value",
    )


_Q62_ORACLE = """
SELECT r_name,
       COUNT(*) AS n_nations,
       string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


@register("q62_listagg_nations", _Q62_ORACLE)
def q62(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg): Spark has no
    ordered string_agg, so the engine composes it exactly as
    ``array_join(array_sort(collect_list(...)))`` — the sort happens
    per GROUP after partial aggregation, so determinism does not depend
    on row arrival order (the trap with a bare collect_list). Groups
    must fit in memory per key, which holds for dimension rollups; for
    fact-scale groups the two-phase-rank + take-ordered path applies
    instead."""
    t = load_tables(spark, sf_dir, ("nation", "region"))
    nat = t["nation"].join(
        F.broadcast(t["region"]),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    return nat.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
            "nations"
        ),
    )


_Q63_ORACLE = """
SELECT c_custkey,
       regexp_replace(substring(c_name, 1, length(c_name) - 4),
                      '[0-9]', '*', 'g')
         || substring(c_name, length(c_name) - 3, 4) AS masked_name,
       CAST(length(c_name)
            - length(regexp_replace(c_name, '[0-9]', '', 'g'))
            AS BIGINT) AS n_digits,
       md5('pepper' || '|' || c_name) AS surrogate_id,
       CAST(floor(c_acctbal / 1000) * 1000 AS BIGINT) AS acctbal_band
FROM customer
"""


@register("q63_pii_scrub", _Q63_ORACLE)
def q63(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: digit masking with a keep-last-4 retention rule,
    a digit-count audit column, a salted-hash surrogate key
    (pseudonymization — the salt is config, a literal here), and
    k-anonymity-style numeric generalization (acctbal banded to 1000s).
    All row-local built-ins (regexp_replace / substr / md5 / floor):
    zero shuffles, codegen end-to-end, so scrubbing 100 TB is a pure
    map over the scan. Spark's regexp_replace is replace-all by
    default, matching the DuckDB 'g' flag."""
    cust = load_table(spark, sf_dir, "customer")
    name = F.col("c_name")
    ln = F.length(name)
    masked = F.concat(
        F.regexp_replace(name.substr(F.lit(1), ln - F.lit(4)), "[0-9]", "*"),
        name.substr(ln - F.lit(3), F.lit(4)),
    )
    n_digits = ln - F.length(F.regexp_replace(name, "[0-9]", ""))
    return cust.select(
        "c_custkey",
        masked.alias("masked_name"),
        n_digits.cast("long").alias("n_digits"),
        F.md5(F.concat_ws("|", F.lit("pepper"), name)).alias("surrogate_id"),
        (F.floor(F.col("c_acctbal") / 1000) * 1000)
        .cast("long")
        .alias("acctbal_band"),
    )


_Q64_ORACLE = """
WITH base AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, n,
       round((n * sxy - sx * sy)
         / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) * 1e9) / 1e9
         AS corr_qty_price,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e6) / 1e6
         AS ols_slope
FROM base
"""


@register("q64_exact_corr", _Q64_ORACLE)
def q64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Pearson correlation + OLS slope with cross-engine
    bit-exact results. Built-in ``corr()`` streams doubles in partition
    order, so two engines (or two runs with different partitioning)
    disagree in the last bits; instead the five moment sums run through
    exact DECIMAL partial aggregation (order-free), and the closed-form
    combination is a fixed expression tree of IEEE ops. One shuffle of
    |groups| x 7 cells; decimal(18,4) per-value bounds hold (price^2 <
    1.2e10), and Spark widens the sum accumulator to decimal(28,4)
    automatically.

    The emitted statistics are quantized (1e-9 for corr, 1e-6 for the
    slope): the ``a*b - c*d`` moment combination is contractible to FMA
    by a C++ engine's codegen while the JVM never contracts, so the
    raw doubles can disagree in the last ulp (observed at sf0.001);
    ``round(x*10^k)/10^k`` collapses both to the same representable
    value with ~10^-9 boundary-collision odds, keeping the oracle
    value-exact at every sf."""
    li = load_table(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    base = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_quantity", "sx"),
        dsum("l_extendedprice", "sy"),
        dsum(q * p, "sxy", 4),
        dsum(q * q, "sxx", 4),
        dsum(p * p, "syy", 4),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    num = n * sxy - sx * sy
    corr = num / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
    slope = num / (n * sxx - sx * sx)
    return base.select(
        "l_returnflag",
        "n",
        (F.round(corr * F.lit(1e9)) / F.lit(1e9)).alias("corr_qty_price"),
        (F.round(slope * F.lit(1e6)) / F.lit(1e6)).alias("ols_slope"),
    )


# ---------------------------------------------------------------------------
# q76 — single-pass column profiler (data-quality metadata)
# ---------------------------------------------------------------------------

_PROFILE_COLS = (
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_returnflag",
    "l_linestatus",
)

_Q76_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count({c}) AS BIGINT) AS n_non_null,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       min(CAST({c} AS VARCHAR)) AS min_str,
       max(CAST({c} AS VARCHAR)) AS max_str
FROM lineitem"""
    for c in _PROFILE_COLS
)


@register("q76_column_profile", _Q76_ORACLE)
def q76(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profiler — the data-quality pass a warehouse
    runs on every load (null rates, cardinalities, value ranges per
    column). The Spark form UNPIVOTS the profiled columns into
    (col_name, value) with ``stack`` inside ONE projection, so the
    table is scanned once for all columns and the aggregate
    partial-combines map-side to |cols| rows per partition —
    vs. the naive per-column loop that rescans the table |cols| times.
    min/max are LEXICOGRAPHIC over the stringified values (the unpivot
    erases the native type, so both sides must aggregate the VARCHAR
    form — '9999' > '14999'); cardinalities and null counts are
    representation-independent. Only integer and flag columns are
    profiled here: float stringification differs across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    stack_expr = ", ".join(
        f"'{c}', CAST({c} AS STRING)" for c in _PROFILE_COLS
    )
    u = li.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_expr}) AS (col_name, value)"
        )
    )
    # two-phase: pre-aggregate on (col_name, value) first — the
    # fine-grained shuffle key partial-combines to |distinct values|
    # rows map-side, and the finalize aggregates that bounded frame.
    # The one-shot groupBy(col_name) form mixed COUNT DISTINCT with
    # plain aggregates, which Catalyst plans as an Expand over the
    # whole unpivoted fact (rows × aggregates) shuffled on 5 keys —
    # measured 6.3 s vs ~1 s at sf0.1
    per_value = u.groupBy("col_name", "value").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return per_value.groupBy("col_name").agg(
        F.sum("cnt").alias("n_rows"),
        F.sum(F.when(F.col("value").isNotNull(), F.col("cnt"))
              .otherwise(F.lit(0))).alias("n_non_null"),
        F.count("value").alias("n_distinct"),
        F.min("value").alias("min_str"),
        F.max("value").alias("max_str"),
    )


# ---------------------------------------------------------------------------
# q77 — FK integrity audit (schema.sql's constraints as a declared check)
# ---------------------------------------------------------------------------

_Q77_ORACLE = """
SELECT 'lineitem->orders' AS fk, CAST(count(*) AS BIGINT) AS n_child,
       CAST(count(*) FILTER (WHERE NOT EXISTS (
         SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
         AS BIGINT) AS n_orphans
FROM lineitem l
UNION ALL
SELECT 'orders->customer', CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE NOT EXISTS (
         SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
         AS BIGINT)
FROM orders o
UNION ALL
SELECT 'lineitem->part', CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE NOT EXISTS (
         SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
         AS BIGINT)
FROM lineitem l
"""


@register("q77_fk_integrity", _Q77_ORACLE)
def q77(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: Spark does not ENFORCE foreign keys
    (SURVEY.md §2.1 S5 maps schema.sql's FK constraints —
    /root/reference/schema.sql:61-62,82-84,153 — to join-key
    conventions), so the warehouse needs a declared CHECK instead.
    Each relationship is one left-anti-shaped membership probe: the
    child streams once, the parent key set reduces to distinct keys
    first, and orphan counting partial-aggregates — at 100 TB each
    audit costs one child scan + one key-set join (AQE broadcasts the
    dimension-sized parents)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")

    def audit(child, child_key, parent, parent_key, label):
        keys = parent.select(
            F.col(parent_key).alias("_pk")
        ).distinct().withColumn("_hit", F.lit(1))
        tagged = child.select(F.col(child_key).alias("_ck")).join(
            keys, F.col("_ck") == F.col("_pk"), "left"
        )
        return tagged.agg(
            F.lit(label).alias("fk"),
            F.count(F.lit(1)).alias("n_child"),
            (F.count(F.lit(1)) - F.count("_hit")).alias("n_orphans"),
        )

    return (
        audit(li, "l_orderkey", orders, "o_orderkey", "lineitem->orders")
        .unionAll(audit(orders, "o_custkey", cust, "c_custkey", "orders->customer"))
        .unionAll(audit(li, "l_partkey", part, "p_partkey", "lineitem->part"))
    )


# ---------------------------------------------------------------------------
# q80 — full-outer reconciliation (order dates vs ship dates)
# ---------------------------------------------------------------------------

_Q80_ORACLE = """
WITH o AS (
  SELECT CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE) AS day,
         count(*) AS n_orders
  FROM orders GROUP BY 1
), s AS (
  SELECT CAST(CAST(l_shipdate AS TIMESTAMP) AS DATE) AS day,
         count(*) AS n_shipments
  FROM lineitem GROUP BY 1
)
SELECT coalesce(o.day, s.day) AS day,
       CAST(coalesce(o.n_orders, 0) AS BIGINT) AS n_orders,
       CAST(coalesce(s.n_shipments, 0) AS BIGINT) AS n_shipments
FROM o FULL OUTER JOIN s ON o.day = s.day
"""


@register("q80_full_outer_reconciliation", _Q80_ORACLE)
def q80(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER reconciliation of two independently-aggregated
    calendars (order placement vs shipment activity) — the audit query
    shape for comparing feeds that should overlap but may each have
    days the other lacks. Both sides aggregate BEFORE the join, so the
    full-outer operates on day-cardinality frames (dimension-sized at
    any corpus scale); zero-filled coalesces make gaps explicit."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    s = li.groupBy(
        F.col("l_shipdate").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_shipments"))
    return (
        o.join(s, "day", "full_outer")
        .select(
            "day",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_shipments", F.lit(0)).alias("n_shipments"),
        )
    )


# ---------------------------------------------------------------------------
# q81 — dimension-snapshot diff (change-data-capture over S6 snapshots)
# ---------------------------------------------------------------------------

_Q81_ORACLE = """
WITH old_s AS (
  SELECT o_custkey,
         CAST(count(*) AS BIGINT) AS n_orders,
         max(CAST(o_orderdate AS TIMESTAMP)) AS last_order
  FROM orders
  WHERE CAST(o_orderdate AS TIMESTAMP) < TIMESTAMP '1997-01-01'
  GROUP BY o_custkey
), new_s AS (
  SELECT o_custkey,
         CAST(count(*) AS BIGINT) AS n_orders,
         max(CAST(o_orderdate AS TIMESTAMP)) AS last_order
  FROM orders
  WHERE CAST(o_orderdate AS TIMESTAMP) < TIMESTAMP '1998-01-01'
  GROUP BY o_custkey
)
SELECT coalesce(o.o_custkey, n.o_custkey) AS o_custkey,
       o.n_orders AS old_n_orders,
       o.last_order AS old_last_order,
       n.n_orders AS new_n_orders,
       n.last_order AS new_last_order,
       CASE WHEN o.o_custkey IS NULL THEN 'added'
            WHEN n.o_custkey IS NULL THEN 'removed'
            WHEN o.n_orders IS NOT DISTINCT FROM n.n_orders
             AND o.last_order IS NOT DISTINCT FROM n.last_order
            THEN 'unchanged'
            ELSE 'changed' END AS change_type
FROM old_s o FULL OUTER JOIN new_s n ON o.o_custkey = n.o_custkey
"""


@register("q81_snapshot_diff", _Q81_ORACLE)
def q81(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two dimension snapshots
    (operators/scd.py::snapshot_diff) — the consumer side of the
    reference's daily full-snapshot uploads (S6, export.py:241-243):
    per-customer order profiles as of 1997 vs 1998, every key
    classified added/changed/unchanged with null-safe comparisons (the
    row-expiry decision an SCD Type-2 loader makes). One FULL OUTER
    join over dimension-sized aggregates; classification is row-local."""
    from ..operators.scd import snapshot_diff

    orders = load_table(spark, sf_dir, "orders")

    def snap(cutoff: str) -> DataFrame:
        return (
            orders.filter(
                F.col("o_orderdate") < F.lit(cutoff).cast("timestamp")
            )
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.max("o_orderdate").alias("last_order"),
            )
        )

    return snapshot_diff(
        snap("1997-01-01"),
        snap("1998-01-01"),
        key_cols=["o_custkey"],
        compare_cols=["n_orders", "last_order"],
    )


# ---------------------------------------------------------------------------
# q85 — salted-aggregation equivalence proof (hot-group-key skew)
# ---------------------------------------------------------------------------

_Q85_ORACLE = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM lineitem GROUP BY l_returnflag
"""


@register("q85_salted_aggregate", _Q85_ORACLE)
def q85(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted AGGREGATION equivalence (operators/skew.py::
    salted_aggregate) — the companion proof to q57's salted join:
    l_returnflag has 3 values, the canonical hot-reduce-key shape, so
    the pre-aggregation on (flag, salt) spreads each key over 8
    reducers and the re-aggregation combines |groups|×8 partials.
    Sums are decimal-exact and counts are integers — both re-associate
    exactly, so the result is value-identical to the direct GROUP BY
    oracle. Deterministic salt (hash of l_orderkey) keeps the plan
    rerun-stable."""
    from pyspark.sql import types as T

    from ..operators.skew import salted_aggregate

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_orderkey",
        F.col("l_quantity").cast(T.DecimalType(18, 2)).alias("_qty"),
        F.col("l_extendedprice").cast(T.DecimalType(18, 2)).alias("_price"),
    )
    out = salted_aggregate(
        li,
        group_cols=["l_returnflag"],
        sum_cols={"sum_qty": "_qty", "sum_price": "_price"},
        salt=8,
        deterministic_col="l_orderkey",
    )
    return out.select(
        "l_returnflag",
        "n",
        F.col("sum_qty").cast("double"),
        F.col("sum_price").cast("double"),
    )


# ---------------------------------------------------------------------------
# q87 — MERGE INTO / CDC apply (upsert + delete semantics)
# ---------------------------------------------------------------------------

_Q87_ORACLE = """
WITH updates AS (
  SELECT c_custkey,
         'SEG_' || CAST(c_custkey % 3 AS VARCHAR) AS c_mktsegment,
         (c_custkey % 11 = 0) AS is_delete
  FROM customer WHERE c_custkey % 4 = 0
  UNION ALL
  SELECT 900000 + g.i AS c_custkey, 'SEG_NEW' AS c_mktsegment,
         FALSE AS is_delete
  FROM (SELECT unnest(range(0, 5)) AS i) g
), merged AS (
  SELECT coalesce(t.c_custkey, u.c_custkey) AS c_custkey,
         CASE WHEN u.c_custkey IS NOT NULL THEN u.c_mktsegment
              ELSE t.c_mktsegment END AS c_mktsegment,
         t.c_name
  FROM customer t FULL OUTER JOIN updates u
    ON t.c_custkey = u.c_custkey
  WHERE NOT coalesce(u.is_delete, FALSE)
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(c_name) AS BIGINT) AS n_with_name,
       CAST(min(c_custkey) AS BIGINT) AS min_key,
       CAST(max(c_custkey) AS BIGINT) AS max_key
FROM merged GROUP BY c_mktsegment
"""


@register("q87_merge_upsert", _Q87_ORACLE)
def q87(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics on plain DataFrames (operators/scd.py::
    merge_upsert) — the APPLY side of the CDC story whose DETECT side
    is q81: a deterministic update batch (segment rewrites for every
    4th customer, tombstones for every 44th, five brand-new keys)
    merges into the customer dimension — matched rows update, new keys
    insert, tombstones delete (and tombstones for absent keys are
    no-ops). One shuffle-once full-outer join + row-local resolution,
    exactly what MERGE INTO compiles to without requiring a
    Delta/Iceberg runtime. The declared output profiles the merged
    table per segment (counts, name-coverage, key ranges) —
    value-exact vs the SQL merge."""
    from ..operators.scd import merge_upsert

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_name"
    )
    upd_existing = (
        cust.filter(F.col("c_custkey") % 4 == 0)
        .select(
            "c_custkey",
            F.concat(
                F.lit("SEG_"), (F.col("c_custkey") % 3).cast("string")
            ).alias("c_mktsegment"),
            (F.col("c_custkey") % 11 == 0).alias("is_delete"),
        )
    )
    upd_new = spark.range(5).select(
        (F.col("id") + 900000).alias("c_custkey"),
        F.lit("SEG_NEW").alias("c_mktsegment"),
        F.lit(False).alias("is_delete"),
    )
    merged = merge_upsert(
        cust,
        upd_existing.unionAll(upd_new),
        key_cols=["c_custkey"],
        set_cols=["c_mktsegment"],
        delete_col="is_delete",
    )
    return merged.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("c_name").alias("n_with_name"),
        F.min("c_custkey").alias("min_key"),
        F.max("c_custkey").alias("max_key"),
    )


# ---------------------------------------------------------------------------
# q99 — SCD Type-2 validity intervals (gaps-and-islands over a change log)
# ---------------------------------------------------------------------------

_Q99_ORACLE = """
WITH flagged AS (
  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
         CASE WHEN lag(o_orderstatus) OVER w IS NULL
                OR lag(o_orderstatus) OVER w != o_orderstatus
              THEN 1 ELSE 0 END AS chg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), islands AS (
  SELECT o_custkey, o_orderstatus, o_orderdate,
         SUM(chg) OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey
                        ROWS UNBOUNDED PRECEDING) AS interval_seq
  FROM flagged
), grouped AS (
  SELECT o_custkey AS custkey, o_orderstatus AS status,
         CAST(interval_seq AS BIGINT) AS interval_seq,
         MIN(o_orderdate) AS valid_from,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM islands GROUP BY 1, 2, 3
)
SELECT custkey, status, interval_seq, valid_from,
       lead(valid_from) OVER (PARTITION BY custkey ORDER BY interval_seq)
         AS valid_to,
       n_orders
FROM grouped
"""


@register("q99_scd2_intervals", _Q99_ORACLE)
def q99(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history build — the warehouse extension of
    the reference's daily dimension snapshots (S6, export.py:241-243):
    collapse a per-entity change log into (key, value, valid_from,
    valid_to) validity intervals, the classic gaps-and-islands.
    Consecutive orders with the same status form one island (change
    detected via lag, island id via a running sum of change flags);
    each island becomes one interval row, valid_to = next interval's
    valid_from (NULL for the open current interval).

    Scale shape: every window partitions by o_custkey — a fine-grained
    high-cardinality key, so no low-cardinality funnel — and the
    island aggregation adds one hash shuffle on (custkey, status,
    interval_seq). Three exchanges total over order-log-sized data,
    each keyed fine-grained; at 100 TB the change log is the small
    derived table (one row per dimension mutation), not the fact
    table, so this is comfortably within a snapshot-build budget.

    ``interval_seq`` is emitted (not just used internally) to keep the
    lead() ordering deterministic even when two islands of one
    customer share a valid_from timestamp (same-day status flip) —
    ordering the final window by valid_from alone would be ambiguous
    there."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderstatus").over(w)
    flagged = orders.select(
        "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey"
    ).withColumn(
        "_chg",
        F.when(
            prev.isNull() | (prev != F.col("o_orderstatus")), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    islands = flagged.withColumn(
        "interval_seq",
        F.sum("_chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    grouped = islands.groupBy(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        "interval_seq",
    ).agg(
        F.min("o_orderdate").alias("valid_from"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w2 = Window.partitionBy("custkey").orderBy("interval_seq")
    return grouped.select(
        "custkey",
        "status",
        "interval_seq",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_orders",
    )


# ---------------------------------------------------------------------------
# q102 — binned approximate quantiles (bounded-state percentile at scale)
# ---------------------------------------------------------------------------

_Q102_BINS = 4096

_Q102_ORACLE = f"""
WITH stats AS (
  SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx,
         CAST(count(*) AS BIGINT) AS n
  FROM lineitem
), binned AS (
  SELECT CASE WHEN (mx - mn) / {_Q102_BINS}.0 = 0 THEN 0
              ELSE least(CAST(floor((l_extendedprice - mn)
                                    / ((mx - mn) / {_Q102_BINS}.0)) AS BIGINT),
                         {_Q102_BINS - 1})
         END AS bin
  FROM lineitem CROSS JOIN stats
), cells AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS cnt FROM binned GROUP BY bin
), cum AS (
  SELECT bin, SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
  FROM cells
), pcts AS (
  -- explicit DOUBLE: a bare decimal list literal infers DECIMAL(3,2)
  -- and stringifies '0.50' vs the double '0.5' in the value hash
  SELECT CAST(unnest([0.5, 0.95, 0.99]) AS DOUBLE) AS p
), sel AS (
  SELECT p, MIN(bin) AS bin
  FROM pcts CROSS JOIN cum CROSS JOIN stats
  WHERE cum >= ceil(p * n)
  GROUP BY p
)
SELECT p, bin,
       round((mn + bin * ((mx - mn) / {_Q102_BINS}.0)) * 1e6) / 1e6
         AS est_value
FROM sel CROSS JOIN stats
"""


@register("q102_binned_quantiles", _Q102_ORACLE)
def q102(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p50/p95/p99 via fixed-width binning — the
    BOUNDED-STATE percentile path next to exact q47 (which sorts the
    full column): two aggregation passes whose state never exceeds the
    CONSTANT bin count, the same posture as the portable HLL (q31) and
    count-min (q101) sketches. Error is one bin width (range/4096);
    the estimate is the selected bin's lower edge.

    Scale shape: pass 1 is a 1-row min/max/count aggregate; pass 2
    buckets every row (row-local arithmetic against the broadcast
    stats row) into <= 4096 cells with map-side partial counts — the
    shuffle carries cells, not rows. The cumulative window runs over
    the <= 4096-row cell frame: its SinglePartition is bounded by the
    bin constant, not by data (the same bounded-small-frame exemption
    as the driver-side k-centroid state). Bin counts are plain sums,
    so per-partition/per-day histograms merge by addition.

    Determinism: bin = floor((x - mn) / width) is two correctly-rounded
    IEEE ops per row, identical in DuckDB; counts/ranks are integers;
    the only emitted multi-op double (mn + bin*width) is quantized to
    1e-6 on both sides per the FMA rule (PLANS.md float rule #2)."""
    li = load_table(spark, sf_dir, "lineitem")
    stats = li.agg(
        F.min("l_extendedprice").alias("mn"),
        F.max("l_extendedprice").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    width = (F.col("mx") - F.col("mn")) / F.lit(float(_Q102_BINS))
    binned = li.crossJoin(F.broadcast(stats)).select(
        F.when(width == 0, F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col("l_extendedprice") - F.col("mn")) / width),
                F.lit(_Q102_BINS - 1),
            )
        )
        .cast("long")
        .alias("bin")
    )
    cells = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cells.withColumn("cum", F.sum("cnt").over(w))
    pcts = spark.createDataFrame([(0.5,), (0.95,), (0.99,)], "p double")
    sel = (
        pcts.crossJoin(F.broadcast(cum))
        .crossJoin(F.broadcast(stats))
        .filter(F.col("cum") >= F.ceil(F.col("p") * F.col("n")))
        .groupBy("p")
        .agg(F.min("bin").alias("bin"))
    )
    return sel.crossJoin(F.broadcast(stats)).select(
        "p",
        "bin",
        (
            F.round((F.col("mn") + F.col("bin") * width) * 1e6) / 1e6
        ).alias("est_value"),
    )


# ---------------------------------------------------------------------------
# q119 — Z-order layout: Morton-clustered file assignment + zone maps
# ---------------------------------------------------------------------------

_Q119_ROWS_PER_FILE = 4096


def _q119_oracle() -> str:
    from ..operators.layout import zorder_key_sql

    z = zorder_key_sql("l_partkey", "l_suppkey")
    return f"""
WITH z AS (
  SELECT l_partkey, l_suppkey,
         {z} AS zval,
         l_orderkey * 8 + l_linenumber AS rk
  FROM lineitem
), r AS (
  SELECT l_partkey, l_suppkey,
         row_number() OVER (ORDER BY zval, rk) AS rn
  FROM z
)
SELECT (rn - 1) // {_Q119_ROWS_PER_FILE} AS file_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       MIN(l_partkey) AS min_l_partkey, MAX(l_partkey) AS max_l_partkey,
       MIN(l_suppkey) AS min_l_suppkey, MAX(l_suppkey) AS max_l_suppkey
FROM r GROUP BY file_id
"""


@register("q119_zorder_layout", _q119_oracle())
def q119(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering layout + per-file zone maps — the
    OPTIMIZE ZORDER BY (l_partkey, l_suppkey) planning step a 100 TB
    lake runs so that min/max file stats prune scans on EITHER key.

    The interleave (operators/layout.zorder_key) is 5 shift/mask ops
    per dimension, fused into the scan by whole-stage codegen; the
    global file assignment is scalable_prefix_sums' range-exchange
    row number (NO single-task Window.orderBy, and no two_phase_rank
    tie-group join — Z-values are near-unique and (zval, rk) is a
    total order, so RANK semantics would only double the shuffle)
    chunked into 4096-row files; the zone maps are one
    partial-combined groupBy whose shuffle carries |files| rows. The emitted table IS the
    scan-pruning metadata: a predicate on either key overlaps few
    files' [min, max] ranges precisely because Z-order keeps both
    dimensions locally contiguous — against a one-column sort, the
    secondary key's zone maps would each span the full domain.

    Reference parity: the reference lake sink writes unclustered
    per-scan objects (/root/reference/export.py upload loop); this is
    the layout-maintenance pass on top of SURVEY.md §2 S4."""
    from ..operators.layout import zone_maps, zorder_key
    from ..operators.windows import scalable_prefix_sums

    li = load_table(spark, sf_dir, "lineitem")
    keyed = li.select(
        "l_partkey",
        "l_suppkey",
        zorder_key(F.col("l_partkey"), F.col("l_suppkey")).alias("zval"),
        (F.col("l_orderkey") * 8 + F.col("l_linenumber"))
        .cast("long")
        .alias("rk"),
    )
    ranked = scalable_prefix_sums(keyed, ("zval", "rk"), {"rn": F.lit(1)})
    files = ranked.withColumn(
        "file_id", F.expr(f"(rn - 1) div {_Q119_ROWS_PER_FILE}")
    )
    return zone_maps(files, "file_id", ("l_partkey", "l_suppkey"))


# ---------------------------------------------------------------------------
# q120 — compaction planning: greedy contiguous bin-packing of small files
# ---------------------------------------------------------------------------

_Q120_ROW_BYTES = 128
_Q120_TARGET = 65536


_Q120_ORACLE = f"""
WITH files AS (
  SELECT CAST(l_shipdate AS DATE) AS file_day,
         count(*) * {_Q120_ROW_BYTES} AS size_bytes
  FROM lineitem GROUP BY file_day
), packed AS (
  SELECT file_day, size_bytes,
         SUM(size_bytes) OVER (ORDER BY file_day
                               ROWS UNBOUNDED PRECEDING) AS cum_bytes
  FROM files
)
SELECT CAST((cum_bytes - size_bytes) // {_Q120_TARGET} AS BIGINT) AS bin_id,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(SUM(size_bytes) AS BIGINT) AS total_bytes,
       MIN(file_day) AS min_day, MAX(file_day) AS max_day
FROM packed GROUP BY bin_id
"""


@register("q120_compaction_plan", _Q120_ORACLE)
def q120(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning — bin-pack a day-partitioned
    file listing into ~64 KiB compaction jobs, preserving clustering
    (bins merge only NEIGHBORING days; the greedy rule is
    bin = floor((cumsum - size) / target), operators/layout.
    compaction_bins).

    The listing itself is metadata-sized (one row per file), but a
    100 TB table can hold millions of files, so the prefix sum is the
    distributed scalable_prefix_sums — range exchange + local scan +
    broadcast offsets — not a single-task global window. Everything
    is exact int64 (sizes are byte counts), so the plan is
    value-portable to the oracle's window formulation.

    File sizes are modeled as rows x {_Q120_ROW_BYTES} B (the parquet
    footprint proxy); a real deployment feeds the sink's actual
    listing (pipeline/export_pipeline.py S4) through the same
    operator."""
    from ..operators.layout import compaction_bins

    li = load_table(spark, sf_dir, "lineitem")
    files = li.groupBy(
        F.col("l_shipdate").cast("date").alias("file_day")
    ).agg((F.count(F.lit(1)) * _Q120_ROW_BYTES).alias("size_bytes"))
    packed = compaction_bins(
        files, ("file_day",), "size_bytes", target_bytes=_Q120_TARGET
    )
    return packed.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("size_bytes").alias("total_bytes"),
        F.min("file_day").alias("min_day"),
        F.max("file_day").alias("max_day"),
    )


# ---------------------------------------------------------------------------
# q122 — Pareto skyline per brand (min price, max size)
# ---------------------------------------------------------------------------

_Q122_ORACLE = """
SELECT p.p_brand, p.p_partkey, p.p_name, p.p_retailprice, p.p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_brand = p.p_brand
    AND q.p_retailprice <= p.p_retailprice
    AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
"""


@register("q122_pareto_skyline", _Q122_ORACLE)
def q122(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pareto skyline — parts not strictly dominated on
    (cheaper price, larger size): the multi-objective "best
    tradeoff" query (catalog curation, config tuning, offer
    selection).

    The textbook formulation is the oracle's NOT-EXISTS theta
    self-join — quadratic per brand, a non-starter at scale. The
    engine exploits the 2-D structure instead: sorted by (price asc,
    size desc), a point is dominated IFF some strictly-earlier point
    has size >= its own, so the skyline is one RUNNING MAX — and that
    scan is scalable_running_max (operators/windows), the
    monoid-scan sibling of scalable_prefix_sums: range exchange over
    (brand, price, -size), per-partition local window, broadcast
    prefix-of-partition-maxima — NO 25-task brand-partitioned
    window, linearithmic instead of quadratic. Every driver row is
    therefore a differential proof of the window trick against the
    literal dominance definition.

    Duplicate (price, size) points are mutually non-dominating (no
    STRICT inequality), handled by deduping combos before the scan
    and re-joining — the re-join also restores per-part rows, and
    keeps the scanned frame at |distinct combos|."""
    from ..operators.windows import scalable_running_max

    part = load_table(spark, sf_dir, "part")
    combos = (
        part.select("p_brand", "p_retailprice", "p_size")
        .distinct()
        .withColumn("neg_size", -F.col("p_size"))
    )
    scanned = scalable_running_max(
        combos,
        part_col="p_brand",
        order_cols=("p_retailprice", "neg_size"),
        val_col="p_size",
        out_col="prior_max_size",
    )
    keep = scanned.filter(
        F.col("prior_max_size").isNull()
        | (F.col("p_size") > F.col("prior_max_size"))
    ).select("p_brand", "p_retailprice", "p_size")
    return part.join(
        keep, ["p_brand", "p_retailprice", "p_size"]
    ).select("p_brand", "p_partkey", "p_name", "p_retailprice", "p_size")


# ---------------------------------------------------------------------------
# q123 — robust outliers: median/MAD per language, exact integer math
# ---------------------------------------------------------------------------

_Q123_ORACLE = """
WITH r AS (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
), med AS (
  SELECT lang, n_chars AS med FROM r WHERE rn = (n + 1) // 2
), dev AS (
  SELECT d.lang, d.doc_id, d.n_chars, med.med,
         abs(d.n_chars - med.med) AS dev
  FROM documents d JOIN med USING (lang)
), dr AS (
  SELECT lang, doc_id, dev,
         row_number() OVER (PARTITION BY lang
                            ORDER BY dev, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM dev
), mad AS (
  SELECT lang, dev AS mad FROM dr WHERE rn = (n + 1) // 2
)
SELECT dev.lang, dev.doc_id, dev.n_chars, dev.med, mad.mad
FROM dev JOIN mad USING (lang)
WHERE dev.dev > 2 * mad.mad
"""


@register("q123_mad_outliers", _Q123_ORACLE)
def q123(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-language length outliers via median / MAD (median
    absolute deviation) — the quality-filter that survives the heavy
    tails where mean/stddev z-scores drown (a handful of giant docs
    inflate sigma until nothing is an outlier). Flag: |x - med| >
    2 * MAD (the classic cut is 3x; this corpus's lengths are tight
    enough that 3x flags nothing at any SF, and a declared query whose
    fixture emits zero rows proves only the trivial hash — 2x keeps
    the filter exercised on real data).

    Everything stays in exact int64 — lower median (the (n+1)//2-th
    order statistic), absolute deviations, the 3x threshold — so the
    result is bit-portable with no float rule needed.

    Both medians are ORDER STATISTICS per language, and lang is a
    handful of values: Window.partitionBy(lang).orderBy(...) would
    funnel the corpus through |langs| tasks, so both passes run
    the grouped scalable_prefix_sums row number (range exchange +
    broadcast offsets — no tie-group join, positions are all a
    median read needs) and
    select rn == (n+1)//2 against a broadcast per-group count. Two
    scans + two fine-grained position passes, never a
    low-cardinality window."""
    from ..operators.windows import scalable_prefix_sums

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", "n_chars"
    )
    cnt = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))

    def _group_median(df: DataFrame, val: str, out: str) -> DataFrame:
        ranked = scalable_prefix_sums(
            df, (val, "doc_id"), {"rn": F.lit(1)}, part_col="lang"
        )
        return (
            ranked.join(F.broadcast(cnt), "lang")
            .filter(F.col("rn") == F.expr("(n + 1) div 2"))
            .select("lang", F.col(val).alias(out))
        )

    med = _group_median(docs, "n_chars", "med")
    # pinned lazily (the q207 posture): dev feeds the MAD median
    # kernel (whose driver-side passes would otherwise re-run the
    # scan + med broadcast build per job) AND the final outlier
    # filter; the kernel's first full-scan pass materializes it
    dev = docs.join(F.broadcast(med), "lang").withColumn(
        "dev", F.abs(F.col("n_chars") - F.col("med"))
    ).transform(_pin_lazy)
    mad = _group_median(dev.select("lang", "doc_id", "dev"), "dev", "mad")
    return (
        dev.join(F.broadcast(mad), "lang")
        .filter(F.col("dev") > 2 * F.col("mad"))
        .select("lang", "doc_id", "n_chars", "med", "mad")
    )


# ---------------------------------------------------------------------------
# q124 — integer-exact PageRank over the part<->supplier bipartite graph
# ---------------------------------------------------------------------------

_Q124_ITERS = 3
_Q124_SCALE = 1_000_000
_Q124_DAMP = 85
_Q124_BASE = _Q124_SCALE * (100 - _Q124_DAMP) // 100


def _q124_oracle() -> str:
    rounds = []
    prev = "r0"
    for i in range(1, _Q124_ITERS + 1):
        rounds.append(
            f"""r{i} AS (
  SELECT n.id,
         {_Q124_BASE} + COALESCE(
           SUM(({_Q124_DAMP} * p.r) // (100 * deg.outdeg)), 0) AS r
  FROM nodes n
  LEFT JOIN e ON e.dst = n.id
  LEFT JOIN {prev} p ON p.id = e.src
  LEFT JOIN deg ON deg.id = e.src
  GROUP BY n.id
)"""
        )
        prev = f"r{i}"
    return f"""
WITH pairs AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
), e AS (
  SELECT 2 * p AS src, 2 * s + 1 AS dst FROM pairs
  UNION ALL
  SELECT 2 * s + 1 AS src, 2 * p AS dst FROM pairs
), nodes AS (
  SELECT src AS id FROM e UNION SELECT dst AS id FROM e
), deg AS (
  SELECT src AS id, COUNT(*) AS outdeg FROM e GROUP BY src
), r0 AS (
  SELECT id, CAST({_Q124_SCALE} AS BIGINT) AS r FROM nodes
), {', '.join(rounds)},
sel AS (
  SELECT id, r FROM {prev} ORDER BY r DESC, id ASC LIMIT 50
)
SELECT CASE WHEN id % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
       id // 2 AS entity_key,
       CAST(r AS BIGINT) AS rank_micro
FROM sel
"""


@register("q124_pagerank_bipartite", _q124_oracle())
def q124(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part<->supplier co-occurrence graph (top-50
    hubs) — the iterative graph-centrality op next to connected
    components, run ENTIRELY in exact int64 micro-units
    (operators/graph.pagerank_integer) so the declared result is
    bit-identical to the oracle's unrolled recurrence: float PageRank
    can never be value-portable because IEEE sums are
    order-dependent, while integer sums are associative (the same
    portability trick as the Gini-not-entropy choice in q89).

    Scale shape: the routing table (src, dst, outdeg) is checkpointed
    once; each of the 3 iterations is one |E|-row equi-join + one
    partial-combined groupBy-sum + an |V|-row left re-anchor join —
    rank state is 16 B/vertex, lineage truncated per round exactly
    like the CC rounds. The final top-50 is a TakeOrderedAndProject,
    not a global sort."""
    from ..operators.graph import pagerank_integer

    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    edges = (
        pairs.select(
            (2 * F.col("p")).alias("src"), (2 * F.col("s") + 1).alias("dst")
        )
    ).union(
        pairs.select(
            (2 * F.col("s") + 1).alias("src"), (2 * F.col("p")).alias("dst")
        )
    )
    ranks = pagerank_integer(
        edges,
        iterations=_Q124_ITERS,
        scale=_Q124_SCALE,
        damping_pct=_Q124_DAMP,
        # pairs is distinct and the two unioned arms live in disjoint
        # (even/odd) id namespaces — no internal re-distinct needed
        edges_distinct=True,
    )
    top = ranks.orderBy(F.desc("rank"), F.asc("id")).limit(50)
    return top.select(
        F.when(F.col("id") % 2 == 0, F.lit("part"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("id div 2").alias("entity_key"),
        F.col("rank").alias("rank_micro"),
    )
