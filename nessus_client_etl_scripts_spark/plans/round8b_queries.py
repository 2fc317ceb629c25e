"""Round-8 continuation wave — q273+: survival analysis, inventory
allocation, cooperative-game attribution, and forecast backtesting.

Every query follows the repo's cross-engine determinism contract
(PLANS.md): integer/string algebra end to end, ratios pinned with the
integer round-half-up rule ``(2·10⁶·n + d) div (2d)`` on non-negative
operands, and iterative recurrences expressed as row-local ordered
folds (Spark ``aggregate`` / DuckDB ``list_reduce`` — the q253
machinery) so no window function is asked to compute a
previous-step-dependent value.

Scale notes (100 TB posture) are per-query; the shared shape: the
data-sized passes are map-side-combined groupBys keyed on
high-cardinality columns (user_id, l_partkey), and everything after
them operates on bounded frames (distinct death times ≤ observation
hours, coalition lattices 2^|channels|, day×type grids) that are
broadcast territory at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .testdata_queries import register
from ..pins import pin as _pin, pin_lazy as _pin_lazy

# ---------------------------------------------------------------------------
# q273 — Kaplan-Meier survival estimate (right-censored)
# ---------------------------------------------------------------------------

# First purchase AFTER the user's first error with value above this
# threshold: chosen so BOTH branches are live at every test SF
# (sf0.001: 12 deaths / 3 censored; sf0.01: 123/27; sf0.1: 1307/193 —
# PLANS.md rule: a query whose point is a conditional path must prove
# the path fires).
_Q273_VALUE_MIN = 90

_Q273_ORACLE = f"""
WITH org AS (
  SELECT user_id, min(ts) AS origin FROM events
  WHERE event_type = 'error' GROUP BY user_id
), death AS (
  SELECT o.user_id, min(e.ts) AS death_ts
  FROM org o JOIN events e ON e.user_id = o.user_id
  WHERE e.event_type = 'purchase' AND e.ts > o.origin
        AND e.value > {_Q273_VALUE_MIN}
  GROUP BY o.user_id
), h AS (SELECT max(ts) AS horizon FROM events),
subj AS (
  SELECT org.user_id,
         (epoch_us(coalesce(death_ts, horizon)) - epoch_us(origin))
           // 3600000000 AS dur,
         CASE WHEN death_ts IS NULL THEN 1 ELSE 0 END AS censored
  FROM org LEFT JOIN death USING (user_id) CROSS JOIN h
), dist AS (
  SELECT dur, CAST(count(*) AS BIGINT) AS n_all,
         CAST(sum(1 - censored) AS BIGINT) AS d,
         CAST(sum(censored) AS BIGINT) AS c
  FROM subj GROUP BY dur
), risk AS (
  SELECT dur, d, c,
         CAST(sum(n_all) OVER (ORDER BY dur DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS n_risk
  FROM dist
), deaths AS (SELECT dur, n_risk, d, c FROM risk WHERE d > 0),
arr AS (
  SELECT list(dur ORDER BY dur) AS tsl,
         list(n_risk * 1000000 + d ORDER BY dur) AS enc,
         list(n_risk ORDER BY dur) AS nr,
         list(d ORDER BY dur) AS dsl,
         list(c ORDER BY dur) AS csl
  FROM deaths
), pos AS (
  SELECT unnest(generate_series(1, len(tsl))) AS i,
         tsl, enc, nr, dsl, csl
  FROM arr
)
SELECT CAST(tsl[i] AS BIGINT) AS t_hours,
       nr[i] AS n_risk, dsl[i] AS d_events, csl[i] AS n_censored,
       list_reduce([CAST(1000000 AS BIGINT)] || enc[1:i],
         (acc, x) -> (2 * acc * (x // 1000000 - x % 1000000)
                      + x // 1000000) // (2 * (x // 1000000)))
         AS survival_micro
FROM pos
"""


@register("q273_kaplan_meier", _Q273_ORACLE)
def q273(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit survival estimate with RIGHT
    CENSORING — the time-to-event table every churn/conversion/SLA
    analysis starts from, and the one standard estimator a plain
    conversion rate gets wrong whenever observation ends before the
    event does.  Subject = user; origin = first ``error`` event; event
    = first high-value purchase strictly after the origin; subjects
    without one are censored at the global horizon (last event in the
    table).  Durations are floor-elapsed HOURS from exact epoch-micros
    arithmetic (``div``, never float division), so the risk table is
    pure integers: n_risk(t) = Σ subjects with duration ≥ t via one
    descending cumulative sum, d(t)/c(t) = deaths/censorings at t.

    The survival curve itself is the per-step-ROUNDED micro recurrence
    S ← (2·S·(n−d) + n) div (2n) folded over death times in order —
    exact rational products overflow (∏n_k), floats diverge across
    engines, but an integer recurrence is bit-portable; each output
    row carries the fold over its PREFIX (aggregate over slice — the
    O(T²) cost is bounded by T = distinct death hours ≤ observation
    span, never by subjects).

    Scale: two map-side-combined groupBys over events (origin, death)
    keyed on user_id, one broadcast 1-row horizon, then everything
    operates on the ≤|hours| risk table collected into a single
    ordered array — no driver loop, no UDF, no unbounded collect."""
    ev = load_table(spark, sf_dir, "events")
    org = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.min("ts").alias("origin"))
    )
    death = (
        org.join(
            ev.filter(
                (F.col("event_type") == "purchase")
                & (F.col("value") > _Q273_VALUE_MIN)
            ).select("user_id", F.col("ts").alias("pts")),
            "user_id",
        )
        .filter(F.col("pts") > F.col("origin"))
        .groupBy("user_id")
        .agg(F.min("pts").alias("death_ts"))
    )
    horizon = ev.agg(F.max("ts").alias("horizon"))
    subj = (
        org.join(death, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            (
                F.unix_micros(F.coalesce("death_ts", "horizon"))
                - F.unix_micros(F.col("origin"))
            ).alias("us_diff"),
            F.col("death_ts").isNull().cast("int").alias("censored"),
        )
        .select(
            F.expr("us_diff div 3600000000").alias("dur"),
            "censored",
        )
    )
    dist = subj.groupBy("dur").agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum(F.lit(1) - F.col("censored")).cast("long").alias("d"),
        F.sum("censored").cast("long").alias("c"),
    )
    # global window over the ≤|distinct hours| risk table — a bounded
    # frame by construction (documented single-partition exchange)
    w = (
        Window.orderBy(F.desc("dur"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = dist.select(
        "dur", "d", "c", F.sum("n_all").over(w).cast("long").alias("n_risk")
    ).filter(F.col("d") > 0)
    arr = risk.agg(
        F.sort_array(
            F.collect_list(F.struct("dur", "n_risk", "d", "c"))
        ).alias("a")
    )
    return arr.select(
        F.explode(
            F.expr(
                """
                transform(a, (x, j) -> struct(
                  x.dur AS t_hours,
                  x.n_risk AS n_risk,
                  x.d AS d_events,
                  x.c AS n_censored,
                  aggregate(slice(a, 1, j + 1), CAST(1000000 AS BIGINT),
                    (acc, y) -> (2 * acc * (y.n_risk - y.d) + y.n_risk)
                                div (2 * y.n_risk)) AS survival_micro))
                """
            )
        ).alias("r")
    ).select("r.*")


# ---------------------------------------------------------------------------
# q274 — FIFO inventory allocation (lot consumption without iteration)
# ---------------------------------------------------------------------------

_Q274_ORACLE = """
WITH sup AS (
  SELECT l_partkey AS part, CAST(l_quantity AS BIGINT) AS qty,
         CAST(l_shipdate AS DATE) AS sd, l_orderkey AS ok,
         l_linenumber AS ln
  FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) = 1997
), dem AS (
  SELECT l_partkey AS part,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS demand
  FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) >= 1998
  GROUP BY l_partkey
), lots AS (
  SELECT sup.part, sup.qty, coalesce(dem.demand, 0) AS demand,
         coalesce(CAST(sum(sup.qty) OVER (
             PARTITION BY sup.part ORDER BY sup.sd, sup.ok, sup.ln
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS BIGINT), 0) AS before_qty
  FROM sup LEFT JOIN dem USING (part)
), alloc AS (
  SELECT part, qty, demand,
         least(qty, greatest(CAST(0 AS BIGINT), demand - before_qty))
           AS consumed
  FROM lots
)
SELECT part,
       CAST(count(*) AS BIGINT) AS n_lots,
       CAST(sum(qty) AS BIGINT) AS supply_qty,
       CAST(max(demand) AS BIGINT) AS demand_qty,
       CAST(sum(consumed) AS BIGINT) AS consumed_qty,
       CAST(sum(CASE WHEN consumed > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS lots_touched,
       CAST(sum(qty) - sum(consumed) AS BIGINT) AS leftover_qty,
       CAST(greatest(CAST(0 AS BIGINT), max(demand) - sum(qty))
            AS BIGINT) AS unfilled_qty
FROM alloc GROUP BY part
"""


@register("q274_fifo_allocation", _Q274_ORACLE)
def q274(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO inventory allocation WITHOUT iteration — the cost-layer
    consumption every inventory/cost-accounting system computes
    (which receipt lots does this period's demand draw down, in
    first-in-first-out order?), usually written as a per-part loop.
    The loop disappears into window algebra: a lot's consumption is
    ``min(lot_qty, max(0, demand − cum_before))`` where ``cum_before``
    is the running supply STRICTLY BEFORE it in (shipdate, orderkey,
    linenumber) order — the interval-overlap identity between the
    lot's [before, before+qty) span and the demand prefix [0, D).

    Supply lots = 1997 shipments per part; demand = total 1998+
    shipped quantity of the same part (parts with no 1997 lot are out
    of scope — there is nothing to allocate from).  Quantities are
    whole-valued source integers, so every column is integer-exact.

    Scale: ONE window per part (l_partkey is a high-cardinality key —
    the PLANS.md rank-plan rule: plain partitionBy, no range-exchange
    two-phase rank needed) over lots already co-partitioned by the
    same key as the demand join; the final rollup reuses that
    partitioning.  No fold, no UDF, no driver state."""
    li = load_table(spark, sf_dir, "lineitem")
    sd = F.col("l_shipdate").cast("date")
    sup = li.filter(F.year(sd) == 1997).select(
        F.col("l_partkey").alias("part"),
        F.col("l_quantity").cast("long").alias("qty"),
        sd.alias("sd"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
    )
    dem = (
        li.filter(F.year(sd) >= 1998)
        .groupBy(F.col("l_partkey").alias("part"))
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("demand"))
    )
    w = (
        Window.partitionBy("part")
        .orderBy("sd", "ok", "ln")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lots = sup.join(dem, "part", "left").select(
        "part",
        "qty",
        F.coalesce("demand", F.lit(0)).alias("demand"),
        F.coalesce(F.sum("qty").over(w), F.lit(0))
        .cast("long")
        .alias("before_qty"),
    )
    alloc = lots.withColumn(
        "consumed",
        F.least(
            F.col("qty"),
            F.greatest(F.lit(0).cast("long"), F.col("demand") - F.col("before_qty")),
        ),
    )
    return alloc.groupBy("part").agg(
        F.count(F.lit(1)).cast("long").alias("n_lots"),
        F.sum("qty").cast("long").alias("supply_qty"),
        F.max("demand").cast("long").alias("demand_qty"),
        F.sum("consumed").cast("long").alias("consumed_qty"),
        F.sum((F.col("consumed") > 0).cast("long"))
        .cast("long")
        .alias("lots_touched"),
        (F.sum("qty") - F.sum("consumed")).cast("long").alias("leftover_qty"),
        F.greatest(
            F.lit(0).cast("long"), F.max("demand") - F.sum("qty")
        )
        .cast("long")
        .alias("unfilled_qty"),
    )


# ---------------------------------------------------------------------------
# q275 — exact Shapley-value channel attribution
# ---------------------------------------------------------------------------

# channel -> bit (the coalition lattice is 2^4 = 16 masks)
_Q275_CHANNELS = (("view", 1), ("click", 2), ("signup", 4), ("error", 8))
_Q275_CASE = " ".join(
    f"WHEN '{n}' THEN {b}" for n, b in _Q275_CHANNELS
)
_Q275_VALUES = ", ".join(f"('{n}', {b})" for n, b in _Q275_CHANNELS)
# |S|! * (n-1-|S|)! for n = 4 channels: 0->6, 1->2, 2->2, 3->6
_Q275_W = (
    "CASE bit_count({s}) WHEN 0 THEN 6 WHEN 1 THEN 2"
    " WHEN 2 THEN 2 ELSE 6 END"
)

_Q275_ORACLE = f"""
WITH fp AS (
  SELECT user_id, min(ts) AS fp_ts FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
), touched AS (
  SELECT e.user_id,
         CAST(coalesce(bit_or(CASE e.event_type {_Q275_CASE} END), 0)
              AS BIGINT) AS mask
  FROM events e JOIN fp ON e.user_id = fp.user_id
  WHERE e.ts < fp.fp_ts
        AND e.event_type IN ('view', 'click', 'signup', 'error')
  GROUP BY e.user_id
), conv AS (
  SELECT coalesce(t.mask, 0) AS mask,
         CAST(count(*) AS BIGINT) AS n_users
  FROM fp LEFT JOIN touched t USING (user_id) GROUP BY 1
), coal AS (
  SELECT CAST(s AS BIGINT) AS S,
         CAST((SELECT coalesce(sum(n_users), 0) FROM conv
               WHERE (mask & s) = mask) AS BIGINT) AS v
  FROM generate_series(0, 15) g(s)
), ch AS (SELECT * FROM (VALUES {_Q275_VALUES}) AS t(channel, bit)),
terms AS (
  SELECT ch.channel, ch.bit,
         CAST({_Q275_W.format(s="c.S")} AS BIGINT) * (vi.v - c.v) AS term
  FROM ch JOIN coal c ON (c.S & ch.bit) = 0
  JOIN coal vi ON vi.S = (c.S | ch.bit)
)
SELECT channel,
       CAST((SELECT coalesce(sum(n_users), 0) FROM conv
             WHERE (mask & bit) > 0) AS BIGINT) AS n_touched_pre,
       CAST(sum(term) AS BIGINT) AS shapley_x24
FROM terms GROUP BY channel, bit
"""


@register("q275_shapley_attribution", _Q275_ORACLE)
def q275(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value marketing attribution (Shapley 1953; the
    data-driven attribution model behind ad-platform reporting) over
    the 4 pre-purchase channels — not the sampling approximation:
    with a channel set this small the coalition lattice has 2⁴ = 16
    nodes, so the characteristic function and every marginal
    contribution are computed exactly.  v(S) = number of converting
    users whose pre-first-purchase touched-channel set ⊆ S (the
    coalition \"explains\" the conversion); φᵢ = Σ_S |S|!(n−1−|S|)!/n!
    ·[v(S∪i)−v(S)] emitted ×24 (= 4!) so every value is an integer —
    efficiency axiom Σφᵢ = v(C)−v(∅) becomes an exact integer
    identity (pinned by the twin test).

    Scale: the only data-sized work is one groupBy (first purchase)
    and one join+bit_or (touched masks) — both keyed on user_id and
    map-side combinable; everything downstream lives on the 16-row
    lattice (a broadcast zeta transform, then 4×8 marginal terms).
    Adding channels grows the lattice 2^k — the exact method is right
    up to ~20 channels, beyond which the sampling estimator replaces
    the lattice join, same data-plane."""
    ev = load_table(spark, sf_dir, "events")
    # r12 opt round: unpinned, `fp` ran twice inside conv (touched's
    # probe + the left join), `conv` ran three times (the two v
    # broadcasts and touched_per_channel) and `v` twice (the vs/vi
    # broadcast sides) — 9 events scans per execution. All three pin
    # eagerly: conv and v are ≤2^|channels| rows, fp is the per-user
    # first-purchase frame consumed by two concurrent stages of one
    # job (the graph.py rule). Events now scan exactly twice (fp +
    # touched), the theoretical floor for this query.
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fp_ts"))
        .transform(_pin)
    )
    bit = F.create_map(
        *[
            x
            for n, b in _Q275_CHANNELS
            for x in (F.lit(n), F.lit(b))
        ]
    )[F.col("event_type")]
    # masks via a projected bit column (create_map keeps it JVM-side)
    touched = (
        ev.filter(
            F.col("event_type").isin([n for n, _ in _Q275_CHANNELS])
        )
        .select("user_id", "ts", bit.alias("bit"))
        .join(fp, "user_id")
        .filter(F.col("ts") < F.col("fp_ts"))
        .groupBy("user_id")
        .agg(F.expr("bit_or(bit)").cast("long").alias("mask"))
    )
    conv = (
        fp.join(touched, "user_id", "left")
        .select(F.coalesce("mask", F.lit(0)).cast("long").alias("mask"))
        .groupBy("mask")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .transform(_pin)
    )
    lattice = spark.range(16).select(F.col("id").cast("long").alias("S"))
    v = (
        lattice.join(
            F.broadcast(conv),
            (F.col("mask").bitwiseAND(F.col("S")) == F.col("mask")),
            "left",
        )
        .groupBy("S")
        .agg(F.coalesce(F.sum("n_users"), F.lit(0)).cast("long").alias("v"))
        .transform(_pin)
    )
    ch = spark.createDataFrame(
        list(_Q275_CHANNELS), "channel STRING, bit LONG"
    )
    terms = (
        ch.crossJoin(F.broadcast(v.select(F.col("S"), F.col("v").alias("vs"))))
        .filter(F.col("S").bitwiseAND(F.col("bit")) == 0)
        .join(
            F.broadcast(
                v.select(F.col("S").alias("Si"), F.col("v").alias("vi"))
            ),
            F.col("Si") == F.col("S").bitwiseOR(F.col("bit")),
        )
        .select(
            "channel",
            "bit",
            (
                F.expr(_Q275_W.format(s="S")).cast("long")
                * (F.col("vi") - F.col("vs"))
            ).alias("term"),
        )
    )
    touched_per_channel = (
        ch.join(
            F.broadcast(conv),
            F.col("mask").bitwiseAND(F.col("bit")) > 0,
            "left",
        )
        .groupBy("channel")
        .agg(
            F.coalesce(F.sum("n_users"), F.lit(0))
            .cast("long")
            .alias("n_touched_pre")
        )
    )
    return (
        terms.groupBy("channel")
        .agg(F.sum("term").cast("long").alias("shapley_x24"))
        .join(touched_per_channel, "channel")
        .select("channel", "n_touched_pre", "shapley_x24")
    )


# ---------------------------------------------------------------------------
# q276 — seasonal-naive forecast backtest (WAPE scorecard)
# ---------------------------------------------------------------------------

_Q276_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY 1, 2
), scored AS (
  SELECT a.event_type, a.cents AS actual, f.cents AS forecast
  FROM daily a JOIN daily f
    ON f.event_type = a.event_type AND f.d = a.d - 7
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(abs(actual - forecast)) AS BIGINT) AS sae_cents,
       CAST(sum(actual) AS BIGINT) AS actual_cents,
       CAST(sum(actual - forecast) AS BIGINT) AS bias_cents,
       CAST((2000000 * sum(abs(actual - forecast)) + sum(actual))
            // (2 * sum(actual)) AS BIGINT) AS wape_micro
FROM scored GROUP BY event_type
"""


@register("q276_forecast_backtest", _Q276_ORACLE)
def q276(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast BACKTEST scorecard — the evaluation loop every demand
    forecasting pipeline runs before trusting a model: the
    seasonal-naive baseline (forecast(d) = actual(d−7), the standard
    M-competition yardstick any real model must beat) scored per
    series with WAPE (Σ|err| / Σactual — the operations metric; MAPE
    divides by per-day actuals and explodes on small days) plus the
    signed bias.  Daily actuals are exact integer cents, so every
    error is an integer; WAPE is one round-half-up micro ratio.

    Scale: one map-side-combined (type, day) rollup over the event
    stream, then a self-equi-join on (type, day−7) at series×day
    granularity — tiny relative to the input, co-partitioned by the
    rollup's own key (no extra shuffle beyond the one the rollup
    already pays)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("cents")
    )
    f = daily.select(
        F.col("event_type").alias("f_type"),
        F.date_add(F.col("d"), 7).alias("f_d"),
        F.col("cents").alias("forecast"),
    )
    scored = daily.join(
        f,
        (F.col("event_type") == F.col("f_type"))
        & (F.col("d") == F.col("f_d")),
    ).select("event_type", F.col("cents").alias("actual"), "forecast")
    err = F.abs(F.col("actual") - F.col("forecast"))
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(err).cast("long").alias("sae_cents"),
        F.sum("actual").cast("long").alias("actual_cents"),
        F.sum(F.col("actual") - F.col("forecast"))
        .cast("long")
        .alias("bias_cents"),
        F.expr(
            "(2000000 * sum(abs(actual - forecast)) + sum(actual))"
            " div (2 * sum(actual))"
        )
        .cast("long")
        .alias("wape_micro"),
    )


# ---------------------------------------------------------------------------
# q277 — decision-stump feature scoring by Gini impurity gain
# ---------------------------------------------------------------------------

# feature name -> grouping expression (shared SQL spelling; integer or
# small-string valued on both engines).  Discounts/quantities are
# whole-valued source data, so the bucket predicates are exact.
_Q277_FEATURES = (
    ("linestatus", "l_linestatus"),
    ("qty_gt25", "CASE WHEN CAST(l_quantity AS BIGINT) > 25 THEN 'y' ELSE 'n' END"),
    ("disc_ge5", "CASE WHEN CAST(round(l_discount * 100) AS BIGINT) >= 5 THEN 'y' ELSE 'n' END"),
    ("ship_year", "CAST(year(CAST(l_shipdate AS DATE)) AS STRING)"),
    ("ship_month", "CAST(month(CAST(l_shipdate AS DATE)) AS STRING)"),
)

_Q277_UNPIVOT_SQL = " UNION ALL ".join(
    f"SELECT '{name}' AS feature, {expr} AS val, l_returnflag AS cls"
    " FROM lineitem"
    for name, expr in _Q277_FEATURES
)

_Q277_ORACLE = f"""
WITH obs AS ({_Q277_UNPIVOT_SQL}
), cc AS (
  SELECT feature, val, cls, CAST(count(*) AS BIGINT) AS c
  FROM obs GROUP BY feature, val, cls
), grp AS (
  SELECT feature, val,
         CAST(sum(c) AS BIGINT) AS ng,
         CAST(sum(c * c) AS BIGINT) AS sq
  FROM cc GROUP BY feature, val
), gg AS (
  SELECT feature, val, ng,
         (2000000 * (ng * ng - sq) + ng * ng) // (2 * ng * ng)
           AS gini_micro
  FROM grp
), parent AS (
  SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(c * c) AS BIGINT) AS sq
  FROM (
    SELECT cls, CAST(count(*) AS BIGINT) AS c
    FROM lineitem GROUP BY l_returnflag, cls
  ) t
), parent2 AS (
  SELECT n, (2000000 * (n * n - sq) + n * n) // (2 * n * n)
           AS parent_micro
  FROM (
    SELECT CAST(sum(c) AS BIGINT) AS n,
           CAST(sum(c * c) AS BIGINT) AS sq
    FROM (SELECT CAST(count(*) AS BIGINT) AS c
          FROM lineitem GROUP BY l_returnflag) t
  )
)
SELECT feature,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(max(parent_micro) AS BIGINT) AS parent_gini_micro,
       CAST((2 * sum(ng * gini_micro) + max(n)) // (2 * max(n))
            AS BIGINT) AS child_gini_micro,
       CAST(max(parent_micro)
            - (2 * sum(ng * gini_micro) + max(n)) // (2 * max(n))
            AS BIGINT) AS gain_micro
FROM gg CROSS JOIN parent2 GROUP BY feature
"""


@register("q277_gini_gain_stump", _Q277_ORACLE)
def q277(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump FEATURE SCORING by Gini impurity gain — the
    split-selection inner loop of every tree learner (CART/XGBoost),
    run once per candidate feature as the screening pass a modeling
    pipeline uses before training: gain(f) = gini(parent) −
    Σ_g (n_g/n)·gini(group g).  Gini is chosen over entropy
    DELIBERATELY (the q89 rule): entropy needs ln() whose libm results
    are not bit-portable across engines, while Gini is pure rational
    arithmetic — every impurity here is an exact integer ratio rounded
    once to micro (per-group, then the n_g-weighted child average,
    each with the round-half-up div rule), so the scorecard is
    value-hash exact.

    Scale: one (feature × row) unpivot — a 5× flatMap, no shuffle —
    into a (feature, value, class) count rollup that map-side combines
    to |features|·|values|·|classes| rows (~200 here); everything
    after is per-feature algebra on that tiny frame.  n²·10⁶ fits
    int64 through sf0.1 ×10 (documented; DECIMAL(38) sums are the
    sf1000 path)."""
    li = load_table(spark, sf_dir, "lineitem")
    obs = None
    for name, expr in _Q277_FEATURES:
        part = li.select(
            F.lit(name).alias("feature"),
            F.expr(expr).alias("val"),
            F.col("l_returnflag").alias("cls"),
        )
        obs = part if obs is None else obs.unionByName(part)
    cc = obs.groupBy("feature", "val", "cls").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    grp = cc.groupBy("feature", "val").agg(
        F.sum("c").cast("long").alias("ng"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sq"),
    )
    gg = grp.select(
        "feature",
        "ng",
        F.expr(
            "(2000000 * (ng * ng - sq) + ng * ng) div (2 * ng * ng)"
        ).alias("gini_micro"),
    )
    parent = (
        li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("sq"),
        )
        .select(
            "n",
            F.expr(
                "(2000000 * (n * n - sq) + n * n) div (2 * n * n)"
            ).alias("parent_micro"),
        )
    )
    return (
        gg.crossJoin(F.broadcast(parent))
        .groupBy("feature")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.max("parent_micro").cast("long").alias("parent_gini_micro"),
            F.expr(
                "(2 * sum(ng * gini_micro) + max(n)) div (2 * max(n))"
            )
            .cast("long")
            .alias("child_gini_micro"),
            (
                F.max("parent_micro")
                - F.expr(
                    "(2 * sum(ng * gini_micro) + max(n)) div (2 * max(n))"
                )
            )
            .cast("long")
            .alias("gain_micro"),
        )
    )


# ---------------------------------------------------------------------------
# q278 — grid-blocked spatial nearest-neighbor join
# ---------------------------------------------------------------------------

_Q278_RADIUS = 16  # Chebyshev radius; equals the cell size, so a 3x3
#                    neighborhood provably covers every candidate
_Q278_MOD = 1000

# deterministic planar coordinates synthesized from the key (the q179
# pattern: both engines derive identical inputs from the same integers)
_Q278_XY = (
    "(c_custkey * 7919) % {m} AS x, (c_custkey * 104729) % {m} AS y"
).format(m=_Q278_MOD)

_Q278_ORACLE = f"""
WITH pts AS (
  SELECT c_custkey, c_mktsegment, {_Q278_XY}
  FROM customer
), lhs AS (SELECT c_custkey AS k, x, y FROM pts
           WHERE c_mktsegment = 'BUILDING'),
rhs AS (SELECT c_custkey AS nb, x AS nx, y AS ny FROM pts
        WHERE c_mktsegment = 'MACHINERY'),
cand AS (
  SELECT lhs.k, rhs.nb,
         greatest(abs(lhs.x - rhs.nx), abs(lhs.y - rhs.ny)) AS d_inf,
         abs(lhs.x - rhs.nx) + abs(lhs.y - rhs.ny) AS d_l1
  FROM lhs JOIN rhs
    ON abs(lhs.x - rhs.nx) <= {_Q278_RADIUS}
   AND abs(lhs.y - rhs.ny) <= {_Q278_RADIUS}
), ranked AS (
  SELECT k, nb, d_inf, d_l1,
         row_number() OVER (PARTITION BY k
                            ORDER BY d_inf, d_l1, nb) AS rn
  FROM cand
)
SELECT CAST(k AS BIGINT) AS custkey, CAST(nb AS BIGINT) AS nn_custkey,
       CAST(d_inf AS BIGINT) AS d_inf, CAST(d_l1 AS BIGINT) AS d_l1
FROM ranked WHERE rn = 1
"""


@register("q278_grid_nn_join", _Q278_ORACLE)
def q278(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-blocked spatial NEAREST-NEIGHBOR join — the geospatial
    primitive (nearest warehouse / driver / store within radius r)
    expressed without a cross join: with cell size = r, a point's
    neighbors within Chebyshev radius r can only live in its 3×3 cell
    neighborhood, so each left point EXPLODES to 9 (cell, point) probes
    that equi-join the right side's cell index — the same
    bucket-the-metric-space move as the LSH/band joins (q28/q203), in
    planar geometry.  Coordinates are key-derived integers (the q179
    deterministic-synthesis pattern); distances are exact; winner per
    left point by (d_inf, d_l1, key) — a fully pinned tiebreak.

    The oracle cross-joins the two segments outright (correct at any
    test SF, quadratic); the engine plan carries |L|·9 + |R| rows into
    an equi-join — linear in the data, the shape that survives 100 TB
    (the cell index is the shuffle key; density skew is bounded by the
    synthesis modulus, and in production by quad-tree cell splitting).
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        ((F.col("c_custkey") * 7919) % _Q278_MOD).alias("x"),
        ((F.col("c_custkey") * 104729) % _Q278_MOD).alias("y"),
    )
    r = _Q278_RADIUS
    lhs = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k"), "x", "y"
    )
    rhs = cust.filter(F.col("c_mktsegment") == "MACHINERY").select(
        F.col("c_custkey").alias("nb"),
        F.col("x").alias("nx"),
        F.col("y").alias("ny"),
        F.expr(f"nx div {r}").alias("cx"),
        F.expr(f"ny div {r}").alias("cy"),
    )
    probes = lhs.select(
        "k",
        "x",
        "y",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(-1, 1), dx -> "
                f"transform(sequence(-1, 1), dy -> "
                f"struct(x div {r} + dx AS cx, y div {r} + dy AS cy))))"
            )
        ).alias("cell"),
    ).select("k", "x", "y", "cell.cx", "cell.cy")
    cand = (
        probes.join(rhs, ["cx", "cy"])
        .filter(
            (F.abs(F.col("x") - F.col("nx")) <= r)
            & (F.abs(F.col("y") - F.col("ny")) <= r)
        )
        .select(
            "k",
            "nb",
            F.greatest(
                F.abs(F.col("x") - F.col("nx")),
                F.abs(F.col("y") - F.col("ny")),
            ).alias("d_inf"),
            (
                F.abs(F.col("x") - F.col("nx"))
                + F.abs(F.col("y") - F.col("ny"))
            ).alias("d_l1"),
        )
    )
    w = Window.partitionBy("k").orderBy("d_inf", "d_l1", "nb")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("k").cast("long").alias("custkey"),
            F.col("nb").cast("long").alias("nn_custkey"),
            F.col("d_inf").cast("long").alias("d_inf"),
            F.col("d_l1").cast("long").alias("d_l1"),
        )
    )


# ---------------------------------------------------------------------------
# q279 — isotonic (PAV) calibration via the minimax identity
# ---------------------------------------------------------------------------

_Q279_ORACLE = """
WITH b AS (
  SELECT CAST(round(l_discount * 100) AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS pos
  FROM lineitem GROUP BY 1
), pre AS (
  SELECT bin,
         sum(n) OVER (ORDER BY bin) AS cn,
         sum(pos) OVER (ORDER BY bin) AS cp
  FROM b
), pairs AS (
  SELECT lo.bin AS h, hi.bin AS j,
         (2000000 * (hi.cp - coalesce(lp.cp, 0))
          + (hi.cn - coalesce(lp.cn, 0)))
           // (2 * (hi.cn - coalesce(lp.cn, 0))) AS avg_micro
  FROM pre lo
  JOIN pre hi ON lo.bin <= hi.bin
  LEFT JOIN pre lp
    ON lp.bin = (SELECT max(bin) FROM pre WHERE bin < lo.bin)
), inner_min AS (
  SELECT b.bin, p.h, CAST(min(p.avg_micro) AS BIGINT) AS m
  FROM b JOIN pairs p ON p.h <= b.bin AND p.j >= b.bin
  GROUP BY b.bin, p.h
)
SELECT i.bin, b.n, b.pos,
       CAST((2000000 * b.pos + b.n) // (2 * b.n) AS BIGINT)
         AS rate_micro,
       CAST(max(i.m) AS BIGINT) AS iso_micro
FROM inner_min i JOIN b ON b.bin = i.bin
GROUP BY i.bin, b.n, b.pos
"""


@register("q279_isotonic_calibration", _Q279_ORACLE)
def q279(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone) CALIBRATION — the pool-adjacent-violators
    fit every score-calibration pipeline runs (Zadrozny & Elkan 2002),
    here fitting return rate as a non-decreasing function of the
    discount bin.  PAV's sequential pooling loop is replaced by the
    MINIMAX IDENTITY iso_i = max_{h≤i} min_{j≥i} avg(h..j): after the
    single data-scale rollup to B = 11 bins, all O(B²) interval
    averages come from one prefix-sum self-join and the minimax is two
    grouped aggregations over O(B³) tiny rows — no iteration, no UDF.
    Interval averages are micro-rounded ONCE (round-half-up div), so
    the minimax runs on identical integers in both engines; the output
    is monotone by construction regardless of rounding (the twin test
    additionally pins it to exact-rational PAV within the quantum).

    Scale: the only data-sized pass is the groupBy(bin); B is the
    calibration-bin count you CHOOSE (10-100 in practice), so the
    lattice algebra is constant work at any corpus size."""
    li = load_table(spark, sf_dir, "lineitem")
    b = li.groupBy(
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("l_returnflag") == "R").cast("long"))
        .cast("long")
        .alias("pos"),
    )
    wpre = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = b.select(
        "bin",
        F.sum("n").over(wpre).cast("long").alias("cn"),
        F.sum("pos").over(wpre).cast("long").alias("cp"),
    )
    hi = pre.select(
        F.col("bin").alias("j"),
        F.col("cn").alias("cn_j"),
        F.col("cp").alias("cp_j"),
    )
    # prefix BEFORE h = prefix at h minus h's own bucket
    lo = pre.join(b, "bin").select(
        F.col("bin").alias("h"),
        (F.col("cn") - F.col("n")).alias("cn_before"),
        (F.col("cp") - F.col("pos")).alias("cp_before"),
    )
    pairs = (
        lo.crossJoin(hi)
        .filter(F.col("h") <= F.col("j"))
        .select(
            "h",
            "j",
            F.expr(
                "(2000000 * (cp_j - cp_before) + (cn_j - cn_before))"
                " div (2 * (cn_j - cn_before))"
            ).alias("avg_micro"),
        )
    )
    bins = b.select(F.col("bin"))
    inner_min = (
        bins.join(
            F.broadcast(pairs),
            (F.col("h") <= F.col("bin")) & (F.col("j") >= F.col("bin")),
        )
        .groupBy("bin", "h")
        .agg(F.min("avg_micro").cast("long").alias("m"))
    )
    iso = inner_min.groupBy("bin").agg(
        F.max("m").cast("long").alias("iso_micro")
    )
    return b.join(iso, "bin").select(
        "bin",
        "n",
        "pos",
        F.expr("(2000000 * pos + n) div (2 * n)").alias("rate_micro"),
        "iso_micro",
    )


# ---------------------------------------------------------------------------
# q280 — Holt double-exponential smoothing (row-local ordered fold)
# ---------------------------------------------------------------------------

# alpha = 1/4 (level), beta = 1/8 (trend): exact rationals, so each
# step is one integer rounding.  Signed values require the CASE
# half-away form (PLANS.md integer-exactness recipes): both engines
# TRUNCATE integer division toward zero ((-7) div 2 = -3 in Spark,
# (-7)//2 = -3 in DuckDB 1.0 — verified), so (2n ± d) div (2d) is the
# shared half-away-from-zero rounding for either sign.

# The oracle folds via WITH RECURSIVE, NOT list_reduce: DuckDB 1.0's
# list_reduce evaluates a struct-typed accumulator's fields against
# INCONSISTENT state (minimal repro: (acc, e) -> {'a': acc.a + e.a,
# 'b': acc.a} over [{1},{2},{3}] returns b = 6, i.e. the freshly
# updated 'a', where b = 3 is correct; Spark's `aggregate` returns 3).
# Scalar accumulators (the q253/q273 folds) are unaffected.
_Q280_ORACLE = """
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY 1, 2
), idx AS (
  SELECT event_type, cents * 1000 AS xm,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
              AS BIGINT) AS i,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM daily
), fit AS (
  SELECT event_type, i, n, xm AS l, CAST(0 AS BIGINT) AS t,
         CAST(0 AS BIGINT) AS sae
  FROM idx WHERE i = 1
  UNION ALL
  SELECT event_type, i, n, l2,
         CAST((2 * ((l2 - lp) + 7 * tp)
               + (CASE WHEN (l2 - lp) + 7 * tp < 0
                  THEN -8 ELSE 8 END)) // 16 AS BIGINT) AS t,
         CAST(sae + abs(xm - (lp + tp)) AS BIGINT) AS sae
  FROM (
    SELECT x.event_type, x.i, x.n, x.xm, f.l AS lp, f.t AS tp,
           f.sae AS sae,
           CAST((2 * (x.xm + 3 * (f.l + f.t))
                 + (CASE WHEN x.xm + 3 * (f.l + f.t) < 0
                    THEN -4 ELSE 4 END)) // 8 AS BIGINT) AS l2
    FROM fit f JOIN idx x
      ON x.event_type = f.event_type AND x.i = f.i + 1
  ) s
)
SELECT event_type, n AS n_days,
       l AS level_milli, t AS trend_milli, sae AS sae_milli,
       CAST(l + 7 * t AS BIGINT) AS forecast7_milli
FROM fit WHERE i = n
"""

_Q280_STEP_SPARK = """
(acc, e) -> struct(
  CAST((2 * (e.l + 3 * (acc.l + acc.t))
        + (CASE WHEN e.l + 3 * (acc.l + acc.t) < 0 THEN -4 ELSE 4 END))
        div 8 AS BIGINT) AS l,
  CAST((2 * (((2 * (e.l + 3 * (acc.l + acc.t))
        + (CASE WHEN e.l + 3 * (acc.l + acc.t) < 0 THEN -4 ELSE 4 END))
        div 8 - acc.l) + 7 * acc.t)
        + (CASE WHEN ((2 * (e.l + 3 * (acc.l + acc.t))
        + (CASE WHEN e.l + 3 * (acc.l + acc.t) < 0 THEN -4 ELSE 4 END))
        div 8 - acc.l) + 7 * acc.t < 0 THEN -8 ELSE 8 END))
        div 16 AS BIGINT) AS t,
  CAST(acc.sae + abs(e.l - (acc.l + acc.t)) AS BIGINT) AS sae)
"""


@register("q280_holt_smoothing", _Q280_ORACLE)
def q280(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt DOUBLE-exponential smoothing (level + trend) fit per event
    series, with the one-week-ahead forecast and the in-sample sum of
    absolute one-step errors — the classic recursive forecaster whose
    every step depends on the previous one, so no window function can
    express it: the recurrence l ← α·x + (1−α)(l+t), t ← β(l−l_prev)
    + (1−β)t folds ROW-LOCALLY over each series' date-ordered array
    (Spark ``aggregate`` / DuckDB ``list_reduce`` over a shared
    struct accumulator — the q253 machinery extended to
    MULTI-VARIABLE state).  α = 1/4, β = 1/8 keep each step one
    integer rounding in milli-cents; trend and errors go NEGATIVE, so
    rounding is the signed half-away form (2n ± d) div (2d) — both
    engines truncate integer division identically (verified), making
    the recurrence bit-portable.

    Scale: one map-side-combined (type, day) rollup, then one ordered
    array per series — the fold is O(days) per series and the array
    size is the OBSERVATION WINDOW, not the corpus; unbounded history
    would run the same fold incrementally via applyInPandasWithState
    (the q83 path) carrying (l, t) as state."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("cents")
    )
    series = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("d").alias("d"),
                    (F.col("cents") * 1000).alias("l"),
                    F.lit(0).cast("long").alias("t"),
                    F.lit(0).cast("long").alias("sae"),
                )
            )
        ).alias("raw"),
    )
    fitted = series.select(
        "event_type",
        "n_days",
        F.expr(
            # strip the sort key so acc/element struct shapes agree,
            # then seed with the first observation (l=x1, t=0, sae=0)
            f"""
            aggregate(
              slice(transform(raw, r -> struct(r.l AS l, r.t AS t,
                                               r.sae AS sae)),
                    2, size(raw) - 1),
              struct(raw[0].l AS l, CAST(0 AS BIGINT) AS t,
                     CAST(0 AS BIGINT) AS sae),
              {_Q280_STEP_SPARK})
            """
        ).alias("st"),
    )
    return fitted.select(
        "event_type",
        "n_days",
        F.col("st.l").alias("level_milli"),
        F.col("st.t").alias("trend_milli"),
        F.col("st.sae").alias("sae_milli"),
        (F.col("st.l") + 7 * F.col("st.t"))
        .cast("long")
        .alias("forecast7_milli"),
    )


# ---------------------------------------------------------------------------
# q281 — single-pass covariance/correlation sufficient statistics
# ---------------------------------------------------------------------------

# small-range integer measures (bounded products keep every sum and
# cross-moment in int64 far past sf0.1: max |sum_xy| here is
# n * 50 * 500)
_Q281_MEASURES = (
    ("qty", "CAST(l_quantity AS BIGINT)"),
    ("disc", "CAST(round(l_discount * 100) AS BIGINT)"),
    ("tax", "CAST(round(l_tax * 100) AS BIGINT)"),
    ("month", "CAST(month(CAST(l_shipdate AS DATE)) AS BIGINT)"),
)
_Q281_PAIRS = tuple(
    (_Q281_MEASURES[i][0], _Q281_MEASURES[j][0])
    for i in range(len(_Q281_MEASURES))
    for j in range(i, len(_Q281_MEASURES))
)

_Q281_SUM_SQL = ", ".join(
    [
        f"CAST(sum({expr}) AS BIGINT) AS s_{name}"
        for name, expr in _Q281_MEASURES
    ]
    + [
        f"CAST(sum(({ex}) * ({ey})) AS BIGINT) AS sp_{nx}_{ny}"
        for i, (nx, ex) in enumerate(_Q281_MEASURES)
        for ny, ey in _Q281_MEASURES[i:]
    ]
)

_Q281_ROWS_SQL = " UNION ALL ".join(
    f"SELECT '{nx}' AS feat_x, '{ny}' AS feat_y, n, "
    f"s_{nx} AS sum_x, s_{ny} AS sum_y, sp_{nx}_{ny} AS sum_xy, "
    f"n * sp_{nx}_{ny} - s_{nx} * s_{ny} AS cov_num FROM sums"
    for nx, ny in _Q281_PAIRS
)

_Q281_ORACLE = f"""
WITH sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n, {_Q281_SUM_SQL}
  FROM lineitem
)
{_Q281_ROWS_SQL}
"""


@register("q281_covariance_matrix", _Q281_ORACLE)
def q281(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pairwise COVARIANCE MATRIX in one pass — the
    sufficient-statistics pattern every feature-engineering /
    drift-monitoring pipeline uses at scale: a SINGLE aggregation job
    computes n, Σx per measure and Σxy per pair (upper triangle incl.
    diagonal = variances), then the 10-cell matrix unpivots from the
    one-row result.  Emitted values are the EXACT INTEGER sufficient
    statistics plus the scaled covariance numerator n·Σxy − Σx·Σy
    (cov = num / (n(n−1)); correlation = num_xy/√(num_xx·num_yy)) —
    exact integers hash identically across engines where any float
    ratio would carry libm/rounding risk.

    Scale: ONE map-side-combined reduce over the fact table computes
    all 14 sums together (Spark evaluates the aggregate list in a
    single WholeStageCodegen pass — k measures cost one scan, not k);
    the unpivot runs on a 1-row frame.  Integer overflow is a
    bounded-range argument documented per measure; wide-range measures
    move the same sums to DECIMAL(38)."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for name, expr in _Q281_MEASURES:
        aggs.append(F.expr(expr).alias(f"v_{name}"))
    proj = li.select(
        *[F.expr(expr).alias(f"v_{name}") for name, expr in _Q281_MEASURES]
    )
    sum_aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for name, _ in _Q281_MEASURES:
        sum_aggs.append(
            F.sum(F.col(f"v_{name}")).cast("long").alias(f"s_{name}")
        )
    for i, (nx, _) in enumerate(_Q281_MEASURES):
        for ny, _ in _Q281_MEASURES[i:]:
            sum_aggs.append(
                F.sum(F.col(f"v_{nx}") * F.col(f"v_{ny}"))
                .cast("long")
                .alias(f"sp_{nx}_{ny}")
            )
    sums = proj.agg(*sum_aggs)
    stack_expr = ", ".join(
        f"'{nx}', '{ny}', s_{nx}, s_{ny}, sp_{nx}_{ny}"
        for nx, ny in _Q281_PAIRS
    )
    return sums.select(
        F.col("n"),
        F.expr(
            f"stack({len(_Q281_PAIRS)}, {stack_expr})"
            " AS (feat_x, feat_y, sum_x, sum_y, sum_xy)"
        ),
    ).select(
        "feat_x",
        "feat_y",
        "n",
        "sum_x",
        "sum_y",
        "sum_xy",
        (F.col("n") * F.col("sum_xy") - F.col("sum_x") * F.col("sum_y"))
        .cast("long")
        .alias("cov_num"),
    )


# ---------------------------------------------------------------------------
# q282 — 2-hop neighborhood size via HLL register merging (HyperANF step)
# ---------------------------------------------------------------------------


def _q282_oracle() -> str:
    from ..operators.sketches import (
        HASH_BITS,
        R,
        RMAX,
        _SUFFIX_MASK,
    )

    rho_branches = "\n         ".join(
        f"WHEN w >= {1 << (R - j)} THEN {j}" for j in range(1, R + 1)
    )
    return f"""
WITH e AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS part FROM lineitem
), h AS (
  SELECT ok, part,
         ('0x' || substring(md5(CAST(part AS VARCHAR)), 1,
                            {HASH_BITS // 4}))::BIGINT AS h
  FROM e
), k AS (
  SELECT ok, h >> {R} AS b,
         CASE
         {rho_branches}
         ELSE {RMAX} END AS rho
  FROM (SELECT ok, h, h & {_SUFFIX_MASK} AS w FROM h) t
), regs AS (
  SELECT ok, b, max(rho) AS m FROM k GROUP BY ok, b
), merged AS (
  SELECT e.part, r.b, max(r.m) AS m
  FROM e JOIN regs r ON r.ok = e.ok
  GROUP BY e.part, r.b
), agg AS (
  SELECT part,
         sum(1::BIGINT << ({RMAX} - m)) AS s,
         count(b) AS nb
  FROM merged GROUP BY part
), deg AS (
  SELECT part, CAST(count(*) AS BIGINT) AS n_orders FROM e GROUP BY part
)
SELECT CAST(deg.part AS BIGINT) AS part, deg.n_orders,
       CAST(nb AS BIGINT) AS regs_occupied,
       CAST(coalesce(s, 0) AS BIGINT) AS reg_sum
FROM deg JOIN agg ON agg.part = deg.part
"""


@register("q282_two_hop_reach", _q282_oracle())
def q282(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop neighborhood SIZE per node via HLL register merging — one
    iteration of HyperANF (Boldi, Rosa & Vigna 2011), the algorithm
    that made neighborhood functions computable on billion-edge
    graphs: instead of materializing the quadratic 2-hop expansion
    (Σ d² pairs — the blow-up q224's triangle rewrite dodged), each
    ORDER carries a 512-register HLL sketch of its parts, and a part's
    co-purchase reach (distinct parts sharing ≥1 order with it) is the
    REGISTER-WISE MAX over its orders' sketches: union of sets =
    max of registers, associative and exact on the register level.
    The join therefore carries |E| × (occupied registers per order —
    bounded by the basket size, ~4) rows, linear in the edge list.

    The declared output is the sketch's EXACT INTEGER sufficient
    statistics (occupied registers, register sum — the portable md5 /
    rho construction of operators/sketches), hash-exact across
    engines; the reach estimate finalizes from them downstream
    (linear counting here — typical reach ≪ m = 512 registers, the
    regime where the raw-HLL division is structurally biased and
    ln() would break bit-exactness; the twin test applies it and
    checks against the brute-force exact reach).  n_orders rides
    along exactly.

    Scale: at 100 TB the per-node sketches land as a table
    (hll_register_frame's mergeable form) and the k-hop iteration is
    k register-merge joins — state per node is a CONSTANT 512
    registers regardless of neighborhood size, the whole point of the
    HyperANF representation."""
    from ..operators.sketches import RMAX, hll_register_frame

    li = load_table(spark, sf_dir, "lineitem")
    # edges feed three consumers (per-order registers, the merge join,
    # the degree rollup) — pin the distinct() once instead of paying
    # its shuffle three times
    edges = (
        li.select(
            F.col("l_orderkey").alias("ok"),
            F.col("l_partkey").alias("part"),
        )
        .distinct()
        .transform(_pin)
    )
    regs = hll_register_frame(
        edges.withColumn("pstr", F.col("part").cast("string")),
        ["ok"],
        "pstr",
    )
    merged = (
        edges.join(regs, "ok")
        .groupBy("part", "_b")
        .agg(F.max("_m").alias("_m"))
    )
    stats = merged.groupBy("part").agg(
        F.count("_b").cast("long").alias("regs_occupied"),
        F.sum(
            F.expr(
                f"shiftleft(cast(1 as bigint), cast({RMAX} - _m as int))"
            )
        )
        .cast("long")
        .alias("reg_sum"),
    )
    deg = edges.groupBy("part").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    return deg.join(stats, "part").select(
        F.col("part").cast("long").alias("part"),
        "n_orders",
        "regs_occupied",
        "reg_sum",
    )


# ---------------------------------------------------------------------------
# q283 — bitemporal point-in-time reconstruction
# ---------------------------------------------------------------------------

_Q283_V = "1996-06-30"  # valid-time slice (what was true ON this date)
_Q283_T1 = "1996-06-30"  # as first known (transaction time)
_Q283_T2 = "1998-12-31"  # as known after all corrections landed

# deterministic bitemporal change log synthesized from orders (the
# q179 pattern): a base version at order time, a RETROACTIVE
# restatement (valid_from unchanged, late tx_time) for every 7th
# order, and a FORWARD-dated amendment (both times shifted) for every
# 5th — the three version shapes a bitemporal warehouse must separate.
_Q283_LOG_SQL = """
  SELECT o_orderkey AS k, o_orderpriority AS pri,
         CAST(o_orderdate AS DATE) AS valid_from,
         CAST(o_orderdate AS DATE) AS tx_time,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_orderpriority,
         CAST(o_orderdate AS DATE),
         CAST(o_orderdate AS DATE) + INTERVAL 45 DAY,
         CAST(round(o_totalprice * 100) AS BIGINT)
           + (o_orderkey % 1000) - 500
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, o_orderpriority,
         CAST(o_orderdate AS DATE) + INTERVAL 10 DAY,
         CAST(o_orderdate AS DATE) + INTERVAL 10 DAY,
         CAST(round(o_totalprice * 100) AS BIGINT) + 25000
  FROM orders WHERE o_orderkey % 5 = 0
"""


def _q283_pit_sql(t: str) -> str:
    return f"""
  SELECT k, pri, price_cents FROM (
    SELECT k, pri, price_cents,
           row_number() OVER (PARTITION BY k
                              ORDER BY valid_from DESC, tx_time DESC)
             AS rn
    FROM log
    WHERE CAST(tx_time AS DATE) <= DATE '{t}'
      AND valid_from <= DATE '{_Q283_V}'
  ) s WHERE rn = 1
"""


_Q283_ORACLE = f"""
WITH log AS ({_Q283_LOG_SQL}
), pit1 AS ({_q283_pit_sql(_Q283_T1)}
), pit2 AS ({_q283_pit_sql(_Q283_T2)}
)
SELECT pit1.pri,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(pit1.price_cents) AS BIGINT) AS sum_known_t1,
       CAST(sum(pit2.price_cents) AS BIGINT) AS sum_known_t2,
       CAST(sum(CASE WHEN pit1.price_cents <> pit2.price_cents
                THEN 1 ELSE 0 END) AS BIGINT) AS n_restated
FROM pit1 JOIN pit2 ON pit1.k = pit2.k
GROUP BY pit1.pri
"""


@register("q283_bitemporal_pit", _Q283_ORACLE)
def q283(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL point-in-time reconstruction — the two-clock query
    every regulated warehouse must answer: \"what did we BELIEVE on
    date T about the state that was TRUE on date V?\" (Snodgrass;
    SQL:2011 system/application time).  The change log carries both
    clocks: retroactive RESTATEMENTS share the original valid_from but
    land with a late tx_time (invisible at T1, rewriting history at
    T2), while forward-dated AMENDMENTS move both.  The PIT rule —
    visible iff tx_time ≤ T, effective = max valid_from ≤ V with
    tx_time tiebreak — is one window per snapshot; comparing the T1
    and T2 reconstructions of the SAME valid slice yields the
    restatement audit (n_restated) that reconciles yesterday's report
    against today's.

    Scale: the log is |orders|·(1 + correction rates); each PIT pass
    is one row_number window keyed on the entity (high-cardinality —
    plain partitionBy per the PLANS.md rank rule); the two passes join
    on the entity key they are already partitioned by."""
    o = load_table(spark, sf_dir, "orders")
    od = F.col("o_orderdate").cast("date")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        od.alias("valid_from"),
        od.alias("tx_time"),
        cents.alias("price_cents"),
    )
    restate = o.filter(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        od.alias("valid_from"),
        F.date_add(od, 45).alias("tx_time"),
        (cents + F.col("o_orderkey") % 1000 - 500).alias("price_cents"),
    )
    amend = o.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.date_add(od, 10).alias("valid_from"),
        F.date_add(od, 10).alias("tx_time"),
        (cents + 25000).alias("price_cents"),
    )
    log = base.unionByName(restate).unionByName(amend)

    def pit(t: str, price_alias: str) -> DataFrame:
        w = Window.partitionBy("k").orderBy(
            F.desc("valid_from"), F.desc("tx_time")
        )
        return (
            log.filter(
                (F.col("tx_time") <= F.lit(t).cast("date"))
                & (F.col("valid_from") <= F.lit(_Q283_V).cast("date"))
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("k", "pri", F.col("price_cents").alias(price_alias))
        )

    p1 = pit(_Q283_T1, "price_t1")
    p2 = pit(_Q283_T2, "price_t2").drop("pri")
    return (
        p1.join(p2, "k")
        .groupBy("pri")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("price_t1").cast("long").alias("sum_known_t1"),
            F.sum("price_t2").cast("long").alias("sum_known_t2"),
            F.sum(
                (F.col("price_t1") != F.col("price_t2")).cast("long")
            )
            .cast("long")
            .alias("n_restated"),
        )
    )


# ---------------------------------------------------------------------------
# q284 — Kendall tau-b concordance components between two rankings
# ---------------------------------------------------------------------------

_Q284_TOPK = 200

_Q284_ORACLE = f"""
WITH rev AS (
  SELECT l_partkey AS part,
         CAST(sum(CASE WHEN year(CAST(l_shipdate AS DATE)) = 1997
             THEN CAST(round(l_extendedprice * 100) AS BIGINT)
             ELSE 0 END) AS BIGINT) AS r97,
         CAST(sum(CASE WHEN year(CAST(l_shipdate AS DATE)) = 1998
             THEN CAST(round(l_extendedprice * 100) AS BIGINT)
             ELSE 0 END) AS BIGINT) AS r98
  FROM lineitem GROUP BY l_partkey
), top AS (
  SELECT part, r97, r98 FROM rev
  ORDER BY r97 + r98 DESC, part LIMIT {_Q284_TOPK}
), pairs AS (
  SELECT a.r97 - b.r97 AS dx, a.r98 - b.r98 AS dy
  FROM top a JOIN top b ON a.part < b.part
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN sign(dx) * sign(dy) > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS concordant,
       CAST(sum(CASE WHEN sign(dx) * sign(dy) < 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS discordant,
       CAST(sum(CASE WHEN dx = 0 AND dy <> 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS ties_x,
       CAST(sum(CASE WHEN dy = 0 AND dx <> 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS ties_y,
       CAST(sum(CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS ties_both
FROM pairs
"""


@register("q284_kendall_tau", _Q284_ORACLE)
def q284(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b CONCORDANCE ANALYSIS between two rankings (1997
    vs 1998 revenue over the top-{k} parts) — the rank-correlation
    the forecasting/IR literature reaches for when Pearson's
    value-scale sensitivity is wrong; completes the repo's ranking
    family (q173 overlap, q265 RBO) with the pair-concordance view.
    The declared output is the EXACT INTEGER pair census — n_pairs,
    concordant, discordant, x-only/y-only/both ties — from which
    tau-b = (C−D)/√((n₀−t_x)(n₀−t_y)) finalizes in one line
    downstream; emitting components keeps the value-hash purely
    integer (the √ would be the only float).

    Scale: revenue rollup is map-side-combined on l_partkey; the pair
    census runs on a top-{k} frame, so the self-join is {k}²/2
    broadcast-sized rows by CONSTRUCTION — the standard move for
    quadratic rank diagnostics at any corpus size (ranking
    concordance over a full catalog uses the O(n log n)
    inversion-count rewrite instead; top-k is what dashboards
    compare)."""
    li = load_table(spark, sf_dir, "lineitem")
    yr = F.year(F.col("l_shipdate").cast("date"))
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    rev = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.sum(F.when(yr == 1997, cents).otherwise(0))
        .cast("long")
        .alias("r97"),
        F.sum(F.when(yr == 1998, cents).otherwise(0))
        .cast("long")
        .alias("r98"),
    )
    top = rev.orderBy(
        (F.col("r97") + F.col("r98")).desc(), F.col("part")
    ).limit(_Q284_TOPK)
    a = top.select(
        F.col("part").alias("pa"),
        F.col("r97").alias("xa"),
        F.col("r98").alias("ya"),
    )
    b = top.select(
        F.col("part").alias("pb"),
        F.col("r97").alias("xb"),
        F.col("r98").alias("yb"),
    )
    pairs = a.join(F.broadcast(b), F.col("pa") < F.col("pb")).select(
        (F.col("xa") - F.col("xb")).alias("dx"),
        (F.col("ya") - F.col("yb")).alias("dy"),
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum((F.signum("dx") * F.signum("dy") > 0).cast("long"))
        .cast("long")
        .alias("concordant"),
        F.sum((F.signum("dx") * F.signum("dy") < 0).cast("long"))
        .cast("long")
        .alias("discordant"),
        F.sum(((F.col("dx") == 0) & (F.col("dy") != 0)).cast("long"))
        .cast("long")
        .alias("ties_x"),
        F.sum(((F.col("dy") == 0) & (F.col("dx") != 0)).cast("long"))
        .cast("long")
        .alias("ties_y"),
        F.sum(((F.col("dx") == 0) & (F.col("dy") == 0)).cast("long"))
        .cast("long")
        .alias("ties_both"),
    )


q284.__doc__ = q284.__doc__.format(k=_Q284_TOPK)


# ---------------------------------------------------------------------------
# q285 — differentially-private count release (discrete geometric)
# ---------------------------------------------------------------------------


def _q285_thresholds() -> tuple[tuple[int, int], ...]:
    """floor(F(k) * 2^48) for the two-sided geometric with alpha = 3/4
    (epsilon = ln 4/3), truncated to |k| <= 16 — exact rationals, so
    both engines share literal integer thresholds.

    F(k) = (4/7)*(3/4)^(-k) for k < 0;  1 - (4/7)*(3/4)^(k+1) for k >= 0.
    """
    from fractions import Fraction

    out = []
    for k in range(-16, 16):
        if k < 0:
            fk = Fraction(4, 7) * Fraction(3, 4) ** (-k)
        else:
            fk = 1 - Fraction(4, 7) * Fraction(3, 4) ** (k + 1)
        out.append((k, (fk * (1 << 48)).__floor__()))
    return tuple(out)


_Q285_T = _q285_thresholds()
_Q285_CASE = (
    "CASE "
    + " ".join(f"WHEN u < {t} THEN CAST({k} AS BIGINT)" for k, t in _Q285_T)
    + " ELSE CAST(16 AS BIGINT) END"
)

_Q285_ORACLE = f"""
WITH cells AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS true_count
  FROM events GROUP BY 1, 2
), u AS (
  SELECT event_type, d, true_count,
         ('0x' || substring(md5('dp:' || event_type || ':'
                                || strftime(d, '%Y-%m-%d')), 1, 12))::BIGINT
           AS u
  FROM cells
)
SELECT event_type, d, true_count,
       {_Q285_CASE} AS noise,
       CAST(true_count + ({_Q285_CASE}) AS BIGINT) AS noisy_count
FROM u
"""


@register("q285_dp_noisy_release", _Q285_ORACLE)
def q285(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private COUNT RELEASE via the discrete geometric
    (two-sided geometric / \"discrete Laplace\") mechanism — the
    integer-native DP noise (Ghosh, Roughgarden & Sundararajan 2009)
    a privacy-preserving release pipeline adds to each histogram cell
    before publication, at ε = ln(4/3) (α = 3/4).  The mechanism is
    made REPRODUCIBLE the way production DP systems seed per-cell
    randomness: the uniform draw is the md5 48-bit prefix of the cell
    key, and the inverse-CDF lookup is a CASE chain over EXACT
    integer thresholds floor(F(k)·2⁴⁸) precomputed as rationals
    (α = 3/4 makes every CDF value a fraction over 7·4^k — no libm,
    both engines share the literals; the tail truncates at |k| = 16,
    mass ~0.4%, documented).  True counts ride along because this is
    the release AUDIT view (utility/error accounting), not the
    published artifact.

    Scale: one map-side-combined rollup to cells, then row-local hash
    + branch — no extra shuffle, no UDF; the threshold table is a
    33-arm CASE the optimizer folds to constants."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("true_count"))
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("dp:"),
                    F.col("event_type"),
                    F.lit(":"),
                    F.date_format("d", "yyyy-MM-dd"),
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    withu = cells.withColumn("u", u)
    noise = F.expr(_Q285_CASE)
    return withu.select(
        "event_type",
        "d",
        "true_count",
        noise.alias("noise"),
        (F.col("true_count") + noise).cast("long").alias("noisy_count"),
    )


# ---------------------------------------------------------------------------
# q286 — hard-negative mining for contrastive training pairs
# ---------------------------------------------------------------------------

_Q286_ANCHORS = 30

_Q286_ORACLE = f"""
WITH a AS (
  SELECT vec_id AS query_id, label AS q_label,
         embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {_Q286_ANCHORS}
), c AS (
  SELECT vec_id AS cand_id, label AS c_label,
         embedding::DOUBLE[] AS cv
  FROM embeddings
), scored AS (
  SELECT query_id, q_label, cand_id, c_label,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv))
              * sqrt(list_dot_product(cv, cv))) AS score
  FROM a JOIN c ON cand_id <> query_id
), pos AS (
  SELECT query_id, cand_id AS pos_id, score AS pos_score
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, cand_id) AS rn
        FROM scored WHERE c_label = q_label) t
  WHERE rn = 1
), neg AS (
  SELECT query_id, cand_id AS neg_id, score AS neg_score
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, cand_id) AS rn
        FROM scored WHERE c_label <> q_label) t
  WHERE rn = 1
)
SELECT pos.query_id, pos_id, pos_score, neg_id, neg_score,
       pos_score - neg_score AS margin
FROM pos JOIN neg ON neg.query_id = pos.query_id
"""


@register("q286_hard_negative_mining", _Q286_ORACLE)
def q286(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING — the training-pair construction step of
    every contrastive embedding pipeline (SimCSE/DPR/CLIP fine-tuning):
    for each anchor, the most-similar SAME-label candidate (the
    positive) and the most-similar DIFFERENT-label candidate (the hard
    negative — the example that actually moves the loss, vs a random
    negative that is already far away), plus the margin between them
    (negative margin = the anchor's neighborhood is dominated by
    another class — a label-noise signal).  Cosine via dot products
    and single-op sqrt/divide — the q27/q30 portability argument, so
    even the float scores value-hash across engines; ranks carry the
    (score desc, cand_id) pinned tiebreak.

    Scale: anchors broadcast, the corpus streams — one pass, no corpus
    shuffle (the q27 shape); at 100 TB the same mining runs per LSH
    bucket (q203's cogrouped form) to bound the candidate set, with
    identical pair-selection semantics."""
    from ..catalog import spread_for_compute
    from ..operators.similarity import dot

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") < _Q286_ANCHORS).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"),
    )
    c = spread_for_compute(emb).select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("c_label"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    score = dot(F.col("qv"), F.col("cv")) / (
        F.sqrt(dot(F.col("qv"), F.col("qv")))
        * F.sqrt(dot(F.col("cv"), F.col("cv")))
    )
    scored = c.join(
        F.broadcast(a), F.col("cand_id") != F.col("query_id")
    ).select(
        "query_id",
        "q_label",
        "cand_id",
        "c_label",
        score.alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("cand_id")
    )
    pos = (
        scored.filter(F.col("c_label") == F.col("q_label"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("cand_id").alias("pos_id"),
            F.col("score").alias("pos_score"),
        )
    )
    neg = (
        scored.filter(F.col("c_label") != F.col("q_label"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("cand_id").alias("neg_id"),
            F.col("score").alias("neg_score"),
        )
    )
    return pos.join(neg, "query_id").select(
        "query_id",
        "pos_id",
        "pos_score",
        "neg_id",
        "neg_score",
        (F.col("pos_score") - F.col("neg_score")).alias("margin"),
    )


# ---------------------------------------------------------------------------
# q287 — stratified treatment-effect estimate (observational ATE)
# ---------------------------------------------------------------------------

_Q287_SPLIT = "2024-01-15"  # exposure window before, outcome window after

_Q287_ORACLE = f"""
WITH p1 AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS activity,
         CAST(max(CASE WHEN event_type = 'error' AND value > 90
                  THEN 1 ELSE 0 END) AS BIGINT) AS treated
  FROM events WHERE CAST(ts AS DATE) < DATE '{_Q287_SPLIT}'
  GROUP BY user_id
), p2 AS (
  SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'purchase'
             THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
             AS BIGINT) AS y_cents
  FROM events WHERE CAST(ts AS DATE) >= DATE '{_Q287_SPLIT}'
  GROUP BY user_id
), subj AS (
  SELECT p1.user_id, p1.activity // 10 AS stratum, p1.treated,
         coalesce(p2.y_cents, 0) AS y
  FROM p1 LEFT JOIN p2 USING (user_id)
), cells AS (
  SELECT stratum,
         CAST(sum(treated) AS BIGINT) AS n_treated,
         CAST(sum(1 - treated) AS BIGINT) AS n_control,
         CAST(sum(CASE WHEN treated = 1 THEN y ELSE 0 END) AS BIGINT)
           AS y_treated,
         CAST(sum(CASE WHEN treated = 0 THEN y ELSE 0 END) AS BIGINT)
           AS y_control
  FROM subj GROUP BY stratum
)
SELECT stratum, n_treated, n_control, y_treated, y_control,
       CAST((2 * (1000000 * (y_treated * n_control
                             - y_control * n_treated))
             + (CASE WHEN y_treated * n_control
                          - y_control * n_treated < 0
                THEN -(n_treated * n_control)
                ELSE n_treated * n_control END))
            // (2 * n_treated * n_control) AS BIGINT) AS diff_micro
FROM cells WHERE n_treated > 0 AND n_control > 0
"""


@register("q287_stratified_ate", _Q287_ORACLE)
def q287(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED treatment-effect table — the observational causal
    estimate (Cochran's subclassification; the pre-model baseline of
    every uplift analysis): treatment = experienced an ``error`` in
    the exposure window, outcome = purchase cents in the disjoint
    outcome window, strata = exposure-window activity buckets (the
    confounder: active users both hit more errors AND buy more, which
    a naive treated-vs-control difference absorbs as fake effect).
    Per stratum with POSITIVITY (both arms non-empty): arm counts,
    exact outcome sums, and the within-stratum mean difference as one
    SIGNED half-away micro ratio — (Σy_t·n_c − Σy_c·n_t) over n_t·n_c,
    the cross-multiplied form that needs no intermediate float means;
    the ATE finalizes downstream as the n_s-weighted average.

    Scale: two map-side-combined per-user rollups (disjoint date
    filters push to the scan), one user-keyed join, one stratum
    rollup.  Strata buckets are fixed-width integer ranges —
    deterministic, unlike ntile whose tie placement is
    engine-specific."""
    ev = load_table(spark, sf_dir, "events")
    d = F.col("ts").cast("date")
    split = F.lit(_Q287_SPLIT).cast("date")
    p1 = (
        ev.filter(d < split)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("activity"),
            F.max(
                (
                    (F.col("event_type") == "error")
                    & (F.col("value") > 90)
                ).cast("long")
            )
            .cast("long")
            .alias("treated"),
        )
    )
    p2 = (
        ev.filter(d >= split)
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100, 0).cast("long"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("y_cents")
        )
    )
    subj = p1.join(p2, "user_id", "left").select(
        F.expr("activity div 10").alias("stratum"),
        "treated",
        F.coalesce("y_cents", F.lit(0)).alias("y"),
    )
    cells = subj.groupBy("stratum").agg(
        F.sum("treated").cast("long").alias("n_treated"),
        F.sum(F.lit(1) - F.col("treated")).cast("long").alias("n_control"),
        F.sum(F.when(F.col("treated") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("y_treated"),
        F.sum(F.when(F.col("treated") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("y_control"),
    )
    num = F.lit(1000000) * (
        F.col("y_treated") * F.col("n_control")
        - F.col("y_control") * F.col("n_treated")
    )
    den = F.col("n_treated") * F.col("n_control")
    return cells.filter(
        (F.col("n_treated") > 0) & (F.col("n_control") > 0)
    ).select(
        "stratum",
        "n_treated",
        "n_control",
        "y_treated",
        "y_control",
        F.expr(
            "CAST((2 * (1000000 * (y_treated * n_control"
            "              - y_control * n_treated))"
            " + (CASE WHEN y_treated * n_control"
            "               - y_control * n_treated < 0"
            "    THEN -(n_treated * n_control)"
            "    ELSE n_treated * n_control END))"
            " div (2 * n_treated * n_control) AS BIGINT)"
        ).alias("diff_micro"),
    )


# ---------------------------------------------------------------------------
# q288 — Wilson score interval with exact integer square root
# ---------------------------------------------------------------------------

# shared integer spelling (both engines): floor(sqrt(T)) from the
# double sqrt, then a +-1 adjust that makes it EXACT isqrt regardless
# of the double rounding (T stays far below 2^52 here, but the adjust
# removes the boundary dependence entirely)
_Q288_ISQRT = (
    "(CAST(floor(sqrt(CAST({t} AS DOUBLE))) AS BIGINT)"
    " + (CASE WHEN (CAST(floor(sqrt(CAST({t} AS DOUBLE))) AS BIGINT) + 1)"
    "          * (CAST(floor(sqrt(CAST({t} AS DOUBLE))) AS BIGINT) + 1)"
    "          <= {t} THEN 1"
    "     WHEN CAST(floor(sqrt(CAST({t} AS DOUBLE))) AS BIGINT)"
    "          * CAST(floor(sqrt(CAST({t} AS DOUBLE))) AS BIGINT)"
    "          > {t} THEN -1 ELSE 0 END))"
)

# T = floor(s(n-s)*10^12 / n) + 10^12, computed WITHOUT the 10^12
# product overflowing: floor(a*K/n) = (a div n)*K + ((a mod n)*K) div n
# (exact for nonnegative integers). Headroom: (a div n) <= n/4, so the
# first term stays in int64 through n ~ 5e6 per group - by which point
# the Wilson half-width is below the micro quantum anyway.
_Q288_T = (
    "(((s * (n - s)) {div} n) * 1000000000000"
    " + (((s * (n - s)) % n) * 1000000000000) {div} n"
    " + 1000000000000)"
)
_Q288_EXPRS = (
    "CAST((2000000 * s + n) {div} (2 * n) AS BIGINT) AS rate_micro",
    "CAST(greatest(CAST(0 AS BIGINT),"
    " (2000000 * (s + 2) + (n + 4)) {div} (2 * (n + 4))"
    " - (2 * " + _Q288_ISQRT.format(t=_Q288_T) + ") {div} (n + 4)"
    ") AS BIGINT) AS wilson_lo_micro",
    "CAST(least(CAST(1000000 AS BIGINT),"
    " (2000000 * (s + 2) + (n + 4)) {div} (2 * (n + 4))"
    " + (2 * " + _Q288_ISQRT.format(t=_Q288_T) + ") {div} (n + 4)"
    ") AS BIGINT) AS wilson_hi_micro",
)

_Q288_COUNTS = """
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN value > 90 THEN 1 ELSE 0 END) AS BIGINT)
           AS s
  FROM events GROUP BY event_type
"""

_Q288_ORACLE = (
    f"WITH counts AS ({_Q288_COUNTS}) SELECT event_type, n, s, "
    + ", ".join(e.format(div="//") for e in _Q288_EXPRS)
    + " FROM counts"
)


@register("q288_wilson_interval", _Q288_ORACLE)
def q288(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WILSON score interval (z = 2) for per-segment proportions — the
    binomial CI every experimentation/quality dashboard should use
    instead of the Wald interval (which collapses to zero width at
    p̂ ∈ {0,1} and goes negative near the edges; Wilson stays inside
    [0,1] and behaves at small n).  The entire interval is integer
    arithmetic: center = (s+2)/(n+4) as a round-half-up micro ratio,
    half-width = 2·√((s(n−s)+n)·10¹²/n)/(n+4) where the square root
    is an EXACT integer sqrt — floor(double sqrt) plus a ±1 adjust
    that cancels any last-ulp rounding, so both engines emit identical
    bounds with zero libm dependence (the √ is the only non-rational
    in Wilson; sqrt is IEEE-correctly-rounded, and the adjust makes
    even that irrelevance explicit).

    Scale: one map-side-combined rollup; the interval math is
    row-local on |segments| rows."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("value") > 90).cast("long")).cast("long").alias("s"),
    )
    return counts.selectExpr(
        "event_type", "n", "s", *[e.format(div="div") for e in _Q288_EXPRS]
    )


# ---------------------------------------------------------------------------
# q289 — seasonal decomposition (trend / day-of-week seasonal / remainder)
# ---------------------------------------------------------------------------

# portable day-of-week: days since epoch mod 7 (0 = Thursday) — the
# engines' dayofweek() builtins disagree on week start, epoch math
# does not
_Q289_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY 1, 2
), ma AS (
  SELECT event_type, d, cents,
         CAST(sum(cents) OVER w AS BIGINT) AS s7,
         CAST(count(*) OVER w AS BIGINT) AS c7,
         date_diff('day', DATE '1970-01-01', d) % 7 AS dow
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY d
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), tr AS (
  SELECT event_type, d, cents, dow,
         (2000 * s7 + 7) // 14 AS trend_milli,
         1000 * cents - (2000 * s7 + 7) // 14 AS detr_milli
  FROM ma WHERE c7 = 7
), sea AS (
  SELECT event_type, dow,
         CAST(sum(detr_milli) AS BIGINT) AS sd,
         CAST(count(*) AS BIGINT) AS nd
  FROM tr GROUP BY event_type, dow
), seam AS (
  SELECT event_type, dow,
         (2 * sd + (CASE WHEN sd < 0 THEN -nd ELSE nd END))
           // (2 * nd) AS seasonal_milli
  FROM sea
)
SELECT tr.event_type, tr.d, tr.cents AS y_cents,
       CAST(tr.trend_milli AS BIGINT) AS trend_milli,
       CAST(seam.seasonal_milli AS BIGINT) AS seasonal_milli,
       CAST(tr.detr_milli - seam.seasonal_milli AS BIGINT)
         AS remainder_milli
FROM tr JOIN seam
  ON seam.event_type = tr.event_type AND seam.dow = tr.dow
"""


@register("q289_seasonal_decomposition", _Q289_ORACLE)
def q289(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical SEASONAL DECOMPOSITION (the moving-average
    trend/seasonal/remainder split behind every STL plot): trend =
    centered 7-observation moving average per series (edge days
    without a full window are excluded — the textbook treatment),
    seasonal = per day-of-week mean of the detrended series (signed
    half-away milli), remainder = what neither explains.  Day-of-week
    comes from epoch-day mod 7 — the engines' dayofweek() builtins
    disagree on week start (Spark 1=Sunday, DuckDB 0=Sunday), epoch
    arithmetic cannot.

    Scale: one map-side-combined (type, day) rollup; the centered MA
    is a ROWS window per series (series count × observation days —
    bounded frames); the seasonal pass is a 7-row-per-series rollup
    broadcast back.  At unbounded history the MA window and DOW means
    run over a bounded trailing slice, same plan."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-3, 3)
    )
    ma = daily.select(
        "event_type",
        "d",
        "cents",
        F.sum("cents").over(w).cast("long").alias("s7"),
        F.count(F.lit(1)).over(w).cast("long").alias("c7"),
        (F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")) % 7)
        .cast("long")
        .alias("dow"),
    )
    tr = ma.filter(F.col("c7") == 7).select(
        "event_type",
        "d",
        "cents",
        "dow",
        F.expr("(2000 * s7 + 7) div 14").alias("trend_milli"),
        F.expr("1000 * cents - (2000 * s7 + 7) div 14").alias(
            "detr_milli"
        ),
    )
    sea = tr.groupBy("event_type", "dow").agg(
        F.sum("detr_milli").cast("long").alias("sd"),
        F.count(F.lit(1)).cast("long").alias("nd"),
    )
    seam = sea.select(
        "event_type",
        "dow",
        F.expr(
            "(2 * sd + (CASE WHEN sd < 0 THEN -nd ELSE nd END))"
            " div (2 * nd)"
        ).alias("seasonal_milli"),
    )
    return tr.join(F.broadcast(seam), ["event_type", "dow"]).select(
        "event_type",
        F.col("d"),
        F.col("cents").alias("y_cents"),
        F.col("trend_milli").cast("long").alias("trend_milli"),
        F.col("seasonal_milli").cast("long").alias("seasonal_milli"),
        (F.col("detr_milli") - F.col("seasonal_milli"))
        .cast("long")
        .alias("remainder_milli"),
    )


# ---------------------------------------------------------------------------
# q290 — synchronized k-core peeling (fixed rounds, unrolled oracle)
# ---------------------------------------------------------------------------

_Q290_ROUNDS = 6
# k = floor(2/3 * average degree) of the co-order part graph — adapts
# to SF (degree grows with density) and peels a REAL cascade at every
# test SF (sf0.01: 2000 -> 1921 -> 1905 -> 1901 -> 1899 -> 1898 ->
# 1898 = converged) where k = avg collapses the whole graph in two
# rounds (random-ish graphs have a sharp core threshold).
_Q290_K_SQL = "(2 * count(*)) // (3 * count(DISTINCT u))"


def _q290_oracle() -> str:
    # CTE layers MUST be MATERIALIZED: DuckDB inlines plain CTEs, and
    # alive{r} referencing alive{r-1} twice makes the un-materialized
    # expansion exponential in rounds (measured: 8 rounds never
    # finish; materialized: 0.1 s).
    sql = f"""
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
), ed AS MATERIALIZED (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM e0 a JOIN e0 b ON a.ok = b.ok AND a.p <> b.p
), kk AS MATERIALIZED (SELECT {_Q290_K_SQL} AS k FROM ed),
alive0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM ed)"""
    for r in range(1, _Q290_ROUNDS + 1):
        sql += f""",
alive{r} AS MATERIALIZED (
  SELECT d.u AS node FROM (
    SELECT ed.u, count(*) AS deg FROM ed
    JOIN alive{r - 1} a1 ON a1.node = ed.u
    JOIN alive{r - 1} a2 ON a2.node = ed.v
    GROUP BY ed.u
  ) d CROSS JOIN kk WHERE d.deg >= kk.k
)"""
    last = f"alive{_Q290_ROUNDS}"
    sql += f"""
SELECT CAST(f.u AS BIGINT) AS part,
       CAST(count(*) AS BIGINT) AS core_degree,
       CAST(max(kk.k) AS BIGINT) AS k
FROM ed f
JOIN {last} a1 ON a1.node = f.u
JOIN {last} a2 ON a2.node = f.v
CROSS JOIN kk
GROUP BY f.u
"""
    return sql


@register("q290_kcore_peeling", _q290_oracle())
def q290(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-CORE extraction by SYNCHRONIZED peeling — the graph-mining
    primitive behind community cores, spam/bot rings, and graph
    sparsification (Seidman 1983; Batagelj-Zaveršnik at scale): drop
    every node whose degree among SURVIVORS is < k, simultaneously,
    for a FIXED {rounds} rounds (the declared spec — deterministic
    whether or not the cascade has converged; at every test SF it
    converges by round 5, and production iterates the same round to a
    fixpoint).  Graph = parts co-occurring in an order; k = ⌊2·d̄/3⌋
    from the exact average degree, so the threshold adapts to scale.
    Output: surviving parts with their within-core degree.

    Scale: each round is ONE degree aggregation over edges
    semi-joined to the survivor set (both joins key on the node —
    co-partitioned), and survivor state is ``localCheckpoint``ed per
    round (the operators/graph.py rule: iterative plans referencing
    the previous round twice otherwise grow an exponential lineage —
    the same blow-up the oracle dodges with MATERIALIZED CTEs)."""
    li = load_table(spark, sf_dir, "lineitem")
    e0 = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    ).distinct()
    b = e0.select(F.col("ok"), F.col("p").alias("v"))
    ed = (
        e0.join(b, "ok")
        .filter(F.col("p") != F.col("v"))
        .select(F.col("p").alias("u"), "v")
        .distinct()
        .transform(_pin)
    )
    kk = ed.agg(
        F.expr("(2 * count(*)) div (3 * count(DISTINCT u))")
        .cast("long")
        .alias("k")
    ).transform(_pin)
    alive = ed.select(F.col("u").alias("node")).distinct()
    # survivor sets shrink monotonically (a node absent from alive_t
    # cannot re-enter: degrees count edges among alive_t only), so
    # equal consecutive COUNTS mean equal SETS mean a fixpoint — the
    # remaining declared rounds are no-ops and the early exit is
    # output-exact. ONE action per round: the checkpoint is LAZY and
    # the convergence count is the job that materializes it
    # (SparkContext.runJob → rdd.doCheckpoint() on the lineage), so
    # the old checkpoint-job + count-job pair collapses to a single
    # job — halving the per-round ambient job latency the r10 bench
    # attributed the q290/q307 regressions to.
    prev_alive = None
    for _ in range(_Q290_ROUNDS):
        deg = (
            ed.join(
                alive.select(F.col("node").alias("u")), "u"
            )
            .join(alive.select(F.col("node").alias("v")), "v")
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        alive = (
            deg.crossJoin(F.broadcast(kk))
            .filter(F.col("deg") >= F.col("k"))
            .select(F.col("u").alias("node"))
            .transform(_pin_lazy)
        )
        n_alive = alive.count()
        if n_alive == prev_alive:
            break
        prev_alive = n_alive
    return (
        ed.join(alive.select(F.col("node").alias("u")), "u")
        .join(alive.select(F.col("node").alias("v")), "v")
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
        .crossJoin(F.broadcast(kk))
        .select(
            F.col("u").cast("long").alias("part"),
            "core_degree",
            F.col("k").cast("long").alias("k"),
        )
    )


q290.__doc__ = q290.__doc__.format(rounds=_Q290_ROUNDS)


# ---------------------------------------------------------------------------
# q291 — Qini uplift curve by score decile
# ---------------------------------------------------------------------------

_Q291_ORACLE = f"""
WITH p1 AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS score,
         CAST(max(CASE WHEN event_type = 'error' AND value > 90
                  THEN 1 ELSE 0 END) AS BIGINT) AS treated
  FROM events WHERE CAST(ts AS DATE) < DATE '{_Q287_SPLIT}'
  GROUP BY user_id
), p2 AS (
  SELECT user_id,
         CAST(max(CASE WHEN event_type = 'purchase' AND value > 90
                  THEN 1 ELSE 0 END) AS BIGINT) AS converted
  FROM events WHERE CAST(ts AS DATE) >= DATE '{_Q287_SPLIT}'
  GROUP BY user_id
), subj AS (
  SELECT p1.user_id, p1.score, p1.treated,
         coalesce(p2.converted, 0) AS converted,
         row_number() OVER (ORDER BY p1.score DESC, p1.user_id)
           AS rn,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM p1 LEFT JOIN p2 USING (user_id)
), bucketed AS (
  SELECT ((rn - 1) * 10) // n AS decile, treated, converted FROM subj
), cells AS (
  SELECT decile,
         CAST(sum(treated) AS BIGINT) AS nt,
         CAST(sum(1 - treated) AS BIGINT) AS nc,
         CAST(sum(CASE WHEN treated = 1 THEN converted ELSE 0 END)
              AS BIGINT) AS ct,
         CAST(sum(CASE WHEN treated = 0 THEN converted ELSE 0 END)
              AS BIGINT) AS cc
  FROM bucketed GROUP BY decile
), cum AS (
  SELECT decile,
         CAST(sum(nt) OVER wo AS BIGINT) AS nt_cum,
         CAST(sum(nc) OVER wo AS BIGINT) AS nc_cum,
         CAST(sum(ct) OVER wo AS BIGINT) AS ct_cum,
         CAST(sum(cc) OVER wo AS BIGINT) AS cc_cum
  FROM cells
  WINDOW wo AS (ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT decile, nt_cum, nc_cum, ct_cum, cc_cum,
       CAST(CASE WHEN nc_cum = 0 THEN NULL ELSE
            (2 * 1000 * (ct_cum * nc_cum - cc_cum * nt_cum)
             + (CASE WHEN ct_cum * nc_cum - cc_cum * nt_cum < 0
                THEN -nc_cum ELSE nc_cum END))
            // (2 * nc_cum) END AS BIGINT) AS qini_milli
FROM cum
"""


@register("q291_qini_uplift", _Q291_ORACLE)
def q291(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QINI uplift curve — the evaluation every uplift/targeting model
    is judged by (Radcliffe 2007): rank the population by a targeting
    score, and per cumulative decile report the incremental
    conversions Q(k) = ct − cc·(nt/nc) — conversions among the
    treated beyond what the control rate predicts.  Deciles come from
    row_number with a pinned (score desc, user_id) tiebreak and the
    ((rn−1)·10) div n bucket rule — ntile's tie placement is
    engine-specific, positional bucketing is not.  Q(k) is emitted as
    the SIGNED cross-multiplied milli ratio over nc_cum (no float
    means), alongside the four exact cumulative arm counts.

    Scale: two per-user rollups and a join (the q287 frames); the
    rank over USERS is entity-scale, so it runs through the
    range-exchange two-phase row number (operators/windows, the
    PLANS.md cardinality rule — score desc negated into an ascending
    key), with n read back as max(rn) from the checkpointed stage
    instead of a separate count() action; then all algebra on 10
    decile rows."""
    from ..operators.windows import scalable_prefix_sums

    ev = load_table(spark, sf_dir, "events")
    d = F.col("ts").cast("date")
    split = F.lit(_Q287_SPLIT).cast("date")
    p1 = (
        ev.filter(d < split)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("score"),
            F.max(
                (
                    (F.col("event_type") == "error")
                    & (F.col("value") > 90)
                ).cast("long")
            )
            .cast("long")
            .alias("treated"),
        )
    )
    p2 = (
        ev.filter(d >= split)
        .groupBy("user_id")
        .agg(
            F.max(
                (
                    (F.col("event_type") == "purchase")
                    & (F.col("value") > 90)
                ).cast("long")
            )
            .cast("long")
            .alias("converted")
        )
    )
    subj = p1.join(p2, "user_id", "left").select(
        "user_id",
        "score",
        "treated",
        F.coalesce("converted", F.lit(0)).alias("converted"),
    )
    # r12 opt round: n as the kernel's driver-known total (totals)
    # — the max(rn) aggregate re-scanned the checkpointed stage and
    # its broadcast rebuilt once per consuming action
    ranked = scalable_prefix_sums(
        subj.withColumn("_neg_score", -F.col("score")),
        ("_neg_score", "user_id"),
        {"rn": F.lit(1)},
        totals={"rn": "_n"},
    )
    bucketed = ranked.select(
        F.expr("((rn - 1) * 10) div _n").alias("decile"),
        "treated",
        "converted",
    )
    cells = bucketed.groupBy("decile").agg(
        F.sum("treated").cast("long").alias("nt"),
        F.sum(F.lit(1) - F.col("treated")).cast("long").alias("nc"),
        F.sum(F.when(F.col("treated") == 1, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("ct"),
        F.sum(F.when(F.col("treated") == 0, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("cc"),
    )
    wo = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cells.select(
        "decile",
        F.sum("nt").over(wo).cast("long").alias("nt_cum"),
        F.sum("nc").over(wo).cast("long").alias("nc_cum"),
        F.sum("ct").over(wo).cast("long").alias("ct_cum"),
        F.sum("cc").over(wo).cast("long").alias("cc_cum"),
    )
    return cum.select(
        "decile",
        "nt_cum",
        "nc_cum",
        "ct_cum",
        "cc_cum",
        F.expr(
            "CAST(CASE WHEN nc_cum = 0 THEN NULL ELSE"
            " (2 * 1000 * (ct_cum * nc_cum - cc_cum * nt_cum)"
            " + (CASE WHEN ct_cum * nc_cum - cc_cum * nt_cum < 0"
            "    THEN -nc_cum ELSE nc_cum END))"
            " div (2 * nc_cum) END AS BIGINT)"
        ).alias("qini_milli"),
    )


# ---------------------------------------------------------------------------
# q292 — B-cubed clustering evaluation
# ---------------------------------------------------------------------------

_Q292_ORACLE = """
WITH cells AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY source, lang
), src AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS ns,
         CAST(sum(c * c) AS BIGINT) AS t2
  FROM cells GROUP BY source
), lng AS (
  SELECT lang, CAST(sum(c) AS BIGINT) AS nl,
         CAST(sum(c * c) AS BIGINT) AS t2
  FROM cells GROUP BY lang
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
  FROM cells
), pq AS (
  SELECT CAST(sum((2000000 * t2 + ns) // (2 * ns)) AS BIGINT) AS sp
  FROM src
), rq AS (
  SELECT CAST(sum((2000000 * t2 + nl) // (2 * nl)) AS BIGINT) AS sr
  FROM lng
), pr AS (
  SELECT n, n_sources, n_langs,
         (2 * sp + n) // (2 * n) AS p_micro,
         (2 * sr + n) // (2 * n) AS r_micro
  FROM tot CROSS JOIN pq CROSS JOIN rq
)
SELECT n AS n_docs, n_sources, n_langs,
       CAST(p_micro AS BIGINT) AS bcubed_p_micro,
       CAST(r_micro AS BIGINT) AS bcubed_r_micro,
       CAST((2 * (2 * p_micro * r_micro) + (p_micro + r_micro))
            // (2 * (p_micro + r_micro)) AS BIGINT) AS bcubed_f1_micro
FROM pr
"""


@register("q292_bcubed_clustering", _Q292_ORACLE)
def q292(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-CUBED clustering evaluation (Bagga & Baldwin 1998; the metric
    the entity-resolution literature settled on after pairwise-F and
    purity were shown gameable — Amigó et al. 2009): treating
    ``source`` as a system clustering and ``lang`` as gold classes,
    item-level precision Σ c_sl²/n_s and recall Σ c_sl²/n_l average
    over all documents.  Everything reduces to the (source, lang)
    contingency table: per-cluster contributions are micro-rounded
    once (Σc² over n_s), then the item average rounds once more —
    a documented two-step quantization identical in both engines; F1
    is the harmonic mean of the two micro integers, again one
    rounding.  The dedup pipeline's cluster-quality gate (q55/q96
    resolve) would consume exactly this readout against labeled gold.

    Scale: ONE map-side-combined contingency rollup (|sources|×|langs|
    cells), then constant-size algebra — the standard trick that makes
    B-cubed O(cells), not O(n²) pairs."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    src = cells.groupBy("source").agg(
        F.sum("c").cast("long").alias("ns"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("t2"),
    )
    lng = cells.groupBy("lang").agg(
        F.sum("c").cast("long").alias("nl"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("t2"),
    )
    tot = cells.agg(
        F.sum("c").cast("long").alias("n"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
    )
    sp = src.agg(
        F.sum(F.expr("(2000000 * t2 + ns) div (2 * ns)"))
        .cast("long")
        .alias("sp")
    )
    sr = lng.agg(
        F.sum(F.expr("(2000000 * t2 + nl) div (2 * nl)"))
        .cast("long")
        .alias("sr")
    )
    pr = (
        tot.crossJoin(F.broadcast(sp))
        .crossJoin(F.broadcast(sr))
        .selectExpr(
            "n",
            "n_sources",
            "n_langs",
            "(2 * sp + n) div (2 * n) AS p_micro",
            "(2 * sr + n) div (2 * n) AS r_micro",
        )
    )
    return pr.selectExpr(
        "n AS n_docs",
        "n_sources",
        "n_langs",
        "CAST(p_micro AS BIGINT) AS bcubed_p_micro",
        "CAST(r_micro AS BIGINT) AS bcubed_r_micro",
        "CAST((2 * (2 * p_micro * r_micro) + (p_micro + r_micro))"
        " div (2 * (p_micro + r_micro)) AS BIGINT) AS bcubed_f1_micro",
    )


# ---------------------------------------------------------------------------
# q293 — point-in-time feature backfill (union + window, no as-of joins)
# ---------------------------------------------------------------------------

_Q293_ORACLE = """
WITH stream AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_label,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click,
         CASE WHEN event_type = 'error'
              THEN CAST(round(value * 100) AS BIGINT) END AS err_cents,
         CASE WHEN event_type = 'signup' THEN ts END AS signup_ts
  FROM events
), feat AS (
  SELECT user_id, ts, event_id, is_label,
         coalesce(CAST(sum(is_click) OVER wprev AS BIGINT), 0)
           AS clicks_before,
         CAST(last_value(err_cents IGNORE NULLS) OVER wprev AS BIGINT)
           AS last_error_cents,
         CAST(min(signup_ts) OVER wprev AS TIMESTAMP) AS first_signup
  FROM stream
  WINDOW wprev AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT CAST(event_id AS BIGINT) AS label_id, user_id,
       clicks_before, last_error_cents,
       CAST(CASE WHEN first_signup IS NULL THEN NULL ELSE
            (epoch_us(ts) - epoch_us(first_signup)) // 1000000 END
            AS BIGINT) AS secs_since_signup
FROM feat WHERE is_label = 1
"""


@register("q293_pit_feature_backfill", _Q293_ORACLE)
def q293(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME feature backfill — the feature-store operation
    that builds leakage-free training rows: for every label event
    (purchase), each feature reflects ONLY what was knowable STRICTLY
    BEFORE it (clicks so far, last error severity, seconds since first
    signup).  Instead of one as-of join per feature table (N shuffles,
    the naive backfill), labels and feature events ride ONE stream:
    a single (user, ts, event_id)-ordered window with a
    rows-to-1-PRECEDING frame computes every feature simultaneously,
    and the label filter keeps the training rows — the union+window
    backfill pattern, one shuffle total regardless of feature count.
    Strictness (ties broken by event_id, frame ends 1 PRECEDING) is
    the leakage guarantee q167's splitter enforces at the dataset
    level, here enforced at the feature level.

    Scale: one window keyed on the entity — high-cardinality
    partitionBy, bounded per-user frames; adding a feature adds a
    column, not a shuffle.  last_value(... IGNORE NULLS) and the
    epoch-micros div are the portable spellings (both engines)."""
    ev = load_table(spark, sf_dir, "events")
    stream = ev.select(
        "user_id",
        "ts",
        "event_id",
        (F.col("event_type") == "purchase").cast("int").alias("is_label"),
        (F.col("event_type") == "click").cast("int").alias("is_click"),
        F.when(
            F.col("event_type") == "error",
            F.round(F.col("value") * 100, 0).cast("long"),
        ).alias("err_cents"),
        F.when(F.col("event_type") == "signup", F.col("ts")).alias(
            "signup_ts"
        ),
    )
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    feat = stream.select(
        "user_id",
        "ts",
        "event_id",
        "is_label",
        F.coalesce(F.sum("is_click").over(wprev), F.lit(0))
        .cast("long")
        .alias("clicks_before"),
        F.last("err_cents", ignorenulls=True)
        .over(wprev)
        .cast("long")
        .alias("last_error_cents"),
        F.min("signup_ts").over(wprev).alias("first_signup"),
    )
    return feat.filter(F.col("is_label") == 1).select(
        F.col("event_id").cast("long").alias("label_id"),
        "user_id",
        "clicks_before",
        "last_error_cents",
        F.when(
            F.col("first_signup").isNotNull(),
            F.expr(
                "(unix_micros(ts) - unix_micros(first_signup))"
                " div 1000000"
            ),
        )
        .cast("long")
        .alias("secs_since_signup"),
    )


# ---------------------------------------------------------------------------
# q294 — exponential-bucket histogram with reconstruction audit
# ---------------------------------------------------------------------------

_Q294_ORACLE = """
WITH v AS (
  SELECT event_type, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE value > 0
), ranked AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cents, event_id) AS rk,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM v
), exact AS (
  SELECT event_type, CAST(max(n) AS BIGINT) AS n,
         CAST(max(CASE WHEN rk = (n + 1) // 2 THEN cents END)
              AS BIGINT) AS p50_exact,
         CAST(max(CASE WHEN rk = (9 * n + 9) // 10 THEN cents END)
              AS BIGINT) AS p90_exact
  FROM ranked GROUP BY event_type
), hist AS (
  SELECT event_type, length(bin(cents)) - 1 AS b,
         CAST(count(*) AS BIGINT) AS c
  FROM v GROUP BY 1, 2
), cum AS (
  SELECT event_type, b, c,
         CAST(sum(c) OVER (PARTITION BY event_type ORDER BY b
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cc
  FROM hist
), picks AS (
  SELECT cum.event_type,
         CAST(min(CASE WHEN cc >= (e.n + 1) // 2 THEN b END)
              AS BIGINT) AS b50,
         CAST(min(CASE WHEN cc >= (9 * e.n + 9) // 10 THEN b END)
              AS BIGINT) AS b90,
         CAST(count(*) AS BIGINT) AS n_buckets
  FROM cum JOIN exact e ON e.event_type = cum.event_type
  GROUP BY cum.event_type
)
SELECT e.event_type, e.n, p.n_buckets, e.p50_exact, e.p90_exact,
       CAST(((1::BIGINT << b50) + ((1::BIGINT << (b50 + 1)) - 1)) // 2
            AS BIGINT) AS p50_hist_mid,
       CAST(((1::BIGINT << b90) + ((1::BIGINT << (b90 + 1)) - 1)) // 2
            AS BIGINT) AS p90_hist_mid
FROM exact e JOIN picks p ON p.event_type = e.event_type
"""


@register("q294_exp_histogram", _Q294_ORACLE)
def q294(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPONENTIAL-BUCKET histogram percentiles with a reconstruction
    AUDIT — the observability-pipeline shape (OpenTelemetry
    exponential histograms, HdrHistogram): values land in power-of-two
    buckets b = floor_log2(cents) (len(bin(x)) − 1 — pure
    integer/string, the q204 no-libm rule), the p50/p90 are read back
    from cumulative bucket counts as bucket midpoints, and the EXACT
    positional percentiles ride along so the query itself reports the
    quantization error a fixed-size histogram trades for its O(1)
    memory (relative error ≤ 2× bucket base by construction).

    Scale: the histogram is the whole point — per series it is ≤ 64
    rows regardless of event volume, mergeable by adding counts (the
    HLL/count-min posture); the exact side exists for the audit and
    costs one per-series rank."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    v = ev.select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    # the exact-side rank partitions on event_type — a handful of
    # keys over an EVENTS-scale frame, so positions AND group sizes
    # come from ONE two-phase grouped row number pass
    # (operators/windows), never a |types|-task window sort
    from ..operators.windows import scalable_prefix_sums

    ranked = scalable_prefix_sums(
        v.select("event_type", "cents", "event_id"),
        ("cents", "event_id"),
        {"rk": F.lit(1)},
        part_col="event_type",
        totals={"rk": "n"},
    ).select("event_type", "cents", "rk", "n")
    exact = ranked.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.max(
            F.when(F.col("rk") == F.expr("(n + 1) div 2"), F.col("cents"))
        )
        .cast("long")
        .alias("p50_exact"),
        F.max(
            F.when(
                F.col("rk") == F.expr("(9 * n + 9) div 10"), F.col("cents")
            )
        )
        .cast("long")
        .alias("p90_exact"),
        # |event_types| rows; pinned EAGERLY because it feeds two
        # consumers (the picks join's n lookup and the final join)
        # that build as concurrent broadcast stages — unpinned, the
        # whole ranked-window subtree re-ran once per consumer
    ).transform(_pin)
    hist = v.groupBy(
        "event_type",
        (F.length(F.bin(F.col("cents"))) - 1).cast("long").alias("b"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    wc = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "event_type", "b", F.sum("c").over(wc).cast("long").alias("cc")
    )
    picks = (
        cum.join(exact.select("event_type", "n"), "event_type")
        .groupBy("event_type")
        .agg(
            F.min(
                F.when(
                    F.col("cc") >= F.expr("(n + 1) div 2"), F.col("b")
                )
            )
            .cast("long")
            .alias("b50"),
            F.min(
                F.when(
                    F.col("cc") >= F.expr("(9 * n + 9) div 10"),
                    F.col("b"),
                )
            )
            .cast("long")
            .alias("b90"),
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
        )
    )
    return exact.join(picks, "event_type").select(
        "event_type",
        "n",
        "n_buckets",
        "p50_exact",
        "p90_exact",
        F.expr(
            "CAST((shiftleft(CAST(1 AS BIGINT), CAST(b50 AS INT))"
            " + shiftleft(CAST(1 AS BIGINT), CAST(b50 + 1 AS INT)) - 1)"
            " div 2 AS BIGINT)"
        ).alias("p50_hist_mid"),
        F.expr(
            "CAST((shiftleft(CAST(1 AS BIGINT), CAST(b90 AS INT))"
            " + shiftleft(CAST(1 AS BIGINT), CAST(b90 + 1 AS INT)) - 1)"
            " div 2 AS BIGINT)"
        ).alias("p90_hist_mid"),
    )


# ---------------------------------------------------------------------------
# q295 — business-day lead times (weekday interval arithmetic)
# ---------------------------------------------------------------------------

# W(n) = weekdays among epoch days [0, n): epoch day 0 = Thursday, so
# the within-week cumulative table is Thu,Fri,Sat,Sun,Mon,Tue,Wed ->
# 0,1,2,2,2,3,4 (closed-form, no calendar table — both engines share
# the integer formula)
_Q295_WTAB = "(CASE ({d}) % 7 WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 2 WHEN 4 THEN 2 WHEN 5 THEN 3 ELSE 4 END)"


def _q295_w(d: str, div: str) -> str:
    return f"((({d}) {div} 7) * 5 + {_Q295_WTAB.format(d=d)})"


def _q295_oracle() -> str:
    lo = "date_diff('day', DATE '1970-01-01', least(od, sd))"
    hi = "date_diff('day', DATE '1970-01-01', greatest(od, sd))"
    return f"""
WITH pairs AS (
  SELECT year(CAST(li.l_shipdate AS DATE)) AS yr,
         CAST(o.o_orderdate AS DATE) AS od,
         CAST(li.l_shipdate AS DATE) AS sd
  FROM lineitem li JOIN orders o ON o.o_orderkey = li.l_orderkey
), bd AS (
  SELECT yr,
         CAST({_q295_w(hi, "//")} - {_q295_w(lo, "//")} AS BIGINT)
           AS bdays
  FROM pairs
)
SELECT CAST(yr AS BIGINT) AS yr,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(bdays) AS BIGINT) AS sum_bdays,
       CAST((2000000 * sum(bdays) + count(*)) // (2 * count(*))
            AS BIGINT) AS mean_bdays_micro,
       CAST(max(bdays) AS BIGINT) AS max_bdays
FROM bd GROUP BY yr
"""


@register("q295_business_days", _q295_oracle())
def q295(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUSINESS-DAY interval arithmetic — the SLA measure ops teams
    actually contract on (calendar days overstate weekend-spanning
    lead times): weekdays in [lo, hi) via the closed-form prefix
    function W(n) = (n div 7)·5 + table[n mod 7] on epoch days (epoch
    day 0 = Thursday anchors the table), so no calendar/holiday
    dimension table, no per-day explode — O(1) per row where the
    naive spine join costs O(interval length).  Ship/order date pairs
    are direction-normalized (the synthetic dates are not ordered);
    per ship-year: count, exact business-day sum, round-half-up micro
    mean, max.

    Scale: one fact-dim equi-join (orders broadcast at test SF,
    shuffle-hash beyond), one rollup; the interval math is row-local
    integer arithmetic inside WholeStageCodegen."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("od")
    )
    pairs = li.select(
        F.col("l_orderkey"),
        F.year(F.col("l_shipdate").cast("date")).alias("yr"),
        F.col("l_shipdate").cast("date").alias("sd"),
    ).join(F.broadcast(o), F.col("l_orderkey") == F.col("o_orderkey"))
    lo = "datediff(least(od, sd), DATE '1970-01-01')"
    hi = "datediff(greatest(od, sd), DATE '1970-01-01')"
    bd = pairs.select(
        "yr",
        F.expr(
            f"CAST({_q295_w(hi, 'div')} - {_q295_w(lo, 'div')} AS BIGINT)"
        ).alias("bdays"),
    )
    return bd.groupBy(F.col("yr").cast("long").alias("yr")).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("bdays").cast("long").alias("sum_bdays"),
        F.expr(
            "CAST((2000000 * sum(bdays) + count(*))"
            " div (2 * count(*)) AS BIGINT)"
        ).alias("mean_bdays_micro"),
        F.max("bdays").cast("long").alias("max_bdays"),
    )


# ---------------------------------------------------------------------------
# q296 — degree assortativity sufficient statistics
# ---------------------------------------------------------------------------

_Q296_ORACLE = """
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
), ed AS MATERIALIZED (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM e0 a JOIN e0 b ON a.ok = b.ok AND a.p <> b.p
), deg AS (
  SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM ed GROUP BY u
), pairs AS (
  SELECT du.d AS x, dv.d AS y
  FROM ed JOIN deg du ON du.node = ed.u JOIN deg dv ON dv.node = ed.v
)
SELECT CAST(count(*) AS BIGINT) AS n_edges,
       CAST(sum(x) AS BIGINT) AS sum_x,
       CAST(sum(x * y) AS BIGINT) AS sum_xy,
       CAST(sum(x * x) AS BIGINT) AS sum_xx,
       CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT)
         AS assort_num,
       CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT)
         AS assort_den
FROM pairs
"""


@register("q296_degree_assortativity", _Q296_ORACLE)
def q296(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY sufficient statistics (Newman 2002) — do
    high-degree nodes attach to high-degree nodes?  The one-number
    mixing diagnostic read before trusting any community/core
    structure (socials assort, tech/dependency graphs disassort).
    Over the DIRECTED edge list of the co-order part graph, endpoint
    degrees (x, y) are symmetric, so Pearson's r needs only n, Σx,
    Σxy, Σx² — emitted exactly, with the correlation numerator
    n·Σxy − Σx·Σy and denominator n·Σx² − (Σx)² as exact integers
    (r = num/den since both marginal variances coincide; the q281
    emit-the-sufficient-statistics pattern keeps the hash float-free).

    Scale: one degree rollup, two node-keyed joins edge←degree (the
    same co-partitioned shape as q290's peel round), one reduce."""
    li = load_table(spark, sf_dir, "lineitem")
    e0 = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    ).distinct()
    b = e0.select(F.col("ok"), F.col("p").alias("v"))
    # ed feeds the degree rollup and both endpoint joins — pin it once
    ed = (
        e0.join(b, "ok")
        .filter(F.col("p") != F.col("v"))
        .select(F.col("p").alias("u"), "v")
        .distinct()
        .transform(_pin)
    )
    # deg is VERTEX state (16 B/node, nodes = parts — the pagerank
    # broadcast_vertices posture): up to ~5M nodes both endpoint-degree
    # joins BROADCAST it, so the |E| edge frame never crosses an
    # exchange (before: two SortMergeJoins each re-shuffling ed, and
    # the deg aggregate computed twice — 4 data-sized exchanges).
    # Past the threshold the joins fall back to the shuffled form —
    # the honest Pregel regime. The lazy checkpoint materializes deg
    # in the count that decides the mode; both broadcast builds then
    # read the cache.
    deg = (
        ed.groupBy(F.col("u").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .transform(_pin_lazy)
    )
    hint = F.broadcast if deg.count() <= 5_000_000 else (lambda df: df)
    pairs = (
        ed.join(
            hint(deg.select(F.col("node").alias("u"), F.col("d").alias("x"))),
            "u",
        )
        .join(
            hint(deg.select(F.col("node").alias("v"), F.col("d").alias("y"))),
            "v",
        )
        .select("x", "y")
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum("x").cast("long").alias("sum_x"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sum_xy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sum_xx"),
        (
            F.count(F.lit(1)) * F.sum(F.col("x") * F.col("y"))
            - F.sum("x") * F.sum("y")
        )
        .cast("long")
        .alias("assort_num"),
        (
            F.count(F.lit(1)) * F.sum(F.col("x") * F.col("x"))
            - F.sum("x") * F.sum("x")
        )
        .cast("long")
        .alias("assort_den"),
    )


# ---------------------------------------------------------------------------
# q297 — Kneser-Ney smoothed bigram probabilities (exact rational)
# ---------------------------------------------------------------------------

_Q297_TOPK = 50

_Q297_ORACLE = None  # assigned below (needs corpus _NORM_SQL)


def _q297_oracle() -> str:
    from .corpus_queries import _NORM_SQL

    return f"""
WITH s AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS l FROM documents
), bg AS (
  SELECT unnest(list_transform(generate_series(1, len(l) - 1),
                               i -> l[i])) AS a,
         unnest(list_transform(generate_series(1, len(l) - 1),
                               i -> l[i + 1])) AS b
  FROM s WHERE len(l) >= 2
), bi AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS cab FROM bg GROUP BY 1, 2
), uni AS (
  SELECT a, CAST(sum(cab) AS BIGINT) AS ca,
         CAST(count(*) AS BIGINT) AS n_follow
  FROM bi GROUP BY a
), prec AS (
  SELECT b, CAST(count(*) AS BIGINT) AS n_precede FROM bi GROUP BY b
), tot AS (SELECT CAST(count(*) AS BIGINT) AS bt FROM bi),
scored AS (
  SELECT bi.a, bi.b, bi.cab, uni.ca, uni.n_follow, prec.n_precede,
         (2000000 * (greatest(4 * bi.cab - 3, 0) * tot.bt
                     + 3 * uni.n_follow * prec.n_precede)
          + (4 * uni.ca * tot.bt))
           // (2 * 4 * uni.ca * tot.bt) AS p_kn_micro
  FROM bi JOIN uni ON uni.a = bi.a
  JOIN prec ON prec.b = bi.b CROSS JOIN tot
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY cab DESC, a, b) AS rk
  FROM scored
)
SELECT a, b, cab, ca, n_follow, n_precede,
       CAST(p_kn_micro AS BIGINT) AS p_kn_micro
FROM ranked WHERE rk <= {_Q297_TOPK}
"""


@register("q297_kneser_ney", _q297_oracle())
def q297(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNESER-NEY smoothed bigram probabilities — THE language-model
    smoothing (Kneser & Ney 1995; what KenLM ships) and the reason a
    bigram LM generalizes: absolute discounting D moves mass from seen
    bigrams to a CONTINUATION prior P_cont(b) ∝ |distinct predecessors
    of b| (how many contexts a word completes — \"Francisco\" is
    frequent but follows only \"San\", so its continuation mass is
    tiny).  With D = 3/4 the whole estimate is ONE exact rational:
    P = [max(4c(ab)−3, 0)·B + 3·N₊(a·)·N₊(·b)] / (4·c(a)·B), emitted
    as a round-half-up micro ratio beside its integer components for
    the top-{k} bigrams (pinned (count desc, a, b) tiebreak).  c(a) is
    the bigram-marginal (Σ_b c(ab)), the convention that makes the
    model a proper distribution per context.

    Scale: the model is two map-side-combined rollups over the
    exploded bigram stream (vocabulary²-bounded, distributed — the
    q216 shape) plus one broadcast 1-row total; the top-k rank is
    TakeOrderedAndProject."""
    from ..operators.text import normalize_text, tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(normalize_text("text"))
    bg = (
        docs.select(toks.alias("l"))
        .filter(F.size("l") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("l"), 1, F.size("l") - 1),
                    F.slice(F.col("l"), 2, F.size("l") - 1),
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    )
    bi = bg.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("cab")
    )
    uni = bi.groupBy("a").agg(
        F.sum("cab").cast("long").alias("ca"),
        F.count(F.lit(1)).cast("long").alias("n_follow"),
    )
    prec = bi.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("n_precede")
    )
    tot = bi.agg(F.count(F.lit(1)).cast("long").alias("bt"))
    scored = (
        bi.join(uni, "a")
        .join(prec, "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            "cab",
            "ca",
            "n_follow",
            "n_precede",
            F.expr(
                "(2000000 * (greatest(4 * cab - 3, 0) * bt"
                " + 3 * n_follow * n_precede)"
                " + (4 * ca * bt))"
                " div (2 * 4 * ca * bt)"
            )
            .cast("long")
            .alias("p_kn_micro"),
        )
    )
    return scored.orderBy(
        F.desc("cab"), F.asc("a"), F.asc("b")
    ).limit(_Q297_TOPK)


q297.__doc__ = q297.__doc__.format(k=_Q297_TOPK)


# ---------------------------------------------------------------------------
# q298 — k-anonymity generalization-lattice search
# ---------------------------------------------------------------------------

_Q298_K = 5

# generalization levels: nation -> region -> * ; acctbal cents
# bucketed by 10^4 -> 10^5 -> *
_Q298_G1 = {
    0: "CAST(c_nationkey AS STRING)",
    1: "CAST(n_regionkey AS STRING)",
    2: "'*'",
}
_Q298_G2 = {
    0: "CAST(CAST(round(c_acctbal * 100) AS BIGINT) {div} 10000 AS STRING)",
    1: "CAST(CAST(round(c_acctbal * 100) AS BIGINT) {div} 100000 AS STRING)",
    2: "'*'",
}


def _q298_node_sql(h1: int, h2: int, div: str) -> str:
    g1 = _Q298_G1[h1]
    g2 = _Q298_G2[h2].format(div=div)
    return (
        f"SELECT {h1} AS h1, {h2} AS h2, {g1} AS k1, {g2} AS k2"
        " FROM customer JOIN nation ON n_nationkey = c_nationkey"
    )


def _q298_oracle() -> str:
    nodes = " UNION ALL ".join(
        _q298_node_sql(h1, h2, "//") for h1 in range(3) for h2 in range(3)
    )
    return f"""
WITH expanded AS ({nodes}
), grp AS (
  SELECT h1, h2, k1, k2, CAST(count(*) AS BIGINT) AS g
  FROM expanded GROUP BY h1, h2, k1, k2
), node AS (
  SELECT h1, h2,
         CAST(count(*) AS BIGINT) AS n_groups,
         CAST(min(g) AS BIGINT) AS k_min,
         CAST(coalesce(sum(CASE WHEN g < {_Q298_K} THEN g END), 0)
              AS BIGINT) AS n_suppressed
  FROM grp GROUP BY h1, h2
), best AS (
  SELECT h1 AS b1, h2 AS b2 FROM node WHERE k_min >= {_Q298_K}
  ORDER BY h1 + h2, h1, h2 LIMIT 1
)
SELECT CAST(h1 AS BIGINT) AS h1, CAST(h2 AS BIGINT) AS h2,
       n_groups, k_min, n_suppressed,
       CAST(CASE WHEN h1 = b1 AND h2 = b2 THEN 1 ELSE 0 END AS BIGINT)
         AS chosen
FROM node CROSS JOIN best
"""


@register("q298_generalization_lattice", _q298_oracle())
def q298(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-ANONYMITY GENERALIZATION-LATTICE search (Samarati 2001 /
    Incognito) — not the single-config audit q246 runs, but the search
    a privacy-release pipeline performs: every combination of
    quasi-identifier generalization levels (nation→region→* ×
    balance-bucket 10²→10³→*) is scored for its minimum group size,
    group count, and the rows that would need SUPPRESSION at
    k = {k}, and the MINIMAL node (lowest total height, pinned
    (h1+h2, h1, h2) tiebreak) that achieves k without suppression is
    flagged — the utility-maximizing release the analyst publishes.

    Scale: the 9-node lattice rides ONE pass — each input row expands
    ×9 with CASE-generalized keys (a flatMap, no shuffle), then one
    (node, key) rollup and a 9-row reduction; lattice pruning
    (Incognito's monotonicity) would drop dominated nodes before the
    expansion at larger lattices, same data-plane."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    joined = cust.join(
        F.broadcast(nat), F.col("n_nationkey") == F.col("c_nationkey")
    )
    parts = []
    for h1 in range(3):
        for h2 in range(3):
            parts.append(
                joined.select(
                    F.lit(h1).alias("h1"),
                    F.lit(h2).alias("h2"),
                    F.expr(_Q298_G1[h1]).alias("k1"),
                    F.expr(_Q298_G2[h2].format(div="div")).alias("k2"),
                )
            )
    expanded = parts[0]
    for p in parts[1:]:
        expanded = expanded.unionByName(p)
    grp = expanded.groupBy("h1", "h2", "k1", "k2").agg(
        F.count(F.lit(1)).cast("long").alias("g")
    )
    node = grp.groupBy("h1", "h2").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("g").cast("long").alias("k_min"),
        F.coalesce(
            F.sum(F.when(F.col("g") < _Q298_K, F.col("g"))), F.lit(0)
        )
        .cast("long")
        .alias("n_suppressed"),
    )
    best = (
        node.filter(F.col("k_min") >= _Q298_K)
        .orderBy(F.col("h1") + F.col("h2"), F.col("h1"), F.col("h2"))
        .limit(1)
        .select(F.col("h1").alias("b1"), F.col("h2").alias("b2"))
    )
    return node.crossJoin(F.broadcast(best)).select(
        F.col("h1").cast("long").alias("h1"),
        F.col("h2").cast("long").alias("h2"),
        "n_groups",
        "k_min",
        "n_suppressed",
        F.when(
            (F.col("h1") == F.col("b1")) & (F.col("h2") == F.col("b2")),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("chosen"),
    )


q298.__doc__ = q298.__doc__.format(k=_Q298_K)


# ---------------------------------------------------------------------------
# q299 — cluster medoid (1-median) per label in embedding space
# ---------------------------------------------------------------------------

# exact all-pairs below the cap (every sf0.01 cluster is ≤ 59, so the
# oracle's exact form is what the driver compares); above it each
# candidate scores against a fixed deterministic sample.  The sample
# is picked by an ENGINE-PORTABLE pinned LCG hash of vec_id (glibc
# constants; all operands < 2^31 so the product stays under 2^63 —
# exact in both engines' BIGINT arithmetic), NOT xxhash64: the r9
# ADVICE flagged that a Spark-only sample hash makes any compare at a
# scale factor with a >cap cluster red by construction.  The oracle
# below mirrors cap, sample and the mean-distance argmin exactly, so
# the full-sf0.1 sweep now covers the sampled branch too.
_Q299_EXACT_MAX = 100
_Q299_SAMPLE = 64
_Q299_HASH = "((vec_id % 2147483647) * 1103515245 + 12345) % 2147483648"

_Q299_ORACLE = f"""
WITH v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
), sz AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_members FROM v GROUP BY label
), r AS (
  SELECT v.*, row_number() OVER (PARTITION BY label
             ORDER BY {_Q299_HASH}, vec_id) AS srn
  FROM v
), ref AS (
  SELECT r.label, r.vec_id AS j, r.e AS eb
  FROM r JOIN sz USING (label)
  WHERE sz.n_members <= {_Q299_EXACT_MAX} OR r.srn <= {_Q299_SAMPLE}
), pairs AS (
  SELECT a.label, a.vec_id AS i,
         CAST(round(1000000000 * (1.0 -
           list_dot_product(a.e, b.eb)
             / (sqrt(list_dot_product(a.e, a.e))
                * sqrt(list_dot_product(b.eb, b.eb))))) AS BIGINT)
           AS d_nano
  FROM v a JOIN ref b ON a.label = b.label AND a.vec_id <> b.j
), sums AS (
  SELECT label, i AS vec_id,
         CAST(sum(d_nano) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n_ref
  FROM pairs GROUP BY label, i
), ranked AS (
  SELECT label, vec_id, (2 * s + n_ref) // (2 * n_ref) AS mean_dist_nano,
         n_ref,
         row_number() OVER (PARTITION BY label
             ORDER BY (2 * s + n_ref) // (2 * n_ref), vec_id) AS rn
  FROM sums
)
SELECT label, vec_id AS medoid_id, mean_dist_nano, n_ref, n_members
FROM ranked JOIN sz USING (label) WHERE rn = 1
"""


def _q299_pairs(v: DataFrame, sizes: DataFrame) -> DataFrame:
    """Candidate×reference distance pairs for the medoid pick: the
    reference set per label is the whole cluster when n ≤
    _Q299_EXACT_MAX, else the _Q299_SAMPLE members with the smallest
    pinned-LCG hash of vec_id (two-phase grouped row number — no
    per-label window sort; the hash is exact BIGINT arithmetic in
    Spark AND DuckDB, so the oracle draws the identical sample).
    Pair count per label: n·(n−1) below the cap, ≤ n·m above it; the
    reference frame is ≤ |labels|·max(cap, m) rows and broadcast.
    Factored out so the pair-count cap is unit-testable."""
    from ..operators.similarity import dot
    from ..operators.windows import scalable_prefix_sums

    ranked = scalable_prefix_sums(
        v.withColumn("_h", F.expr(_Q299_HASH)),
        ("_h", "vec_id"),
        {"_srn": F.lit(1)},
        part_col="label",
    )
    # norms once per VECTOR, not per pair — each pair then costs one
    # dot product instead of three
    ref = (
        ranked.join(F.broadcast(sizes), "label")
        .filter(
            (F.col("n_members") <= _Q299_EXACT_MAX)
            | (F.col("_srn") <= _Q299_SAMPLE)
        )
        .select(
            "label",
            F.col("vec_id").alias("j"),
            F.col("e").alias("eb"),
            F.sqrt(dot(F.col("e"), F.col("e"))).alias("nb"),
        )
    )
    a = v.select(
        "label",
        F.col("vec_id").alias("i"),
        F.col("e").alias("ea"),
        F.sqrt(dot(F.col("e"), F.col("e"))).alias("na"),
    )
    cos = dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(F.broadcast(ref), "label")
        .filter(F.col("i") != F.col("j"))
        .select(
            "label",
            "i",
            F.round(F.lit(1000000000) * (F.lit(1.0) - cos), 0)
            .cast("long")
            .alias("d_nano"),
        )
    )


@register("q299_cluster_medoid", _Q299_ORACLE)
def q299(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster MEDOID (1-median) per label — the exemplar selection
    k-medoids/PAM builds on and the \"most representative member\"
    every cluster-inspection UI shows: the member minimizing the sum
    of cosine distances to its cluster.  Pairwise distances are
    QUANTIZED to nano integers BEFORE summation (JVM round() and
    DuckDB round() share the half-away tie rule — this is the
    float-sum-order hazard killed the same way as q272's bridge: a
    sum of doubles is order-dependent, a sum of int64 is not), so the
    argmin is bit-portable.

    Scale: the quadratic step is CAPPED, never just cluster-bounded —
    clusters of n ≤ {t} members get the exact all-pairs (n·(n−1)
    pairs; every sf0.01 cluster is under the cap so the driver
    compare runs the exact path end-to-end); larger clusters evaluate
    EVERY candidate against a fixed {m}-member reference sample (the
    n smallest pinned-LCG-hash(vec_id) — deterministic across runs
    AND across engines, so the oracle replays the identical sample
    and the sampled branch is value-checked too, not just the exact
    one).  The reference side is ≤ |labels|·max({t},{m}) rows by
    construction, so the pair generator is a BROADCAST hash join —
    no shuffle touches the candidate frame, and a skewed label costs
    map-side work only.  Self-pairs stay excluded on both paths, and
    the argmin compares the MEAN distance over each candidate's
    ACTUAL reference count (round-half-up nano integer, the
    (2s+c) div 2c idiom — s,c ≥ 0 so both engines' integer division
    agree): an in-sample candidate averages over {m}−1 references,
    an out-of-sample one over {m}, which removes the one-missing-term
    bias that favored sample members when comparing raw sums (r9
    ADVICE).  The per-label argmin is a min(struct) hash aggregate —
    no window at all."""
    emb = load_table(spark, sf_dir, "embeddings")

    v = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    # pinned: the |labels|-row sizes frame is broadcast TWICE (into
    # the reference filter and the final output join) — each
    # BroadcastExchange otherwise re-runs the embeddings scan +
    # aggregate to rebuild the relation
    sizes = v.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    ).transform(_pin)
    pairs = _q299_pairs(v, sizes)
    sums = pairs.groupBy("label", "i").agg(
        F.sum("d_nano").cast("long").alias("_s"),
        F.count(F.lit(1)).cast("long").alias("n_ref"),
    )
    means = sums.withColumn(
        "mean_dist_nano", F.expr("(2 * _s + n_ref) div (2 * n_ref)")
    )
    best = means.groupBy("label").agg(
        F.min(F.struct("mean_dist_nano", "i", "n_ref")).alias("b")
    )
    return best.join(F.broadcast(sizes), "label").select(
        "label",
        F.col("b.i").alias("medoid_id"),
        F.col("b.mean_dist_nano").alias("mean_dist_nano"),
        F.col("b.n_ref").alias("n_ref"),
        "n_members",
    )


q299.__doc__ = q299.__doc__.format(t=_Q299_EXACT_MAX, m=_Q299_SAMPLE)


# ---------------------------------------------------------------------------
# q300 — column-level fingerprint diff between table versions
# ---------------------------------------------------------------------------

# v2 = orders with the q283 mutation rules applied (deterministic):
# every 7th order's totalprice restated, every 5th order's priority
# rewritten — so exactly  two columns should fingerprint-differ.
_Q300_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


def _q300_hash(expr: str) -> str:
    # keyed row-content hash: 48-bit md5 prefix of key:value — XORial
    # (order-independent, mergeable) and identical in both engines
    return (
        "('0x' || substring(md5(CAST(o_orderkey AS STRING) || ':' ||"
        f" coalesce(CAST({expr} AS STRING), '<null>')), 1, 12))::BIGINT"
    )


def _q300_v2(col: str) -> str:
    # price is hashed as integer CENTS on both sides: double->string
    # rendering is NOT portable (JDK 17 Double.toString predates
    # shortest-round-trip; DuckDB uses ryu), integer strings are
    if col == "o_totalprice":
        return (
            "CASE WHEN o_orderkey % 7 = 0 THEN"
            " CAST(round(o_totalprice * 100) AS BIGINT)"
            " + o_orderkey % 1000 - 500"
            " ELSE CAST(round(o_totalprice * 100) AS BIGINT) END"
        )
    if col == "o_orderpriority":
        return (
            "CASE WHEN o_orderkey % 5 = 0 THEN '9-RESTATED'"
            " ELSE o_orderpriority END"
        )
    return col


def _q300_v1(col: str) -> str:
    if col == "o_totalprice":
        return "CAST(round(o_totalprice * 100) AS BIGINT)"
    return col


def _q300_oracle() -> str:
    arms = []
    for c in _Q300_COLS:
        arms.append(
            f"SELECT '{c}' AS col, {_q300_hash(_q300_v1(c))} AS h1,"
            f" {_q300_hash(_q300_v2(c))} AS h2 FROM orders"
        )
    u = " UNION ALL ".join(arms)
    return f"""
WITH rowhash AS ({u})
SELECT col,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(h1) AS BIGINT) AS fp_v1,
       CAST(bit_xor(h2) AS BIGINT) AS fp_v2,
       CAST(CASE WHEN bit_xor(h1) = bit_xor(h2) THEN 0 ELSE 1 END
            AS BIGINT) AS changed,
       CAST(sum(CASE WHEN h1 <> h2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rows_changed
FROM rowhash GROUP BY col
"""


@register("q300_column_fingerprint_diff", _q300_oracle())
def q300(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN-LEVEL content-fingerprint diff between two table
    versions — the data-diff primitive (Datafold-style) that answers
    \"which COLUMNS changed, and how many rows\" without shipping
    either table: per column, an order-independent XOR of keyed row
    hashes (md5 prefix of key:value) is the whole fingerprint, so two
    warehouses compare 6 integers instead of 2×|rows| values.
    Complements q166's Merkle ROW-BLOCK diff (which localizes WHERE;
    this localizes WHICH FIELD).  Version 2 applies the q283 mutation
    rules, so exactly o_totalprice and o_orderpriority must flag —
    with the per-row change counts as the drill-down.

    Scale: one pass over the table computes all columns' hashes (the
    ×|cols| expansion is a flatMap); XOR is
    associative/commutative/mergeable — per-partition fingerprints
    combine map-side exactly like the HLL registers."""
    o = load_table(spark, sf_dir, "orders")
    parts = []
    for c in _Q300_COLS:
        v1 = _q300_v1(c)
        h1 = (
            "conv(substring(md5(concat(CAST(o_orderkey AS STRING), ':',"
            f" coalesce(CAST({v1} AS STRING), '<null>'))), 1, 12), 16, 10)"
        )
        h2 = (
            "conv(substring(md5(concat(CAST(o_orderkey AS STRING), ':',"
            f" coalesce(CAST({_q300_v2(c)} AS STRING), '<null>'))), 1, 12),"
            " 16, 10)"
        )
        parts.append(
            o.select(
                F.lit(c).alias("col"),
                F.expr(h1).cast("long").alias("h1"),
                F.expr(h2).cast("long").alias("h2"),
            )
        )
    rowhash = parts[0]
    for p in parts[1:]:
        rowhash = rowhash.unionByName(p)
    return rowhash.groupBy("col").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.expr("bit_xor(h1)").cast("long").alias("fp_v1"),
        F.expr("bit_xor(h2)").cast("long").alias("fp_v2"),
        F.expr(
            "CAST(CASE WHEN bit_xor(h1) = bit_xor(h2) THEN 0 ELSE 1 END"
            " AS BIGINT)"
        ).alias("changed"),
        F.sum((F.col("h1") != F.col("h2")).cast("long"))
        .cast("long")
        .alias("n_rows_changed"),
    )


# ---------------------------------------------------------------------------
# q301 — coordinated (join-preserving) sampling across tables
# ---------------------------------------------------------------------------

# keep a customer iff the md5 48-bit prefix of 'cs:custkey' falls under
# p = 1/8 of the hash space — the same deterministic coordinate in
# every table that references the customer
_Q301_THRESHOLD = (1 << 48) // 8

_Q301_HASH = (
    "('0x' || substring(md5('cs:' || CAST({k} AS VARCHAR)), 1, 12))::BIGINT"
)
_Q301_HASH_SPARK = (
    "conv(substring(md5(concat('cs:', CAST({k} AS STRING))), 1, 12), 16, 10)"
)

_Q301_ORACLE = f"""
WITH sc AS (
  SELECT c_custkey FROM customer
  WHERE {_Q301_HASH.format(k="c_custkey")} < {_Q301_THRESHOLD}
), so AS (
  SELECT o_orderkey, o_custkey FROM orders
  WHERE {_Q301_HASH.format(k="o_custkey")} < {_Q301_THRESHOLD}
), sl AS (
  SELECT l.l_orderkey FROM lineitem l JOIN so ON so.o_orderkey = l.l_orderkey
), stats AS (
  SELECT 'customer' AS tbl,
         CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_total,
         CAST((SELECT count(*) FROM sc) AS BIGINT) AS n_sampled
  UNION ALL
  SELECT 'orders',
         CAST((SELECT count(*) FROM orders) AS BIGINT),
         CAST((SELECT count(*) FROM so) AS BIGINT)
  UNION ALL
  SELECT 'lineitem',
         CAST((SELECT count(*) FROM lineitem) AS BIGINT),
         CAST((SELECT count(*) FROM sl) AS BIGINT)
), integ AS (
  SELECT CAST(count(*) AS BIGINT) AS n_orphans
  FROM so LEFT JOIN sc ON sc.c_custkey = so.o_custkey
  WHERE sc.c_custkey IS NULL
)
SELECT tbl, n_total, n_sampled,
       CAST((2000000 * n_sampled + n_total) // (2 * n_total) AS BIGINT)
         AS rate_micro,
       (SELECT n_orphans FROM integ) AS n_orphans
FROM stats
"""


@register("q301_coordinated_sample", _Q301_ORACLE)
def q301(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COORDINATED sampling across a star schema — the sampling
    discipline a 100 TB dev environment needs: sampling each table
    independently destroys every join (a 1% × 1% independent sample
    keeps 0.01% of join pairs), so all tables sample on the SAME
    deterministic coordinate — here, keep a customer iff
    md5('cs:'||custkey) < p·2⁴⁸, keep an order iff ITS customer's
    coordinate passes, keep a lineitem iff its order survived.  The
    declared output is the per-table sample census (exact totals,
    sampled counts, micro rates — expect ≈ p for customers and
    orders) plus the REFERENTIAL-INTEGRITY proof: zero sampled orders
    whose customer is missing, the property independent sampling
    cannot give.

    Scale: the customer/orders predicates are row-local hash filters
    at the SCAN (no join needed — both tables carry the custkey
    coordinate); lineitem, which lacks the custkey, joins the sampled
    order keys — the one semi-join the pattern needs."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    thr = _Q301_THRESHOLD
    sc = cust.filter(
        F.expr(_Q301_HASH_SPARK.format(k="c_custkey")).cast("long") < thr
    ).select("c_custkey")
    so = orders.filter(
        F.expr(_Q301_HASH_SPARK.format(k="o_custkey")).cast("long") < thr
    ).select("o_orderkey", "o_custkey")
    sl = li.select("l_orderkey").join(
        so.select("o_orderkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    rows = []
    for tbl, full, samp in (
        ("customer", cust, sc),
        ("orders", orders, so),
        ("lineitem", li, sl),
    ):
        rows.append(
            full.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
            .crossJoin(
                samp.agg(
                    F.count(F.lit(1)).cast("long").alias("n_sampled")
                )
            )
            .select(F.lit(tbl).alias("tbl"), "n_total", "n_sampled")
        )
    stats = rows[0]
    for r in rows[1:]:
        stats = stats.unionByName(r)
    orphans = (
        so.join(sc, F.col("c_custkey") == F.col("o_custkey"), "left")
        .filter(F.col("c_custkey").isNull())
        .agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
    )
    return stats.crossJoin(F.broadcast(orphans)).select(
        "tbl",
        "n_total",
        "n_sampled",
        F.expr(
            "CAST((2000000 * n_sampled + n_total) div (2 * n_total)"
            " AS BIGINT)"
        ).alias("rate_micro"),
        "n_orphans",
    )


# ---------------------------------------------------------------------------
# q302 — difference-in-differences panel with pre-trend check
# ---------------------------------------------------------------------------

# four 1-week periods: two PRE (parallel-trends check), adoption at
# the start of week 3, two POST pooled as the effect window
_Q302_W = ("2024-01-01", "2024-01-08", "2024-01-15", "2024-01-29")

_Q302_ORACLE = f"""
WITH treat AS (
  SELECT user_id,
         CAST(max(CASE WHEN event_type = 'error' AND value > 90
                  AND CAST(ts AS DATE) < DATE '{_Q302_W[2]}'
                  THEN 1 ELSE 0 END) AS BIGINT) AS treated
  FROM events GROUP BY user_id
), y AS (
  SELECT e.user_id,
         CASE WHEN CAST(ts AS DATE) < DATE '{_Q302_W[1]}' THEN 0
              WHEN CAST(ts AS DATE) < DATE '{_Q302_W[2]}' THEN 1
              ELSE 2 END AS period,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events e WHERE event_type = 'purchase'
), cells AS (
  SELECT t.treated, y.period,
         CAST(count(DISTINCT y.user_id) AS BIGINT) AS n_users,
         CAST(sum(y.cents) AS BIGINT) AS y_cents
  FROM y JOIN treat t ON t.user_id = y.user_id
  GROUP BY t.treated, y.period
), wide AS (
  SELECT
    max(CASE WHEN treated = 1 AND period = 0 THEN y_cents END) AS t0,
    max(CASE WHEN treated = 1 AND period = 1 THEN y_cents END) AS t1,
    max(CASE WHEN treated = 1 AND period = 2 THEN y_cents END) AS t2,
    max(CASE WHEN treated = 0 AND period = 0 THEN y_cents END) AS c0,
    max(CASE WHEN treated = 0 AND period = 1 THEN y_cents END) AS c1,
    max(CASE WHEN treated = 0 AND period = 2 THEN y_cents END) AS c2,
    max(CASE WHEN treated = 1 AND period = 1 THEN n_users END) AS nt,
    max(CASE WHEN treated = 0 AND period = 1 THEN n_users END) AS nc
  FROM cells
)
SELECT CAST(nt AS BIGINT) AS n_treated_pre,
       CAST(nc AS BIGINT) AS n_control_pre,
       CAST(t1 - t0 AS BIGINT) AS pre_trend_treated_cents,
       CAST(c1 - c0 AS BIGINT) AS pre_trend_control_cents,
       CAST((t1 - t0) - (c1 - c0) AS BIGINT) AS pre_trend_gap_cents,
       CAST((t2 - t1) - (c2 - c1) AS BIGINT) AS did_cents
FROM wide
"""


@register("q302_diff_in_differences", _Q302_ORACLE)
def q302(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES panel — the quasi-experimental
    estimate for rollouts without randomization (Card & Krueger
    shape): treatment group = users who hit a high-severity error
    BEFORE adoption, outcome = purchase cents, and the effect is
    (ΔT_post − ΔC_post) — the control arm's change nets out secular
    trends the q287 cross-section cannot.  The PRE-TREND CHECK rides
    along: the same difference across the two pre-periods
    (parallel-trends gap) is the identifying-assumption diagnostic
    every DID readout must print.  All cells are exact integer cents;
    the two-way pivot is a 6-cell max-CASE.

    Scale: one per-user treatment rollup, one filtered outcome scan,
    a user-keyed join, a 6-row pivot."""
    ev = load_table(spark, sf_dir, "events")
    d = F.col("ts").cast("date")
    treat = ev.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "error")
                & (F.col("value") > 90)
                & (d < F.lit(_Q302_W[2]).cast("date"))
            ).cast("long")
        )
        .cast("long")
        .alias("treated")
    )
    y = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.when(d < F.lit(_Q302_W[1]).cast("date"), 0)
        .when(d < F.lit(_Q302_W[2]).cast("date"), 1)
        .otherwise(2)
        .alias("period"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    cells = (
        y.join(treat, "user_id")
        .groupBy("treated", "period")
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum("cents").cast("long").alias("y_cents"),
        )
    )

    def pick(tr, per, col):
        return F.max(
            F.when(
                (F.col("treated") == tr) & (F.col("period") == per),
                F.col(col),
            )
        )

    wide = cells.agg(
        pick(1, 0, "y_cents").alias("t0"),
        pick(1, 1, "y_cents").alias("t1"),
        pick(1, 2, "y_cents").alias("t2"),
        pick(0, 0, "y_cents").alias("c0"),
        pick(0, 1, "y_cents").alias("c1"),
        pick(0, 2, "y_cents").alias("c2"),
        pick(1, 1, "n_users").alias("nt"),
        pick(0, 1, "n_users").alias("nc"),
    )
    return wide.select(
        F.col("nt").cast("long").alias("n_treated_pre"),
        F.col("nc").cast("long").alias("n_control_pre"),
        (F.col("t1") - F.col("t0")).cast("long").alias(
            "pre_trend_treated_cents"
        ),
        (F.col("c1") - F.col("c0")).cast("long").alias(
            "pre_trend_control_cents"
        ),
        ((F.col("t1") - F.col("t0")) - (F.col("c1") - F.col("c0")))
        .cast("long")
        .alias("pre_trend_gap_cents"),
        ((F.col("t2") - F.col("t1")) - (F.col("c2") - F.col("c1")))
        .cast("long")
        .alias("did_cents"),
    )


# ---------------------------------------------------------------------------
# q303 — two-level percentile (p90 of per-user p90s)
# ---------------------------------------------------------------------------

_Q303_ORACLE = """
WITH v AS (
  SELECT user_id, event_type, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), ranked AS (
  SELECT user_id, event_type, cents,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY cents, event_id) AS rk,
         CAST(count(*) OVER (PARTITION BY user_id, event_type)
              AS BIGINT) AS n
  FROM v
), userp AS (
  SELECT user_id, event_type,
         CAST(max(CASE WHEN rk = (9 * n + 9) // 10 THEN cents END)
              AS BIGINT) AS p90_user
  FROM ranked GROUP BY user_id, event_type
), ranked2 AS (
  SELECT event_type, p90_user,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY p90_user, user_id) AS rk,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM userp
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n_users,
       CAST(max(CASE WHEN rk = (n + 1) // 2 THEN p90_user END)
            AS BIGINT) AS p50_of_p90,
       CAST(max(CASE WHEN rk = (9 * n + 9) // 10 THEN p90_user END)
            AS BIGINT) AS p90_of_p90,
       CAST(max(p90_user) AS BIGINT) AS max_p90
FROM ranked2 GROUP BY event_type
"""


@register("q303_percentile_of_percentiles", _Q303_ORACLE)
def q303(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-LEVEL percentiles — the SRE/SLO aggregation rule: a global
    p90 over raw events is dominated by the heaviest users, so
    latency/spend SLOs are stated as \"p90 of per-user p90s\" (every
    user is one vote at the outer level).  Both levels are EXACT
    positional picks with pinned tie-breaks: inner p90 per (user,
    type) at ⌈9n/10⌉ over (cents, event_id) order, outer p50/p90 over
    (p90_user, user_id) order — the q269 percentile discipline,
    nested.  The well-known caveat that percentiles do not compose
    (p90 of p90s ≠ p90) is exactly WHY the two-level form must be
    computed explicitly rather than approximated from a global
    histogram.

    Scale: the inner rank partitions on the HIGH-cardinality
    (user, type) key — plain windows per the PLANS.md cardinality
    rule; the outer rank runs over |users| rows per TYPE (entity
    scale under a handful of keys), so it routes through the
    two-phase grouped row number of operators/windows."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "user_id",
        "event_type",
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    w1 = Window.partitionBy("user_id", "event_type").orderBy(
        "cents", "event_id"
    )
    wn1 = Window.partitionBy("user_id", "event_type")
    userp = (
        v.select(
            "user_id",
            "event_type",
            "cents",
            F.row_number().over(w1).alias("rk"),
            F.count(F.lit(1)).over(wn1).cast("long").alias("n"),
        )
        .groupBy("user_id", "event_type")
        .agg(
            F.max(
                F.when(
                    F.col("rk") == F.expr("(9 * n + 9) div 10"),
                    F.col("cents"),
                )
            )
            .cast("long")
            .alias("p90_user")
        )
    )
    # the outer rank is |users| rows per TYPE — an entity-scale frame
    # under a handful of partition keys, so positions AND group sizes
    # come from ONE two-phase grouped row number pass
    from ..operators.windows import scalable_prefix_sums

    ranked2 = scalable_prefix_sums(
        userp.select("event_type", "p90_user", "user_id"),
        ("p90_user", "user_id"),
        {"rk": F.lit(1)},
        part_col="event_type",
        totals={"rk": "n"},
    ).select("event_type", "p90_user", "rk", "n")
    return ranked2.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_users"),
        F.max(
            F.when(
                F.col("rk") == F.expr("(n + 1) div 2"), F.col("p90_user")
            )
        )
        .cast("long")
        .alias("p50_of_p90"),
        F.max(
            F.when(
                F.col("rk") == F.expr("(9 * n + 9) div 10"),
                F.col("p90_user"),
            )
        )
        .cast("long")
        .alias("p90_of_p90"),
        F.max("p90_user").cast("long").alias("max_p90"),
    )


# ---------------------------------------------------------------------------
# q304 — columnar encoding advisor (dictionary vs plain size model)
# ---------------------------------------------------------------------------

# per column: plain size = total string bytes; dict size = distinct
# string bytes + n * ceil(log2(distinct+1))/8 index bytes (emitted as
# BITS to stay integer) — the standard back-of-envelope a columnar
# writer runs when choosing encodings
_Q304_COLS = (
    "o_orderstatus",
    "o_orderpriority",
    "o_orderdate",
    "o_custkey",
)

_Q304_ARM = (
    "SELECT '{c}' AS col,"
    " CAST(coalesce(CAST({v} AS STRING), '') AS STRING) AS s"
    " FROM orders"
)

_Q304_BODY = """
, stats AS (
  SELECT col,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT s) AS BIGINT) AS n_distinct,
         CAST(sum(length(s)) AS BIGINT) AS plain_bytes
  FROM arms GROUP BY col
), dict AS (
  SELECT col, CAST(sum(length(s)) AS BIGINT) AS dict_entry_bytes
  FROM (SELECT DISTINCT col, s FROM arms) t GROUP BY col
)
SELECT stats.col, n_rows, n_distinct, plain_bytes,
       CAST(8 * dict_entry_bytes
            + n_rows * (length(bin(n_distinct)) - 1 + 1) AS BIGINT)
         AS dict_bits,
       CAST(8 * plain_bytes AS BIGINT) AS plain_bits,
       CAST(CASE WHEN 8 * dict_entry_bytes
                      + n_rows * (length(bin(n_distinct)) - 1 + 1)
                      < 8 * plain_bytes
            THEN 1 ELSE 0 END AS BIGINT) AS recommend_dict
FROM stats JOIN dict ON dict.col = stats.col
"""


def _q304_oracle() -> str:
    arms = " UNION ALL ".join(
        _Q304_ARM.format(c=c, v=c) for c in _Q304_COLS
    )
    return f"WITH arms AS ({arms}){_Q304_BODY}"


@register("q304_encoding_advisor", _q304_oracle())
def q304(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar ENCODING ADVISOR — the size model every parquet/ORC
    writer (and every table-format OPTIMIZE job) evaluates when
    choosing dictionary vs plain encoding: dictionary pays the
    distinct values once plus ceil(log2 |dict|) index bits per row,
    plain pays the raw bytes per row.  Sizes are emitted in exact
    integer BITS (bit width via the no-libm floor_log2 + 1) with the
    recommendation flag; the advisor's DISCRIMINATION is the test —
    low-cardinality columns (status: 3 values) save dramatically more
    than the key column, whose dictionary is a tenth of the table.

    Scale: the ×|cols| expansion is a flatMap; per column the stats
    are one count-distinct rollup plus one distinct-value byte sum —
    both map-side combinable (at 100 TB the same decision runs per
    row-group from page-level stats, identical arithmetic)."""
    o = load_table(spark, sf_dir, "orders")
    parts = []
    for c in _Q304_COLS:
        parts.append(
            o.select(
                F.lit(c).alias("col"),
                F.coalesce(F.col(c).cast("string"), F.lit("")).alias("s"),
            )
        )
    arms = parts[0]
    for p in parts[1:]:
        arms = arms.unionByName(p)
    stats = arms.groupBy("col").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("s").cast("long").alias("n_distinct"),
        F.sum(F.length("s")).cast("long").alias("plain_bytes"),
    )
    dic = (
        arms.distinct()
        .groupBy("col")
        .agg(F.sum(F.length("s")).cast("long").alias("dict_entry_bytes"))
    )
    return stats.join(dic, "col").selectExpr(
        "col",
        "n_rows",
        "n_distinct",
        "plain_bytes",
        "CAST(8 * dict_entry_bytes"
        " + n_rows * (length(bin(n_distinct)) - 1 + 1) AS BIGINT)"
        " AS dict_bits",
        "CAST(8 * plain_bytes AS BIGINT) AS plain_bits",
        "CAST(CASE WHEN 8 * dict_entry_bytes"
        " + n_rows * (length(bin(n_distinct)) - 1 + 1)"
        " < 8 * plain_bytes THEN 1 ELSE 0 END AS BIGINT)"
        " AS recommend_dict",
    )


# ---------------------------------------------------------------------------
# q305 — feature hashing (the hashing trick) with collision audit
# ---------------------------------------------------------------------------

_Q305_BITS = 10  # 1024 hash buckets

_Q305_ORACLE = f"""
WITH feats AS (
  SELECT DISTINCT
         ('0x' || substring(md5('fh:' || tok), 1, 12))::BIGINT
           % {1 << _Q305_BITS} AS bucket,
         tok
  FROM (
    SELECT unnest(string_split(
      regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS tok
    FROM documents
  ) t
), per_bucket AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_feats
  FROM feats GROUP BY bucket
)
SELECT CAST((SELECT count(*) FROM feats) AS BIGINT) AS n_features,
       CAST(count(*) AS BIGINT) AS n_buckets_used,
       CAST({1 << _Q305_BITS} AS BIGINT) AS n_buckets,
       CAST(max(n_feats) AS BIGINT) AS max_load,
       CAST(sum(CASE WHEN n_feats > 1 THEN n_feats ELSE 0 END)
            AS BIGINT) AS n_collided_features,
       CAST(sum(CASE WHEN n_feats > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_collision_buckets
FROM per_bucket
"""


@register("q305_feature_hashing", _Q305_ORACLE)
def q305(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEATURE HASHING (the hashing trick — Weinberger et al. 2009)
    collision audit: before a training pipeline commits to hashing its
    vocabulary into 2^{bits} buckets instead of carrying a dictionary,
    it measures what the trick costs — how many distinct features
    share a bucket (gradient collisions), the maximum bucket load, and
    the bucket occupancy.  The hash is the repo's portable md5-prefix
    construction mod 2^{bits}, so the audit is value-exact across
    engines and reproduces the exact bucketing the training job would
    use.

    Scale: distinct (bucket, feature) pairs are vocabulary-bounded —
    one map-side-combined distinct plus a bucket rollup; the audit is
    the same shape at any corpus size because it never touches
    per-occurrence rows after the distinct."""
    from ..operators.text import normalize_text, tokens

    docs = load_table(spark, sf_dir, "documents")
    feats = (
        docs.select(
            F.explode(tokens(normalize_text("text"))).alias("tok")
        )
        .distinct()
        .select(
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("fh:"), F.col("tok"))), 1, 12
                    ),
                    16,
                    10,
                ).cast("long")
                % (1 << _Q305_BITS)
            ).alias("bucket"),
            "tok",
        )
    )
    per_bucket = feats.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_feats")
    )
    tot = feats.agg(F.count(F.lit(1)).cast("long").alias("n_features"))
    return per_bucket.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets_used"),
        F.lit(1 << _Q305_BITS).cast("long").alias("n_buckets"),
        F.max("n_feats").cast("long").alias("max_load"),
        F.sum(
            F.when(F.col("n_feats") > 1, F.col("n_feats")).otherwise(0)
        )
        .cast("long")
        .alias("n_collided_features"),
        F.sum((F.col("n_feats") > 1).cast("long"))
        .cast("long")
        .alias("n_collision_buckets"),
    ).crossJoin(F.broadcast(tot)).select(
        "n_features",
        "n_buckets_used",
        "n_buckets",
        "max_load",
        "n_collided_features",
        "n_collision_buckets",
    )


q305.__doc__ = q305.__doc__.format(bits=_Q305_BITS)


# ---------------------------------------------------------------------------
# q306 — insert/retract multiset net (differential-dataflow core)
# ---------------------------------------------------------------------------

# synthesized change log over orders: +1 at creation for every order,
# -1 retraction for every 3rd order, a second +1 (re-insert) for every
# 5th — net multiplicities in {0, 1, 2}; a RETRACT WITHOUT INSERT is
# injected for keys that never existed (negative net = violation)
_Q306_ORACLE = """
WITH log AS (
  SELECT o_orderkey AS k, o_orderpriority AS pri, 1 AS mult FROM orders
  UNION ALL
  SELECT o_orderkey, o_orderpriority, -1 FROM orders
  WHERE o_orderkey % 3 = 0
  UNION ALL
  SELECT o_orderkey, o_orderpriority, 1 FROM orders
  WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT -o_orderkey, o_orderpriority, -1 FROM orders
  WHERE o_orderkey % 1000 = 0
), net AS (
  SELECT k, pri, CAST(sum(mult) AS BIGINT) AS net FROM log
  GROUP BY k, pri
)
SELECT pri,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(CASE WHEN net = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cancelled,
       CAST(sum(CASE WHEN net > 0 THEN net ELSE 0 END) AS BIGINT)
         AS live_multiplicity,
       CAST(sum(CASE WHEN net < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations
FROM net GROUP BY pri
"""


@register("q306_retraction_net", _Q306_ORACLE)
def q306(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT/RETRACT multiset consolidation — the core primitive of
    differential/incremental dataflow (Materialize, Flink retract
    streams): every change is a (key, ±multiplicity) delta, a view's
    state is the NET sum per key, net-zero keys vanish
    (insert+retract cancel), and a NEGATIVE net is a correctness
    violation (retraction without a matching insert) that must
    surface, not silently clamp.  The synthesized log exercises all
    three: cancellations (every 3rd order), multiplicity 2
    (re-inserted 5th — coprime with the retraction rule, so some keys
    genuinely net to 2), and injected orphan retractions.

    Scale: consolidation IS a map-side-combined sum per key — the
    reason retract streams scale; the per-priority audit rollup rides
    the same shuffle."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.lit(1).alias("mult"),
    )
    retract = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.lit(-1).alias("mult"),
    )
    reinsert = o.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.lit(1).alias("mult"),
    )
    orphan = o.filter(F.col("o_orderkey") % 1000 == 0).select(
        (-F.col("o_orderkey")).alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.lit(-1).alias("mult"),
    )
    log = base.unionByName(retract).unionByName(reinsert).unionByName(
        orphan
    )
    net = log.groupBy("k", "pri").agg(
        F.sum("mult").cast("long").alias("net")
    )
    return net.groupBy("pri").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum((F.col("net") == 0).cast("long"))
        .cast("long")
        .alias("n_cancelled"),
        F.sum(F.when(F.col("net") > 0, F.col("net")).otherwise(0))
        .cast("long")
        .alias("live_multiplicity"),
        F.sum((F.col("net") < 0).cast("long"))
        .cast("long")
        .alias("n_violations"),
    )


# ---------------------------------------------------------------------------
# q307 — k-hop BFS layers from a seed set (layered frontier expansion)
# ---------------------------------------------------------------------------

_Q307_HOPS = 3
_Q307_SEED_MOD = 97  # parts with partkey % 97 == 0 seed the search


def _q307_oracle() -> str:
    # layered BFS unrolled as MATERIALIZED CTEs (the q290 rule)
    sql = f"""
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
), ed AS MATERIALIZED (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM e0 a JOIN e0 b ON a.ok = b.ok AND a.p <> b.p
), reach0 AS MATERIALIZED (
  SELECT DISTINCT u AS node, CAST(0 AS BIGINT) AS dist FROM ed
  WHERE u % {_Q307_SEED_MOD} = 0
)"""
    for r in range(1, _Q307_HOPS + 1):
        sql += f""",
reach{r} AS MATERIALIZED (
  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
    SELECT node, dist FROM reach{r - 1}
    UNION ALL
    SELECT ed.v AS node, {r} AS dist
    FROM ed JOIN reach{r - 1} f ON f.node = ed.u AND f.dist = {r - 1}
  ) t GROUP BY node
)"""
    sql += f"""
SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes
FROM reach{_Q307_HOPS} GROUP BY dist
"""
    return sql


@register("q307_bfs_layers", _q307_oracle())
def q307(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-hop BFS from a SEED SET with per-layer census — the frontier
    expansion behind blast-radius analysis, contamination spread, and
    label propagation warm-starts: seeds at distance 0, each round
    extends the frontier one hop and keeps the MINIMUM distance per
    node (min is the BFS invariant; the union+min consolidation makes
    re-discoveries free).  {hops} synchronized rounds, like q290's
    peel: deterministic round count, per-round localCheckpoint, the
    oracle unrolled as MATERIALIZED CTE layers.

    Scale: each round joins the CURRENT frontier only (f.dist = r−1)
    against the edge list — the frontier-delta optimization that
    makes BFS O(Σ frontier degrees), not O(rounds·|E|); state is one
    (node, dist) row per reached node."""
    li = load_table(spark, sf_dir, "lineitem")
    e0 = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    ).distinct()
    b = e0.select(F.col("ok"), F.col("p").alias("v"))
    ed = (
        e0.join(b, "ok")
        .filter(F.col("p") != F.col("v"))
        .select(F.col("p").alias("u"), "v")
        .distinct()
        .transform(_pin)
    )
    reach = (
        ed.select(F.col("u").alias("node"))
        .filter(F.col("node") % _Q307_SEED_MOD == 0)
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .transform(_pin_lazy)
    )
    for r in range(1, _Q307_HOPS + 1):
        frontier = reach.filter(F.col("dist") == r - 1).select(
            F.col("node").alias("u")
        )
        # an empty frontier means every later layer is empty too —
        # the remaining declared rounds are no-ops and skipping them
        # is output-exact. ONE action per round: the previous round's
        # checkpoint is LAZY and this frontier count is the job that
        # materializes it (runJob → doCheckpoint on the lineage), so
        # the checkpoint-job + count-job pair collapses to one job
        # per round (the r10 ambient-latency fix, same as q290); the
        # final layer-census action materializes the last round's.
        if frontier.count() == 0:
            break
        expanded = (
            ed.join(frontier, "u")
            .select(F.col("v").alias("node"))
            .withColumn("dist", F.lit(r).cast("long"))
        )
        reach = (
            reach.unionByName(expanded)
            .groupBy("node")
            .agg(F.min("dist").cast("long").alias("dist"))
            .transform(_pin_lazy)
        )
    return reach.groupBy("dist").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )


q307.__doc__ = q307.__doc__.format(hops=_Q307_HOPS)


# ---------------------------------------------------------------------------
# q308 — accounts-receivable aging report
# ---------------------------------------------------------------------------

_Q308_ASOF = "1998-08-01"

_Q308_ORACLE = f"""
WITH open_orders AS (
  SELECT o_custkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         date_diff('day', CAST(o_orderdate AS DATE),
                   DATE '{_Q308_ASOF}') AS age
  FROM orders
  WHERE o_orderstatus <> 'F'
    AND CAST(o_orderdate AS DATE) <= DATE '{_Q308_ASOF}'
), bucketed AS (
  SELECT o_custkey, cents,
         CASE WHEN age <= 30 THEN '0-30'
              WHEN age <= 60 THEN '31-60'
              WHEN age <= 90 THEN '61-90'
              ELSE '90+' END AS bucket
  FROM open_orders
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(sum(cents) AS BIGINT) AS outstanding_cents,
       CAST(max(cents) AS BIGINT) AS largest_cents
FROM bucketed GROUP BY bucket
"""


@register("q308_ar_aging", _Q308_ORACLE)
def q308(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACCOUNTS-RECEIVABLE AGING — the standard finance close report:
    open (non-finalized) orders as of a reference date, bucketed by
    invoice age into the canonical 0-30/31-60/61-90/90+ bands with
    outstanding totals, order and customer counts, and the largest
    single exposure per band.  Exact integer cents; the age buckets
    are CASE bands on one date_diff (no calendar table).

    Scale: one filtered scan (the status and date predicates push to
    parquet) into a 4-group rollup — the count(DISTINCT customer) is
    the only expensive aggregate and is map-side partial."""
    o = load_table(spark, sf_dir, "orders")
    od = F.col("o_orderdate").cast("date")
    asof = F.lit(_Q308_ASOF).cast("date")
    open_orders = o.filter(
        (F.col("o_orderstatus") != "F") & (od <= asof)
    ).select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        F.datediff(asof, od).alias("age"),
    )
    bucketed = open_orders.select(
        "o_custkey",
        "cents",
        F.when(F.col("age") <= 30, "0-30")
        .when(F.col("age") <= 60, "31-60")
        .when(F.col("age") <= 90, "61-90")
        .otherwise("90+")
        .alias("bucket"),
    )
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("outstanding_cents"),
        F.max("cents").cast("long").alias("largest_cents"),
    )


# ---------------------------------------------------------------------------
# q309 — temporal graph edge churn between two periods
# ---------------------------------------------------------------------------

_Q309_Y1, _Q309_Y2 = 1997, 1998

_Q309_ORACLE = f"""
WITH e AS (
  SELECT DISTINCT year(CAST(l_shipdate AS DATE)) AS yr,
         l_partkey AS u, l_suppkey AS v
  FROM lineitem
  WHERE year(CAST(l_shipdate AS DATE)) IN ({_Q309_Y1}, {_Q309_Y2})
), flags AS (
  SELECT u, v,
         CAST(max(CASE WHEN yr = {_Q309_Y1} THEN 1 ELSE 0 END)
              AS BIGINT) AS in1,
         CAST(max(CASE WHEN yr = {_Q309_Y2} THEN 1 ELSE 0 END)
              AS BIGINT) AS in2
  FROM e GROUP BY u, v
)
SELECT CAST(sum(in1) AS BIGINT) AS n_edges_y1,
       CAST(sum(in2) AS BIGINT) AS n_edges_y2,
       CAST(sum(in1 * in2) AS BIGINT) AS n_stable,
       CAST(sum(CASE WHEN in1 = 1 AND in2 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped,
       CAST(sum(CASE WHEN in1 = 0 AND in2 = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_new,
       CAST((2000000 * sum(in1 * in2) + count(*)) // (2 * count(*))
            AS BIGINT) AS jaccard_micro
FROM flags
"""


@register("q309_graph_edge_churn", _Q309_ORACLE)
def q309(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL GRAPH edge churn — the stability diagnostic run before
    trusting any graph feature in production (a supplier graph whose
    edges churn 80% year-over-year invalidates last year's embeddings
    and communities): the part-supplier edge sets of two years
    compared as stable/dropped/new with the edge-set Jaccard.  One
    distinct pass with per-edge year flags (max-CASE) — never two
    separate edge materializations joined.

    Scale: the distinct is the only shuffle (keyed on the edge); the
    flags pivot and census are map-side combinable; k periods
    generalize to a bitmask per edge, same single pass."""
    li = load_table(spark, sf_dir, "lineitem")
    yr = F.year(F.col("l_shipdate").cast("date"))
    e = (
        li.filter(yr.isin(_Q309_Y1, _Q309_Y2))
        .select(
            yr.alias("yr"),
            F.col("l_partkey").alias("u"),
            F.col("l_suppkey").alias("v"),
        )
        .distinct()
    )
    flags = e.groupBy("u", "v").agg(
        F.max((F.col("yr") == _Q309_Y1).cast("long"))
        .cast("long")
        .alias("in1"),
        F.max((F.col("yr") == _Q309_Y2).cast("long"))
        .cast("long")
        .alias("in2"),
    )
    return flags.agg(
        F.sum("in1").cast("long").alias("n_edges_y1"),
        F.sum("in2").cast("long").alias("n_edges_y2"),
        F.sum(F.col("in1") * F.col("in2")).cast("long").alias("n_stable"),
        F.sum(((F.col("in1") == 1) & (F.col("in2") == 0)).cast("long"))
        .cast("long")
        .alias("n_dropped"),
        F.sum(((F.col("in1") == 0) & (F.col("in2") == 1)).cast("long"))
        .cast("long")
        .alias("n_new"),
        F.expr(
            "CAST((2000000 * sum(in1 * in2) + count(*))"
            " div (2 * count(*)) AS BIGINT)"
        ).alias("jaccard_micro"),
    )


# ---------------------------------------------------------------------------
# q310 — join-path discovery (cross-table key containment profiling)
# ---------------------------------------------------------------------------

# candidate (fk-side, pk-side) column pairs across the star schema —
# the profiler scores REAL joins high and a decoy near zero
_Q310_PAIRS = (
    ("orders.o_custkey", "customer.c_custkey"),
    ("lineitem.l_orderkey", "orders.o_orderkey"),
    ("lineitem.l_partkey", "part.p_partkey"),
    ("lineitem.l_suppkey", "supplier.s_suppkey"),
    ("customer.c_nationkey", "nation.n_nationkey"),
    ("orders.o_orderkey", "customer.c_custkey"),
)


def _q310_arm_sql(fk: str, pk: str) -> str:
    ft, fc = fk.split(".")
    pt, pc = pk.split(".")
    return f"""
  SELECT '{fk}' AS fk_col, '{pk}' AS pk_col,
         CAST((SELECT count(DISTINCT {fc}) FROM {ft}) AS BIGINT)
           AS fk_distinct,
         CAST((SELECT count(DISTINCT {pc}) FROM {pt}) AS BIGINT)
           AS pk_distinct,
         CAST((SELECT count(*) FROM
               (SELECT DISTINCT {fc} AS k FROM {ft}) a
               JOIN (SELECT DISTINCT {pc} AS k FROM {pt}) b
               USING (k)) AS BIGINT) AS n_common
"""


def _q310_oracle() -> str:
    arms = " UNION ALL ".join(
        _q310_arm_sql(fk, pk) for fk, pk in _Q310_PAIRS
    )
    return f"""
WITH arms AS ({arms})
SELECT fk_col, pk_col, fk_distinct, pk_distinct, n_common,
       CAST((2000000 * n_common + fk_distinct) // (2 * fk_distinct)
            AS BIGINT) AS containment_micro
FROM arms
"""


@register("q310_join_discovery", _q310_oracle())
def q310(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-PATH DISCOVERY — the data-catalog profiling pass (Aurum /
    Valentine class) that finds joinable column pairs in an undocumented
    lake: for each candidate (fk, pk) pair, the CONTAINMENT of the fk
    side's distinct values in the pk side's — the directional measure
    that scores true foreign keys ≈ 1 regardless of cardinality skew
    (Jaccard would punish a small dim joined to a huge fact).  The
    panel carries the four real star-schema edges plus a DECOY pair
    (orderkey ⊆? custkey) that must score near zero — the profiler's
    discrimination, pinned by the twin test.

    Scale: per pair, two scan-local distincts and one distinct-key
    semi-join — at lake scale the distinct sets are pre-sketched
    (the q98/q138 Bloom/HLL machinery) and containment is estimated
    from sketches, same pairing loop."""
    tables = {
        t: load_table(spark, sf_dir, t)
        for t in (
            "orders",
            "customer",
            "lineitem",
            "part",
            "supplier",
            "nation",
        )
    }
    # r12 opt round: the per-arm shape (two distinct subtrees, each
    # consumed TWICE — count + join probe — plus three scalar aggs and
    # two 1-row cross joins, × 6 arms) ran 59 jobs/pass and scanned
    # lineitem/orders once per referencing arm.  Rewritten as the q309
    # single-pass flags pattern: every (pair, key, side) use melts into
    # one tagged stream (each table scanned ONCE, row-local explode of
    # ≤3 narrow structs), one map-side-combinable groupBy(pair_id, k)
    # computes the side flags, and one census aggregate per pair yields
    # all three counts.  NULL keys: max-flag grouping counts a NULL key
    # as one distinct value per side (exactly what distinct()+count did)
    # but must NOT count it as common (the old inner join dropped it) —
    # hence the isNotNull guard on n_common only.
    from collections import defaultdict

    uses: dict[str, list[tuple[int, str, bool]]] = defaultdict(list)
    for i, (fk, pk) in enumerate(_Q310_PAIRS):
        ft, fc = fk.split(".")
        pt, pc = pk.split(".")
        uses[ft].append((i, fc, True))
        uses[pt].append((i, pc, False))
    parts = []
    for t, us in uses.items():
        # long union key, guarded: the r12 ADVICE flagged that a
        # future non-numeric _Q310_PAIRS entry would cast to NULL and
        # silently zero n_common. The string-key variant it suggested
        # was measured (isolated min-of-3 at sf0.1: 1.46 s long vs
        # 1.96 s string — the exchange carries ~2x the key bytes,
        # guide §2.3 "narrower types"), so the melt keeps the narrow
        # long and FAILS LOUDLY on a non-integral key instead.
        for _, c, _ in us:
            dt = tables[t].schema[c].dataType.simpleString()
            if dt not in ("tinyint", "smallint", "int", "bigint"):
                raise TypeError(
                    f"q310 melt key {t}.{c} is {dt}; the long union key"
                    " requires integral keys — widen the melt key type"
                    " deliberately before adding this pair"
                )
        structs = [
            F.struct(
                F.lit(i).alias("pair_id"),
                F.col(c).cast("long").alias("k"),
                F.lit(1 if is_fk else 0).alias("f"),
                F.lit(0 if is_fk else 1).alias("p"),
            )
            for i, c, is_fk in us
        ]
        parts.append(
            tables[t]
            .select(F.explode(F.array(*structs)).alias("x"))
            .select("x.pair_id", "x.k", "x.f", "x.p")
        )
    tagged = parts[0]
    for q in parts[1:]:
        tagged = tagged.unionByName(q)
    flags = tagged.groupBy("pair_id", "k").agg(
        F.max("f").alias("f"), F.max("p").alias("p")
    )
    census = flags.groupBy("pair_id").agg(
        F.sum("f").cast("long").alias("fk_distinct"),
        F.sum("p").cast("long").alias("pk_distinct"),
        F.sum(
            F.when(F.col("k").isNotNull(), F.col("f") * F.col("p")).otherwise(
                0
            )
        )
        .cast("long")
        .alias("n_common"),
    )
    labels = spark.createDataFrame(
        [(i, fk, pk) for i, (fk, pk) in enumerate(_Q310_PAIRS)],
        "pair_id INT, fk_col STRING, pk_col STRING",
    )
    panel = census.join(F.broadcast(labels), "pair_id")
    return panel.selectExpr(
        "fk_col",
        "pk_col",
        "fk_distinct",
        "pk_distinct",
        "n_common",
        "CAST((2000000 * n_common + fk_distinct)"
        " div (2 * fk_distinct) AS BIGINT) AS containment_micro",
    )


# ---------------------------------------------------------------------------
# q311 — sliding-log rate limiter audit (RANGE frame on event time)
# ---------------------------------------------------------------------------

_Q311_WINDOW_S = 86400  # sliding 24 h log
_Q311_LIMIT = 6  # max events per user per sliding day — offenders
#               exist but are not universal at every test SF
#               (sf0.001: 9/15 users, sf0.01: 80/150, sf0.1: 866/1500)

_Q311_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_id,
         epoch_us(ts) // 1000000 AS sec
  FROM events
), counted AS (
  SELECT user_id, event_id,
         CAST(count(*) OVER (
           PARTITION BY user_id ORDER BY sec
           RANGE BETWEEN {_Q311_WINDOW_S - 1} PRECEDING AND CURRENT ROW)
           AS BIGINT) AS in_window
  FROM ev
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(in_window) AS BIGINT) AS max_rate,
       CAST(sum(CASE WHEN in_window > {_Q311_LIMIT} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_rejected
FROM counted GROUP BY user_id
HAVING sum(CASE WHEN in_window > {_Q311_LIMIT} THEN 1 ELSE 0 END) > 0
"""


@register("q311_rate_limit_audit", _Q311_ORACLE)
def q311(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-LOG rate limiter replay — the audit an API platform
    runs to size limits before enforcing them: for every event, the
    count of the same user's events in the trailing {w}-second window
    (a RANGE frame on event-time seconds — the frame type that counts
    by TIME DISTANCE, where a ROWS frame would count by position and
    silently break on bursts), then per user the peak rate and how
    many requests a limit of {lim}/window WOULD have rejected.  Only
    offending users are emitted (the HAVING audit shape).

    Ties inside one second land in the same RANGE frame on both
    engines by definition — no ordering hazard; the window-second
    subtraction uses {w}−1 PRECEDING so the frame is exactly [t−{w},
    t] in whole seconds.

    Scale: one window per user (high-cardinality partition key), one
    rollup; the sliding log at serving time is the q83
    applyInPandasWithState path with a deque per key — this is its
    batch twin for capacity planning."""
    ev = load_table(spark, sf_dir, "events")
    sec = F.expr("unix_micros(ts) div 1000000")
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-(_Q311_WINDOW_S - 1), Window.currentRow)
    )
    counted = ev.select("user_id", sec.alias("sec")).select(
        "user_id",
        F.count(F.lit(1)).over(w).cast("long").alias("in_window"),
    )
    return (
        counted.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max("in_window").cast("long").alias("max_rate"),
            F.sum((F.col("in_window") > _Q311_LIMIT).cast("long"))
            .cast("long")
            .alias("n_rejected"),
        )
        .filter(F.col("n_rejected") > 0)
    )


q311.__doc__ = q311.__doc__.format(w=_Q311_WINDOW_S, lim=_Q311_LIMIT)


# ---------------------------------------------------------------------------
# q312 — data-subject access report (DSAR extract census)
# ---------------------------------------------------------------------------

# subjects = every 37th customer key (the deterministic request batch)
_Q312_MOD = 37

_Q312_ORACLE = f"""
WITH subjects AS (
  SELECT c_custkey AS sid FROM customer WHERE c_custkey % {_Q312_MOD} = 0
), arms AS (
  SELECT 'customer' AS tbl, sid, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(NULL AS DATE) AS first_d, CAST(NULL AS DATE) AS last_d
  FROM customer JOIN subjects ON sid = c_custkey GROUP BY sid
  UNION ALL
  SELECT 'orders', sid, CAST(count(*) AS BIGINT),
         min(CAST(o_orderdate AS DATE)), max(CAST(o_orderdate AS DATE))
  FROM orders JOIN subjects ON sid = o_custkey GROUP BY sid
  UNION ALL
  SELECT 'events', sid, CAST(count(*) AS BIGINT),
         min(CAST(ts AS DATE)), max(CAST(ts AS DATE))
  FROM events JOIN subjects ON sid = user_id GROUP BY sid
)
SELECT tbl, sid, n_rows, first_d, last_d FROM arms
"""


@register("q312_dsar_extract", _Q312_ORACLE)
def q312(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-SUBJECT ACCESS REPORT census — the GDPR/CCPA Article-15
    counterpart of q84's erasure audit: for a batch of requesting
    subjects, every table holding their data reports row counts and
    first/last activity dates — the inventory the privacy office
    attaches to an access response, and the scoping input the erasure
    job (q84) consumes.  Subject linkage follows the same key
    conventions as the FK audit (q77): custkey in the warehouse,
    user_id in the event stream.

    Scale: the subject batch broadcasts into each table's scan
    (semi-join at the source, no full-table shuffle); per-table
    rollups are map-side combined.  Adding a table adds an arm, not a
    pass over existing ones."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    subjects = (
        cust.filter(F.col("c_custkey") % _Q312_MOD == 0)
        .select(F.col("c_custkey").alias("sid"))
    )
    arms = [
        cust.join(
            F.broadcast(subjects), F.col("sid") == F.col("c_custkey")
        )
        .groupBy("sid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .select(
            F.lit("customer").alias("tbl"),
            "sid",
            "n_rows",
            F.lit(None).cast("date").alias("first_d"),
            F.lit(None).cast("date").alias("last_d"),
        ),
        orders.join(
            F.broadcast(subjects), F.col("sid") == F.col("o_custkey")
        )
        .groupBy("sid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min(F.col("o_orderdate").cast("date")).alias("first_d"),
            F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
        )
        .select(F.lit("orders").alias("tbl"), "sid", "n_rows", "first_d", "last_d"),
        ev.join(F.broadcast(subjects), F.col("sid") == F.col("user_id"))
        .groupBy("sid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min(F.col("ts").cast("date")).alias("first_d"),
            F.max(F.col("ts").cast("date")).alias("last_d"),
        )
        .select(F.lit("events").alias("tbl"), "sid", "n_rows", "first_d", "last_d"),
    ]
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


# ---------------------------------------------------------------------------
# q313 — alert hysteresis over daily series (stateful on/off fold)
# ---------------------------------------------------------------------------

# thresholds: hi = 9/8 of the series mean (alert ON above), lo = the
# mean (alert clears below) — exact integer milli thresholds from the
# series' own exact sums, so the band adapts per series and SF
_Q313_ORACLE = """
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY 1, 2
), thr AS (
  SELECT event_type,
         (9 * 1000 * sum(cents)) // (8 * count(*)) AS hi_milli,
         (1000 * sum(cents)) // count(*) AS lo_milli
  FROM daily GROUP BY event_type
), idx AS (
  SELECT daily.event_type, 1000 * cents AS v_milli, hi_milli, lo_milli,
         CAST(row_number() OVER (PARTITION BY daily.event_type
                                 ORDER BY d) AS BIGINT) AS i,
         CAST(count(*) OVER (PARTITION BY daily.event_type) AS BIGINT)
           AS n
  FROM daily JOIN thr ON thr.event_type = daily.event_type
), fsm AS (
  SELECT event_type, i, n,
         CAST(CASE WHEN v_milli > hi_milli THEN 1 ELSE 0 END
              AS BIGINT) AS state,
         CAST(CASE WHEN v_milli > hi_milli THEN 1 ELSE 0 END
              AS BIGINT) AS episodes,
         CAST(CASE WHEN v_milli > hi_milli THEN 1 ELSE 0 END
              AS BIGINT) AS days_on
  FROM idx WHERE i = 1
  UNION ALL
  SELECT x.event_type, x.i, x.n,
         CAST(CASE WHEN x.v_milli > x.hi_milli THEN 1
                   WHEN x.v_milli < x.lo_milli THEN 0
                   ELSE f.state END AS BIGINT) AS state,
         CAST(f.episodes + (CASE WHEN f.state = 0
                  AND x.v_milli > x.hi_milli THEN 1 ELSE 0 END)
              AS BIGINT) AS episodes,
         CAST(f.days_on + (CASE WHEN x.v_milli > x.hi_milli THEN 1
                   WHEN x.v_milli < x.lo_milli THEN 0
                   ELSE f.state END) AS BIGINT) AS days_on
  FROM fsm f JOIN idx x
    ON x.event_type = f.event_type AND x.i = f.i + 1
)
SELECT event_type, n AS n_days, episodes AS n_episodes,
       days_on AS n_days_on, state AS final_state
FROM fsm WHERE i = n
"""


@register("q313_alert_hysteresis", _Q313_ORACLE)
def q313(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALERT HYSTERESIS — the flap-suppression state machine every
    monitoring system runs (fire above HI, clear only below LO; the
    band between holds the previous state so a value oscillating
    around one threshold raises ONE episode, not one per day): per
    series, episode count, days-in-alert, and the final state.  The
    previous-state dependence makes this a true ordered RECURRENCE —
    fold machinery (Spark `aggregate` over the date-ordered array,
    DuckDB WITH RECURSIVE per the q280 struct-accumulator rule), not
    windows.  Thresholds derive from the series' own exact integer
    mean (9/8·μ on, μ off) so the band is SF-adaptive with no float.

    Scale: one (type, day) rollup; the fold is O(days) per series
    over the observation window; a continuous deployment carries
    (state, episodes) per key in the q83 state store."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("cents")
    )
    thr = daily.groupBy("event_type").agg(
        F.expr("(9 * 1000 * sum(cents)) div (8 * count(*))").alias(
            "hi_milli"
        ),
        F.expr("(1000 * sum(cents)) div count(*)").alias("lo_milli"),
    )
    series = (
        daily.join(thr, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.max("hi_milli").alias("hi"),
            F.max("lo_milli").alias("lo"),
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("d").alias("d"),
                        (F.col("cents") * 1000).alias("v"),
                    )
                )
            ).alias("raw"),
        )
    )
    # state fold: struct accumulator (Spark aggregate handles struct
    # state correctly — the q280 note; the DuckDB twin uses RECURSIVE)
    fold = F.expr(
        """
        aggregate(
          slice(transform(raw, r -> r.v), 2, size(raw) - 1),
          struct(
            CAST(CASE WHEN raw[0].v > hi THEN 1 ELSE 0 END AS BIGINT)
              AS state,
            CAST(CASE WHEN raw[0].v > hi THEN 1 ELSE 0 END AS BIGINT)
              AS episodes,
            CAST(CASE WHEN raw[0].v > hi THEN 1 ELSE 0 END AS BIGINT)
              AS days_on),
          (acc, v) -> struct(
            CAST(CASE WHEN v > hi THEN 1 WHEN v < lo THEN 0
                 ELSE acc.state END AS BIGINT) AS state,
            CAST(acc.episodes + (CASE WHEN acc.state = 0 AND v > hi
                 THEN 1 ELSE 0 END) AS BIGINT) AS episodes,
            CAST(acc.days_on + (CASE WHEN v > hi THEN 1
                 WHEN v < lo THEN 0 ELSE acc.state END) AS BIGINT)
              AS days_on))
        """
    )
    return series.select(
        "event_type",
        "n_days",
        fold.alias("st"),
    ).select(
        "event_type",
        "n_days",
        F.col("st.episodes").alias("n_episodes"),
        F.col("st.days_on").alias("n_days_on"),
        F.col("st.state").alias("final_state"),
    )


# ---------------------------------------------------------------------------
# q314 — growth accounting (new / retained / expansion / churned revenue)
# ---------------------------------------------------------------------------

_Q314_ORACLE = """
WITH weekly AS (
  SELECT user_id,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
           AS wk,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1, 2
), firsts AS (
  SELECT user_id, CAST(min(wk) AS BIGINT) AS first_wk FROM weekly
  GROUP BY user_id
), paired AS (
  SELECT coalesce(a.user_id, b.user_id) AS user_id,
         coalesce(a.wk, b.wk + 1) AS wk,
         coalesce(a.cents, 0) AS cur,
         coalesce(b.cents, 0) AS prev
  FROM weekly a FULL OUTER JOIN weekly b
    ON a.user_id = b.user_id AND b.wk = a.wk - 1
), classified AS (
  SELECT p.wk, p.cur, p.prev,
         CASE WHEN p.prev = 0 AND f.first_wk = p.wk THEN 'new'
              WHEN p.prev = 0 THEN 'resurrected'
              WHEN p.cur = 0 THEN 'churned'
              WHEN p.cur >= p.prev THEN 'retained_expansion'
              ELSE 'retained_contraction' END AS bucket
  FROM paired p JOIN firsts f ON f.user_id = p.user_id
)
SELECT CAST(wk AS BIGINT) AS wk, bucket,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(cur) AS BIGINT) AS revenue_cents,
       CAST(sum(cur) - sum(prev) AS BIGINT) AS delta_cents
FROM classified GROUP BY wk, bucket
"""


@register("q314_growth_accounting", _Q314_ORACLE)
def q314(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROWTH ACCOUNTING — the period-over-period revenue
    decomposition (the a16z/Social-Capital framework) that explains
    WHERE a top-line delta came from: each (user, week) pairs with the
    SAME user's prior week via a FULL OUTER self-join (absent sides
    are the new/churned cases; weeks are epoch-day div 7, portable
    where month keys need year-boundary arithmetic), then classifies
    into new, resurrected, churned, retained-expansion,
    retained-contraction — user counts, revenue, and the per-bucket
    delta that sums to the WoW top-line change.  Complements q271's
    NRR triangle (ratios by cohort age) with the named-bucket ledger
    finance actually reads.

    Scale: one (user, week) rollup, one self-join on the rollup's own
    key, one first-week broadcast — no window, no explode."""
    ev = load_table(spark, sf_dir, "events")
    wk = F.expr(
        "datediff(CAST(ts AS DATE), DATE '1970-01-01') div 7"
    )
    weekly = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", wk.alias("wk"))
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    firsts = weekly.groupBy("user_id").agg(
        F.min("wk").cast("long").alias("first_wk")
    )
    a = weekly.select(
        F.col("user_id").alias("ua"),
        F.col("wk").alias("wka"),
        F.col("cents").alias("cur"),
    )
    b = weekly.select(
        F.col("user_id").alias("ub"),
        F.col("wk").alias("wkb"),
        F.col("cents").alias("prev"),
    )
    paired = a.join(
        b,
        (F.col("ua") == F.col("ub")) & (F.col("wkb") == F.col("wka") - 1),
        "full_outer",
    ).select(
        F.coalesce("ua", "ub").alias("user_id"),
        F.coalesce(F.col("wka"), F.col("wkb") + 1).alias("wk"),
        F.coalesce("cur", F.lit(0)).alias("cur"),
        F.coalesce("prev", F.lit(0)).alias("prev"),
    )
    classified = paired.join(firsts, "user_id").select(
        "wk",
        "cur",
        "prev",
        F.when(
            (F.col("prev") == 0) & (F.col("first_wk") == F.col("wk")),
            "new",
        )
        .when(F.col("prev") == 0, "resurrected")
        .when(F.col("cur") == 0, "churned")
        .when(F.col("cur") >= F.col("prev"), "retained_expansion")
        .otherwise("retained_contraction")
        .alias("bucket"),
    )
    return classified.groupBy(
        F.col("wk").cast("long").alias("wk"), "bucket"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("cur").cast("long").alias("revenue_cents"),
        (F.sum("cur") - F.sum("prev")).cast("long").alias("delta_cents"),
    )


# ---------------------------------------------------------------------------
# q315 — quantile treatment effects (distributional uplift)
# ---------------------------------------------------------------------------

_Q315_ORACLE = f"""
WITH treat AS (
  SELECT user_id,
         CAST(max(CASE WHEN event_type = 'error' AND value > 90
                  AND CAST(ts AS DATE) < DATE '{_Q287_SPLIT}'
                  THEN 1 ELSE 0 END) AS BIGINT) AS arm
  FROM events GROUP BY user_id
), y AS (
  SELECT t.arm, e.user_id,
         CAST(sum(CASE WHEN e.event_type = 'purchase'
                  AND CAST(e.ts AS DATE) >= DATE '{_Q287_SPLIT}'
                  THEN CAST(round(e.value * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS y_cents
  FROM events e JOIN treat t ON t.user_id = e.user_id
  GROUP BY t.arm, e.user_id
), ranked AS (
  SELECT arm, y_cents,
         row_number() OVER (PARTITION BY arm
                            ORDER BY y_cents, user_id) AS rk,
         CAST(count(*) OVER (PARTITION BY arm) AS BIGINT) AS n
  FROM y
), qs AS (
  SELECT arm, CAST(max(n) AS BIGINT) AS n,
         CAST(max(CASE WHEN rk = (n + 3) // 4 THEN y_cents END)
              AS BIGINT) AS p25,
         CAST(max(CASE WHEN rk = (n + 1) // 2 THEN y_cents END)
              AS BIGINT) AS p50,
         CAST(max(CASE WHEN rk = (3 * n + 3) // 4 THEN y_cents END)
              AS BIGINT) AS p75,
         CAST(max(CASE WHEN rk = (9 * n + 9) // 10 THEN y_cents END)
              AS BIGINT) AS p90
  FROM ranked GROUP BY arm
)
SELECT t.n AS n_treated, c.n AS n_control,
       CAST(t.p25 - c.p25 AS BIGINT) AS qte_p25_cents,
       CAST(t.p50 - c.p50 AS BIGINT) AS qte_p50_cents,
       CAST(t.p75 - c.p75 AS BIGINT) AS qte_p75_cents,
       CAST(t.p90 - c.p90 AS BIGINT) AS qte_p90_cents
FROM (SELECT * FROM qs WHERE arm = 1) t
CROSS JOIN (SELECT * FROM qs WHERE arm = 0) c
"""


@register("q315_quantile_treatment_effect", _Q315_ORACLE)
def q315(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE treatment effects — the distributional readout a mean
    ATE (q287) hides: the treated-minus-control gap at p25/p50/p75/p90
    of the outcome distribution answers \"did the intervention lift
    everyone, or just the tail?\" (Lehmann/Doksum QTE; what uplift
    teams plot as the effect-by-quantile curve).  Per-arm quantiles
    are EXACT positional picks with pinned (outcome, user_id)
    tie-breaks — no interpolation, so every gap is an exact integer
    cents difference.

    Scale: one per-user outcome rollup joined to the arm assignment;
    the per-arm rank is |users| rows under TWO partition keys, so it
    runs through the two-phase grouped row number of
    operators/windows (never a 2-task window sort); a 2-row pivot."""
    ev = load_table(spark, sf_dir, "events")
    d = F.col("ts").cast("date")
    split = F.lit(_Q287_SPLIT).cast("date")
    treat = ev.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "error")
                & (F.col("value") > 90)
                & (d < split)
            ).cast("long")
        )
        .cast("long")
        .alias("arm")
    )
    y = (
        ev.join(treat, "user_id")
        .groupBy("arm", "user_id")
        .agg(
            F.sum(
                F.when(
                    (F.col("event_type") == "purchase") & (d >= split),
                    F.round(F.col("value") * 100, 0).cast("long"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("y_cents")
        )
    )
    from ..operators.windows import scalable_prefix_sums

    ranked = scalable_prefix_sums(
        y.select("arm", "y_cents", "user_id"),
        ("y_cents", "user_id"),
        {"rk": F.lit(1)},
        part_col="arm",
        totals={"rk": "n"},
    ).select("arm", "y_cents", "rk", "n")

    def pick(expr):
        return F.max(
            F.when(F.col("rk") == F.expr(expr), F.col("y_cents"))
        ).cast("long")

    # r12 opt round: pinned eagerly — the 2-row quantile frame feeds
    # BOTH pivot arms below, and unpinned each arm re-ran the whole
    # rollup + two-phase rank pipeline
    qs = ranked.groupBy("arm").agg(
        F.max("n").cast("long").alias("n"),
        pick("(n + 3) div 4").alias("p25"),
        pick("(n + 1) div 2").alias("p50"),
        pick("(3 * n + 3) div 4").alias("p75"),
        pick("(9 * n + 9) div 10").alias("p90"),
    ).transform(_pin)
    t = qs.filter(F.col("arm") == 1).select(
        F.col("n").alias("n_treated"),
        F.col("p25").alias("tp25"),
        F.col("p50").alias("tp50"),
        F.col("p75").alias("tp75"),
        F.col("p90").alias("tp90"),
    )
    c = qs.filter(F.col("arm") == 0).select(
        F.col("n").alias("n_control"),
        F.col("p25").alias("cp25"),
        F.col("p50").alias("cp50"),
        F.col("p75").alias("cp75"),
        F.col("p90").alias("cp90"),
    )
    return t.crossJoin(c).select(
        "n_treated",
        "n_control",
        (F.col("tp25") - F.col("cp25")).cast("long").alias("qte_p25_cents"),
        (F.col("tp50") - F.col("cp50")).cast("long").alias("qte_p50_cents"),
        (F.col("tp75") - F.col("cp75")).cast("long").alias("qte_p75_cents"),
        (F.col("tp90") - F.col("cp90")).cast("long").alias("qte_p90_cents"),
    )


# ---------------------------------------------------------------------------
# q316 — MMR diversified retrieval (greedy top-k with redundancy penalty)
# ---------------------------------------------------------------------------

_Q316_K = 8

_Q316_COS = (
    "CAST(round(1000000000 * (list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a}))"
    "    * sqrt(list_dot_product({b}, {b}))))) AS BIGINT)"
)


def _q316_oracle() -> str:
    sql = f"""
WITH q AS MATERIALIZED (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
), cand AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         {_Q316_COS.format(a="embedding::DOUBLE[]", b="qv")} AS rel
  FROM embeddings CROSS JOIN q WHERE vec_id > 0
), sel1 AS MATERIALIZED (
  SELECT 1 AS rank, vec_id, e, rel, CAST(0 AS BIGINT) AS red
  FROM cand ORDER BY rel DESC, vec_id LIMIT 1
)"""
    for r in range(2, _Q316_K + 1):
        prev = f"sel{r - 1}" if r == 2 else f"all{r - 1}"
        sql += f""",
all{r - 1} AS MATERIALIZED (
  {"SELECT * FROM sel1" if r == 2 else
   f"SELECT * FROM all{r - 2} UNION ALL SELECT * FROM sel{r - 1}"}
),
sel{r} AS MATERIALIZED (
  SELECT {r} AS rank, c.vec_id, c.e, c.rel, t.red
  FROM cand c JOIN (
    SELECT c2.vec_id,
           CAST(max({_Q316_COS.format(a="c2.e", b="s.e")}) AS BIGINT)
             AS red
    FROM cand c2 CROSS JOIN all{r - 1} s
    WHERE c2.vec_id NOT IN (SELECT vec_id FROM all{r - 1})
    GROUP BY c2.vec_id
  ) t ON t.vec_id = c.vec_id
  ORDER BY c.rel - t.red DESC, c.vec_id LIMIT 1
)"""
    last_union = " UNION ALL ".join(
        f"SELECT rank, vec_id, rel, red FROM sel{r}"
        for r in range(1, _Q316_K + 1)
    )
    sql += f"""
SELECT CAST(rank AS BIGINT) AS rank, CAST(vec_id AS BIGINT) AS vec_id,
       rel AS rel_nano, red AS red_nano,
       CAST(rel - red AS BIGINT) AS objective_nano
FROM ({last_union}) t
"""
    return sql


@register("q316_mmr_diversify", _q316_oracle())
def q316(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR DIVERSIFIED retrieval (Carbonell & Goldstein 1998) — the
    re-ranking every search/RAG stack applies so the top-k is not k
    paraphrases of one document: greedily pick argmax of
    relevance − redundancy, where redundancy is the max similarity to
    anything ALREADY SELECTED (λ = 1/2 scales both terms equally, so
    the integer difference ranks identically).  Similarities quantize
    to nano integers via JVM/DuckDB round() (shared half-away ties),
    making each greedy argmax — and therefore the whole selection
    path — bit-portable; ties pin on vec_id.

    Scale: redundancy folds INCREMENTALLY — each round scores
    candidates against ONLY the newly selected vector (a broadcast of
    1 row) and keeps red = greatest(red, sim) as a carried column, so
    the loop costs K·|cand| dot products (not K²·|cand|) and NO
    per-round shuffle (the naive re-scan needs a groupBy-max over the
    candidate frame every round); per-round state is checkpointed
    (the q290 lineage rule) and the driver holds only the K chosen
    rows (bounded collect).  max-of-rounded == rounded-per-pair max,
    so the fold is bit-identical to the oracle's unrolled
    MATERIALIZED CTE layers."""
    from ..operators.similarity import dot

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    qv = v.filter(F.col("vec_id") == 0).select(F.col("e").alias("qv"))
    cos_rel = dot(F.col("e"), F.col("qv")) / (
        F.sqrt(dot(F.col("e"), F.col("e")))
        * F.sqrt(dot(F.col("qv"), F.col("qv")))
    )
    cand = (
        v.filter(F.col("vec_id") > 0)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "e",
            F.round(F.lit(1000000000) * cos_rel, 0)
            .cast("long")
            .alias("rel"),
        )
        # lazy: the head argmax below (TakeOrderedAndProject — a full
        # scan) is the materializing action; one job instead of two
        .transform(_pin_lazy)
    )
    selected = []  # driver-held (rank, vec_id, e, rel, red) — ≤K rows
    head = cand.orderBy(F.desc("rel"), F.asc("vec_id")).limit(1).collect()
    if not head:
        # no candidates at all — empty result, same schema (the
        # oracle's unrolled layers degenerate to zero rows too)
        return spark.createDataFrame(
            [],
            "rank LONG, vec_id LONG, rel_nano LONG, red_nano LONG,"
            " objective_nano LONG",
        )
    first = head[0]
    selected.append((1, first["vec_id"], first["e"], first["rel"], 0))
    # red starts NULL, not 0: a candidate's max similarity can be
    # NEGATIVE (anti-aligned vectors), and greatest() skips nulls, so
    # the first fold sets red = sim exactly — a 0 floor would clamp it
    state = cand.filter(F.col("vec_id") != first["vec_id"]).withColumn(
        "red", F.lit(None).cast("long")
    )
    cos_red = dot(F.col("e"), F.col("se")) / (
        F.sqrt(dot(F.col("e"), F.col("e")))
        * F.sqrt(dot(F.col("se"), F.col("se")))
    )
    for r in range(2, _Q316_K + 1):
        last = selected[-1]
        last_df = cand.sparkSession.createDataFrame(
            [(list(last[2]),)], "se ARRAY<DOUBLE>"
        )
        state = (
            state.crossJoin(F.broadcast(last_df))
            .select(
                "vec_id",
                "e",
                "rel",
                F.greatest(
                    F.col("red"),
                    F.round(F.lit(1000000000) * cos_red, 0).cast("long"),
                ).alias("red"),
            )
            # lazy: the per-round argmax (TakeOrderedAndProject, full
            # scan) materializes the fold — ONE job per MMR round
            # instead of a checkpoint job + an argmax job
            .transform(_pin_lazy)
        )
        picked = (
            state.orderBy(
                F.desc(F.col("rel") - F.col("red")), F.asc("vec_id")
            )
            .limit(1)
            .collect()
        )
        if not picked:
            # candidate pool exhausted before round K (state shrinks
            # by one per round + the initial filter): emit the
            # selected prefix — exactly how the oracle's unrolled
            # layers would degenerate (r9 ADVICE)
            break
        nxt = picked[0]
        selected.append(
            (r, nxt["vec_id"], nxt["e"], nxt["rel"], nxt["red"])
        )
        state = state.filter(F.col("vec_id") != nxt["vec_id"])
    out = cand.sparkSession.createDataFrame(
        [(rk, vid, rel, red) for rk, vid, _, rel, red in selected],
        "rank LONG, vec_id LONG, rel_nano LONG, red_nano LONG",
    )
    return out.select(
        "rank",
        "vec_id",
        "rel_nano",
        "red_nano",
        (F.col("rel_nano") - F.col("red_nano"))
        .cast("long")
        .alias("objective_nano"),
    )


# ---------------------------------------------------------------------------
# q317 — LRU cache hit-ratio simulation (list-state ordered fold)
# ---------------------------------------------------------------------------

_Q317_CAP = 4  # cache entries per user
# page id: 16 synthetic pages derived from the event value
_Q317_PAGE = "CAST(round(value * 100) AS BIGINT) % 16"

_Q317_ORACLE = f"""
WITH RECURSIVE ev AS (
  SELECT user_id, {_Q317_PAGE} AS page,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS BIGINT) AS i,
         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
  FROM events
), fsm AS (
  SELECT user_id, i, n, [page] AS cache, CAST(0 AS BIGINT) AS hits
  FROM ev WHERE i = 1
  UNION ALL
  SELECT x.user_id, x.i, x.n,
         list_slice(
           list_prepend(x.page,
             list_filter(f.cache, p -> p <> x.page)),
           1, {_Q317_CAP}) AS cache,
         CAST(f.hits + (CASE WHEN list_contains(f.cache, x.page)
              THEN 1 ELSE 0 END) AS BIGINT) AS hits
  FROM fsm f JOIN ev x ON x.user_id = f.user_id AND x.i = f.i + 1
)
SELECT user_id, n AS n_accesses, hits AS n_hits,
       CAST((2000000 * hits + (n - 1)) // (2 * (n - 1)) AS BIGINT)
         AS hit_micro
FROM fsm WHERE i = n
"""


@register("q317_lru_hit_ratio", _Q317_ORACLE)
def q317(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LRU CACHE hit-ratio simulation — the capacity-planning replay
    run before sizing a cache tier (would {cap} entries per user have
    served this traffic?): per user, the event stream's synthetic page
    ids drive an exact LRU — hit if the page is resident, then
    move-to-front and truncate to capacity.  Recency order makes the
    state a LIST whose every step depends on the last — fold
    machinery with an ARRAY-valued accumulator (Spark ``aggregate``
    with array ops; DuckDB WITH RECURSIVE carrying a list column —
    list_reduce's struct bug, PLANS.md #9, applies to structs; the
    recursive form sidesteps it entirely).  Hit ratio is over the
    n−1 post-warmup accesses (the first access can never hit).

    Scale: one window for per-user sequence numbers, then the fold is
    O(events·cap) row-local work per user; the online twin carries
    the same list per key in the q83 state store."""
    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        F.expr(_Q317_PAGE).alias("page"),
        F.struct(
            F.col("ts").alias("ts"), F.col("event_id").alias("eid")
        ).alias("ord"),
    )
    series = seq.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_accesses"),
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("ord").alias("o"), F.col("page").alias("p")
                    )
                )
            ),
            lambda s: s["p"],
        ).alias("pages"),
    )
    fold = F.expr(
        f"""
        aggregate(
          slice(pages, 2, size(pages) - 1),
          struct(array(pages[0]) AS cache, CAST(0 AS BIGINT) AS hits),
          (acc, p) -> struct(
            slice(concat(array(p), filter(acc.cache, c -> c != p)),
                  1, {_Q317_CAP}) AS cache,
            CAST(acc.hits + (CASE WHEN array_contains(acc.cache, p)
                 THEN 1 ELSE 0 END) AS BIGINT) AS hits))
        """
    )
    return series.select(
        "user_id",
        "n_accesses",
        fold.alias("st"),
    ).select(
        "user_id",
        "n_accesses",
        F.col("st.hits").alias("n_hits"),
        F.expr(
            "CAST((2000000 * st.hits + (n_accesses - 1))"
            " div (2 * (n_accesses - 1)) AS BIGINT)"
        ).alias("hit_micro"),
    )


q317.__doc__ = q317.__doc__.format(cap=_Q317_CAP)


# ---------------------------------------------------------------------------
# q318 — multi-currency consolidation with as-of weekly rates
# ---------------------------------------------------------------------------

# deterministic synthesis: currency from custkey (4 currencies), and a
# weekly micro-rate per currency that drifts with the week index —
# both engines derive identical tables from the same integers
_Q318_NCUR = 4

_Q318_ORACLE = f"""
WITH o AS (
  SELECT o_orderkey, o_custkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(o_orderdate AS DATE) AS od,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           // 7 AS wk,
         o_custkey % {_Q318_NCUR} AS cur
  FROM orders
), rates AS (
  SELECT DISTINCT wk, cur,
         1000000 + 100000 * cur
           + 10000 * ((wk * (cur + 3)) % 11) AS rate_micro
  FROM o
), converted AS (
  SELECT o.cur, o.wk, o.cents, r.rate_micro,
         (2 * o.cents * r.rate_micro + 1000000) // (2 * 1000000)
           AS base_cents
  FROM o JOIN rates r ON r.wk = o.wk AND r.cur = o.cur
)
SELECT CAST(cur AS BIGINT) AS currency,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS local_cents,
       CAST(sum(base_cents) AS BIGINT) AS base_cents,
       CAST(min(rate_micro) AS BIGINT) AS min_rate_micro,
       CAST(max(rate_micro) AS BIGINT) AS max_rate_micro
FROM converted GROUP BY cur
"""


@register("q318_fx_consolidation", _Q318_ORACLE)
def q318(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-CURRENCY ledger consolidation — the close-process join
    every multinational warehouse runs: each order converts at the
    rate IN EFFECT FOR ITS WEEK (as-of semantics on the rate
    dimension; using today's rate restates history and fails audit),
    with per-currency local and base-currency totals plus the rate
    range actually applied.  Rates are integer micro (per-order
    conversion rounds half-up ONCE, then sums — the per-item-then-sum
    discipline of q272), synthesized deterministically per (currency,
    week) so both engines derive the identical dimension.

    Scale: the rate dimension is |currencies|×|weeks| — broadcast
    territory forever; one fact scan, one broadcast join, one
    rollup."""
    o = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        F.expr(
            "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
            " div 7"
        ).alias("wk"),
        (F.col("o_custkey") % _Q318_NCUR).alias("cur"),
    )
    rates = (
        o.select("wk", "cur")
        .distinct()
        .select(
            "wk",
            "cur",
            (
                F.lit(1000000)
                + F.lit(100000) * F.col("cur")
                + F.lit(10000)
                * ((F.col("wk") * (F.col("cur") + 3)) % 11)
            )
            .cast("long")
            .alias("rate_micro"),
        )
    )
    converted = o.join(F.broadcast(rates), ["wk", "cur"]).select(
        "cur",
        "cents",
        "rate_micro",
        F.expr(
            "(2 * cents * rate_micro + 1000000) div (2 * 1000000)"
        ).alias("base_cents"),
    )
    return converted.groupBy(
        F.col("cur").cast("long").alias("currency")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("local_cents"),
        F.sum("base_cents").cast("long").alias("base_cents"),
        F.min("rate_micro").cast("long").alias("min_rate_micro"),
        F.max("rate_micro").cast("long").alias("max_rate_micro"),
    )


# ---------------------------------------------------------------------------
# q319 — mod-97 account validation (chunked big-number arithmetic)
# ---------------------------------------------------------------------------

# synthesized 18-digit account numbers: two zero-padded 9-digit halves
# derived from the key; the check digits make every 3rd key invalid
_Q319_ACCT = (
    "lpad(CAST(({k} * 7919) % 1000000000 AS STRING), 9, '0') ||"
    " lpad(CAST(({k} * 104729 + (CASE WHEN {k} % 3 = 0 THEN 1 ELSE 0 END))"
    " % 1000000000 AS STRING), 9, '0')"
)

_Q319_ORACLE = f"""
WITH acct AS (
  SELECT c_custkey,
         {_Q319_ACCT.format(k="c_custkey")} AS digits
  FROM customer
), folded AS (
  SELECT c_custkey, digits,
         list_reduce(
           list_transform(generate_series(1, 3),
             i -> CAST(substring(digits, 1 + (i - 1) * 6, 6) AS BIGINT)),
           (acc, chunk) -> (acc * 1000000 + chunk) % 97) AS mod97
  FROM acct
)
SELECT CAST(mod97 AS BIGINT) AS mod97,
       CAST(count(*) AS BIGINT) AS n_accounts,
       CAST(min(c_custkey) AS BIGINT) AS example_key
FROM folded GROUP BY mod97
"""


@register("q319_mod97_validation", _Q319_ORACLE)
def q319(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOD-97 validation of account strings (the IBAN/ISO-7064 check)
    via CHUNKED modular arithmetic — the standard trick for numbers
    too big for any integer type: fold 6-digit chunks left-to-right
    with acc ← (acc·10⁶ + chunk) mod 97, exactly how payment systems
    validate 30+ digit references without bignum support.  The fold
    is row-local over a constant 3-chunk split (scalar accumulator —
    safe in DuckDB's list_reduce per PLANS.md #9); the remainder
    distribution is the audit (a healthy feed concentrates on the
    valid remainder; the synthetic corruption shifts every 3rd key).

    Scale: pure row-local string/integer work inside
    WholeStageCodegen, one small rollup."""
    cust = load_table(spark, sf_dir, "customer")
    acct = cust.select(
        "c_custkey",
        F.expr(_Q319_ACCT.format(k="c_custkey")).alias("digits"),
    )
    folded = acct.select(
        "c_custkey",
        F.expr(
            """
            aggregate(
              transform(sequence(1, 3),
                i -> CAST(substring(digits, 1 + (i - 1) * 6, 6)
                          AS BIGINT)),
              CAST(0 AS BIGINT),
              (acc, chunk) -> (acc * 1000000 + chunk) % 97)
            """
        ).alias("mod97"),
    )
    return folded.groupBy(F.col("mod97").cast("long").alias("mod97")).agg(
        F.count(F.lit(1)).cast("long").alias("n_accounts"),
        F.min("c_custkey").cast("long").alias("example_key"),
    )


# ---------------------------------------------------------------------------
# q320 — largest-remainder (Hamilton) apportionment
# ---------------------------------------------------------------------------

_Q320_BUDGET = 1_000_000  # units to allocate exactly

_Q320_ORACLE = f"""
WITH rev AS (
  SELECT n.n_name AS nation,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY n.n_name
), tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM rev),
quota AS (
  SELECT nation, cents,
         ({_Q320_BUDGET} * cents) // t AS floor_units,
         ({_Q320_BUDGET} * cents) % t AS remainder
  FROM rev CROSS JOIN tot
), short AS (
  SELECT CAST({_Q320_BUDGET} - sum(floor_units) AS BIGINT) AS k
  FROM quota
), ranked AS (
  SELECT nation, cents, floor_units, remainder,
         row_number() OVER (ORDER BY remainder DESC, nation) AS rk
  FROM quota
)
SELECT nation, cents,
       CAST(floor_units AS BIGINT) AS floor_units,
       CAST(remainder AS BIGINT) AS remainder,
       CAST(floor_units + (CASE WHEN rk <= k THEN 1 ELSE 0 END)
            AS BIGINT) AS allocated_units
FROM ranked CROSS JOIN short
"""


@register("q320_largest_remainder", _Q320_ORACLE)
def q320(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LARGEST-REMAINDER (Hamilton) apportionment — the exact
    proportional-allocation rule behind penny-exact invoice splits,
    ad-budget distribution, and seat apportionment: floor each group's
    exact quota (budget·share), then hand the leftover units to the
    largest remainders (pinned (remainder desc, name) tiebreak).  The
    allocation SUMS EXACTLY to the budget by construction — the
    property naive per-group rounding cannot give and the reason this
    is an operator, not a format string.  All integer: quotas via one
    multiply-then-divide against the exact total.

    Scale: one fact rollup through two broadcast dims, a |groups|-row
    quota frame, one metadata-sized rank."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    rev = (
        o.join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    tot = rev.agg(F.sum("cents").cast("long").alias("t"))
    quota = rev.crossJoin(F.broadcast(tot)).select(
        "nation",
        "cents",
        F.expr(f"({_Q320_BUDGET} * cents) div t").alias("floor_units"),
        F.expr(f"({_Q320_BUDGET} * cents) % t").alias("remainder"),
    )
    short = quota.agg(
        (F.lit(_Q320_BUDGET) - F.sum("floor_units"))
        .cast("long")
        .alias("k")
    )
    w = Window.orderBy(F.desc("remainder"), F.asc("nation"))
    ranked = quota.withColumn("rk", F.row_number().over(w))
    return ranked.crossJoin(F.broadcast(short)).select(
        "nation",
        "cents",
        F.col("floor_units").cast("long").alias("floor_units"),
        F.col("remainder").cast("long").alias("remainder"),
        (
            F.col("floor_units")
            + F.when(F.col("rk") <= F.col("k"), 1).otherwise(0)
        )
        .cast("long")
        .alias("allocated_units"),
    )


# ---------------------------------------------------------------------------
# q321 — posting-list compression sizing (Elias-Fano vs delta-varint)
# ---------------------------------------------------------------------------

_Q321_ORACLE = """
WITH postings AS (
  SELECT tok, CAST(doc_id AS BIGINT) AS doc_id
  FROM (
    SELECT DISTINCT doc_id,
           unnest(string_split(
             regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'),
             ' ')) AS tok
    FROM documents
  ) t
), gaps AS (
  SELECT tok, doc_id,
         doc_id - lag(doc_id) OVER (PARTITION BY tok ORDER BY doc_id)
           AS gap
  FROM postings
), stats AS (
  SELECT tok,
         CAST(count(*) AS BIGINT) AS n,
         CAST(max(doc_id) + 1 AS BIGINT) AS u,
         CAST(sum(CASE WHEN gap IS NULL THEN
               1 + (length(bin(doc_id + 1)) - 1) // 7
              ELSE 1 + (length(bin(gap)) - 1) // 7 END) AS BIGINT)
           AS varint_bytes
  FROM gaps GROUP BY tok
), sized AS (
  SELECT tok, n, u, 8 * varint_bytes AS varint_bits,
         2 * n + n * greatest(
           length(bin(greatest(u // n, 1))) - 1, 0) + n AS ef_bits
  FROM stats
)
SELECT CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(n) AS BIGINT) AS n_postings,
       CAST(sum(varint_bits) AS BIGINT) AS varint_bits,
       CAST(sum(ef_bits) AS BIGINT) AS ef_bits,
       CAST(sum(CASE WHEN ef_bits < varint_bits THEN 1 ELSE 0 END)
            AS BIGINT) AS n_terms_ef_wins
FROM sized
"""


@register("q321_postinglist_sizing", _Q321_ORACLE)
def q321(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSTING-LIST compression sizing — the index-build decision every
    search engine makes per term: Elias-Fano (n·(2 + ⌈log₂(U/n)⌉)
    bits — the quasi-succinct encoding Lucene/Vigna use for long
    runs) versus delta-gap VARINT (⌈bitlen/7⌉ bytes per gap — wins on
    short, dense-gap lists).  Gap streams come from one lag window
    per term over the distinct (term, doc) postings; bit widths use
    the no-libm floor_log2.  The corpus-level census (total bits per
    scheme, how many terms each wins) is what the sizing decision
    reads.

    Scale: the posting build is the q60/q132 inverted-index shape
    (distinct + per-term window on the term key); the sizing is
    row-local integer math folded into one reduce."""
    from ..operators.text import normalize_text, tokens

    docs = load_table(spark, sf_dir, "documents")
    postings = (
        docs.select(
            "doc_id",
            F.explode(tokens(normalize_text("text"))).alias("tok"),
        )
        .distinct()
        .select("tok", F.col("doc_id").cast("long").alias("doc_id"))
    )
    w = Window.partitionBy("tok").orderBy("doc_id")
    gaps = postings.select(
        "tok",
        "doc_id",
        (F.col("doc_id") - F.lag("doc_id").over(w)).alias("gap"),
    )
    varint_expr = (
        "CASE WHEN gap IS NULL THEN"
        " 1 + (length(bin(doc_id + 1)) - 1) div 7"
        " ELSE 1 + (length(bin(gap)) - 1) div 7 END"
    )
    stats = gaps.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.max("doc_id") + 1).cast("long").alias("u"),
        F.sum(F.expr(varint_expr)).cast("long").alias("varint_bytes"),
    )
    sized = stats.selectExpr(
        "tok",
        "n",
        "8 * varint_bytes AS varint_bits",
        "2 * n + n * greatest(length(bin(greatest(u div n, 1))) - 1, 0)"
        " + n AS ef_bits",
    )
    return sized.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("n").cast("long").alias("n_postings"),
        F.sum("varint_bits").cast("long").alias("varint_bits"),
        F.sum("ef_bits").cast("long").alias("ef_bits"),
        F.sum((F.col("ef_bits") < F.col("varint_bits")).cast("long"))
        .cast("long")
        .alias("n_terms_ef_wins"),
    )


# ---------------------------------------------------------------------------
# q322 — sequence pattern detection (MATCH_RECOGNIZE-style V shape)
# ---------------------------------------------------------------------------

_Q322_ORACLE = """
WITH weekly AS (
  SELECT l_partkey AS part,
         date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
           // 7 AS wk,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1, 2
), avgp AS (
  SELECT part, wk, (2 * cents + n) // (2 * n) AS p
  FROM weekly
), laged AS (
  SELECT part, wk, p,
         lag(p, 1) OVER w AS p1, lag(p, 2) OVER w AS p2,
         lag(p, 3) OVER w AS p3, lag(p, 4) OVER w AS p4,
         lag(wk, 4) OVER w AS wk4
  FROM avgp WINDOW w AS (PARTITION BY part ORDER BY wk)
), hits AS (
  SELECT part, wk4 AS start_wk, wk AS end_wk,
         p4 AS p_start, p2 AS p_trough, p AS p_end
  FROM laged
  WHERE p4 > p3 AND p3 > p2 AND p2 < p1 AND p1 < p
)
SELECT part, start_wk, end_wk, p_start, p_trough, p_end
FROM hits
"""


@register("q322_pattern_vshape", _Q322_ORACLE)
def q322(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE PATTERN detection — SQL:2016 MATCH_RECOGNIZE's
    ``DOWN DOWN UP UP`` (the V-shape / dip-and-recovery every pricing
    and monitoring team scans for), which Spark lacks as a clause and
    this query re-expresses as fixed-length LAG algebra: a 5-point
    strictly-down-twice-then-strictly-up-twice run over each part's
    weekly average price (round-half-up integer cents).  Fixed-length
    patterns compile to lag windows exactly; variable-length
    quantifiers (A+ B+) are the gaps-and-islands forms q19/q202
    already cover — together they span MATCH_RECOGNIZE's practical
    surface.

    Scale: one (part, week) rollup, one 4-deep lag window on the
    high-cardinality part key; emitted hits carry the full pattern
    span for drill-down."""
    li = load_table(spark, sf_dir, "lineitem")
    weekly = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.expr(
            "datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01') div 7"
        ).alias("wk"),
    ).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("cents"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    avgp = weekly.select(
        "part", "wk", F.expr("(2 * cents + n) div (2 * n)").alias("p")
    )
    w = Window.partitionBy("part").orderBy("wk")
    laged = avgp.select(
        "part",
        "wk",
        "p",
        F.lag("p", 1).over(w).alias("p1"),
        F.lag("p", 2).over(w).alias("p2"),
        F.lag("p", 3).over(w).alias("p3"),
        F.lag("p", 4).over(w).alias("p4"),
        F.lag("wk", 4).over(w).alias("wk4"),
    )
    return laged.filter(
        (F.col("p4") > F.col("p3"))
        & (F.col("p3") > F.col("p2"))
        & (F.col("p2") < F.col("p1"))
        & (F.col("p1") < F.col("p"))
    ).select(
        "part",
        F.col("wk4").alias("start_wk"),
        F.col("wk").alias("end_wk"),
        F.col("p4").alias("p_start"),
        F.col("p2").alias("p_trough"),
        F.col("p").alias("p_end"),
    )


# ---------------------------------------------------------------------------
# q323 — greedy weighted set cover (source selection for coverage)
# ---------------------------------------------------------------------------

_Q323_ROUNDS = 5


def _q323_oracle() -> str:
    sql = """
WITH s0 AS MATERIALIZED (
  SELECT source,
         string_split(regexp_replace(trim(lower(text)), '\\s+', ' ',
                      'g'), ' ') AS l
  FROM documents
), pairs AS MATERIALIZED (
  SELECT DISTINCT source, l[i] || ' ' || l[i + 1] AS tok
  FROM s0, unnest(generate_series(1, len(l) - 1)) t(i)
), cov0 AS MATERIALIZED (
  SELECT CAST(NULL AS VARCHAR) AS tok WHERE FALSE
)"""
    for r in range(1, _Q323_ROUNDS + 1):
        sql += f""",
pick{r} AS MATERIALIZED (
  SELECT p.source, CAST(count(*) AS BIGINT) AS gain
  FROM pairs p
  WHERE p.tok NOT IN (SELECT tok FROM cov{r - 1} WHERE tok IS NOT NULL)
    AND p.source NOT IN ({", ".join(f"(SELECT source FROM pick{j} LIMIT 1)" for j in range(1, r)) or "''"})
  GROUP BY p.source ORDER BY gain DESC, p.source LIMIT 1
),
cov{r} AS MATERIALIZED (
  SELECT tok FROM cov{r - 1}
  UNION
  SELECT p.tok FROM pairs p JOIN pick{r} s ON s.source = p.source
)"""
    picks = " UNION ALL ".join(
        f"SELECT {r} AS rank, source, gain FROM pick{r}"
        for r in range(1, _Q323_ROUNDS + 1)
    )
    sql += f"""
SELECT CAST(rank AS BIGINT) AS rank, source,
       CAST(gain AS BIGINT) AS gain_tokens
FROM ({picks}) t
"""
    return sql


@register("q323_greedy_set_cover", _q323_oracle())
def q323(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GREEDY weighted SET COVER — the (1−1/e)-approximation behind
    data-acquisition planning (\"which {r} sources buy the most
    vocabulary coverage?\"), test-suite minimization, and sensor
    placement: each round picks the source covering the most
    NOT-YET-COVERED tokens (pinned (gain desc, source) tiebreak) and
    folds its tokens into the covered set.  Marginal gains are the
    whole point — a source ranked #1 by raw vocabulary can fall to
    #4 once its overlap with earlier picks is discounted (the
    submodularity the greedy exploits).

    Scale: per round, one anti-join of the (source, token) pairs
    against the covered set (token-keyed, co-partitioned) and one
    argmax; the covered set is vocabulary-bounded state,
    localCheckpointed per round (the q290 loop rule); the oracle
    unrolls rounds as MATERIALIZED layers."""
    from ..operators.text import normalize_text, tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(normalize_text("text"))
    pairs = (
        docs.select("source", toks.alias("l"))
        .filter(F.size("l") >= 2)
        .select(
            "source",
            F.explode(
                F.zip_with(
                    F.slice(F.col("l"), 1, F.size("l") - 1),
                    F.slice(F.col("l"), 2, F.size("l") - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("tok"),
        )
        .distinct()
        .transform(_pin)
    )
    spark_ = pairs.sparkSession
    covered = None
    chosen = []
    for r in range(1, _Q323_ROUNDS + 1):
        cand = pairs
        if chosen:
            cand = cand.filter(
                ~F.col("source").isin([s for s, _ in chosen])
            )
        if covered is not None:
            cand = cand.join(covered, "tok", "left_anti")
        top = (
            cand.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("gain"))
            .orderBy(F.desc("gain"), F.asc("source"))
            .limit(1)
            .collect()
        )
        if not top:  # full coverage reached — greedy stops early
            break
        best = top[0]
        chosen.append((best["source"], best["gain"]))
        new_cov = pairs.filter(
            F.col("source") == best["source"]
        ).select("tok")
        covered = (
            new_cov
            if covered is None
            else covered.unionByName(new_cov).distinct()
            # lazy: next round's argmax collect (a full anti-join scan
            # over this frame) is the materializing action — one job
            # per greedy round instead of two
        ).transform(_pin_lazy)
    return spark_.createDataFrame(
        [(r + 1, s, g) for r, (s, g) in enumerate(chosen)],
        "rank LONG, source STRING, gain_tokens LONG",
    )


q323.__doc__ = q323.__doc__.format(r=_Q323_ROUNDS)


# ---------------------------------------------------------------------------
# q324 — Poisson volume anomaly (squared z-test, no square roots)
# ---------------------------------------------------------------------------

_Q324_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), mu AS (
  SELECT event_type,
         CAST(sum(n) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS days
  FROM daily GROUP BY event_type
)
SELECT daily.event_type, d, n,
       CAST((total + days - 1) // days AS BIGINT) AS mu_ceil,
       CAST(CASE WHEN days * days * (days * n - total)
                      * (days * n - total)
                 > 4 * days * days * days * total
            THEN 1 ELSE 0 END AS BIGINT) AS anomalous
FROM daily JOIN mu ON mu.event_type = daily.event_type
WHERE days * days * (days * n - total) * (days * n - total)
      > 4 * days * days * days * total
"""


@register("q324_poisson_anomaly", _Q324_ORACLE)
def q324(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON volume anomaly — the pipeline-health alarm (\"today's
    record count is off\") under the right null for counts: a day is
    anomalous when |n − μ| > 2√μ (z = 2 — live but rare on the test
    corpus at every SF; z = 3 finds nothing at sf0.01, PLANS.md rule
    #11).  SQUARING the test kills the square
    root: with μ = total/days as an exact rational, the comparison
    (days·n − total)² · days² > 4 · days³ · total is pure int64
    algebra — no isqrt, no float, no tie hazard (strict inequality of
    integers).  Emitted: the offending (series, day) rows with the
    ceiling of μ for context.

    Scale: one (type, day) rollup, a broadcast per-series stats join,
    a row-local filter.  Overflow headroom: (days·n)² ≈ (30·n)² keeps
    int64 through n ≈ 10⁸ events/day per series."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    mu = daily.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("days"),
    )
    joined = daily.join(F.broadcast(mu), "event_type")
    dev = F.col("days") * F.col("n") - F.col("total")
    lhs = F.col("days") * F.col("days") * dev * dev
    rhs = (
        F.lit(4)
        * F.col("days")
        * F.col("days")
        * F.col("days")
        * F.col("total")
    )
    return joined.filter(lhs > rhs).select(
        "event_type",
        "d",
        "n",
        F.expr("CAST((total + days - 1) div days AS BIGINT)").alias(
            "mu_ceil"
        ),
        F.lit(1).cast("long").alias("anomalous"),
    )


# ---------------------------------------------------------------------------
# q325 — partition-size planner (coalesce advisor from row-byte model)
# ---------------------------------------------------------------------------

_Q325_TARGET_BYTES = 128 * 1024 * 1024

# per-table uncompressed row-byte model: fixed type widths + measured
# string lengths (the planner's estimate, not parquet's encoded size —
# documented; the ratio between tables is what drives the plan)
_Q325_TABLES = (
    ("orders", "8 + 8 + length(o_orderstatus) + 8 + 10"
               " + length(o_orderpriority)"),
    ("lineitem", "8 * 4 + 8 * 4 + length(l_returnflag)"
                 " + length(l_linestatus) + 10"),
    ("customer", "8 + length(c_name) + 8 + 8 + length(c_mktsegment)"),
    ("documents", "8 + length(text) + length(lang) + length(source) + 8"),
)


def _q325_oracle() -> str:
    arms = " UNION ALL ".join(
        f"SELECT '{t}' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,"
        f" CAST(sum({expr}) AS BIGINT) AS est_bytes FROM {t}"
        for t, expr in _Q325_TABLES
    )
    return f"""
WITH arms AS ({arms})
SELECT tbl, n_rows, est_bytes,
       CAST((est_bytes + n_rows - 1) // greatest(n_rows, 1) AS BIGINT)
         AS bytes_per_row,
       CAST(greatest(1, (est_bytes + {_Q325_TARGET_BYTES} - 1)
            // {_Q325_TARGET_BYTES}) AS BIGINT) AS target_partitions
FROM arms
"""


@register("q325_partition_planner", _q325_oracle())
def q325(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-SIZE planner — the coalesce/repartition advisor every
    lake-maintenance job runs before writing (the small-file problem's
    prevention side, complementing q120's compaction CURE): per table,
    an uncompressed row-byte model (fixed type widths + measured
    string lengths) yields estimated bytes, ceil-divided by the 128 MB
    target into the recommended partition count — never 0 (the
    greatest(1, ·) floor).  The model is the ESTIMATE a planner uses,
    not parquet's encoded size; what matters is the ratio across
    tables and its linear scaling with SF, both of which the exact
    integer arithmetic preserves.

    Scale: one sum per table (map-side combined); the advisor itself
    is |tables| rows of integer ceil-division."""
    out = None
    for t, expr in _Q325_TABLES:
        df = load_table(spark, sf_dir, t)
        arm = df.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.expr(expr)).cast("long").alias("est_bytes"),
        ).select(F.lit(t).alias("tbl"), "n_rows", "est_bytes")
        out = arm if out is None else out.unionByName(arm)
    return out.selectExpr(
        "tbl",
        "n_rows",
        "est_bytes",
        "CAST((est_bytes + n_rows - 1) div greatest(n_rows, 1)"
        " AS BIGINT) AS bytes_per_row",
        f"CAST(greatest(1, (est_bytes + {_Q325_TARGET_BYTES} - 1)"
        f" div {_Q325_TARGET_BYTES}) AS BIGINT) AS target_partitions",
    )


# ---------------------------------------------------------------------------
# q326 — Wilson lower-bound ranking ("how not to sort by average")
# ---------------------------------------------------------------------------

_Q326_TOPK = 15

_Q326_RANKED = (
    "SELECT part, n, s,"
    " CAST((2000000 * s + n) {div} (2 * n) AS BIGINT) AS rate_micro,"
    " CAST(greatest(CAST(0 AS BIGINT),"
    " (2000000 * (s + 2) + (n + 4)) {div} (2 * (n + 4))"
    " - (2 * " + _Q288_ISQRT.format(t=_Q288_T) + ") {div} (n + 4)"
    ") AS BIGINT) AS wilson_lo_micro"
    " FROM counts"
)

_Q326_COUNTS = """
  SELECT l_partkey AS part, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS s
  FROM lineitem GROUP BY l_partkey
"""


def _q326_oracle() -> str:
    return f"""
WITH counts AS ({_Q326_COUNTS}),
scored AS ({_Q326_RANKED.format(div="//")}),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY wilson_lo_micro DESC, part)
           AS rank
  FROM scored
)
SELECT CAST(rank AS BIGINT) AS rank, part, n, s, rate_micro,
       wilson_lo_micro
FROM ranked WHERE rank <= {_Q326_TOPK}
"""


@register("q326_wilson_ranking", _q326_oracle())
def q326(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WILSON LOWER-BOUND ranking — the \"how not to sort by average
    rating\" fix (Miller; Reddit's best-comment sort): ranking parts
    by not-returned rate rewards a part with 1/1 clean lineitem over
    one with 95/100, so the ranking key is the Wilson interval's
    LOWER bound (q288's machinery — exact isqrt, zero libm), which
    penalizes small samples exactly as much as the binomial evidence
    warrants.  Top-{k} with pinned (bound desc, part) tiebreak; the
    raw rate rides along so the ranking's corrections are visible.

    Scale: one map-side-combined per-part rollup; scoring is row-local
    integer algebra; the top-k is TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("l_returnflag") != "R").cast("long"))
        .cast("long")
        .alias("s"),
    )
    scored = counts.selectExpr(
        "part",
        "n",
        "s",
        "CAST((2000000 * s + n) div (2 * n) AS BIGINT) AS rate_micro",
        "CAST(greatest(CAST(0 AS BIGINT),"
        " (2000000 * (s + 2) + (n + 4)) div (2 * (n + 4))"
        " - (2 * " + _Q288_ISQRT.format(t=_Q288_T.format(div="div"))
        + ") div (n + 4)"
        ") AS BIGINT) AS wilson_lo_micro",
    )
    # orderBy().limit(k) IS TakeOrderedAndProject (per-partition
    # top-k, driver merge of k·P rows) — unlike a global row_number
    # window + filter, which would sort the whole parts frame in one
    # task; the rank window then runs on the k-row result only.
    top = scored.orderBy(
        F.desc("wilson_lo_micro"), F.asc("part")
    ).limit(_Q326_TOPK)
    w = Window.orderBy(F.desc("wilson_lo_micro"), F.asc("part"))
    return top.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).select("rank", "part", "n", "s", "rate_micro", "wilson_lo_micro")


q326.__doc__ = q326.__doc__.format(k=_Q326_TOPK)


# ---------------------------------------------------------------------------
# q327 — weighted median (cumulative-weight positional pick)
# ---------------------------------------------------------------------------

_Q327_ORACLE = """
WITH v AS (
  SELECT l_returnflag AS flag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price,
         CAST(l_quantity AS BIGINT) AS w,
         l_orderkey AS k, l_linenumber AS ln
  FROM lineitem
), cum AS (
  SELECT flag, price, w,
         CAST(sum(w) OVER (PARTITION BY flag
              ORDER BY price, k, ln
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cw,
         CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS tw
  FROM v
), picks AS (
  SELECT flag, CAST(min(price) AS BIGINT) AS weighted_median_price,
         CAST(max(tw) AS BIGINT) AS total_weight
  FROM cum WHERE 2 * cw >= tw GROUP BY flag
), plain AS (
  SELECT flag, CAST(min(price) AS BIGINT) AS plain_median_price
  FROM (
    SELECT flag, price,
           row_number() OVER (PARTITION BY flag ORDER BY price, k, ln)
             AS rk,
           CAST(count(*) OVER (PARTITION BY flag) AS BIGINT) AS n
    FROM v
  ) t WHERE rk = (n + 1) // 2 GROUP BY flag
)
SELECT picks.flag, total_weight, weighted_median_price,
       plain_median_price
FROM picks JOIN plain ON plain.flag = picks.flag
"""


@register("q327_weighted_median", _Q327_ORACLE)
def q327(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED MEDIAN — the quantity-weighted \"typical price\" a
    plain median gets wrong whenever weights correlate with values
    (each lineitem votes its quantity, not once): the first price
    whose CUMULATIVE weight crosses half the total, via one cumulative
    window over (price, orderkey, linenumber) order — the
    weight-generalization of the repo's positional-pick discipline
    (q269/q303), with the plain median alongside so the divergence is
    visible.  All integer: prices in cents, weights whole, the
    crossing test 2·cw ≥ tw avoids the halving division.

    Scale: the fact table pre-aggregates to (flag, price) — weights
    and row counts are additive, so both medians read the SAME
    grouped cumulative (a crossing within a price group always
    crosses at the group boundary too); the cumulative runs through
    ONE two-phase prefix-sum over (flag, price) order
    (operators/windows — |flags| is 3, far too few for a window
    partition over a lineitem-scale frame), with per-flag exclusive
    offsets from a broadcast |flags|-row frame."""
    from ..operators.windows import scalable_prefix_sums

    li = load_table(spark, sf_dir, "lineitem")
    g = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            F.round(F.col("l_extendedprice") * 100, 0)
            .cast("long")
            .alias("price"),
            F.col("l_quantity").cast("long").alias("w"),
        )
        .groupBy("flag", "price")
        .agg(
            F.sum("w").cast("long").alias("w"),
            F.count(F.lit(1)).cast("long").alias("cnt"),
        )
    )
    pre = scalable_prefix_sums(
        g, ("flag", "price"), {"cum_w": "w", "cum_cnt": "cnt"}
    ).transform(_pin_lazy)
    woff = Window.orderBy("flag").rowsBetween(
        Window.unboundedPreceding, -1
    )  # |flags| rows — metadata-sized cumulative
    # per-flag totals aggregate the PINNED prefix frame (it carries
    # the original w/cnt columns), not g — no second lineitem rollup
    offs = pre.groupBy("flag").agg(
        F.sum("w").cast("long").alias("tw"),
        F.sum("cnt").cast("long").alias("nr"),
    ).select(
        "flag",
        "tw",
        "nr",
        F.coalesce(F.sum("tw").over(woff), F.lit(0)).alias("_ow"),
        F.coalesce(F.sum("nr").over(woff), F.lit(0)).alias("_on"),
    )
    cum = pre.join(F.broadcast(offs), "flag").select(
        "flag",
        "price",
        (F.col("cum_w") - F.col("_ow")).cast("long").alias("cw"),
        (F.col("cum_cnt") - F.col("_on")).cast("long").alias("cr"),
        "tw",
        "nr",
    )
    # ONE conditional aggregate instead of two filtered aggregates
    # joined back on flag: min(when(cond, price)) ignores the NULLs
    # the old filters removed, tw is constant per flag, and both
    # crossing conditions are guaranteed to fire by the last row of
    # each flag (cw = tw, cr = nr), so the old inner join never
    # dropped a flag — identical rows, half the plan (the cum/offs/
    # pre subtree was re-inlined per join side, 16 Exchanges → 8,
    # and the 3-row SortMergeJoin disappears).
    return cum.groupBy("flag").agg(
        F.max("tw").cast("long").alias("total_weight"),
        F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("price")))
        .cast("long")
        .alias("weighted_median_price"),
        F.min(
            F.when(
                F.col("cr") >= F.expr("(nr + 1) div 2"), F.col("price")
            )
        )
        .cast("long")
        .alias("plain_median_price"),
    ).select(
        "flag",
        "total_weight",
        "weighted_median_price",
        "plain_median_price",
    )


# ---------------------------------------------------------------------------
# q328 — negative sequence pattern (view → purchase with NO error between)
# ---------------------------------------------------------------------------

_Q328_ORACLE = """
WITH p AS (
  SELECT user_id, event_id AS purchase_id, ts AS pts,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT p.user_id, p.purchase_id, p.pts, p.cents,
         max(e.ts) AS vts
  FROM p JOIN events e
    ON e.user_id = p.user_id AND e.event_type = 'view'
   AND e.ts < p.pts
  GROUP BY p.user_id, p.purchase_id, p.pts, p.cents
), flagged AS (
  SELECT v.user_id, v.purchase_id, v.cents,
         CAST(epoch_us(v.pts) - epoch_us(v.vts) AS BIGINT)
           // 1000000 AS secs_from_view,
         CAST(coalesce(sum(CASE WHEN e.event_type = 'error'
              THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_errors_between
  FROM v LEFT JOIN events e
    ON e.user_id = v.user_id AND e.event_type = 'error'
   AND e.ts > v.vts AND e.ts < v.pts
  GROUP BY v.user_id, v.purchase_id, v.cents, v.pts, v.vts
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_purchases_after_view,
       CAST(sum(CASE WHEN n_errors_between = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clean_paths,
       CAST(sum(CASE WHEN n_errors_between = 0 THEN cents ELSE 0 END)
            AS BIGINT) AS clean_cents,
       CAST(max(secs_from_view) AS BIGINT) AS max_secs_from_view
FROM flagged GROUP BY user_id
"""


@register("q328_negative_pattern", _Q328_ORACLE)
def q328(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEGATIVE sequence pattern — the ABSENCE constraint
    (view → purchase with NO error in between) that positive funnels
    (q72/q264) and positive patterns (q322) cannot express, and the
    pattern class MATCH_RECOGNIZE handles with ``NOT``-rows: per
    purchase, anchor the latest preceding view (as-of), then count
    interfering errors INSIDE the open interval — zero means a clean
    path.  The per-user rollup (clean paths, clean revenue, longest
    view-to-purchase span) is the friction readout UX teams ask for.

    The one-stream formulation: both the as-of anchor and the
    interval count ride user-keyed joins against the SAME events
    relation — co-partitioned, no window over mixed types needed
    (the q293 union trick solves strictly-before features; absence
    needs the interval's BOTH ends, hence the join form).

    Scale: two user-keyed joins (as-of via groupBy-max, interval via
    range predicate bounded per user-day density), one rollup."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"), F.col("ts").alias("vts0")
    )
    v = (
        p.join(views, (F.col("user_id") == F.col("vu")) & (F.col("vts0") < F.col("pts")))
        .groupBy("user_id", "purchase_id", "pts", "cents")
        .agg(F.max("vts0").alias("vts"))
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("eu"), F.col("ts").alias("ets")
    )
    flagged = (
        v.join(
            errors,
            (F.col("user_id") == F.col("eu"))
            & (F.col("ets") > F.col("vts"))
            & (F.col("ets") < F.col("pts")),
            "left",
        )
        .groupBy("user_id", "purchase_id", "cents", "pts", "vts")
        .agg(
            F.coalesce(
                F.sum(F.col("ets").isNotNull().cast("long")), F.lit(0)
            )
            .cast("long")
            .alias("n_errors_between")
        )
        .select(
            "user_id",
            "purchase_id",
            "cents",
            F.expr(
                "(unix_micros(pts) - unix_micros(vts)) div 1000000"
            ).alias("secs_from_view"),
            "n_errors_between",
        )
    )
    return flagged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases_after_view"),
        F.sum((F.col("n_errors_between") == 0).cast("long"))
        .cast("long")
        .alias("n_clean_paths"),
        F.sum(
            F.when(F.col("n_errors_between") == 0, F.col("cents")).otherwise(
                0
            )
        )
        .cast("long")
        .alias("clean_cents"),
        F.max("secs_from_view").cast("long").alias("max_secs_from_view"),
    )


# ---------------------------------------------------------------------------
# q329 — shipment consolidation savings (gaps-and-islands accounting)
# ---------------------------------------------------------------------------

_Q329_GAP_DAYS = 3

_Q329_ORACLE = f"""
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS od
  FROM orders
), marked AS (
  SELECT o_custkey, od,
         CASE WHEN date_diff('day',
               lag(od) OVER (PARTITION BY o_custkey ORDER BY od),
               od) <= {_Q329_GAP_DAYS} THEN 0 ELSE 1 END AS new_grp
  FROM o
), grp AS (
  SELECT o_custkey,
         CAST(sum(new_grp) OVER (PARTITION BY o_custkey ORDER BY od
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS g
  FROM marked
)
SELECT o_custkey AS custkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT g) AS BIGINT) AS n_shipments,
       CAST(count(*) - count(DISTINCT g) AS BIGINT) AS shipments_saved
FROM grp GROUP BY o_custkey
HAVING count(*) > count(DISTINCT g)
"""


@register("q329_shipment_consolidation", _Q329_ORACLE)
def q329(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHIPMENT CONSOLIDATION savings — the logistics what-if (\"how
    many shipments disappear if orders within {gap} days combine?\")
    that prices free-shipping thresholds and batching policies:
    per-customer order dates chain into islands wherever consecutive
    orders are ≤ {gap} days apart (ties at the same date share an
    island — LAG ≤ gap covers duplicates), and the savings is
    orders − islands.  The gaps-and-islands machinery of q19/q99
    pointed at an OPTIMIZATION question instead of a history
    reconstruction; only customers with savings emit (HAVING).

    Scale: one lag window + one cumulative window per customer (high-
    cardinality key), one rollup."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("od")
    )
    wl = Window.partitionBy("o_custkey").orderBy("od")
    marked = o.select(
        "o_custkey",
        "od",
        F.when(
            F.datediff(F.col("od"), F.lag("od").over(wl))
            <= _Q329_GAP_DAYS,
            0,
        )
        .otherwise(1)
        .alias("new_grp"),
    )
    wc = Window.partitionBy("o_custkey").orderBy("od").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    grp = marked.select(
        "o_custkey",
        F.sum("new_grp").over(wc).cast("long").alias("g"),
    )
    return (
        grp.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.countDistinct("g").cast("long").alias("n_shipments"),
            (F.count(F.lit(1)) - F.countDistinct("g"))
            .cast("long")
            .alias("shipments_saved"),
        )
        .filter(F.col("shipments_saved") > 0)
    )


q329.__doc__ = q329.__doc__.format(gap=_Q329_GAP_DAYS)


# ---------------------------------------------------------------------------
# q330 — ABC class migration matrix (year-over-year Pareto band moves)
# ---------------------------------------------------------------------------


def _q330_class_sql(yr: int) -> str:
    return f"""
  SELECT part, cls FROM (
    SELECT part,
           CASE WHEN 5 * cum <= 4 * tot THEN 'A'
                WHEN 100 * cum <= 95 * tot THEN 'B'
                ELSE 'C' END AS cls
    FROM (
      SELECT l_partkey AS part,
             sum(sum(CAST(round(l_extendedprice * 100) AS BIGINT)))
               OVER (ORDER BY
                     sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                       DESC, l_partkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(sum(CAST(round(l_extendedprice * 100) AS BIGINT)))
               OVER () AS tot
      FROM lineitem
      WHERE year(CAST(l_shipdate AS DATE)) = {yr}
      GROUP BY l_partkey
    ) c
  ) t
"""


_Q330_ORACLE = f"""
WITH c97 AS ({_q330_class_sql(1997)}
), c98 AS ({_q330_class_sql(1998)}
)
SELECT coalesce(c97.cls, '-') AS cls_1997,
       coalesce(c98.cls, '-') AS cls_1998,
       CAST(count(*) AS BIGINT) AS n_parts
FROM c97 FULL OUTER JOIN c98 ON c98.part = c97.part
GROUP BY 1, 2
"""


@register("q330_abc_migration", _Q330_ORACLE)
def q330(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC CLASS MIGRATION — the year-over-year transition matrix of
    Pareto bands (A = first 80% of cumulative revenue, B = to 95%,
    C = tail; '-' = absent that year): inventory planners read the
    A→C and C→A cells as the demand-shift signal that a single year's
    ABC snapshot (q259) cannot show.  Class cuts use integer
    cross-multiplication (5·cum ≤ 4·tot), the cumulative revenue
    window carries the pinned (revenue desc, part) order, and the
    FULL OUTER join surfaces births and discontinuations as the '-'
    row/column.

    Scale: two filtered per-part rollups; each year's cumulative
    revenue runs through the two-phase prefix-sum of
    operators/windows (parts are ~2·10⁸ keys at 100 TB — the q259
    argument), with the year total as a driver-stats literal instead
    of an all-rows window; the matrix is ≤ 16 cells."""
    from ..operators.windows import scalable_prefix_sums

    li = load_table(spark, sf_dir, "lineitem")

    def classed(yr: int, alias: str) -> DataFrame:
        rev = (
            li.filter(F.year(F.col("l_shipdate").cast("date")) == yr)
            .groupBy(F.col("l_partkey").alias("part"))
            .agg(
                F.sum(
                    F.round(F.col("l_extendedprice") * 100, 0).cast("long")
                )
                .cast("long")
                .alias("cents")
            )
        )
        # year total = the prefix kernel's driver-stats grand total
        # (totals) — exact for any sign (sum of the same
        # per-partition sums; the r9 max(cum) non-negativity
        # precondition is retired), and the aggregate + 1-row cross
        # join that previously read it are gone (the q259 pattern).
        cummed = scalable_prefix_sums(
            rev.withColumn("_neg_cents", -F.col("cents")),
            ("_neg_cents", "part"),
            {"cum": "cents"},
            totals={"cum": "tot"},
        ).select("part", F.col("cum").cast("long").alias("cum"), "tot")
        return cummed.select(
            "part",
            F.when(5 * F.col("cum") <= 4 * F.col("tot"), "A")
            .when(100 * F.col("cum") <= 95 * F.col("tot"), "B")
            .otherwise("C")
            .alias(alias),
        )

    c97 = classed(1997, "cls_1997").withColumnRenamed("part", "p97")
    c98 = classed(1998, "cls_1998").withColumnRenamed("part", "p98")
    return (
        c97.join(c98, F.col("p97") == F.col("p98"), "full_outer")
        .select(
            F.coalesce("cls_1997", F.lit("-")).alias("cls_1997"),
            F.coalesce("cls_1998", F.lit("-")).alias("cls_1998"),
        )
        .groupBy("cls_1997", "cls_1998")
        .agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
    )


# ---------------------------------------------------------------------------
# q331 — bilateral netting of inter-nation trade flows
# ---------------------------------------------------------------------------

_Q331_ORACLE = """
WITH flows AS (
  SELECT sn.n_name AS from_nation, cn.n_name AS to_nation,
         CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS cents
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation sn ON sn.n_nationkey = s.s_nationkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation cn ON cn.n_nationkey = c.c_nationkey
  WHERE sn.n_name < cn.n_name OR sn.n_name > cn.n_name
  GROUP BY 1, 2
), pairs AS (
  SELECT least(a.from_nation, a.to_nation) AS nation_a,
         greatest(a.from_nation, a.to_nation) AS nation_b,
         CAST(sum(CASE WHEN a.from_nation < a.to_nation
                  THEN a.cents ELSE 0 END) AS BIGINT) AS ab_cents,
         CAST(sum(CASE WHEN a.from_nation > a.to_nation
                  THEN a.cents ELSE 0 END) AS BIGINT) AS ba_cents
  FROM flows a GROUP BY 1, 2
)
SELECT nation_a, nation_b, ab_cents, ba_cents,
       CAST(ab_cents + ba_cents AS BIGINT) AS gross_cents,
       CAST(abs(ab_cents - ba_cents) AS BIGINT) AS net_cents,
       CAST(ab_cents + ba_cents - abs(ab_cents - ba_cents) AS BIGINT)
         AS netting_savings_cents
FROM pairs
"""


@register("q331_bilateral_netting", _Q331_ORACLE)
def q331(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BILATERAL NETTING — the clearing-house calculation that
    collapses opposing payment flows: for every nation pair, gross
    settlement (both directions summed) versus net (the absolute
    difference) and the liquidity the netting frees — the number
    payment-system design actually optimizes (CLS/CHIPS report
    exactly this ratio).  Flows aggregate supplier-nation →
    customer-nation revenue through the full five-table star chain;
    the pair canonicalizes by (least, greatest) so each relationship
    is ONE row with both directions as columns.

    Scale: one fact pass through four broadcast dims into a
    |nations|²-bounded rollup; the netting algebra is row-local
    integer arithmetic."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    flows = (
        li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("snk"),
                                 F.col("n_name").alias("from_nation"))),
            F.col("snk") == F.col("s_nationkey"),
        )
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("cnk"),
                                 F.col("n_name").alias("to_nation"))),
            F.col("cnk") == F.col("c_nationkey"),
        )
        .filter(F.col("from_nation") != F.col("to_nation"))
        .groupBy("from_nation", "to_nation")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    pairs = flows.groupBy(
        F.least("from_nation", "to_nation").alias("nation_a"),
        F.greatest("from_nation", "to_nation").alias("nation_b"),
    ).agg(
        F.sum(
            F.when(
                F.col("from_nation") < F.col("to_nation"), F.col("cents")
            ).otherwise(0)
        )
        .cast("long")
        .alias("ab_cents"),
        F.sum(
            F.when(
                F.col("from_nation") > F.col("to_nation"), F.col("cents")
            ).otherwise(0)
        )
        .cast("long")
        .alias("ba_cents"),
    )
    return pairs.select(
        "nation_a",
        "nation_b",
        "ab_cents",
        "ba_cents",
        (F.col("ab_cents") + F.col("ba_cents"))
        .cast("long")
        .alias("gross_cents"),
        F.abs(F.col("ab_cents") - F.col("ba_cents"))
        .cast("long")
        .alias("net_cents"),
        (
            F.col("ab_cents")
            + F.col("ba_cents")
            - F.abs(F.col("ab_cents") - F.col("ba_cents"))
        )
        .cast("long")
        .alias("netting_savings_cents"),
    )
