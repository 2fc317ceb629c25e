"""Round-12 wave — the serving/eval-tier shapes from the r11 growth
plan (PLANS.md round-11 note #8): token-bucket admission simulation,
quota-constrained knapsack data selection, pairwise-judge ELO replay,
group-relative (GRPO-style) advantage normalization, retrieval-
provenance attribution, and duplicate-cluster canonicalization audit.

Engine-parity rules carried from rounds 8-11: every ratio is an
integer cross-multiplied milli with shared half-away-from-zero
rounding; ordered recurrences fold over ENCODED scalar BIGINT
accumulators (DuckDB ``list_reduce`` corrupts struct accumulators —
PLANS.md r8 note #9a); derived keys use integer ``div`` (r11 ADVICE);
NULL-orderable tiebreaks pin ``asc_nulls_last``; pair scoring reuses
the micro-quantized engine-exact nano cosine (q337/q343).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .round11_queries import _milli_col, _milli_sql, _nano_pair_scores
from .testdata_queries import register
from ..pins import pin_lazy as _pin_lazy

# ---------------------------------------------------------------------------
# q344 — token-bucket admission simulation (q333's enforcing sibling)
# ---------------------------------------------------------------------------

# Bucket constants in MILLISECOND-credits (1 credit = 1 ms of refill,
# so refill needs NO division at all — the credit gain between two
# events IS the epoch-ms gap). Chosen against the measured per-user
# inter-arrival distribution (p10 ≈ 4.0e6 ms, median ≈ 26.5e6 ms,
# p90 ≈ 88.7e6 ms at every SF): capacity 6.0e7 ms ≈ 16.7 h of credit,
# per-event cost 1.5e7..4.5e7 ms — measured branch census: ~80 %
# admitted / ~20 % rejected / clamp fires on ~40 % of arrivals at
# sf0.001, sf0.01 AND sf0.1 (PLANS.md r8 rule #4: every branch fires).
_Q344_CAP_MS = 60_000_000
# encoded fold item: gap_ms * 64 + cost_code, cost_code = 15 + (e%7)*5
# in units of 1e6 ms; encoded accumulator: credit_ms * 1e6 + n_admitted
# (credit ≤ 6.0e7 → acc ≤ 6.0e13 < 2^53, exact even through a double).
_Q344_SLOT = 1_000_000

_Q344_FOLD = f"""(acc, d) ->
  CASE WHEN least({_Q344_CAP_MS}, acc // {_Q344_SLOT} + d // 64)
            >= (d % 64) * 1000000
       THEN (least({_Q344_CAP_MS}, acc // {_Q344_SLOT} + d // 64)
             - (d % 64) * 1000000) * {_Q344_SLOT} + acc % {_Q344_SLOT} + 1
       ELSE least({_Q344_CAP_MS}, acc // {_Q344_SLOT} + d // 64)
            * {_Q344_SLOT} + acc % {_Q344_SLOT}
  END"""

_Q344_ORACLE = f"""
WITH seq AS (
  SELECT user_id, list_sort(list((epoch_ms(ts), event_id))) AS ev
  FROM events GROUP BY user_id
), its AS (
  SELECT user_id, len(ev) AS n,
         list_transform(
           generate_series(1, len(ev)),
           i -> (CASE WHEN i = 1 THEN 0
                      ELSE ev[i][1] - ev[i-1][1] END) * 64
                + 15 + (ev[i][2] % 7) * 5) AS items
  FROM seq
), folded AS (
  SELECT user_id, n,
         list_reduce(
           [CAST({_Q344_CAP_MS * _Q344_SLOT} AS BIGINT)] || items,
           {_Q344_FOLD}) AS acc
  FROM its
)
SELECT user_id,
       CAST(n AS BIGINT) AS n_events,
       CAST(acc % {_Q344_SLOT} AS BIGINT) AS n_admitted,
       CAST(n - acc % {_Q344_SLOT} AS BIGINT) AS n_rejected,
       CAST({_milli_sql(f'acc % {_Q344_SLOT}', 'n')} AS BIGINT)
         AS admit_rate_milli,
       CAST(acc // {_Q344_SLOT} AS BIGINT) AS credit_ms
FROM folded
"""


@register("q344_token_bucket_admission", _Q344_ORACLE)
def q344(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUCKET ADMISSION simulation — the ENFORCING sibling of the
    q333 sliding-log rate-limit audit (and the two-sided-clamp cousin
    of q253's max(0,·) balance fold): replaying each user's event
    stream in (ts, event_id) order against a leaky bucket — credit ←
    min(CAP, credit + elapsed_ms), admit iff credit ≥ cost, admitted
    requests debit their cost — and reporting per-user admitted /
    rejected counts and the final credit. The clamp + conditional debit
    make every step depend on the previous (no prefix sum computes it),
    so the plan collects each user's arrivals into an ordered array and
    folds ROW-LOCALLY (Spark ``aggregate``, DuckDB ``list_reduce``),
    JVM-side, zero UDFs. Credits are integer MILLISECONDS (refill ≡
    epoch-ms gap — no division anywhere); the fold state is ONE encoded
    BIGINT (credit·10⁶ + admitted ≤ 6e13 < 2^53) because DuckDB's
    ``list_reduce`` corrupts struct accumulators (PLANS.md r8 #9a), and
    items are likewise encoded (gap_ms·64 + cost_code). Constants are
    census-picked so admit, reject AND clamp all fire at every SF.

    Scale: one groupBy to per-user arrays (the q253 contract — bounded
    events-per-entity; unbounded history runs the same fold per segment
    via applyInPandasWithState, the q83 machinery); everything after is
    row-local array algebra."""
    ev = load_table(spark, sf_dir, "events")
    seq = (
        ev.select(
            "user_id",
            F.struct(
                F.expr("unix_millis(ts)").alias("t"),
                F.col("event_id").alias("e"),
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list("s")).alias("ev"))
    )
    cap, slot = _Q344_CAP_MS, _Q344_SLOT
    its = seq.select(
        "user_id",
        F.size("ev").cast("long").alias("n"),
        F.transform(
            "ev",
            lambda s, i: (
                F.when(i == 0, F.lit(0).cast("long")).otherwise(
                    s["t"] - F.get(F.col("ev"), i - 1)["t"]
                )
                * 64
                + 15
                + (s["e"] % 7) * 5
            ),
        ).alias("items"),
    )

    def step(acc, d):
        # exact BIGINT floor-div: acc ≤ 6e13 < 2^53, so the subtract-
        # remainder form divides an exactly-representable multiple
        credit = ((acc - acc % slot) / slot).cast("long")
        adm = acc % slot
        gain = ((d - d % 64) / 64).cast("long")
        cost = (d % 64) * F.lit(1_000_000).cast("long")
        topped = F.least(F.lit(cap).cast("long"), credit + gain)
        return F.when(
            topped >= cost, (topped - cost) * slot + adm + 1
        ).otherwise(topped * slot + adm)

    folded = its.select(
        "user_id",
        "n",
        F.aggregate(
            "items", F.lit(cap * slot).cast("long"), step
        ).alias("acc"),
    )
    return folded.select(
        "user_id",
        F.col("n").alias("n_events"),
        (F.col("acc") % slot).cast("long").alias("n_admitted"),
        (F.col("n") - F.col("acc") % slot).cast("long").alias("n_rejected"),
        _milli_col(f"acc % {slot}", "n").alias("admit_rate_milli"),
        ((F.col("acc") - F.col("acc") % slot) / slot)
        .cast("long")
        .alias("credit_ms"),
    )


# ---------------------------------------------------------------------------
# q345 — quota-constrained knapsack data selection (two-phase greedy)
# ---------------------------------------------------------------------------

# per-source cap = 2/5 of the source's token mass; global budget = 1/4
# of the corpus token mass — cap < survivors' mass by construction
# (2/5 > 1/4), so BOTH cut branches fire at every SF (shares are
# scale-free; verified at sf0.001/0.01/0.1).
_Q345_CAP_NUM, _Q345_CAP_DEN = 2, 5
_Q345_BUD_DEN = 4

_Q345_DOCS = """
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
         CAST(len(list_filter(string_split(text, ' '),
                              t -> length(t) >= 4)) AS BIGINT) AS content
  FROM documents
"""

_Q345_ORACLE = f"""
WITH d AS ({_Q345_DOCS}
), scored AS (
  SELECT doc_id, source, tok,
         CAST({_milli_sql('1000 * content', 'tok')} AS BIGINT)
           AS density_micro
  FROM d
), st AS (
  SELECT source, CAST(sum(tok) AS BIGINT) AS stot FROM scored
  GROUP BY source
), p1 AS (
  SELECT s.*, st.stot,
         sum(s.tok) OVER (PARTITION BY s.source
                          ORDER BY s.density_micro DESC, s.doc_id
                          ROWS UNBOUNDED PRECEDING) AS scum
  FROM scored s JOIN st USING (source)
), surv AS (
  SELECT * FROM p1
  WHERE scum <= stot * {_Q345_CAP_NUM} // {_Q345_CAP_DEN}
), tot AS (
  SELECT CAST(sum(tok) AS BIGINT) AS gtot FROM scored
), p2 AS (
  SELECT surv.*,
         sum(tok) OVER (ORDER BY density_micro DESC, doc_id
                        ROWS UNBOUNDED PRECEDING) AS gcum
  FROM surv
), sel AS (
  SELECT p2.* FROM p2, tot WHERE gcum <= gtot // {_Q345_BUD_DEN}
), per_source AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(tok) AS BIGINT) AS tokens_total
  FROM scored GROUP BY source
), survc AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_after_cap
  FROM surv GROUP BY source
), selc AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_selected,
         CAST(sum(tok) AS BIGINT) AS tokens_selected
  FROM sel GROUP BY source
)
SELECT p.source, p.n_docs, p.tokens_total,
       CAST(coalesce(sv.n_after_cap, 0) AS BIGINT) AS n_after_cap,
       CAST(coalesce(sc.n_selected, 0) AS BIGINT) AS n_selected,
       CAST(coalesce(sc.tokens_selected, 0) AS BIGINT)
         AS tokens_selected,
       CAST({_milli_sql('coalesce(sc.tokens_selected, 0)',
                        'p.tokens_total')} AS BIGINT)
         AS selected_share_milli
FROM per_source p
LEFT JOIN survc sv USING (source)
LEFT JOIN selc sc USING (source)
"""


@register("q345_quota_knapsack_select", _Q345_ORACLE)
def q345(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUOTA-CONSTRAINED greedy knapsack data selection — the
    data-mixing step with BOTH a per-source quota and a global token
    budget (the two-constraint form every production mixture spec has:
    "no source may exceed its cap, and the total may not exceed the
    budget"). Greedy order is quality-per-token (content-token density,
    micro-quantized — distinct from q110's single-budget
    lexical-diversity fill): phase 1 applies each source's cap (2/5 of
    its token mass) as a PER-SOURCE prefix sum; phase 2 applies the
    global budget (1/4 of corpus mass) as a GLOBAL prefix sum over the
    phase-1 survivors. Both phases are pure prefix sums — no
    sequential scalar state — which is exactly what makes the
    two-constraint greedy distributable; the audit emits per-source
    totals, cap survivors, final selections and the selected share.

    Scale: the global prefix sum rides :func:`scalable_prefix_sums`
    (two-phase distributed scan — ``Window.orderBy`` with no partition
    is the single-task trap); the per-source prefix reuses the SAME
    range exchange (source leads the sort key), subtracting each
    source's broadcast starting offset instead of paying a second
    shuffle. Source/total masses are tiny aggregates joined via
    broadcast. Census: cap and budget cuts both fire at every SF
    (2/5 of mass survives phase 1 > 1/4 budget by construction)."""
    from ..catalog import spread_for_compute
    from ..operators.windows import scalable_prefix_sums

    docs = spread_for_compute(load_table(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    scored = docs.select(
        "doc_id",
        "source",
        F.size(toks).cast("long").alias("tok"),
        F.size(F.filter(toks, lambda t: F.length(t) >= 4))
        .cast("long")
        .alias("content"),
    ).select(
        "doc_id",
        "source",
        "tok",
        _milli_col("1000 * content", "tok").alias("density_micro"),
    )
    # ONE range exchange ordered (source, -density, doc_id) carries
    # both prefixes: the global running sum, minus the source's
    # starting offset, IS the per-source running sum
    c = scalable_prefix_sums(
        scored.withColumn("neg_density", -F.col("density_micro")),
        ("source", "neg_density", "doc_id"),
        {"cum_src_order": "tok"},
    )
    src = scored.groupBy("source").agg(
        F.sum("tok").cast("long").alias("stot"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    base = c.groupBy("source").agg(
        F.min(F.col("cum_src_order") - F.col("tok")).alias("src_base")
    )
    p1 = (
        c.join(F.broadcast(base), "source")
        .join(F.broadcast(src), "source")
        .withColumn("scum", F.col("cum_src_order") - F.col("src_base"))
    )
    # pin phase-1 survivors: the phase-2 kernel evaluates its input
    # TWICE (range-bounds sampling pass + the exchange itself), and
    # unpinned each pass re-ran the phase-1 window + both broadcast
    # joins; lazy — the sampling pass is the materializing action
    surv = p1.filter(
        F.col("scum")
        <= F.expr(f"stot * {_Q345_CAP_NUM} div {_Q345_CAP_DEN}")
    ).transform(_pin_lazy)
    p2 = scalable_prefix_sums(
        surv.select("doc_id", "source", "tok", "density_micro")
        .withColumn("neg_density", -F.col("density_micro")),
        ("neg_density", "doc_id"),
        {"gcum": "tok"},
    )
    total = scored.agg(F.sum("tok").cast("long").alias("gtot"))
    sel = p2.join(F.broadcast(total)).filter(
        F.col("gcum") <= F.expr(f"gtot div {_Q345_BUD_DEN}")
    )
    survc = surv.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_after_cap")
    )
    selc = sel.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_selected"),
        F.sum("tok").cast("long").alias("tokens_selected"),
    )
    return (
        src.join(survc, "source", "left")
        .join(selc, "source", "left")
        .select(
            "source",
            "n_docs",
            F.col("stot").alias("tokens_total"),
            F.coalesce("n_after_cap", F.lit(0))
            .cast("long")
            .alias("n_after_cap"),
            F.coalesce("n_selected", F.lit(0))
            .cast("long")
            .alias("n_selected"),
            F.coalesce("tokens_selected", F.lit(0))
            .cast("long")
            .alias("tokens_selected"),
            _milli_col("coalesce(tokens_selected, 0)", "stot").alias(
                "selected_share_milli"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q346 — pairwise-judge ELO sequence replay (batched rounds, unrolled)
# ---------------------------------------------------------------------------

# round(1000 / (1 + 10^(50k/400))) for bucket k = trunc((Rb−Ra)/50000),
# clamped to ±8 (±400 points) — the standard ELO expectation quantized
# to a PINNED milli table (the q198 hardcoded-law idiom: no libm in
# either engine's plan). Exactly complementary: E[−k] = 1000 − E[k],
# so the zero-sum update needs only the a-side delta.
_Q346_ETAB = (909, 882, 849, 808, 760, 703, 640, 571, 500,
              429, 360, 297, 240, 192, 151, 118, 91)
_Q346_K = 32
_Q346_R0 = 1_500_000  # 1500.000 rating in milli
_Q346_ROUNDS = 8
_Q346_EPOCH_DAY = 19723  # 2024-01-01, the corpus start date


def _q346_e_case(ra: str, rb: str) -> str:
    whens = "".join(
        f" WHEN {k - 8} THEN {e}" for k, e in enumerate(_Q346_ETAB)
    )
    return (
        f"(CASE least(8, greatest(-8, ({rb} - {ra}) // 50000))"
        f"{whens} END)"
    )


def _q346_grid_sql() -> str:
    return f"""
  SELECT least({_Q346_ROUNDS - 1}, greatest(0,
           (epoch_us(ts) // 86400000000 - {_Q346_EPOCH_DAY}) // 4))
           AS rnd,
         event_id % 8 AS a,
         (event_id % 8 + 1 + (event_id // 8) % 7) % 8 AS b,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN CAST(round(value * 100) AS BIGINT) % 2 = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS ss
  FROM events GROUP BY 1, 2, 3
"""


def _q346_oracle() -> str:
    # BIGINT ratings: VALUES would type 1500000 as INTEGER, and the
    # per-round delta sum scales linearly with matches-per-cell —
    # INT32 would overflow around sf1 (4.3e8 measured at sf0.1)
    players = ", ".join(
        f"({p}, CAST({_Q346_R0} AS BIGINT))" for p in range(8)
    )
    ctes = [
        # MATERIALIZED: each round CTE is referenced 3× by the next
        # — plain CTEs inline multiplicatively (3^8 copies of the
        # events scan blew the open-file limit), materialized ones
        # evaluate once
        f"grid AS MATERIALIZED ({_q346_grid_sql()})",
        f"r0 AS MATERIALIZED (SELECT * FROM (VALUES {players}) p(player, rating))",
    ]
    for i in range(1, _Q346_ROUNDS + 1):
        e = _q346_e_case("ra.rating", "rb.rating")
        ctes.append(f"""d{i} AS MATERIALIZED (
  SELECT g.a, g.b,
         {_Q346_K} * (g.ss * 1000 - g.n * {e}) AS da
  FROM grid g
  JOIN r{i - 1} ra ON ra.player = g.a
  JOIN r{i - 1} rb ON rb.player = g.b
  WHERE g.rnd = {i - 1}
)""")
        ctes.append(f"""r{i} AS MATERIALIZED (
  SELECT p.player,
         p.rating + coalesce(sa.s, 0) - coalesce(sb.s, 0) AS rating
  FROM r{i - 1} p
  LEFT JOIN (SELECT a, sum(da) AS s FROM d{i} GROUP BY a) sa
    ON sa.a = p.player
  LEFT JOIN (SELECT b, sum(da) AS s FROM d{i} GROUP BY b) sb
    ON sb.b = p.player
)""")
    return f"""
WITH {", ".join(ctes)},
mstats AS (
  SELECT player,
         CAST(sum(n) AS BIGINT) AS n_matches,
         CAST(sum(w) AS BIGINT) AS n_wins
  FROM (
    SELECT a AS player, n, ss AS w FROM grid
    UNION ALL
    SELECT b AS player, n, n - ss AS w FROM grid
  ) GROUP BY player
)
SELECT CAST(r.player AS BIGINT) AS player,
       CAST(r.rating AS BIGINT) AS rating_milli,
       m.n_matches, m.n_wins
FROM r{_Q346_ROUNDS} r JOIN mstats m USING (player)
"""


def _trunc_div(a: int, b: int) -> int:
    """Truncate-toward-zero integer division — Spark ``div`` / DuckDB
    BIGINT ``//`` semantics (python ``//`` FLOORS, which differs on
    negatives)."""
    q = abs(a) // b
    return q if a >= 0 else -q


@register("q346_elo_replay", _q346_oracle())
def q346(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAIRWISE-JUDGE ELO sequence replay — the rating system every
    LLM arena / judge-preference leaderboard runs, replayed in BATCHED
    ROUNDS (all matches in a round score against start-of-round
    ratings — the deterministic, order-free form a distributed replay
    needs; per-match sequential ELO is order-defined and unshardable).
    8 players (event_id % 8 vs a derived distinct opponent), outcome =
    cents parity, rounds = 4-day epoch buckets (census: all 8 rounds
    populated at every SF). Expected score is the PINNED milli table
    on trunc((Rb−Ra)/50000) clamped ±8 (hardcoded-law idiom, q198) —
    every update is exact BIGINT milli with K = 32, and the b-side
    delta is exactly −(a-side) because the table is complementary.

    Scale: ONE events scan folds to a ≤ 8·8·56-row (round, a, b) grid
    of match counts + win sums — map-side partial aggregation, the
    only data-size work. The 8-round replay then runs on that BOUNDED
    grid driver-side in exact python ints (the lm.py K-row merge-table
    precedent; the oracle replays the same rounds as 8 chained SQL
    CTEs) and the 8-row result ships back via createDataFrame."""
    ev = load_table(spark, sf_dir, "events")
    grid_df = (
        ev.select(
            F.least(
                F.lit(_Q346_ROUNDS - 1),
                F.greatest(
                    F.lit(0),
                    F.expr(
                        f"(unix_micros(ts) div 86400000000"
                        f" - {_Q346_EPOCH_DAY}) div 4"
                    ),
                ),
            ).alias("rnd"),
            (F.col("event_id") % 8).alias("a"),
            F.expr("(event_id % 8 + 1 + (event_id div 8) % 7) % 8").alias(
                "b"
            ),
            (F.round(F.col("value") * 100).cast("long") % 2 == 0)
            .cast("long")
            .alias("s"),
        )
        .groupBy("rnd", "a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("s").cast("long").alias("ss"),
        )
    )
    grid = [
        (int(r), int(a), int(b), int(n), int(ss))
        for r, a, b, n, ss in grid_df.collect()
    ]
    rat = [_Q346_R0] * 8
    for rnd in range(_Q346_ROUNDS):
        deltas = [0] * 8
        for r, a, b, n, ss in grid:
            if r != rnd:
                continue
            k = max(-8, min(8, _trunc_div(rat[b] - rat[a], 50_000)))
            e = _Q346_ETAB[k + 8]
            da = _Q346_K * (ss * 1000 - n * e)
            deltas[a] += da
            deltas[b] -= da
        rat = [rat[i] + deltas[i] for i in range(8)]
    matches = [0] * 8
    wins = [0] * 8
    for r, a, b, n, ss in grid:
        matches[a] += n
        wins[a] += ss
        matches[b] += n
        wins[b] += n - ss
    return spark.createDataFrame(
        [(p, rat[p], matches[p], wins[p]) for p in range(8)],
        "player long, rating_milli long, n_matches long, n_wins long",
    )


# ---------------------------------------------------------------------------
# q347 — group-relative advantage normalization (GRPO-style)
# ---------------------------------------------------------------------------

_Q347_ORACLE = f"""
WITH c AS (
  SELECT event_id // 8 AS prompt_id,
         event_id % 8 AS pos,
         CASE WHEN event_type IN ('purchase', 'click')
              THEN CAST(round(value * 100) AS BIGINT)
              ELSE 0 END AS r
  FROM events
), g AS (
  SELECT c.*,
         count(*) OVER w AS n,
         sum(r) OVER w AS s,
         sum(r * r) OVER w AS ss
  FROM c WINDOW w AS (PARTITION BY prompt_id)
), z AS (
  SELECT pos,
         n * ss - s * s AS var_num,
         CASE WHEN n * ss - s * s > 0
              THEN CAST(round((1000 * (n * r - s))
                              / sqrt(n * ss - s * s)) AS BIGINT)
              ELSE 0 END AS z_milli
  FROM g
)
SELECT CAST(pos AS BIGINT) AS pos,
       CAST(count(*) AS BIGINT) AS n_cands,
       CAST(sum(CASE WHEN var_num = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero_var,
       CAST(sum(z_milli) AS BIGINT) AS sum_z_milli,
       CAST(min(z_milli) AS BIGINT) AS min_z_milli,
       CAST(max(z_milli) AS BIGINT) AS max_z_milli
FROM z GROUP BY pos
"""


@register("q347_grpo_advantage", _Q347_ORACLE)
def q347(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-RELATIVE advantage normalization — the GRPO reward
    transform (Shao et al. 2024: advantage = (r − mean)/std within
    each prompt's candidate group, no value network): rewards are
    cents gated to converting events (zero otherwise — the gate is
    what makes the all-zero degenerate group REAL: census 20/1250
    groups at sf0.01), groups are the q335 candidate grid
    (prompt = event_id div 8). The z-score is engine-exact: with
    integer rewards, z = (n·r − S)/√(n·ΣR² − S²) has an integer
    numerator (×1000 still ≤ ~5e8, exactly representable) and an
    integer radicand ≤ ~2e11 < 2^53, so both engines evaluate ONE
    exact multiply, ONE correctly-rounded sqrt, ONE correctly-rounded
    divide on identical inputs — bit-identical before the half-away
    round. Zero-variance groups emit advantage 0 (the PPO/GRPO
    convention) through an explicit CASE, not a NaN.

    Scale: one shuffle on the maximal-cardinality prompt key for the
    group moments (window over a high-card key — each group is 8
    rows), then an 8-group rollup; map-side partials everywhere, no
    joins, corpus never collected."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        F.expr("event_id div 8").alias("prompt_id"),
        (F.col("event_id") % 8).alias("pos"),
        F.when(
            F.col("event_type").isin("purchase", "click"),
            F.round(F.col("value") * 100).cast("long"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("r"),
    )
    w = Window.partitionBy("prompt_id")
    g = c.select(
        "pos",
        "r",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("r").over(w).cast("long").alias("s"),
        F.sum(F.col("r") * F.col("r")).over(w).cast("long").alias("ss"),
    )
    var_num = F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    z = g.select(
        "pos",
        var_num.alias("var_num"),
        F.when(
            var_num > 0,
            F.round(
                ((F.col("n") * F.col("r") - F.col("s")) * 1000).cast(
                    "double"
                )
                / F.sqrt(var_num.cast("double"))
            ).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("z_milli"),
    )
    return z.groupBy(F.col("pos").cast("long").alias("pos")).agg(
        F.count(F.lit(1)).cast("long").alias("n_cands"),
        F.sum((F.col("var_num") == 0).cast("long"))
        .cast("long")
        .alias("n_zero_var"),
        F.sum("z_milli").cast("long").alias("sum_z_milli"),
        F.min("z_milli").cast("long").alias("min_z_milli"),
        F.max("z_milli").cast("long").alias("max_z_milli"),
    )


# ---------------------------------------------------------------------------
# q348 — retrieval-provenance attribution (q343's pair frame, by provider)
# ---------------------------------------------------------------------------

_Q348_TAU_NANO = 150_000_000  # same hit threshold as q343


def _q348_oracle() -> str:
    from .round11_queries import _Q337_COS_NANO

    return f"""
WITH v AS (
  SELECT vec_id, label,
         list_transform(embedding::DOUBLE[],
                        x -> round(x * 1000000)) AS e
  FROM embeddings
), hits AS (
  SELECT a.label, a.vec_id AS q, b.vec_id AS provider
  FROM v a JOIN v b
    ON a.label = b.label AND b.vec_id < a.vec_id
  WHERE {_Q337_COS_NANO.format(a="a.e", b="b.e")} >= {_Q348_TAU_NANO}
), attr AS (
  SELECT label, q, min(provider) AS prov
  FROM hits GROUP BY label, q
), per_prov AS (
  SELECT label, prov, CAST(count(*) AS BIGINT) AS c
  FROM attr GROUP BY label, prov
), ranked AS (
  SELECT label, prov, c,
         row_number() OVER (PARTITION BY label
                            ORDER BY c DESC, prov) AS rk,
         CAST(sum(c) OVER (PARTITION BY label) AS BIGINT) AS n_hits,
         CAST(count(*) OVER (PARTITION BY label) AS BIGINT)
           AS n_active_providers
  FROM per_prov
)
SELECT label, n_hits, n_active_providers,
       CAST(prov AS BIGINT) AS top_provider,
       c AS top_hits,
       CAST({_milli_sql('c', 'n_hits')} AS BIGINT) AS top_share_milli
FROM ranked WHERE rk = 1
"""


@register("q348_provenance_attribution", _q348_oracle())
def q348(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRIEVAL-PROVENANCE attribution — q343's semantic-cache pair
    frame turned into a WHO-SERVED ledger: each cache hit is
    attributed to its EARLIEST qualifying provider (first-fit in
    arrival order — the entry an LRU-less cache would actually have
    held), and per ANN bucket the audit reports total attributed
    hits, active providers, and the dominant provider with its share —
    the concentration a cache-eviction policy reads (one hot entry vs
    a flat spread). Attribution is deterministic: min(vec_id) over
    qualifying providers; hit decisions are the engine-exact nano
    cosine over micro-quantized vectors (the q337/q343 technique, 2^53
    precondition pinned by test).

    Scale: the quadratic is confined to the ANN cell (q114/q337
    contract) and runs as ONE Arrow-batched numpy matmul per cell
    emitting ONE summary row — the pair frame never materializes, the
    corpus never re-shuffles, and per-provider counting is a bincount
    inside the kernel. Labels without hits emit nothing (the oracle's
    inner-join semantics); NULL-label rows can never hit and are
    filtered before the kernel."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    tau = _Q348_TAU_NANO

    def cell_attr(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                columns=["label", "n_hits", "n_active_providers",
                         "top_provider", "top_hits"]
            ).astype(
                {"label": "int32", "n_hits": "int64",
                 "n_active_providers": "int64", "top_provider": "int64",
                 "top_hits": "int64"}
            )
        lab = int(pdf["label"].iloc[0])
        vec_ids = np.sort(pdf["vec_id"].to_numpy())
        order = np.argsort(pdf["vec_id"].to_numpy())
        M = np.stack(pdf["e"].to_numpy()[order]).astype(
            np.float64, copy=False
        )
        nano = _nano_pair_scores(M)
        hit = np.tril(nano >= tau, k=-1)
        has = hit.any(axis=1)
        if not has.any():
            return pd.DataFrame(
                columns=["label", "n_hits", "n_active_providers",
                         "top_provider", "top_hits"]
            ).astype(
                {"label": "int32", "n_hits": "int64",
                 "n_active_providers": "int64", "top_provider": "int64",
                 "top_hits": "int64"}
            )
        # argmax over bool = FIRST qualifying column = earliest
        # arrival (columns are vec_id-ascending)
        first = np.argmax(hit[has], axis=1)
        counts = np.bincount(first, minlength=n)
        top_idx = int(np.argmax(counts))  # first max = min vec_id tie
        return pd.DataFrame(
            {
                "label": [lab],
                "n_hits": [int(has.sum())],
                "n_active_providers": [int((counts > 0).sum())],
                "top_provider": [int(vec_ids[top_idx])],
                "top_hits": [int(counts[top_idx])],
            }
        )

    stats = (
        emb.filter(F.col("label").isNotNull())
        .groupBy("label")
        .applyInPandas(
            cell_attr,
            "label int, n_hits long, n_active_providers long,"
            " top_provider long, top_hits long",
        )
    )
    return stats.select(
        "label",
        "n_hits",
        "n_active_providers",
        "top_provider",
        "top_hits",
        _milli_col("top_hits", "n_hits").alias("top_share_milli"),
    )


# ---------------------------------------------------------------------------
# q349 — duplicate-cluster canonicalization audit (keep-rule divergence)
# ---------------------------------------------------------------------------


def _q349_oracle() -> str:
    from .corpus_queries import _jaccard_pairs_sql

    return f"""
WITH RECURSIVE jp AS ({_jaccard_pairs_sql(0.3)}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM jp
  UNION
  SELECT doc_b AS a, doc_a AS b FROM jp
), reach AS (
  SELECT a AS id, a AS r FROM edges
  UNION
  SELECT e.a AS id, r.r AS r FROM edges e JOIN reach r ON e.b = r.id
), comp AS (
  SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
), labeled AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
         d.n_chars
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
), pc AS (
  SELECT cluster_id,
         CAST(count(*) AS BIGINT) AS cluster_size,
         min((doc_id, n_chars)) AS f,
         min((-n_chars, doc_id)) AS k
  FROM labeled GROUP BY cluster_id HAVING count(*) >= 2
)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       cluster_size,
       CAST(f[1] AS BIGINT) AS first_doc,
       CAST(k[2] AS BIGINT) AS keep_doc,
       k[2] <> f[1] AS divergent,
       CAST(f[2] AS BIGINT) AS first_chars,
       CAST(-k[1] AS BIGINT) AS keep_chars,
       CAST({_milli_sql('-k[1] - f[2]', 'f[2]')} AS BIGINT)
         AS char_gain_milli
FROM pc
"""


@register("q349_canonical_keep_audit", _q349_oracle())
def q349(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUPLICATE-CLUSTER CANONICALIZATION audit — which document a
    dedup pipeline actually KEEPS matters as much as what it drops,
    and the two common keep rules disagree: "first by id" (stable,
    ingestion-order) vs "longest text" (q93/q96's quality rule). This
    audit reruns the q93 cluster formation (n-gram Jaccard pairs →
    connected components) and, per multi-document cluster, emits both
    rules' picks, whether they DIVERGE, and the character mass the
    quality rule gains — the exact table a migration between keep
    rules reviews before rewriting a corpus. Census: divergence fires
    at every SF (e.g. 3/6 clusters at sf0.01, 5/8 at sf0.001).

    Scale: pair generation is the q93 operator (blocked + max_df-
    capped, never a corpus self-join); components are the thresholded
    union-find finish (operators/graph); both argmins ride ONE
    per-cluster aggregate via lexicographic struct-min — min(doc_id,
    n_chars) and min(−n_chars, doc_id) — no per-cluster window, no
    second shuffle.  The HAVING ≥ 2 makes the oracle's full-corpus
    left join dead weight in the plan: a document outside the
    component frame forms a singleton group (cluster_id = its own
    doc_id, which can never collide with a component label — labels
    are minima OVER component members, all of which are in comp), so
    every surviving group consists exactly of one component's
    members.  The Spark plan therefore INNER-joins the comp frame
    (sparse — only docs appearing in a verified pair) to the corpus
    for n_chars and aggregates the comp-sized result: the corpus
    never crosses an exchange (comp broadcasts), where the literal
    transcription shuffled every document through the groupBy.  Both
    engines compare structs lexicographically, and doc_id uniqueness
    makes every pick deterministic."""
    from ..operators.dedup import ngram_jaccard_pairs
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, block_cols=("lang",), k=3, threshold=0.3, max_df=1000
    )
    comp = connected_components(pairs, "doc_a", "doc_b").select(
        F.col("id").alias("doc_id"), "cluster_id"
    )
    # count-gated broadcast hint (the corpus_queries._resolve_keep
    # posture): the RDD-backed comp frame has no stats, so the planner
    # would otherwise pick the corpus as the build side (or shuffle it)
    if comp.count() <= 5_000_000:
        comp = F.broadcast(comp)
    labeled = docs.select("doc_id", "n_chars").join(comp, "doc_id")
    pc = (
        labeled.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cluster_size"),
            F.min(
                F.struct(
                    F.col("doc_id").alias("d"), F.col("n_chars").alias("c")
                )
            ).alias("f"),
            F.min(
                F.struct(
                    (-F.col("n_chars")).alias("nc"),
                    F.col("doc_id").alias("d"),
                )
            ).alias("k"),
        )
        .filter(F.col("cluster_size") >= 2)
    )
    return pc.select(
        F.col("cluster_id").cast("long").alias("cluster_id"),
        "cluster_size",
        F.col("f.d").cast("long").alias("first_doc"),
        F.col("k.d").cast("long").alias("keep_doc"),
        (F.col("k.d") != F.col("f.d")).alias("divergent"),
        F.col("f.c").cast("long").alias("first_chars"),
        (-F.col("k.nc")).cast("long").alias("keep_chars"),
        _milli_col("-k.nc - f.c", "f.c").alias("char_gain_milli"),
    )
