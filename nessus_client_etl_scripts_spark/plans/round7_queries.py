"""Round-7 wave — q201…q213: the two verdict-requested text-dedup /
tokenizer operators, the bucketed (scale-true) bitext miner, and a
tier of corpus/feature-store audits.

- q201 full BPE vocabulary trainer — K select→merge iterations of
  q142's single-step kernel (the q39 Lloyd-unroll pattern), emitting
  the merge table a tokenizer ships; oracle = the same chain unrolled
  as CTEs.
- q202 variable-length longest-duplicate-substring detection (the
  suffix-window ExactSubstr shape, Lee et al. 2022) — anchor-and-chain
  over overlapping shingle hashes; q97/q111 only handle fixed
  segments.
- q203 bucketed margin bitext mining — q177's kernel run PER LSH
  BUCKET via a cogrouped applyInPandas: no driver collect at all, one
  bucket-key shuffle per side. This is the declared form of the
  100 TB posture q177's docstring promises (and the fix for the r6
  verdict's only scale anti-pattern family).
- q204 Zipf rank-frequency slope audit — integer-exact least squares
  over (floor_log2 rank, floor_log2 freq); the vocabulary sanity
  check before trusting token statistics.
- q205 n-gram-level train/test contamination — q51's doc-level check
  sharpened to 8-gram granularity: the fraction of each held-out
  document's windows that leak from the training split.
- q206 BPE encode — the q201 merge table applied as ONE nested
  row-local projection (the tokenize-100-TB shape).
- q207 robust outlier gate — exact per-group median + MAD via
  range-exchange positions (operators/windows.group_median).
- q208 source-pair contamination matrix — exact 8-gram window-set
  overlap between every pair of corpus sources (q138's HLL overlap,
  exact form).
- q209 winnowing fingerprints (Schleimer et al. 2003 / MOSS) — the
  guaranteed-detection document sketch q33's fixed stride lacks.
- q210 int8 embedding-quantization audit — per-dimension scale and
  reconstruction error, the storage decision for an embedding lake.
- q211 hashed linear quality classifier (fastText shape) — salted-md5
  feature hashing + literal weight vector, integer-exact gate.
- q212 synchronous label propagation (Raghavan et al. 2007) —
  community detection on the q135 co-interaction graph, rounds
  unrolled in both engines.
- q213 video shot-boundary detection over the real y4m decode path —
  per-frame integer luma sums (multimodal.frame_luma_sums), lag-diff
  threshold, gaps-and-islands shots.

Float portability per PLANS.md: q201/q202/q205/q206/q208/q209 are
integer/string algebra end to end (ratios pinned with the integer
round-half-up rule); q203 follows q177's quantize→exact-integer-dot→
fixed-IEEE-chain proof; q204's slope is a single IEEE division of two
exact BIGINTs; q207/q210 emit doubles only from op chains written
identically in both engines (midpoint (a+b)/2, floor-pinned ties).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, spread_for_compute
from ..operators.dedup import aligned_duplicate_runs
from ..operators.lm import bpe_train
from ..operators.similarity import hyperplane_sketch, _hyperplanes, round_half_away
from ..operators.text import normalize_text, tokens
from .corpus_queries import _NORM_SQL
from .round6d_queries import _Q177_K, _Q177_SCALE
from .testdata_queries import register
from ..pins import pin as _pin, pin_lazy as _pin_lazy

# ---------------------------------------------------------------------------
# q201 — full BPE vocabulary trainer (K merge rounds)
# ---------------------------------------------------------------------------

_Q201_MERGES = 5

# q201, q206 and q217 all train the SAME deterministic tokenizer
# ((count DESC, pair ASC) winner per round) on the SAME corpus, so
# their values agree — but each declared query TRAINS ITS OWN table
# inside its own call: a round-12 audit ruled the former module-level
# memo (warm-started by the bench's untimed warmup pass) result
# caching, which the brief forbids. Every bench/oracle invocation now
# pays the K aggregation rounds itself; only the merge strings (K
# driver-side rows, bounded small state) leave the cluster.
_BPE_TABLE_SCHEMA = (
    "merge_rank long, merged_pair string, pair_count long,"
    " n_merges long, n_tokens_after long"
)


def shared_bpe_merge_rows(
    spark: SparkSession, sf_dir: str, n_merges: int = _Q201_MERGES
) -> list[dict]:
    """The q201 merge table for (sf_dir, n_merges), trained per call
    (no cross-query caching); rows ordered by merge_rank."""
    docs = load_table(spark, sf_dir, "documents")
    return [
        r.asDict()
        for r in bpe_train(docs, n_merges=n_merges)
        .orderBy("merge_rank")
        .collect()
    ]


def shared_bpe_merges(
    spark: SparkSession, sf_dir: str, n_merges: int = _Q201_MERGES
) -> list[str]:
    """Just the merged_pair strings, rank order (the encode input)."""
    return [
        r["merged_pair"]
        for r in shared_bpe_merge_rows(spark, sf_dir, n_merges)
    ]


def _q201_state_chain(
    k: int, where: str = "", source: str = "documents"
) -> list[str]:
    """Shared CTE chain for q201/q206/q215: s0 is the normalized corpus
    (optionally filtered to a training split via ``where``, optionally
    a derived-table ``source`` exposing (doc_id, text)) and each round
    r derives its bigram top-1 (t{r}) and merged state (s{r}) from
    s{r-1} with EXACTLY the doubled-separator replace used by the
    engine (q142's oracle, iterated)."""
    parts = [
        f"s0 AS (SELECT doc_id, {_NORM_SQL} AS s FROM {source}{where})",
        "n0 AS (SELECT CAST(sum(len(string_split(s, ' '))) AS BIGINT)"
        " AS t FROM s0)",
    ]
    for r in range(1, k + 1):
        p = r - 1
        parts.append(
            f"""bg{r} AS (
  SELECT unnest(list_transform(generate_series(1, len(l) - 1),
                               i -> l[i] || ' ' || l[i + 1])) AS bigram
  FROM (SELECT string_split(s, ' ') AS l FROM s{p}) WHERE len(l) >= 2
)"""
        )
        parts.append(
            f"""t{r} AS (
  SELECT bigram, CAST(count(*) AS BIGINT) AS c FROM bg{r}
  GROUP BY 1 ORDER BY c DESC, bigram ASC LIMIT 1
)"""
        )
        parts.append(
            f"""s{r} AS (
  SELECT doc_id,
         trim(replace(replace(' ' || replace(s, ' ', '  ') || ' ',
              ' ' || replace((SELECT bigram FROM t{r}), ' ', '  ') || ' ',
              ' ' || replace((SELECT bigram FROM t{r}), ' ', '~') || ' '),
              '  ', ' ')) AS s
  FROM s{p}
)"""
        )
        parts.append(
            f"n{r} AS (SELECT CAST(sum(len(string_split(s, ' ')))"
            f" AS BIGINT) AS t FROM s{r})"
        )
    return parts


def _q201_oracle(k: int = _Q201_MERGES) -> str:
    parts = _q201_state_chain(k)
    sel = [
        f"""SELECT CAST({r} AS BIGINT) AS merge_rank,
       (SELECT bigram FROM t{r}) AS merged_pair,
       (SELECT c FROM t{r}) AS pair_count,
       (SELECT t FROM n{r - 1}) - (SELECT t FROM n{r}) AS n_merges,
       (SELECT t FROM n{r}) AS n_tokens_after"""
        for r in range(1, k + 1)
    ]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(sel)


@register("q201_bpe_train", _q201_oracle())
def q201(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training end to end (operators/lm.bpe_train):
    {K} select→merge rounds over the normalized corpus, each round ONE
    map-side-combined bigram count (TakeOrdered(1) winner — driver
    state is a single pair per round, the q39 unroll pattern) plus ONE
    row-local greedy merge rewrite (q142's doubled-separator replace —
    no sequential fold, no UDF). Emits the merge table: rank, pair,
    frequency at selection, merges applied, corpus tokens remaining.
    Per-round localCheckpoint keeps round r's plan from replaying
    rounds 1..r-1 off parquet. At 100 TB the per-round cost is one
    aggregation + one projection over the corpus — the honest
    distributed cost of BPE training (cf. Sennrich et al. 2016;
    reference analogue: SURVEY.md §2 text tier, upgrading q35's
    fixed-vocab estimate to a trained vocabulary). Training runs
    inside this call — the timed path pays the K rounds itself;
    q206/q217 train their own identical table the same way (no
    cross-query result caching)."""
    rows = shared_bpe_merge_rows(spark, sf_dir)
    return spark.createDataFrame(
        [tuple(r.values()) for r in rows], _BPE_TABLE_SCHEMA
    )


# ---------------------------------------------------------------------------
# q202 — variable-length longest duplicate substring (ExactSubstr shape)
# ---------------------------------------------------------------------------

_Q202_W = 8
_Q202_MAXFREQ = 64

_Q202_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
), p AS (
  SELECT doc_id, CAST(u.i AS INTEGER) AS pos,
         md5(array_to_string(list_slice(l, u.i, u.i + {_Q202_W - 1}), ' '))
           AS h
  FROM t CROSS JOIN LATERAL
       unnest(generate_series(1, len(l) - {_Q202_W - 1})) AS u(i)
  WHERE len(l) >= {_Q202_W}
), ok AS (
  SELECT h FROM p GROUP BY h
  HAVING count(*) BETWEEN 2 AND {_Q202_MAXFREQ}
), d AS (
  SELECT p.* FROM p JOIN ok USING (h)
), pr AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         b.pos - a.pos AS delta, a.pos AS pos_a
  FROM d a JOIN d b ON a.h = b.h
  WHERE a.doc_id < b.doc_id
     OR (a.doc_id = b.doc_id AND a.pos < b.pos)
), isl AS (
  SELECT doc_a, doc_b, delta, pos_a,
         pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, delta
                                    ORDER BY pos_a) AS grp
  FROM pr
), runs AS (
  SELECT doc_a, doc_b, count(*) AS run
  FROM isl GROUP BY doc_a, doc_b, delta, grp
)
SELECT doc_a, doc_b,
       CAST(max(run) + {_Q202_W - 1} AS BIGINT) AS max_dup_tokens,
       CAST(count(*) AS BIGINT) AS n_runs,
       CAST(sum(run) AS BIGINT) AS n_anchors
FROM runs GROUP BY doc_a, doc_b
"""


@register("q202_longest_dup_substring", _Q202_ORACLE)
def q202(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest exactly-repeated token span per document pair, ANY
    length ≥ {W} (operators/dedup.aligned_duplicate_runs) — the
    variable-length ExactSubstr pass (Lee et al. 2022) that q97/q111's
    fixed segments approximate. Anchors are overlapping {W}-token
    shingle-hash matches (frequency-capped so no boilerplate shingle
    goes quadratic); chaining is gaps-and-islands per (pair,
    alignment-offset) group. Shuffles carry 16-B hashes + ints, never
    text; the islands window partitions on pair-alignment keys bounded
    by document length. Differentially tested against a brute
    substring oracle at sf0.001 (tests/test_round7_operators.py)."""
    docs = spread_for_compute(load_table(spark, sf_dir, "documents"))
    return aligned_duplicate_runs(
        docs, w=_Q202_W, max_freq=_Q202_MAXFREQ
    )


# ---------------------------------------------------------------------------
# q203 — bucketed margin bitext mining (q177 per LSH bucket, no collect)
# ---------------------------------------------------------------------------

_Q203_BITS = 3


def _q203_bucket_sql(col: str) -> str:
    return "\n       + ".join(
        f"(CASE WHEN list_dot_product({col}, "
        f"[{', '.join(repr(x) for x in plane)}]) "
        f">= 0 THEN {1 << j} ELSE 0 END)"
        for j, plane in enumerate(_hyperplanes(_Q203_BITS, 64))
    )


def _q203_oracle() -> str:
    return f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> floor(x * {_Q177_SCALE!r})) AS v,
         embedding::DOUBLE[] AS vr
  FROM embeddings
), n AS (
  SELECT vec_id, v, list_dot_product(v, v) AS nv,
         {_q203_bucket_sql("vr")} AS bucket
  FROM e
), a AS (
  SELECT vec_id AS a_id, v AS av, nv AS na, bucket
  FROM n WHERE vec_id % 2 = 0
), b AS (
  SELECT vec_id AS b_id, v AS bv, nv AS nb, bucket
  FROM n WHERE vec_id % 2 = 1
), p AS (
  SELECT a_id, b_id,
         CAST(round(1000000000000.0
              * (list_dot_product(av, bv) / (sqrt(na) * sqrt(nb))))
              AS BIGINT) AS cos_pico
  FROM a JOIN b USING (bucket)
), ranked AS (
  SELECT a_id, b_id, cos_pico,
         row_number() OVER (PARTITION BY a_id
                            ORDER BY cos_pico DESC, b_id) AS ra,
         row_number() OVER (PARTITION BY b_id
                            ORDER BY cos_pico DESC, a_id) AS rb
  FROM p
), sa AS (
  SELECT a_id, SUM(cos_pico) AS sa_pico FROM ranked
  WHERE ra <= {_Q177_K} GROUP BY a_id
), sb AS (
  SELECT b_id, SUM(cos_pico) AS sb_pico FROM ranked
  WHERE rb <= {_Q177_K} GROUP BY b_id
)
SELECT r.a_id, r.b_id, r.cos_pico,
       CAST(sa.sa_pico AS BIGINT) AS sa_pico,
       CAST(sb.sb_pico AS BIGINT) AS sb_pico,
       CAST(round(1000000.0 * (({2 * _Q177_K} * r.cos_pico)
            / (sa.sa_pico + sb.sb_pico))) AS BIGINT) AS margin_micro
FROM ranked r
JOIN sa USING (a_id) JOIN sb USING (b_id)
WHERE r.ra = 1 AND r.rb = 1
"""


@register("q203_bitext_mine_bucketed", _q203_oracle())
def q203(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q177's margin-based mutual-kNN bitext miner run PER LSH BUCKET —
    the declared form of the 100 TB posture: a {2**_Q203_BITS}-way
    sign-bit hyperplane sketch partitions both corpus sides, and a
    COGROUPED applyInPandas scores each bucket's A×B block with one
    Arrow matmul. Nothing is ever collected to the driver (the fix for
    the r6 verdict's q177/q196/q197 anti-pattern): the only data
    movement is one bucket-key shuffle per side, and each task's
    memory is its own bucket block. kNN sums, mutual-best election,
    and ties (stable argsort on id-sorted blocks == ORDER BY cos_pico
    DESC, id) are all bucket-local — the LSH approximation the oracle
    reproduces exactly by joining on the same literal-hyperplane
    bucket. The margin division happens JVM-side with F.round so the
    .5 tie rule matches DuckDB (q177's proof); everything the pandas
    kernel emits is exact integers."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    staged = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("vr"),
    ).select(
        "vec_id",
        F.transform(
            "vr", lambda x: F.floor(x * F.lit(_Q177_SCALE)).cast("double")
        ).alias("v"),
        hyperplane_sketch(F.col("vr"), bits=_Q203_BITS, dim=64).alias(
            "bucket"
        ),
    ).withColumn(
        "nv",
        F.aggregate(
            F.zip_with("v", "v", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    a = staged.filter(F.col("vec_id") % 2 == 0)
    # SELF-cogroup hazard: both sides descend from `staged`, so their
    # attribute exprIds collide; Catalyst's column pruning under a
    # downstream projection then mangles the right side to its key
    # column only (observed: right pandas frame = ['bucket']) and can
    # even mispair groups. Re-aliasing every column mints fresh
    # exprIds, which disambiguates the two sides (the cogroup analogue
    # of the classic self-join alias rule).
    b = staged.filter(F.col("vec_id") % 2 == 1).select(
        *[F.col(c).alias(c) for c in ("vec_id", "v", "bucket", "nv")]
    )

    def mine(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        cols = ["a_id", "b_id", "cos_pico", "sa_pico", "sb_pico"]
        if left.empty or right.empty:
            return pd.DataFrame(columns=cols)
        left = left.sort_values("vec_id")
        right = right.sort_values("vec_id")
        A = np.stack(left["v"].to_numpy()).astype(np.float64, copy=False)
        B = np.stack(right["v"].to_numpy()).astype(np.float64, copy=False)
        na = np.sqrt(left["nv"].to_numpy(dtype=np.float64))
        nb = np.sqrt(right["nv"].to_numpy(dtype=np.float64))
        a_ids = left["vec_id"].to_numpy(dtype=np.int64)
        b_ids = right["vec_id"].to_numpy(dtype=np.int64)
        pico = round_half_away(1e12 * ((A @ B.T) / (na[:, None] * nb[None, :])))
        # A→B: per-row stable argsort == ORDER BY pico DESC, b_id ASC
        row_order = np.argsort(-pico, axis=1, kind="stable")
        ka = min(_Q177_K, pico.shape[1])
        sa = np.take_along_axis(pico, row_order[:, :ka], axis=1).sum(axis=1)
        best_b = row_order[:, 0]
        # B→A: per-column, via the transpose
        col_order = np.argsort(-pico.T, axis=1, kind="stable")
        kb = min(_Q177_K, pico.shape[0])
        sb = np.take_along_axis(
            pico.T, col_order[:, :kb], axis=1
        ).sum(axis=1)
        best_a = col_order[:, 0]
        i = np.arange(len(a_ids))
        mutual = best_a[best_b] == i
        i = i[mutual]
        j = best_b[mutual]
        return pd.DataFrame(
            {
                "a_id": a_ids[i],
                "b_id": b_ids[j],
                "cos_pico": pico[i, j].astype(np.int64),
                "sa_pico": sa[i].astype(np.int64),
                "sb_pico": sb[j].astype(np.int64),
            }
        )

    paired = (
        a.groupBy("bucket")
        .cogroup(b.groupBy("bucket"))
        .applyInPandas(
            mine,
            schema=(
                "a_id long, b_id long, cos_pico long,"
                " sa_pico long, sb_pico long"
            ),
        )
    )
    return paired.select(
        "a_id",
        "b_id",
        "cos_pico",
        "sa_pico",
        "sb_pico",
        F.round(
            F.lit(1e6)
            * (
                (F.lit(2 * _Q177_K) * F.col("cos_pico"))
                / (F.col("sa_pico") + F.col("sb_pico"))
            )
        )
        .cast("long")
        .alias("margin_micro"),
    )


# ---------------------------------------------------------------------------
# q204 — Zipf rank-frequency slope audit (integer-exact least squares)
# ---------------------------------------------------------------------------

_Q204_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
), v AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1
), r AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, tok ASC) AS rank FROM v
), xy AS (
  SELECT CAST(length(bin(rank)) - 1 AS BIGINT) AS x,
         CAST(length(bin(c)) - 1 AS BIGINT) AS y
  FROM r
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM xy
)
SELECT n AS n_terms, sx AS sum_x, sy AS sum_y,
       sxy AS sum_xy, sxx AS sum_xx,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) AS slope
FROM s
"""


@register("q204_zipf_slope", _Q204_ORACLE)
def q204(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law audit of the corpus vocabulary: least-squares slope
    of floor(log2 freq) against floor(log2 rank) — natural text sits
    near −1; a corpus of templated/generated text drifts toward 0, so
    this one number is the cheap sanity gate before trusting token
    statistics (q56/q88) or a trained vocabulary (q201) at 100 TB.

    Exactness without libm: floor_log2(k) = len(bin(k)) − 1 — pure
    integer/string ops in both engines (the q121 no-libm rule); the
    least-squares moments are exact BIGINT sums and the slope is ONE
    IEEE division of two exact integers. Ranking uses
    scalable_prefix_sums (range-exchange two-phase), never a
    single-partition global window — vocabulary at web scale is 10⁸
    rows and still ranks across all cores."""
    from ..operators.windows import scalable_prefix_sums

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokens(normalize_text("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .withColumn("nc", -F.col("c"))
    )
    # the ranking is GLOBAL (the old constant "_g" group bought
    # nothing): no part_col, so no per-group offsets
    ranked = scalable_prefix_sums(vocab, ("nc", "tok"), {"rank": F.lit(1)})
    xy = ranked.select(
        (F.length(F.bin(F.col("rank"))) - 1).cast("long").alias("x"),
        (F.length(F.bin(F.col("c"))) - 1).cast("long").alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        F.col("n").alias("n_terms"),
        F.col("sx").alias("sum_x"),
        F.col("sy").alias("sum_y"),
        F.col("sxy").alias("sum_xy"),
        F.col("sxx").alias("sum_xx"),
        (num.cast("double") / den.cast("double")).alias("slope"),
    )


# ---------------------------------------------------------------------------
# q205 — n-gram-level train/test contamination
# ---------------------------------------------------------------------------

_Q205_W = 8

_Q205_ORACLE = f"""
WITH t AS (
  SELECT doc_id, doc_id % 10 = 7 AS is_test,
         string_split({_NORM_SQL}, ' ') AS l
  FROM documents
), p AS (
  SELECT doc_id, is_test,
         md5(array_to_string(list_slice(l, u.i, u.i + {_Q205_W - 1}), ' '))
           AS h
  FROM t CROSS JOIN LATERAL
       unnest(generate_series(1, len(l) - {_Q205_W - 1})) AS u(i)
  WHERE len(l) >= {_Q205_W}
), train AS (
  SELECT DISTINCT h FROM p WHERE NOT is_test
), test_w AS (
  SELECT DISTINCT doc_id, h FROM p WHERE is_test
), hit AS (
  SELECT doc_id, count(*) AS n_leaked
  FROM test_w JOIN train USING (h) GROUP BY doc_id
), base AS (
  SELECT doc_id, count(*) AS n_windows
  FROM test_w GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(b.n_windows AS BIGINT) AS n_windows,
       CAST(coalesce(hit.n_leaked, 0) AS BIGINT) AS n_leaked,
       CAST((2000000 * coalesce(hit.n_leaked, 0) + b.n_windows)
            // (2 * b.n_windows) AS BIGINT) AS leaked_micro
FROM base b LEFT JOIN hit USING (doc_id)
"""


@register("q205_ngram_contamination", _Q205_ORACLE)
def q205(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination audit at n-gram granularity (the
    GPT-3/PaLM appendix-style check): for every held-out document
    (deterministic doc_id%10 split), the fraction of its distinct
    {_Q205_W}-token windows that also occur ANYWHERE in the training
    split. Doc-level exact/near dedup (q20/q51) misses partial leaks —
    a quoted paragraph contaminates an eval item even when the
    documents differ.

    Scale shape: both sides reduce to DISTINCT 16-B md5 window hashes
    before meeting (map-side combine), and the membership probe is one
    hash equi-join — train-side text never moves, test-side moves only
    (doc_id, hash). The ratio is integer round-half-up
    ((2e6·n+d)//(2d), the q197 tie rule) so the .5 boundary can't
    split engines."""
    docs = spread_for_compute(load_table(spark, sf_dir, "documents"))
    staged = docs.select(
        "doc_id",
        (F.col("doc_id") % 10 == 7).alias("is_test"),
        tokens(normalize_text("text")).alias("toks"),
    ).withColumn("n", F.size("toks")).filter(F.col("n") >= _Q205_W)
    p = (
        staged.select(
            "doc_id",
            "is_test",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n") - F.lit(_Q205_W - 1)),
                    lambda i: F.md5(
                        F.concat_ws(
                            " ", F.slice(F.col("toks"), i, _Q205_W)
                        )
                    ),
                )
            ).alias("h"),
        )
        # feeds both split sides: hash+flag rows, pin once
        .transform(_pin)
    )
    train = p.filter(~F.col("is_test")).select("h").distinct()
    test_w = p.filter(F.col("is_test")).select("doc_id", "h").distinct()
    base = test_w.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows")
    )
    hit = (
        test_w.join(train, "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_leaked"))
    )
    return (
        base.join(hit, "doc_id", "left")
        .withColumn("n_leaked", F.coalesce("n_leaked", F.lit(0)).cast("long"))
        .select(
            "doc_id",
            "n_windows",
            "n_leaked",
            F.expr(
                "(2000000 * n_leaked + n_windows) div (2 * n_windows)"
            )
            .cast("long")
            .alias("leaked_micro"),
        )
    )


# ---------------------------------------------------------------------------
# q206 — BPE encode: apply the trained merge table
# ---------------------------------------------------------------------------


def _q206_oracle(k: int = _Q201_MERGES) -> str:
    parts = _q201_state_chain(k)
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT r.doc_id,
       r.n AS n_tokens_raw,
       e.n AS n_tokens_bpe,
       r.n - e.n AS n_saved,
       CAST((2000000 * (r.n - e.n) + r.n) // (2 * r.n) AS BIGINT)
         AS saved_micro
FROM (SELECT doc_id, CAST(len(string_split(s, ' ')) AS BIGINT) AS n
      FROM s0) r
JOIN (SELECT doc_id, CAST(len(string_split(s, ' ')) AS BIGINT) AS n
      FROM s{k}) e USING (doc_id)
"""
    )


@register("q206_bpe_encode", _q206_oracle())
def q206(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer ENCODE step: train the q201 merge table, then
    apply it to every document as ONE nested row-local string
    expression (operators/lm.bpe_encode) — zero aggregations in the
    encode pass, the shape that tokenizes 100 TB with a vocabulary
    trained once (typically on a sample; here on the same corpus so
    the oracle can replay the exact chain). Emits per-doc raw/encoded
    token counts and the compression bought by the vocabulary —
    integer-exact end to end."""
    from ..operators.lm import bpe_encode

    docs = load_table(spark, sf_dir, "documents")
    return bpe_encode(docs, shared_bpe_merges(spark, sf_dir))


# ---------------------------------------------------------------------------
# q207 — robust outlier gate: exact per-group median + MAD
# ---------------------------------------------------------------------------

_Q207_ORACLE = """
WITH e AS (
  SELECT event_type, value FROM events WHERE value IS NOT NULL
), n AS (
  SELECT event_type, count(*) AS n FROM e GROUP BY 1
), r AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn
  FROM e
), med AS (
  SELECT r.event_type, sum(r.value) / count(*) AS med
  FROM r JOIN n USING (event_type)
  WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
  GROUP BY r.event_type
), d AS (
  SELECT e.event_type, abs(e.value - med.med) AS dev
  FROM e JOIN med USING (event_type)
), rd AS (
  SELECT event_type, dev,
         row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn
  FROM d
), mad AS (
  SELECT rd.event_type, sum(rd.dev) / count(*) AS mad
  FROM rd JOIN n USING (event_type)
  WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
  GROUP BY rd.event_type
)
SELECT e.event_type,
       CAST(max(n.n) AS BIGINT) AS n,
       max(med.med) AS median,
       max(mad.mad) AS mad,
       CAST(sum(CASE WHEN abs(e.value - med.med) > 3 * mad.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM e
JOIN med USING (event_type) JOIN mad USING (event_type)
JOIN n USING (event_type)
GROUP BY e.event_type
"""


@register("q207_mad_outliers", _Q207_ORACLE)
def q207(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier gate: exact median and MAD (median
    absolute deviation) per event_type, then count of |x − med| >
    3·MAD — the estimator that survives the exact heavy tails that
    wreck mean/stddev gates (a single corrupt feed day shifts a mean
    arbitrarily; the median moves one rank). Medians come from
    operators/windows.group_median — positions via the range-exchange
    grouped scalable_prefix_sums, NEVER a per-type single-task window; the
    oracle replays the identical (a+b)/2 midpoint formulation (an
    engine-native median() would interpolate with different op order).
    Two position passes + one conditional aggregate; every emitted
    double is the same IEEE op chain in both engines."""
    from ..operators.windows import group_median

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = group_median(ev, "event_type", "value", out_col="median")
    # dev feeds the MAD median machinery (its own range-exchange jobs)
    # AND the final outlier aggregate — unpinned it was recomputed
    # (events scan + broadcast join + the med broadcast REBUILD) three
    # times across those driver-side actions (r12 opt: 34 jobs/pass
    # measured, most of them duplicate subtree stages). Lazy local
    # checkpoint: the MAD kernel's range-sampling pass is the
    # materializing action; every later consumer reads the cache.
    dev = (
        ev.join(F.broadcast(med), "event_type")
        .withColumn("dev", F.abs(F.col("value") - F.col("median")))
        .transform(_pin_lazy)
    )
    mad = group_median(
        dev.select("event_type", "dev"), "event_type", "dev", out_col="mad"
    ).select("event_type", "mad")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.max("median").alias("median"),
            F.max("mad").alias("mad"),
            F.sum(
                F.when(F.col("dev") > 3 * F.col("mad"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# q208 — source-pair contamination matrix (8-gram window overlap)
# ---------------------------------------------------------------------------

_Q208_W = 8

_Q208_ORACLE = f"""
WITH t AS (
  SELECT source, string_split({_NORM_SQL}, ' ') AS l FROM documents
), p AS (
  SELECT DISTINCT source,
         md5(array_to_string(list_slice(l, u.i, u.i + {_Q208_W - 1}), ' '))
           AS h
  FROM t CROSS JOIN LATERAL
       unnest(generate_series(1, len(l) - {_Q208_W - 1})) AS u(i)
  WHERE len(l) >= {_Q208_W}
), c AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1
), pr AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM p a JOIN p b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
)
SELECT pr.source_a, pr.source_b, pr.n_shared,
       ca.n AS n_a, cb.n AS n_b,
       CAST((2000000 * pr.n_shared + (ca.n + cb.n - pr.n_shared))
            // (2 * (ca.n + cb.n - pr.n_shared)) AS BIGINT)
         AS jaccard_micro
FROM pr
JOIN c ca ON ca.source = pr.source_a
JOIN c cb ON cb.source = pr.source_b
"""


@register("q208_source_overlap_matrix", _Q208_ORACLE)
def q208(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair contamination matrix: for every pair of corpus
    sources, the number of DISTINCT {_Q208_W}-token windows they share
    and the window-set Jaccard — the "which feeds are mirroring each
    other" diagnostic that decides mixture weights and dedup scope
    before a 100 TB ingest (q138's HLL overlap is this matrix's sketch
    form; this is the exact form, and q205's doc-level leak report is
    its per-document drill-down).

    Scale shape: the corpus collapses to DISTINCT (source, 16-B hash)
    rows BEFORE any pairing (map-side combine); the self-join's
    per-hash fan-out is bounded by |sources| (each hash appears at
    most once per source), so the worst row is C(|sources|, 2) pairs —
    never document-volume quadratic. Per-source totals broadcast."""
    docs = spread_for_compute(load_table(spark, sf_dir, "documents"))
    staged = docs.select(
        "source", tokens(normalize_text("text")).alias("toks")
    ).withColumn("n", F.size("toks")).filter(F.col("n") >= _Q208_W)
    p = (
        staged.select(
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n") - F.lit(_Q208_W - 1)),
                    lambda i: F.md5(
                        F.concat_ws(
                            " ", F.slice(F.col("toks"), i, _Q208_W)
                        )
                    ),
                )
            ).alias("h"),
        )
        .distinct()
        # feeds per-source counts AND both self-join sides
        .transform(_pin)
    )
    c = p.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = p.select(F.col("h"), F.col("source").alias("source_a"))
    # fresh exprIds on the right side (the q203 self-cogroup rule's
    # self-join sibling)
    b = p.select(
        F.col("h").alias("h"), F.col("source").alias("source_b")
    )
    pr = (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    ca = c.select(
        F.col("source").alias("source_a"), F.col("n").alias("n_a")
    )
    cb = c.select(
        F.col("source").alias("source_b"), F.col("n").alias("n_b")
    )
    return (
        pr.join(F.broadcast(ca), "source_a")
        .join(F.broadcast(cb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            F.expr(
                "(2000000 * n_shared + (n_a + n_b - n_shared))"
                " div (2 * (n_a + n_b - n_shared))"
            )
            .cast("long")
            .alias("jaccard_micro"),
        )
    )


# ---------------------------------------------------------------------------
# q209 — winnowing fingerprints (Schleimer et al. 2003, MOSS)
# ---------------------------------------------------------------------------

_Q209_K = 5  # k-gram size
_Q209_WIN = 4  # winnowing window (guarantee t = K + WIN - 1 = 8)

_Q209_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS l FROM documents
), h AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(l) - {_Q209_K - 1}),
            i -> md5(array_to_string(
                   list_slice(l, i, i + {_Q209_K - 1}), ' '))) AS hl
  FROM t WHERE len(l) >= {_Q209_K + _Q209_WIN - 1}
), fp AS (
  SELECT doc_id,
         CAST(len(hl) AS BIGINT) AS n_kgrams,
         CAST(len(list_distinct(
           list_transform(generate_series(1, len(hl) - {_Q209_WIN - 1}),
              j -> list_aggregate(
                     list_slice(hl, j, j + {_Q209_WIN - 1}), 'min'))))
           AS BIGINT) AS n_fingerprints
  FROM h
)
SELECT doc_id, n_kgrams, n_fingerprints,
       CAST((2000000 * n_fingerprints + n_kgrams) // (2 * n_kgrams)
            AS BIGINT) AS density_micro
FROM fp
"""


@register("q209_winnowing_fingerprints", _Q209_ORACLE)
def q209(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): hash every {_Q209_K}-gram, slide a
    {_Q209_WIN}-hash window, keep each window's MINIMUM hash; the
    selected set is a position-robust fingerprint with a guarantee the
    q33 fixed-stride fingerprint lacks — any shared substring of ≥
    {_Q209_K + _Q209_WIN - 1} tokens is CERTAIN to contribute at least
    one common fingerprint, at an expected density of 2/(w+1). The
    per-doc fingerprint count + density is the sizing audit for a
    fingerprint-based dedup index at 100 TB (store n_fingerprints ×
    16 B per doc, not the text).

    Entirely row-local: the k-gram hash array is staged ONCE as a
    column attribute, and window minima are whole-array slice ops over
    it (the shingles_from_tokens staging rule) — the only shuffle in
    the query is the parquet scan's exchange-free projection."""
    docs = spread_for_compute(load_table(spark, sf_dir, "documents"))
    staged = docs.select(
        "doc_id", tokens(normalize_text("text")).alias("toks")
    ).withColumn("n", F.size("toks")).filter(
        F.col("n") >= _Q209_K + _Q209_WIN - 1
    )
    hashed = staged.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), F.col("n") - F.lit(_Q209_K - 1)),
            lambda i: F.md5(
                F.concat_ws(" ", F.slice(F.col("toks"), i, _Q209_K))
            ),
        ).alias("hl"),
    )
    nh = F.size("hl")
    fps = hashed.select(
        "doc_id",
        nh.cast("long").alias("n_kgrams"),
        F.size(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), nh - F.lit(_Q209_WIN - 1)),
                    lambda j: F.array_min(
                        F.slice(F.col("hl"), j, _Q209_WIN)
                    ),
                )
            )
        )
        .cast("long")
        .alias("n_fingerprints"),
    )
    return fps.select(
        "doc_id",
        "n_kgrams",
        "n_fingerprints",
        F.expr(
            "(2000000 * n_fingerprints + n_kgrams) div (2 * n_kgrams)"
        )
        .cast("long")
        .alias("density_micro"),
    )


# ---------------------------------------------------------------------------
# q210 — int8 embedding-quantization audit
# ---------------------------------------------------------------------------

_Q210_ORACLE = """
WITH ex AS (
  SELECT CAST(u.i - 1 AS BIGINT) AS dim, v[u.i] AS x
  FROM (SELECT embedding::DOUBLE[] AS v FROM embeddings)
  CROSS JOIN LATERAL unnest(generate_series(1, len(v))) AS u(i)
), st AS (
  SELECT dim, min(x) AS vmin, max(x) AS vmax,
         CAST(count(*) AS BIGINT) AS n
  FROM ex GROUP BY dim
), q AS (
  SELECT ex.dim, st.n, st.vmin, st.vmax,
         CASE WHEN st.vmax = st.vmin THEN 0.0
              ELSE abs((st.vmin
                        + least(greatest(floor((ex.x - st.vmin)
                              / ((st.vmax - st.vmin) / 255.0) + 0.5),
                              0.0), 255.0)
                          * ((st.vmax - st.vmin) / 255.0))
                       - ex.x)
         END AS err
  FROM ex JOIN st USING (dim)
)
SELECT dim, max(n) AS n, max(vmin) AS vmin, max(vmax) AS vmax,
       max(err) AS max_err,
       CAST(sum(CAST(floor(err * 1000000000.0) AS BIGINT)) AS BIGINT)
         AS sum_err_nano
FROM q GROUP BY dim
"""


@register("q210_int8_quant_audit", _Q210_ORACLE)
def q210(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 (asymmetric min/max, 256-level) embedding-quantization
    audit: per dimension, the quantization scale implied by the
    observed range and the reconstruction error it would cost —
    max_err bounds the worst case (≈ scale/2), sum_err_nano the
    total. This is the storage decision for an embedding lake (int8
    cuts 100 TB of float32 vectors to 25 TB; this audit says which
    dimensions tolerate it, feeding the PQ tier q140/q147).

    Exactness: min/max are exact; every derived double is the SAME
    fixed op chain in both engines (sub, div-by-literal, div, add 0.5,
    floor, clamp, mul, add, sub, abs) — floor makes the tie rule
    explicit, so no round() divergence; the error total sums exact
    longs after a floor quantization. Two scans (stats, then error) —
    at 100 TB both are single map-side-combined aggregations over
    (dim, x) pairs with the 64-row stats frame broadcast back."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("dim", "x")
    ).select(F.col("dim").cast("long").alias("dim"), "x")
    st = ex.groupBy("dim").agg(
        F.min("x").alias("vmin"),
        F.max("x").alias("vmax"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    j = ex.join(F.broadcast(st), "dim")
    scale = (F.col("vmax") - F.col("vmin")) / F.lit(255.0)
    qlvl = F.least(
        F.greatest(
            F.floor((F.col("x") - F.col("vmin")) / scale + F.lit(0.5))
            .cast("double"),
            F.lit(0.0),
        ),
        F.lit(255.0),
    )
    err = F.when(F.col("vmax") == F.col("vmin"), F.lit(0.0)).otherwise(
        F.abs((F.col("vmin") + qlvl * scale) - F.col("x"))
    )
    return (
        j.withColumn("err", err)
        .groupBy("dim")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.max("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
            F.max("err").alias("max_err"),
            F.sum(
                F.floor(F.col("err") * F.lit(1e9)).cast("long")
            )
            .cast("long")
            .alias("sum_err_nano"),
        )
    )


# ---------------------------------------------------------------------------
# q211 — hashed linear quality classifier (fastText shape)
# ---------------------------------------------------------------------------

_Q211_D = 64  # hashed feature space
_Q211_SALT = "fq-v1"
# Deterministic stand-in for trained weights: Knuth-hash each bucket
# index into [-999, 999]. A real deployment swaps this literal for the
# trained vector — the plan is identical.
_Q211_W = [((j + 1) * 2654435761) % 1999 - 999 for j in range(_Q211_D)]

_Q211_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS l FROM documents
), uf AS (
  SELECT doc_id, unnest(l) AS f FROM t
), bf AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(l) - 1),
                               i -> l[i] || ' ' || l[i + 1])) AS f
  FROM t WHERE len(l) >= 2
), feats AS (
  SELECT doc_id,
         ('0x' || substring(md5('{_Q211_SALT}' || f), 1, 12))::BIGINT
           % {_Q211_D} AS idx
  FROM (SELECT * FROM uf UNION ALL SELECT * FROM bf)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_features,
       CAST(sum(([{", ".join(str(w) for w in _Q211_W)}])[idx + 1])
            AS BIGINT) AS score_sum,
       sum(([{", ".join(str(w) for w in _Q211_W)}])[idx + 1]) > 0
         AS accept
FROM feats GROUP BY doc_id
"""


@register("q211_linear_quality_score", _Q211_ORACLE)
def q211(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering in the fastText shape (the
    CCNet/RefinedWeb/FineWeb quality-classifier verb): hash each
    document's unigram+bigram features into a {_Q211_D}-bucket space
    (the q49 salted-md5 idiom — identical buckets in any engine),
    score with a LITERAL weight vector via a row-local array lookup,
    and gate on the sign of the integer score sum. The weights here
    are a deterministic stand-in; swapping in a trained vector changes
    literals, not the plan.

    Scale shape: one token/bigram explode (staged arrays, the
    shingles_from_tokens rule) into a map-side-combined per-doc
    aggregate — no joins, no shuffle wider than (doc_id, idx). All
    integer arithmetic: NO division appears anywhere (an average
    would need the negative-operand integer-division rule — Spark
    `div` truncates while DuckDB `//` floors — so the gate reads the
    exact sum instead)."""
    docs = spread_for_compute(load_table(spark, sf_dir, "documents"))
    staged = docs.select(
        "doc_id", tokens(normalize_text("text")).alias("toks")
    )
    from ..operators.lm import bigrams_from_tokens

    uf = staged.select("doc_id", F.explode("toks").alias("f"))
    bf = staged.select(
        "doc_id", F.explode(bigrams_from_tokens(F.col("toks"))).alias("f")
    )
    idx = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(_Q211_SALT), F.col("f"))), 1, 12
        ),
        16,
        10,
    ).cast("long") % _Q211_D
    wlit = F.array(*[F.lit(w) for w in _Q211_W])
    feats = uf.unionByName(bf).select(
        "doc_id", F.element_at(wlit, (idx + 1).cast("int")).alias("w")
    )
    return feats.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_features"),
        F.sum("w").cast("long").alias("score_sum"),
        (F.sum("w") > 0).alias("accept"),
    )


# ---------------------------------------------------------------------------
# q212 — synchronous label propagation (community detection)
# ---------------------------------------------------------------------------

_Q212_ITERS = 3
_Q212_MIN_SHARED = 40


def _q212_oracle(t: int = _Q212_ITERS) -> str:
    parts = [
        """ui AS (
  SELECT DISTINCT user_id, CAST(props->>'$.k' AS BIGINT) AS item
  FROM events
)""",
        f"""e AS (
  SELECT a.item AS src, b.item AS dst
  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
  GROUP BY 1, 2 HAVING count(*) >= {_Q212_MIN_SHARED}
)""",
        """sym AS (
  SELECT src AS a, dst AS b FROM e
  UNION ALL SELECT dst AS a, src AS b FROM e
)""",
        "l0 AS (SELECT DISTINCT a AS node, a AS label FROM sym)",
    ]
    for r in range(1, t + 1):
        p = r - 1
        parts.append(
            f"""c{r} AS (
  SELECT s.a AS node, l.label, count(*) AS c
  FROM sym s JOIN l{p} l ON l.node = s.b
  GROUP BY 1, 2
)"""
        )
        parts.append(
            f"""l{r} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY c DESC, label ASC) AS rn
    FROM c{r}) WHERE rn = 1
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT l.node, l.label, cs.n AS community_size
FROM l{t} l
JOIN (SELECT label, CAST(count(*) AS BIGINT) AS n
      FROM l{t} GROUP BY 1) cs USING (label)
"""
    )


@register("q212_label_propagation", _q212_oracle())
def q212(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) on the
    q135 item co-interaction graph — community detection, the
    between-scale graph verb (components q55 answer "connected",
    PageRank q124 answers "important"; LPA answers "which cluster").
    {T} synchronous rounds: every node adopts its neighbors' most
    frequent label, ties to the smallest — deterministic, so the
    oracle unrolls the identical rounds as CTEs.

    Scale shape per round: one (node, label) equi-join against the
    symmetric edge list + one map-side-combined count + one
    min(struct(-c, label)) argmax per node — never a window over the
    edge set. Labels pin per round (lineage cut, the q201 rule);
    edges pin once. At 100 TB the per-round cost is two fine-grained
    shuffles on long keys, the same budget PageRank (q124) pays."""
    ev = load_table(spark, sf_dir, "events")
    ui = ev.select(
        "user_id",
        F.get_json_object("props", "$.k").cast("long").alias("item"),
    ).distinct()
    e = (
        ui.alias("l")
        .join(
            ui.alias("r"),
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("l.item") < F.col("r.item")),
        )
        .groupBy(F.col("l.item").alias("src"), F.col("r.item").alias("dst"))
        .agg(F.count(F.lit(1)).alias("nu"))
        .filter(F.col("nu") >= _Q212_MIN_SHARED)
        .select("src", "dst")
    )
    sym = (
        e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(
            e.select(F.col("dst").alias("a"), F.col("src").alias("b"))
        )
        .transform(_pin)
    )
    labels = sym.select(F.col("a").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(_Q212_ITERS):
        nbr = sym.join(
            labels.select(
                F.col("node").alias("b"), F.col("label")
            ),
            "b",
        ).select(F.col("a").alias("node"), "label")
        cnt = nbr.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("c")
        )
        labels = (
            cnt.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("label"))
                ).alias("w")
            )
            .select("node", F.col("w.label").alias("label"))
            .transform(_pin_lazy)
        )
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("community_size")
    )
    return labels.join(F.broadcast(sizes), "label").select(
        "node", "label", "community_size"
    )


# ---------------------------------------------------------------------------
# q213 — video shot-boundary detection (real y4m decode path)
# ---------------------------------------------------------------------------

_Q213_DIFF = 40  # per-pixel mean-luma jump that calls a cut


def _q213_oracle() -> str:
    # closed-form clip: f = 6 + n_chars%5 frames of 4×4 luma; frames
    # k >= s (s = 2 + n_chars%3) add `jump` (large for odd n_chars) —
    # the oracle replays pixel (base + j) % 256 exactly as rendered.
    return f"""
WITH d AS (
  SELECT doc_id, n_chars,
         6 + n_chars % 5 AS f,
         2 + n_chars % 3 AS s,
         10 + (n_chars % 2) * 120 AS jump
  FROM documents
), fr AS (
  SELECT doc_id, f, s, jump,
         n_chars % 97 + CASE WHEN k >= s THEN jump ELSE 0 END AS base,
         CAST(k AS INTEGER) AS k
  FROM d CROSS JOIN LATERAL unnest(range(0, f)) AS u(k)
), lum AS (
  SELECT doc_id, k,
         CAST(SUM((base + j) % 256) AS BIGINT) AS luma_sum
  FROM fr CROSS JOIN LATERAL unnest(range(0, 16)) AS v(j)
  GROUP BY doc_id, k
), flag AS (
  SELECT doc_id, k, luma_sum,
         CASE WHEN abs(luma_sum
                       - lag(luma_sum) OVER (PARTITION BY doc_id
                                             ORDER BY k))
                   > {_Q213_DIFF * 16}
              THEN 1 ELSE 0 END AS cut
  FROM lum
), shot AS (
  SELECT doc_id, k, luma_sum,
         SUM(cut) OVER (PARTITION BY doc_id ORDER BY k) AS shot_idx
  FROM flag
)
SELECT doc_id AS media_id,
       CAST(shot_idx AS INTEGER) AS shot_idx,
       CAST(min(k) AS INTEGER) AS start_frame,
       CAST(count(*) AS BIGINT) AS n_frames,
       CAST(SUM(luma_sum) AS DOUBLE) / (16 * count(*)) AS mean_luma
FROM shot GROUP BY doc_id, shot_idx
"""


@register("q213_shot_boundaries", _q213_oracle())
def q213(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video shot-boundary detection over the REAL y4m decode path
    (the q107 codec): per clip, cut wherever consecutive frames' mean
    luma jumps by more than {DIFF}/pixel, then gaps-and-islands turns
    cut flags into shots — (shot_idx, start_frame, length, mean luma)
    per shot, the frame-sampling upgrade every video-curation pipeline
    needs (sample per SHOT, not per fixed stride, or dedup near-static
    clips). Half the rendered clips jump by 120+10 (detected), half by
    10 (below threshold) — the gate discriminates by construction and
    the oracle replays the closed-form pixels through the identical
    threshold.

    Scale shape: the decode (operators/multimodal.frame_luma_sums)
    emits 28 B per frame — pixels never leave the decode task; the
    cut/shot logic is a lag window + running sum PARTITIONED BY CLIP
    (bounded by frame count, never corpus-wide), and all thresholding
    is exact integer sums (|Δsum| > diff·n_pixels — no division until
    the final per-shot mean)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    from ..operators.multimodal import (
        MEDIA_SCHEMA,
        encode_y4m,
        frame_luma_sums,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def render(batches):
        for pdf in batches:
            rows = []
            for did, nc in zip(pdf["doc_id"], pdf["n_chars"]):
                nc = int(nc)
                f = 6 + nc % 5
                s = 2 + nc % 3
                jump = 10 + (nc % 2) * 120
                frames = np.empty((f, 3, 4, 4), dtype=np.uint8)
                for k in range(f):
                    base = nc % 97 + (jump if k >= s else 0)
                    frames[k, 0] = (
                        ((base + np.arange(16)) % 256)
                        .astype(np.uint8)
                        .reshape(4, 4)
                    )
                    frames[k, 1:] = 128
                rows.append(
                    {
                        "media_id": did,
                        "kind": "video",
                        "meta": {
                            "width": 4,
                            "height": 4,
                            "channels": 3,
                            "sample_rate": None,
                            "duration_ms": f * 200,
                            "codec": "y4m",
                        },
                        "content": encode_y4m(frames, fps=5),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA])

    media = docs.mapInPandas(render, MEDIA_SCHEMA)
    lum = frame_luma_sums(media)
    w_clip = Window.partitionBy("media_id").orderBy("frame_idx")
    flagged = lum.withColumn(
        "cut",
        F.when(
            F.abs(
                F.col("luma_sum") - F.lag("luma_sum").over(w_clip)
            )
            > _Q213_DIFF * F.col("n_pixels"),
            1,
        ).otherwise(0),
    ).withColumn(
        "shot_idx",
        F.sum("cut")
        .over(w_clip.rowsBetween(Window.unboundedPreceding, 0))
        .cast("int"),
    )
    return flagged.groupBy("media_id", "shot_idx").agg(
        F.min("frame_idx").cast("int").alias("start_frame"),
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        (
            F.sum("luma_sum").cast("double")
            / (F.lit(16) * F.count(F.lit(1)))
        ).alias("mean_luma"),
    )
