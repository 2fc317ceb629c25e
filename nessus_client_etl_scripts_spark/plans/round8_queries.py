"""Round-8 wave — q214…q216: URL/domain-level corpus controls (the
one standard LLM-pipeline verb the r7 verdict flagged as missing) and
two encode-side tokenizer/quality operators.

- q214 domain budget — per-document URLs (synthesized deterministically
  from doc_id/n_chars, the q179 pattern) canonicalized (fragment off,
  scheme off, lowercase, www off, tracking params dropped, query params
  order-normalized), registered-domain extraction (public-suffix rule
  for two-label suffixes), and a per-domain document cap with a
  deterministic keep-ranking — the CommonCrawl-style domain-budget
  prepass that stops one host from dominating a training mix.
- q215 byte-fallback BPE encode — the real tokenizer contract q206's
  passthrough lacks: train the merge table on HALF the corpus (even
  doc_ids), encode the other half, and count every token absent from
  the training vocabulary as its BYTES (markers stripped) instead of
  one opaque unit.  Emits per-doc OOV and expansion accounting.
- q216 bigram-LM surprisal — a KenLM-shaped statistical quality gate:
  a bigram model counted over the corpus scores every document by
  total floor-log2 surprisal bits; templated/duplicated text scores
  near zero bits per bigram, natural text higher.  Integer-exact end
  to end (the q204 no-libm floor_log2), so it cross-checks value-hash
  clean against the oracle.

Float portability per PLANS.md: all three queries are integer/string
algebra end to end; ratios are pinned with the integer round-half-up
rule ``(2·10^6·n + d) div (2d)`` on non-negative operands.

Scale notes (100 TB posture): q214 shuffles once on the registered
domain (cardinality ~millions on the web — a healthy hash-partition
key; a pathological single-domain crawl is exactly what the cap then
bounds); q215's vocabulary join broadcasts (a trained vocab is
10⁴-10⁵ tokens by construction) and the encode itself is one row-local
projection; q216's model join is a hash join on the first token —
map-side combined counts, no driver state beyond nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, spread_for_compute
from ..operators.lm import bpe_apply, bpe_train, merge_chain
from ..operators.similarity import cosine
from ..operators.text import normalize_text, tokens
from ..operators.web import (
    canonicalize_url,
    domain_budget,
    host_of,
    registered_domain,
)
from .corpus_queries import _NORM_SQL
from .round6b_queries import _Q132_ORACLE, _Q133_ORACLE
from .round7_queries import _Q201_MERGES, _q201_state_chain, shared_bpe_merges
from .testdata_queries import register
from ..pins import pin as _pin, pin_lazy as _pin_lazy

# ---------------------------------------------------------------------------
# q214 — URL canonicalization, registered domains, per-domain budget
# ---------------------------------------------------------------------------

_Q214_CAP = 3

# Deterministic URL synthesis (the q179 pattern: derive bytes from
# doc_id/n_chars so both engines build identical inputs): scheme and
# host-case vary, ~92 registered domains (23 hosts × 4 TLDs, one of
# them the two-label suffix co.uk), optional www prefix, tracking
# params, query params in varying order, optional fragment.
_Q214_URL_SQL = """
  SELECT doc_id, n_chars,
         (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END)
         || (CASE WHEN doc_id % 11 = 0 THEN upper(h) ELSE h END)
         || '/p/' || CAST(n_chars % 100 AS VARCHAR)
         || '?' || q
         || (CASE WHEN doc_id % 7 = 0 THEN '#top' ELSE '' END) AS url
  FROM (
    SELECT doc_id, n_chars,
           (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
           || 'site' || CAST(doc_id % 23 AS VARCHAR) || '.'
           || (CASE doc_id % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
               WHEN 2 THEN 'net' ELSE 'co.uk' END) AS h,
           (CASE WHEN doc_id % 5 < 2
                 THEN 'b=' || CAST(doc_id % 5 AS VARCHAR)
                      || '&a=' || CAST(n_chars % 7 AS VARCHAR)
                 ELSE 'a=' || CAST(n_chars % 7 AS VARCHAR)
                      || '&b=' || CAST(doc_id % 5 AS VARCHAR) END)
           || (CASE WHEN doc_id % 4 = 0
               THEN '&utm_source=feed' ELSE '' END) AS q
    FROM documents
  )
"""

_Q214_ORACLE = f"""
WITH u AS ({_Q214_URL_SQL}
), c AS (
  SELECT doc_id, n_chars, url,
         regexp_replace(
           lower(regexp_replace(string_split(url, '#')[1],
                                '^https?://', '')),
           '^www\\.', '') AS noww
  FROM u
), p AS (
  SELECT doc_id, n_chars, url,
         string_split(noww, '?')[1] AS hp,
         array_to_string(
           list_sort(list_filter(
             string_split(string_split(noww, '?')[2], '&'),
             x -> x NOT LIKE 'utm%')), '&') AS params
  FROM c
), canon AS (
  SELECT doc_id, n_chars, url,
         hp || (CASE WHEN params IS NOT NULL AND params <> ''
                THEN '?' || params ELSE '' END) AS canon_url,
         string_split(hp, '/')[1] AS host
  FROM p
), dom AS (
  SELECT doc_id, n_chars, url, canon_url,
         CASE WHEN host LIKE '%.co.uk' OR host LIKE '%.com.au'
                OR host LIKE '%.co.jp'
              THEN l[-3] || '.' || l[-2] || '.' || l[-1]
              ELSE l[-2] || '.' || l[-1] END AS domain
  FROM (SELECT *, string_split(host, '.') AS l FROM canon)
), ranked AS (
  SELECT doc_id, url, canon_url, domain,
         CAST(count(*) OVER (PARTITION BY domain) AS BIGINT)
           AS n_domain_docs,
         CAST(row_number() OVER (PARTITION BY domain
              ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS drank
  FROM dom
)
SELECT doc_id, url, canon_url, domain, n_domain_docs, drank,
       drank <= {_Q214_CAP} AS kept
FROM ranked
"""


@register("q214_domain_budget", _Q214_ORACLE)
def q214(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain-level corpus controls: canonicalize every document's
    URL (drop fragment + scheme + leading www, lowercase, strip utm
    tracking params, order-normalize the query string), extract the
    registered domain (last two host labels, three under a two-label
    public suffix such as co.uk), then enforce a per-domain document
    budget of {cap} with a deterministic keep-ranking (longest document
    first, doc_id tie-break) — the domain-budget prepass a web-crawl
    training mix runs before anything else.

    Scale: one shuffle on the registered domain.  Real-web domain
    cardinality is millions (healthy hash key); a single pathological
    mega-domain is precisely what the budget bounds, and its window is
    a top-K-per-key rank — AQE skew splitting plus the cap mean no
    executor materializes more than it keeps. All string algebra is
    JVM built-ins inside one whole-stage-codegen span; no UDFs."""
    d, nc = F.col("doc_id"), F.col("n_chars")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    tld = (
        F.when(d % 4 == 0, "com")
        .when(d % 4 == 1, "org")
        .when(d % 4 == 2, "net")
        .otherwise("co.uk")
    )
    host = F.concat(
        F.when(d % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("site"),
        (d % 23).cast("string"),
        F.lit("."),
        tld,
    )
    qa = F.concat(F.lit("a="), (nc % 7).cast("string"))
    qb = F.concat(F.lit("b="), (d % 5).cast("string"))
    qs = F.concat(
        F.when(d % 5 < 2, F.concat(qb, F.lit("&"), qa)).otherwise(
            F.concat(qa, F.lit("&"), qb)
        ),
        F.when(d % 4 == 0, F.lit("&utm_source=feed")).otherwise(F.lit("")),
    )
    url = F.concat(
        F.when(d % 2 == 0, F.lit("https://")).otherwise(F.lit("http://")),
        F.when(d % 11 == 0, F.upper(host)).otherwise(host),
        F.lit("/p/"),
        (nc % 100).cast("string"),
        F.lit("?"),
        qs,
        F.when(d % 7 == 0, F.lit("#top")).otherwise(F.lit("")),
    )
    u = docs.select("doc_id", "n_chars", url.alias("url"))

    dom = u.select(
        "doc_id",
        "n_chars",
        "url",
        canonicalize_url("url").alias("canon_url"),
    ).withColumn(
        "domain", registered_domain(host_of(F.col("canon_url")))
    )
    return domain_budget(
        dom, "domain", _Q214_CAP, (nc.desc(), d.asc())
    ).select(
        "doc_id",
        "url",
        "canon_url",
        "domain",
        "n_domain_docs",
        "drank",
        "kept",
    )


q214.__doc__ = q214.__doc__.format(cap=_Q214_CAP)


# ---------------------------------------------------------------------------
# q215 — byte-fallback BPE encode (train split ≠ encode split)
# ---------------------------------------------------------------------------


# Per-doc unique marker word: the shared synthetic vocabulary is tiny
# enough that half the corpus already covers ALL of it, which would
# leave the byte-fallback branch dead; 'w<doc_id>' words are unique by
# construction, so every odd (encode-split) document carries exactly
# one genuinely-OOV token while even (train-split) ids enter the vocab.
_Q215_AUG = (
    "(SELECT doc_id, text || ' w' || CAST(doc_id AS VARCHAR) AS text"
    " FROM documents)"
)



def _q215_oracle(k: int = _Q201_MERGES) -> str:
    parts = _q201_state_chain(k, where=" WHERE doc_id % 2 = 0", source=_Q215_AUG)
    parts.append(
        f"""vocab AS (
  SELECT DISTINCT unnest(string_split(s, ' ')) AS tok FROM s{k}
)"""
    )
    parts.append(
        f"o0 AS (SELECT doc_id, {_NORM_SQL} AS s FROM {_Q215_AUG}"
        " WHERE doc_id % 2 = 1)"
    )
    for r in range(1, k + 1):
        parts.append(
            f"""o{r} AS (
  SELECT doc_id,
         trim(replace(replace(' ' || replace(s, ' ', '  ') || ' ',
              ' ' || replace((SELECT bigram FROM t{r}), ' ', '  ') || ' ',
              ' ' || replace((SELECT bigram FROM t{r}), ' ', '~') || ' '),
              '  ', ' ')) AS s
  FROM o{r - 1}
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
tk AS (
  SELECT doc_id, unnest(string_split(s, ' ')) AS tok FROM o{k}
), j AS (
  SELECT tk.doc_id, tk.tok, (v.tok IS NOT NULL) AS known
  FROM tk LEFT JOIN vocab v ON v.tok = tk.tok
), per AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens_bpe,
         CAST(sum(CASE WHEN known THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
         CAST(sum(CASE WHEN known THEN 1
                  ELSE len(replace(tok, '~', '')) END) AS BIGINT)
           AS n_units
  FROM j GROUP BY doc_id
)
SELECT doc_id, n_tokens_bpe, n_oov, n_units,
       CAST((2000000 * n_units + n_tokens_bpe)
            // (2 * n_tokens_bpe) AS BIGINT) AS expand_micro
FROM per
"""
    )


@register("q215_bpe_byte_fallback", _q215_oracle())
def q215(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-fallback BPE encoding — the real tokenizer contract: the
    merge table is trained on the EVEN-doc_id half of the corpus, the
    ODD half is encoded with it, and any encoded token that never
    occurred in the trained vocabulary (the OOV case q206's same-corpus
    setup cannot exhibit; a per-doc unique marker word 'w<doc_id>' is
    appended on BOTH sides so the encode split genuinely contains OOV
    tokens — see _Q215_AUG) falls back to BYTES — it costs
    len(underlying string) byte units instead of one vocabulary unit,
    exactly as byte-fallback tokenizers (SentencePiece byte_fallback,
    GPT-2 bytes) account it.  Emits per-document vocabulary-token,
    OOV, and final-unit counts plus the integer-pinned expansion ratio.

    Scale: training runs on a sample (here: half the corpus — one
    aggregation job per merge round, operators/lm.bpe_train); the
    encode is ONE row-local nested projection (operators/lm.bpe_apply,
    zero shuffles), and the vocabulary membership join BROADCASTS —
    a trained vocab is bounded by design (|alphabet| + K merges worth
    of token shapes), never corpus-sized."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" w"), F.col("doc_id").cast("string")
        ).alias("text"),
    )
    # q215 trains its OWN tokenizer (augmented even-half corpus)
    # inside this call — per-call training, no cross-query caching
    # (the round-12 gaming audit retired the former session memo).
    train = docs.filter(F.col("doc_id") % 2 == 0)
    table, train_state = bpe_train(
        train, n_merges=_Q201_MERGES, return_state=True
    )
    merges = [
        r["merged_pair"] for r in table.orderBy("merge_rank").collect()
    ]
    # the trainer's final state IS the merged train corpus — extract
    # the vocabulary from it instead of re-running the K-deep rewrite
    vocab = (
        train_state.select(F.explode(F.split("s", " ")).alias("tok"))
        .distinct()
        .withColumn("known", F.lit(True))
        .transform(_pin)
    )
    tok = bpe_apply(docs.filter(F.col("doc_id") % 2 == 1), merges).select(
        "doc_id", F.explode(F.split("s", " ")).alias("tok")
    )
    per = (
        tok.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens_bpe"),
            F.sum(F.when(F.col("known"), 0).otherwise(1))
            .cast("long")
            .alias("n_oov"),
            F.sum(
                F.when(F.col("known"), 1).otherwise(
                    F.length(F.replace(F.col("tok"), F.lit("~"), F.lit("")))
                )
            )
            .cast("long")
            .alias("n_units"),
        )
    )
    return per.select(
        "doc_id",
        "n_tokens_bpe",
        "n_oov",
        "n_units",
        F.expr("(2000000 * n_units + n_tokens_bpe) div (2 * n_tokens_bpe)")
        .cast("long")
        .alias("expand_micro"),
    )


# ---------------------------------------------------------------------------
# q216 — bigram-LM surprisal: statistical text-quality gate
# ---------------------------------------------------------------------------

_Q216_ORACLE = f"""
WITH s AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS l FROM documents
), bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(l) - 1),
                               i -> l[i])) AS a,
         unnest(list_transform(generate_series(1, len(l) - 1),
                               i -> l[i + 1])) AS b
  FROM s WHERE len(l) >= 2
), uni AS (
  SELECT a, CAST(count(*) AS BIGINT) AS ca FROM bg GROUP BY 1
), bi AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS cab FROM bg GROUP BY 1, 2
), scored AS (
  SELECT bg.doc_id,
         CAST(length(bin(uni.ca)) - 1 AS BIGINT)
           - CAST(length(bin(bi.cab)) - 1 AS BIGINT) AS bits
  FROM bg JOIN uni ON uni.a = bg.a
          JOIN bi ON bi.a = bg.a AND bi.b = bg.b
), per AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(bits) AS BIGINT) AS total_bits
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_bigrams, total_bits,
       CAST((2000000 * total_bits + n_bigrams)
            // (2 * n_bigrams) AS BIGINT) AS bits_per_bigram_micro
FROM per
"""


@register("q216_bigram_surprisal", _Q216_ORACLE)
def q216(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KenLM-shaped statistical quality gate: count a bigram language
    model over the corpus (c(a), c(a,b) — two map-side-combined
    aggregations), then score every document's total surprisal
    Σ floor_log2(c(a)) − floor_log2(c(a,b)) ≈ Σ −log2 P(b|a) in whole
    bits.  Repetitive/templated documents (every bigram frequent)
    score near zero bits per bigram; rare constructions score high —
    the standard perplexity-filter signal, here integer-exact in both
    engines via the q204 no-libm floor_log2 = len(bin(k)) − 1, so the
    gate value-hash-verifies instead of chasing libm ULPs.

    Complements q168 (Laplace-smoothed MEAN probability, linear
    domain): q216 is the LOG-domain additive form — surprisal sums
    compose across documents/segments (a packed sequence's bits are
    the sum of its parts, q52), which mean-probability cannot do, and
    whole-bit quantization keeps it exact where q168 pins a rounded
    1e6 ratio.

    Scale: the model is vocabulary²-bounded, not corpus-bounded, but
    NOT driver-bounded — both model sides stay distributed and join
    back to the exploded bigram stream on (a) / (a,b) hash keys; AQE
    broadcasts them when small.  No driver state, no UDFs."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(normalize_text("text"))
    bg = (
        docs.select(F.col("doc_id"), toks.alias("l"))
        .filter(F.size("l") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice(F.col("l"), 1, F.size("l") - 1),
                    F.slice(F.col("l"), 2, F.size("l") - 1),
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    )
    bi = bg.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("cab")
    )
    # c(a) = Σ_b c(a,b) — rolled up from the bigram model rather than a
    # third pass over the exploded corpus: model-sized input, and the
    # whole query reads the corpus exactly twice (model build + score),
    # the train-then-score minimum for this shape.
    uni = bi.groupBy("a").agg(F.sum("cab").cast("long").alias("ca"))
    flog2 = lambda c: (F.length(F.bin(c)) - 1).cast("long")  # noqa: E731
    scored = (
        bg.join(uni, "a")
        .join(bi, ["a", "b"])
        .select("doc_id", (flog2(F.col("ca")) - flog2(F.col("cab"))).alias("bits"))
    )
    per = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("bits").cast("long").alias("total_bits"),
    )
    return per.select(
        "doc_id",
        "n_bigrams",
        "total_bits",
        F.expr("(2000000 * total_bits + n_bigrams) div (2 * n_bigrams)")
        .cast("long")
        .alias("bits_per_bigram_micro"),
    )


# ---------------------------------------------------------------------------
# q217 — tokenizer fertility by language
# ---------------------------------------------------------------------------


def _q217_oracle(k: int = _Q201_MERGES) -> str:
    parts = _q201_state_chain(k)
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
raw AS (
  SELECT doc_id, CAST(len(string_split(s, ' ')) AS BIGINT) AS n FROM s0
), enc AS (
  SELECT doc_id, CAST(len(string_split(s, ' ')) AS BIGINT) AS n FROM s{k}
), per AS (
  SELECT d.lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(raw.n) AS BIGINT) AS n_words,
         CAST(sum(enc.n) AS BIGINT) AS n_tokens
  FROM documents d
  JOIN raw ON raw.doc_id = d.doc_id
  JOIN enc ON enc.doc_id = d.doc_id
  GROUP BY d.lang
)
SELECT lang, n_docs, n_words, n_tokens,
       CAST((2000000 * n_tokens + n_words) // (2 * n_words) AS BIGINT)
         AS tokens_per_word_micro
FROM per
"""
    )


@register("q217_tokenizer_fertility", _q217_oracle())
def q217(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit by language — the standard multilingual
    tokenizer-equity metric: per language, whitespace words vs trained-
    BPE tokens and their integer-pinned ratio.  A vocabulary trained on
    a skewed mix under-merges minority languages (fertility stays near
    1e6 = one token per word) while the dominant language compresses —
    this per-language table is the evidence that drives vocab-size or
    mix decisions before a 100 TB tokenization run.

    Scale: training is the q201 sampled-trainer; the measurement pass
    is ONE row-local projection (raw + encoded token counts from the
    same merge_chain expression, no second corpus scan) folded into a
    |languages|-group aggregate — map-side combined, nothing driver-
    side but the K-row merge table."""
    docs = load_table(spark, sf_dir, "documents")
    # shared trainer (round7_queries.shared_bpe_merges): q201/q206/
    # q217 ship the same tokenizer, each training it in its own call
    merges = shared_bpe_merges(spark, sf_dir)
    norm = normalize_text("text")
    per = (
        docs.select(
            "lang",
            F.size(tokens(norm)).cast("long").alias("w"),
            F.size(tokens(merge_chain(norm, merges))).cast("long").alias("t"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("w").cast("long").alias("n_words"),
            F.sum("t").cast("long").alias("n_tokens"),
        )
    )
    return per.select(
        "lang",
        "n_docs",
        "n_words",
        "n_tokens",
        F.expr("(2000000 * n_tokens + n_words) div (2 * n_words)")
        .cast("long")
        .alias("tokens_per_word_micro"),
    )


# ---------------------------------------------------------------------------
# q218 — matryoshka truncation recall (ANN quality-vs-cost audit)
# ---------------------------------------------------------------------------

_Q218_K = 10
_Q218_DIMS = 16
_Q218_STRIDE = 50

_Q218_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id % {_Q218_STRIDE} = 0
), c AS (
  SELECT vec_id AS nid, embedding::DOUBLE[] AS cv FROM embeddings
), scored AS (
  SELECT query_id, nid,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv))
              * sqrt(list_dot_product(cv, cv))) AS cos_full,
         list_dot_product(qv[1:{_Q218_DIMS}], cv[1:{_Q218_DIMS}])
           / (sqrt(list_dot_product(qv[1:{_Q218_DIMS}], qv[1:{_Q218_DIMS}]))
              * sqrt(list_dot_product(cv[1:{_Q218_DIMS}],
                                      cv[1:{_Q218_DIMS}]))) AS cos_trunc
  FROM q, c WHERE nid <> query_id
), ranked AS (
  SELECT query_id, nid,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_full DESC, nid ASC) AS rf,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_trunc DESC, nid ASC) AS rt
  FROM scored
), hits AS (
  SELECT query_id,
         CAST(sum(CASE WHEN rt <= {_Q218_K} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_overlap
  FROM ranked WHERE rf <= {_Q218_K}
  GROUP BY query_id
)
SELECT query_id, CAST({_Q218_K} AS BIGINT) AS k, n_overlap,
       CAST((2000000 * n_overlap + {_Q218_K})
            // (2 * {_Q218_K}) AS BIGINT) AS recall_micro
FROM hits
"""


@register("q218_matryoshka_recall", _Q218_ORACLE)
def q218(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka/truncation recall audit: for a strided sample of
    query vectors, exact cosine top-{k} over the FULL 64 dimensions vs
    top-{k} over the first {dims} — recall@{k} per query.  This is the
    measurement that decides whether an embedding lake can serve
    truncated vectors (4× cheaper storage/compute) without losing its
    neighbors — run before committing an index layout at 100 TB.

    Scale posture (q27's): the query side is a bounded sample
    (1/{stride} of the corpus here; fixed query budget in production)
    that BROADCASTS; the corpus streams through the scoring projection
    with no corpus-side shuffle — the only exchange is the per-query
    rank, keyed on query_id (cardinality = |sample|).  Both cosines
    come from the same portable IEEE chain (sequential-fold dot, the
    q30 rule), and every emitted column is integer."""
    emb = load_table(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    q = emb.filter(F.col("vec_id") % _Q218_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), as_double.alias("qv")
    )
    c = spread_for_compute(emb).select(
        F.col("vec_id").alias("nid"), as_double.alias("cv")
    )
    qt = F.slice(F.col("qv"), 1, _Q218_DIMS)
    ct = F.slice(F.col("cv"), 1, _Q218_DIMS)
    scored = (
        c.join(F.broadcast(q), F.col("nid") != F.col("query_id"))
        .select(
            "query_id",
            "nid",
            cosine(F.col("qv"), F.col("cv")).alias("cos_full"),
            cosine(qt, ct).alias("cos_trunc"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("cos_full"), F.asc("nid")
    )
    wt = Window.partitionBy("query_id").orderBy(
        F.desc("cos_trunc"), F.asc("nid")
    )
    ranked = scored.select(
        "query_id",
        "nid",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wt).alias("rt"),
    )
    # Intersection WITHOUT a self-join: both rankings live on the SAME
    # (query_id, nid) row, so a neighbor is in both top-K sets iff
    # rf <= K AND rt <= K — one filtered aggregate instead of joining
    # two filtered copies of `ranked` (which would duplicate the whole
    # scoring branch: two BroadcastNestedLoopJoins in the plan).
    hits = (
        ranked.filter(F.col("rf") <= _Q218_K)
        .groupBy("query_id")
        .agg(
            F.sum(F.when(F.col("rt") <= _Q218_K, 1).otherwise(0))
            .cast("long")
            .alias("n_overlap")
        )
    )
    return hits.select(
        "query_id",
        F.lit(_Q218_K).cast("long").alias("k"),
        "n_overlap",
        F.expr(f"(2000000 * n_overlap + {_Q218_K}) div (2 * {_Q218_K})")
        .cast("long")
        .alias("recall_micro"),
    )


q218.__doc__ = q218.__doc__.format(
    k=_Q218_K, dims=_Q218_DIMS, stride=_Q218_STRIDE
)


# ---------------------------------------------------------------------------
# q219 — deterministic mixture schedule (training-order materialization)
# ---------------------------------------------------------------------------

_Q219_ORACLE = """
WITH d AS (
  SELECT doc_id, source, n_chars,
         1 + (CAST(substr(source, 4) AS BIGINT) % 4) AS w
  FROM documents
), r AS (
  SELECT doc_id, source, n_chars, w,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS src_rank
  FROM d
), k AS (
  SELECT doc_id, source, w, src_rank,
         ((2 * src_rank - 1) * 12) // w AS ikey
  FROM r
)
SELECT doc_id, source, CAST(w AS BIGINT) AS w,
       CAST(src_rank AS BIGINT) AS src_rank,
       CAST(ikey AS BIGINT) AS ikey,
       CAST(row_number() OVER (ORDER BY ikey, source, doc_id)
            AS BIGINT) AS pos
FROM k
"""


@register("q219_mixture_schedule", _Q219_ORACLE)
def q219(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-mixing schedule: materialize the GLOBAL
    training order that interleaves sources proportionally to integer
    mixture weights — the step a multi-source pretraining run does
    after per-source filtering (q66/q117 choose HOW MUCH of each
    source; this chooses WHEN each document is seen, so one source
    never monopolizes a training window).  The classic smooth/stride
    interleave: source s's m-th document (by keep-priority) lands at
    virtual time (2m−1)/w_s — here the exact integer key
    (2m−1)·(lcm/w_s), so engines never compare floats.  A source with
    weight 4 appears 4× as often as weight 1 in every schedule prefix
    (±1 boundary effects).

    Scale: per-source ranks and the global order both come from
    the two-phase range exchange of scalable_prefix_sums — NO single-
    partition global window, the q204/q40 rule; the schedule of a
    trillion-document mix sorts across all executors."""
    from ..operators.windows import scalable_prefix_sums

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        "n_chars",
        (1 + (F.substring("source", 4, 10).cast("long") % 4)).alias("w"),
        (-F.col("n_chars")).alias("_nnc"),
    )
    r = scalable_prefix_sums(
        d, ("_nnc", "doc_id"), {"src_rank": F.lit(1)}, part_col="source"
    )
    k = r.select(
        "doc_id",
        "source",
        "w",
        F.col("src_rank").cast("long").alias("src_rank"),
        F.expr("((2 * src_rank - 1) * 12) div w")
        .cast("long")
        .alias("ikey"),
    )
    # global order is ONE group (the q204 rule): no part_col
    sched = scalable_prefix_sums(
        k, ("ikey", "source", "doc_id"), {"pos": F.lit(1)}
    )
    return sched.select(
        "doc_id",
        "source",
        F.col("w").cast("long").alias("w"),
        "src_rank",
        "ikey",
        F.col("pos").cast("long").alias("pos"),
    )


# ---------------------------------------------------------------------------
# q220 — preference-pair Bradley-Terry strength audit
# ---------------------------------------------------------------------------

_Q220_OFFSETS = (1, 3, 7)
_Q220_ITERS = 2
_Q220_SCALE = 10**12


def _q220_oracle() -> str:
    offs = "), (".join(str(k) for k in _Q220_OFFSETS)
    parts = [
        f"""cmp AS (
  SELECT CASE WHEN d1.n_chars >= d2.n_chars THEN d1.source
         ELSE d2.source END AS wsrc,
         CASE WHEN d1.n_chars >= d2.n_chars THEN d2.source
         ELSE d1.source END AS lsrc
  FROM (VALUES ({offs})) o(k)
  JOIN documents d1 ON true
  JOIN documents d2 ON d2.doc_id = d1.doc_id + o.k
  WHERE d1.source <> d2.source
)""",
        """w AS (
  SELECT wsrc AS item, CAST(count(*) AS BIGINT) AS wins
  FROM cmp GROUP BY 1
)""",
        """n AS (
  SELECT least(wsrc, lsrc) AS a, greatest(wsrc, lsrc) AS b,
         CAST(count(*) AS BIGINT) AS n
  FROM cmp GROUP BY 1, 2
)""",
        """items AS (
  SELECT DISTINCT source AS item FROM documents
)""",
        """p0 AS (
  SELECT item, CAST(1000000 AS BIGINT) AS p FROM items
)""",
    ]
    for it in range(1, _Q220_ITERS + 1):
        prev = f"p{it - 1}"
        parts.append(
            f"""t{it} AS (
  SELECT n.a, n.b,
         (2 * n.n * {_Q220_SCALE} + (pa.p + pb.p))
           // (2 * (pa.p + pb.p)) AS t
  FROM n JOIN {prev} pa ON pa.item = n.a
         JOIN {prev} pb ON pb.item = n.b
)"""
        )
        parts.append(
            f"""s{it} AS (
  SELECT item, CAST(sum(t) AS BIGINT) AS s FROM (
    SELECT a AS item, t FROM t{it}
    UNION ALL
    SELECT b AS item, t FROM t{it}
  ) GROUP BY item
)"""
        )
        parts.append(
            f"""p{it} AS (
  SELECT s.item,
         CAST(greatest(1, (2 * coalesce(w.wins, 0) * {_Q220_SCALE} + s.s)
              // (2 * s.s)) AS BIGINT) AS p
  FROM s{it} s LEFT JOIN w ON w.item = s.item
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT i.item AS source,
       coalesce(w.wins, 0) AS wins,
       coalesce(nc.n_comparisons, 0) AS n_comparisons,
       p1.p AS p1_micro, p{_Q220_ITERS}.p AS p{_Q220_ITERS}_micro
FROM items i
LEFT JOIN w ON w.item = i.item
LEFT JOIN (
  SELECT item, CAST(sum(n) AS BIGINT) AS n_comparisons FROM (
    SELECT a AS item, n FROM n
    UNION ALL
    SELECT b AS item, n FROM n
  ) GROUP BY item
) nc ON nc.item = i.item
JOIN p1 ON p1.item = i.item
JOIN p{_Q220_ITERS} ON p{_Q220_ITERS}.item = i.item
"""
    )


@register("q220_bradley_terry", _q220_oracle())
def q220(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-data QA: fit Bradley-Terry strengths to pairwise
    comparisons with the MM update (Hunter 2004) — the audit an RLHF /
    preference-dataset pipeline runs to rank annotators' implied item
    quality and spot inconsistent win matrices.  Comparisons are
    synthesized deterministically (offset doc pairs, longer document
    wins — the q179 pattern; production reads a real preference-pairs
    table and the algebra below is unchanged).

    The MM update p_i ← W_i / Σ_j n_ij/(p_i+p_j) is computed in PURE
    INTEGER arithmetic: every per-pair term n_ij/(p_i+p_j) is pinned to
    pico units with the integer round-half-up rule (2·n·10¹² + d) div
    (2d), then integer-summed (order-free — no float accumulation
    anywhere), and the division W_i/S_i is pinned the same way.  Two
    unrolled iterations, both emitted.  Strengths floor at 1 micro-unit
    (greatest(1, ·)): a winless item would otherwise hit integer p = 0
    and a pair of winless items would divide by zero in the next MM
    round — unreachable on the synthesized comparisons, routine in
    real preference tables.

    Scale: the win matrix build is the only corpus-sized work — one
    map-side-combined aggregate per side; the iteration operates on
    |items| rows (sources/models/annotators — dimension-sized) with
    broadcast joins, K iterations = K tiny jobs."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    right = docs.select(
        F.col("doc_id").alias("r_id"),
        F.col("source").alias("r_source"),
        F.col("n_chars").alias("r_n_chars"),
    )
    cmp_parts = []
    for k in _Q220_OFFSETS:
        cmp_parts.append(
            docs.join(right, F.col("r_id") == F.col("doc_id") + k)
            .filter(F.col("source") != F.col("r_source"))
            .select(
                F.when(
                    F.col("n_chars") >= F.col("r_n_chars"), F.col("source")
                )
                .otherwise(F.col("r_source"))
                .alias("wsrc"),
                F.when(
                    F.col("n_chars") >= F.col("r_n_chars"),
                    F.col("r_source"),
                )
                .otherwise(F.col("source"))
                .alias("lsrc"),
            )
        )
    cmp = cmp_parts[0]
    for part in cmp_parts[1:]:
        cmp = cmp.unionAll(part)
    # ONE corpus-sized aggregate, pinned: wins and the unordered pair
    # matrix are both MARGINALS of the (wsrc, lsrc) directed pair
    # counts (≤|items|² rows). The previous shape aggregated the
    # 3-offset comparison union separately per consumer, and the
    # unrolled MM iterations then re-inlined that whole lineage once
    # per broadcast side per round — the plan carried 294 scans of the
    # documents table for K=2. Now the corpus is read three times
    # (once per offset join side pair), everything downstream reads
    # dimension-sized pins.
    pair_counts = cmp.groupBy("wsrc", "lsrc").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).transform(_pin)
    wins = pair_counts.groupBy(F.col("wsrc").alias("item")).agg(
        F.sum("c").cast("long").alias("wins")
    )
    n = pair_counts.groupBy(
        F.least("wsrc", "lsrc").alias("a"),
        F.greatest("wsrc", "lsrc").alias("b"),
    ).agg(F.sum("c").cast("long").alias("n"))
    # pinned: items seeds p0, whose lineage both broadcast sides of
    # every MM round reference
    items = docs.select(F.col("source").alias("item")).distinct() \
        .transform(_pin)
    p = items.select("item", F.lit(1_000_000).cast("long").alias("p"))

    p_hist = []
    for _ in range(_Q220_ITERS):
        pa = p.select(F.col("item").alias("a"), F.col("p").alias("pa"))
        pb = p.select(F.col("item").alias("b"), F.col("p").alias("pb"))
        terms = (
            n.join(F.broadcast(pa), "a")
            .join(F.broadcast(pb), "b")
            .select(
                "a",
                "b",
                F.expr(
                    f"(2 * n * {_Q220_SCALE} + (pa + pb))"
                    " div (2 * (pa + pb))"
                ).alias("t"),
            )
        )
        s = (
            terms.select(F.col("a").alias("item"), "t")
            .unionAll(terms.select(F.col("b").alias("item"), "t"))
            .groupBy("item")
            .agg(F.sum("t").cast("long").alias("s"))
        )
        # pinned per round (the "K iterations = K tiny jobs" contract
        # this docstring claims): unpinned, round k's two broadcast
        # sides each re-execute round k-1's whole chain — exponential
        # plan growth in K
        p = (
            s.join(F.broadcast(wins), "item", "left")
            .select(
                "item",
                F.expr(
                    f"greatest(1, (2 * coalesce(wins, 0) * {_Q220_SCALE}"
                    " + s) div (2 * s))"
                )
                .cast("long")
                .alias("p"),
            )
            .transform(_pin)
        )
        p_hist.append(p)

    n_comp = (
        n.select(F.col("a").alias("item"), "n")
        .unionAll(n.select(F.col("b").alias("item"), "n"))
        .groupBy("item")
        .agg(F.sum("n").cast("long").alias("n_comparisons"))
    )
    out = (
        items.join(F.broadcast(wins), "item", "left")
        .join(F.broadcast(n_comp), "item", "left")
        .join(
            F.broadcast(p_hist[0].select("item", F.col("p").alias("p1"))),
            "item",
        )
        .join(
            F.broadcast(
                p_hist[-1].select("item", F.col("p").alias("pK"))
            ),
            "item",
        )
    )
    return out.select(
        F.col("item").alias("source"),
        F.coalesce("wins", F.lit(0)).cast("long").alias("wins"),
        F.coalesce("n_comparisons", F.lit(0))
        .cast("long")
        .alias("n_comparisons"),
        F.col("p1").alias("p1_micro"),
        F.col("pK").alias(f"p{_Q220_ITERS}_micro"),
    )


# ---------------------------------------------------------------------------
# q221 — temperature-scaled mixture quotas (alpha-sampling)
# ---------------------------------------------------------------------------

_Q221_TARGET = 200  # total documents the mix may keep

_Q221_ORACLE = f"""
WITH n AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents
  GROUP BY lang
), w AS (
  SELECT lang, n_docs,
         CAST(floor(sqrt(n_docs)) AS BIGINT) AS wt
  FROM n
), tot AS (
  SELECT CAST(sum(wt) AS BIGINT) AS tw FROM w
), quota AS (
  SELECT lang, n_docs, wt,
         least(n_docs,
               (2 * {_Q221_TARGET} * wt + tw) // (2 * tw)) AS quota
  FROM w CROSS JOIN tot
), r AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id ASC) AS rk
  FROM documents
)
SELECT q.lang, q.n_docs, q.wt, CAST(q.quota AS BIGINT) AS quota,
       CAST(sum(CASE WHEN r.rk <= q.quota THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept
FROM quota q JOIN r ON r.lang = q.lang
GROUP BY q.lang, q.n_docs, q.wt, q.quota
"""


@register("q221_temperature_mixture", _Q221_ORACLE)
def q221(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture quotas — the multilingual/multi-source
    α-sampling rule (XLM-R / mT5, α = 1/2): per-LANGUAGE keep quotas
    proportional to n_docs^α, flattening the head so low-resource
    languages are not drowned by the biggest one, then a deterministic
    keep-ranking inside each language (the corpus langs are genuinely skewed —
    en dominates — so the flattening is visible in the output).  Complements q219 (WHEN documents
    are seen) and q214 (per-DOMAIN caps): this sets HOW MANY each
    language contributes.

    Portability: n^(1/2) is the ONE fractional power that is safe
    cross-engine — IEEE sqrt is correctly rounded (unlike ln/exp/pow),
    so floor(sqrt(n)) is the same integer in both engines; quota
    division uses the integer round-half-up rule; everything else is
    counts.  Scale: two aggregations over the corpus (language counts,
    kept counts) and a per-language rank — the language-count frame is
    dimension-sized and broadcasts."""
    from ..operators.windows import scalable_prefix_sums

    docs = load_table(spark, sf_dir, "documents")
    # r12 opt round: pinned eagerly — the |langs|-row count frame
    # otherwise re-ran its corpus aggregate once per consumer (the tw
    # total and the quota broadcast build)
    n = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .transform(_pin)
    )
    w = n.select(
        "lang",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs"))).cast("long").alias("wt"),
    )
    tot = w.agg(F.sum("wt").cast("long").alias("tw"))
    quota = w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "wt",
        F.least(
            F.col("n_docs"),
            F.expr(f"(2 * {_Q221_TARGET} * wt + tw) div (2 * tw)"),
        )
        .cast("long")
        .alias("quota"),
    )
    ranked = scalable_prefix_sums(
        docs.select(
            "doc_id", "lang", (-F.col("n_chars")).alias("_nnc")
        ),
        ("_nnc", "doc_id"),
        {"rk": F.lit(1)},
        part_col="lang",
    )
    return (
        ranked.join(F.broadcast(quota), "lang")
        .groupBy("lang", "n_docs", "wt", "quota")
        .agg(
            F.sum(F.when(F.col("rk") <= F.col("quota"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept")
        )
        .select("lang", "n_docs", "wt", "quota", "n_kept")
    )


# ---------------------------------------------------------------------------
# q223 — Fleiss' kappa inter-annotator agreement
# ---------------------------------------------------------------------------

# Three deterministic synthetic annotators (the q179/q214 pattern —
# derive everything from doc_id/n_chars so both engines build identical
# inputs): the true label is a length bucket, and annotator j flips the
# label up by one (mod 3) on a sparse doc_id-keyed residue, so raters
# mostly agree (kappa lands solidly positive) but not perfectly.
_Q223_PRIMES = (13, 29, 47)
_Q223_R = len(_Q223_PRIMES)

_Q223_LABELS_SQL = " UNION ALL ".join(
    f"""SELECT doc_id,
        ((n_chars // 150) % 3 + CASE WHEN (doc_id * {p}) % 7 = 0
                                     THEN 1 ELSE 0 END) % 3 AS label
        FROM documents"""
    for p in _Q223_PRIMES
)

# Fleiss 1971 with N docs, R raters, n_ij raters assigning doc i to
# category j, C_j = Σ_i n_ij:
#   P̄  = (Σ_ij n_ij² − N·R) / (N·R·(R−1))        X = Σ_ij n_ij²
#   P̄e = Σ_j (C_j/(N·R))²  = Y / (N·R)²          Y = Σ_j C_j²
#   κ  = (P̄ − P̄e)/(1 − P̄e)
#      = [(X − N·R)·N·R − Y·(R−1)] / [(R−1)·((N·R)² − Y)]
# — one exact integer ratio, pinned to micro units sign-safely.
_Q223_ORACLE = f"""
WITH labels AS ({_Q223_LABELS_SQL}
), nij AS (
  SELECT doc_id, label, CAST(count(*) AS BIGINT) AS c
  FROM labels GROUP BY doc_id, label
), x AS (
  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n,
         CAST(sum(c * c) AS BIGINT) AS x
  FROM nij
), cj AS (
  SELECT label, CAST(sum(c) AS BIGINT) AS cj FROM nij GROUP BY label
), y AS (
  SELECT CAST(sum(cj * cj) AS BIGINT) AS y,
         CAST(sum(CASE WHEN label = 0 THEN cj ELSE 0 END) AS BIGINT) AS c0,
         CAST(sum(CASE WHEN label = 1 THEN cj ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN label = 2 THEN cj ELSE 0 END) AS BIGINT) AS c2
  FROM cj
), k AS (
  SELECT n, x, y, c0, c1, c2,
         (x - n * {_Q223_R}) * n * {_Q223_R}
           - y * {_Q223_R - 1} AS knum,
         {_Q223_R - 1} * (n * n * {_Q223_R * _Q223_R} - y) AS kden
  FROM x CROSS JOIN y
)
SELECT n AS n_docs, CAST({_Q223_R} AS BIGINT) AS n_raters,
       c0, c1, c2,
       CAST((2000000 * (x - n * {_Q223_R})
             + n * {_Q223_R * (_Q223_R - 1)})
            // (2 * n * {_Q223_R * (_Q223_R - 1)}) AS BIGINT)
         AS pbar_micro,
       CAST((2000000 * y + n * n * {_Q223_R * _Q223_R})
            // (2 * n * n * {_Q223_R * _Q223_R}) AS BIGINT)
         AS pe_micro,
       CAST(CASE WHEN knum >= 0
                 THEN (2000000 * knum + kden) // (2 * kden)
                 ELSE -((2000000 * (-knum) + kden) // (2 * kden))
            END AS BIGINT) AS kappa_micro
FROM k
"""


@register("q223_fleiss_kappa", _Q223_ORACLE)
def q223(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa (1971) — THE inter-annotator-agreement statistic a
    labeling/RLHF pipeline reports before trusting human (or LLM-judge)
    labels: chance-corrected agreement for R raters × N subjects ×
    categorical labels.  Three deterministic synthetic annotators label
    every document (true label = length bucket; each rater flips on its
    own sparse doc_id residue), and κ = (P̄−P̄e)/(1−P̄e) reduces to ONE
    exact integer ratio [(X−NR)·NR − Y·(R−1)] / [(R−1)((NR)²−Y)] with
    X = Σn_ij², Y = ΣC_j² — integer-exact end to end, pinned to micro
    units with a sign-safe half-away rule (κ can be negative for
    worse-than-chance raters, so the nonneg round-half-up rule alone
    would be wrong).

    Scale: the label stream is (N·R) rows; n_ij is one map-side-combined
    aggregation keyed (doc, label); everything after is
    category-cardinality-sized (here 3 rows) — no window, no driver
    state.  Complements q24 (lang-id confusion matrix: rater-vs-truth)
    — kappa needs no ground truth, only rater-vs-rater consistency."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    d, nc = F.col("doc_id"), F.col("n_chars")
    labels = docs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    (
                        F.expr("n_chars div 150") % 3
                        + F.when((d * p) % 7 == 0, 1).otherwise(0)
                    )
                    % 3
                    for p in _Q223_PRIMES
                ]
            )
        ).alias("label"),
    )
    nij = labels.groupBy("doc_id", "label").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    x = nij.agg(
        F.count_distinct("doc_id").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("x"),
    )
    cj = nij.groupBy("label").agg(F.sum("c").cast("long").alias("cj"))
    y = cj.agg(
        F.sum(F.col("cj") * F.col("cj")).cast("long").alias("y"),
        F.sum(F.when(F.col("label") == 0, F.col("cj")).otherwise(0))
        .cast("long")
        .alias("c0"),
        F.sum(F.when(F.col("label") == 1, F.col("cj")).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("label") == 2, F.col("cj")).otherwise(0))
        .cast("long")
        .alias("c2"),
    )
    r, r1 = _Q223_R, _Q223_R - 1
    k = x.crossJoin(F.broadcast(y)).select(
        "*",
        F.expr(f"(x - n * {r}) * n * {r} - y * {r1}").alias("knum"),
        F.expr(f"{r1} * (n * n * {r * r} - y)").alias("kden"),
    )
    return k.select(
        F.col("n").alias("n_docs"),
        F.lit(r).cast("long").alias("n_raters"),
        "c0",
        "c1",
        "c2",
        F.expr(
            f"(2000000 * (x - n * {r}) + n * {r * r1})"
            f" div (2 * n * {r * r1})"
        )
        .cast("long")
        .alias("pbar_micro"),
        F.expr(
            f"(2000000 * y + n * n * {r * r})"
            f" div (2 * n * n * {r * r})"
        )
        .cast("long")
        .alias("pe_micro"),
        F.expr(
            "CASE WHEN knum >= 0"
            " THEN (2000000 * knum + kden) div (2 * kden)"
            " ELSE -((2000000 * (-knum) + kden) div (2 * kden)) END"
        )
        .cast("long")
        .alias("kappa_micro"),
    )


# ---------------------------------------------------------------------------
# q224 — triangle counting / global clustering via degree orientation
# ---------------------------------------------------------------------------

_Q224_CAP = 8  # per-part supplier fan-out cap (hub bound)
_Q224_SUPPORT = 2  # min shared parts per edge (co-occurrence noise gate)

_Q224_ORACLE = f"""
WITH ps AS (
  SELECT l_partkey AS p, l_suppkey AS s,
         CAST(count(*) AS BIGINT) AS n_items
  FROM lineitem GROUP BY 1, 2
), ranked AS (
  SELECT p, s, row_number() OVER (PARTITION BY p
                                  ORDER BY n_items DESC, s ASC) AS rk
  FROM ps
), capped AS (
  SELECT p, s FROM ranked WHERE rk <= {_Q224_CAP}
), edges AS (
  SELECT a.s AS s1, b.s AS s2
  FROM capped a JOIN capped b ON a.p = b.p AND a.s < b.s
  GROUP BY 1, 2 HAVING count(*) >= {_Q224_SUPPORT}
), deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT s1 AS v FROM edges UNION ALL SELECT s2 FROM edges)
  GROUP BY v
), oriented AS (
  SELECT CASE WHEN d1.d <= d2.d THEN e.s1 ELSE e.s2 END AS u,
         CASE WHEN d1.d <= d2.d THEN e.s2 ELSE e.s1 END AS v,
         CASE WHEN d1.d <= d2.d THEN d2.d ELSE d1.d END AS dv
  FROM edges e JOIN deg d1 ON d1.v = e.s1 JOIN deg d2 ON d2.v = e.s2
), tri AS (
  SELECT CAST(count(*) AS BIGINT) AS t
  FROM oriented o1
  JOIN oriented o2 ON o1.u = o2.u
       AND (o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v))
  JOIN oriented o3 ON o3.u = o1.v AND o3.v = o2.v
), stats AS (
  SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
         CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
         CAST((SELECT sum(d * (d - 1) // 2) FROM deg) AS BIGINT)
           AS n_wedges,
         (SELECT t FROM tri) AS n_triangles
)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       CAST((2000000 * 3 * n_triangles + n_wedges) // (2 * n_wedges)
            AS BIGINT) AS gcc_micro
FROM stats
"""


@register("q224_triangle_count", _Q224_ORACLE)
def q224(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + global clustering coefficient via DEGREE
    ORIENTATION (the node-iterator++ / Latapy bound: orient every edge
    from the (degree, id)-smaller endpoint to the larger, and every
    triangle is counted exactly once with per-node out-degree bounded
    by O(√m) — the join fan-out that makes distributed triangle
    counting feasible at 100 TB, vs the unbounded hub wedges of the
    naive undirected join).  Graph: suppliers co-supplying a part
    (distinct lineitem part→supplier pairs), with a per-part top-{cap}
    fan-out cap (by item count, supplier tie-break) — the standard
    hub-cap that keeps co-occurrence pair generation linear in the
    bipartite input rather than quadratic in a mega-part's supplier
    list — plus an edge support gate (≥ {sup} shared parts), the usual
    co-occurrence noise filter; wedge volume grows with the SQUARE of
    graph density, so the gate also cuts the dominant join cost ~3×.
    gcc = 3·triangles / wedges, pinned to micro units.

    Scale: pair generation is per-part bounded (≤ C({cap},2) pairs per
    part); orientation compares (deg, id) tuples carried ON the edge
    rows, so no global node renumbering (and no single-partition
    window) is ever built; triangles close by intersecting SORTED
    out-neighbor arrays per edge (edge-iterator) — the frame stays
    |E| rows with O(√m)-bounded arrays instead of the Σ d_out²
    wedge-row blowup of the join formulation.  All integer."""
    li = load_table(spark, sf_dir, "lineitem")

    ps = li.groupBy(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_items"))
    # p is HIGH-cardinality (parts ~ 20k/SF), so a plain hash-partitioned
    # window is the right rank plan here — the two-phase
    # grouped prefix-sum machinery exists for LOW-cardinality keys and
    # costs an extra range exchange this key does not need (measured
    # ~3.5 s of the query at sf0.1).
    w = Window.partitionBy("p").orderBy(
        F.col("n_items").desc(), F.col("s").asc()
    )
    capped = (
        ps.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _Q224_CAP)
        .select("p", "s")
    )
    a, b = capped.alias("a"), capped.alias("b")
    # edges feeds FOUR consumers (both arms of the degree union, the
    # orientation join, the n_edges count) — unpinned, the whole
    # pair-generation subtree (scan → cap window → self-join →
    # support aggregate) was re-inlined at every reference: the
    # formatted plan carried 260 Exchange nodes (r12 opt). One eager
    # materialization; every consumer reads the cache.
    edges = (
        a.join(
            b,
            (F.col("a.p") == F.col("b.p"))
            & (F.col("a.s") < F.col("b.s")),
        )
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(F.count(F.lit(1)).alias("_sup"))
        .filter(F.col("_sup") >= _Q224_SUPPORT)
        .select("s1", "s2")
        .transform(_pin)
    )
    # deg is VERTEX state (suppliers) — the pagerank broadcast_vertices
    # posture: below ~5M nodes both endpoint joins broadcast it and
    # the edge frame never crosses an exchange; above, shuffled joins
    # (the honest Pregel regime). Lazy checkpoint: the mode-deciding
    # count is the materializing action.
    deg = (
        edges.select(F.col("s1").alias("v"))
        .unionAll(edges.select(F.col("s2").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .transform(_pin_lazy)
    )
    hint = F.broadcast if deg.count() <= 5_000_000 else (lambda df: df)
    ed = (
        edges.join(
            hint(deg.select(F.col("v").alias("s1"), F.col("d").alias("d1"))),
            "s1",
        )
        .join(
            hint(deg.select(F.col("v").alias("s2"), F.col("d").alias("d2"))),
            "s2",
        )
    )
    keep = F.col("d1") <= F.col("d2")
    oriented = ed.select(
        F.when(keep, F.col("s1")).otherwise(F.col("s2")).alias("u"),
        F.when(keep, F.col("s2")).otherwise(F.col("s1")).alias("v"),
    )
    # Edge-iterator with adjacency intersection: a triangle a≺b≺c (in
    # (deg, id) orientation order) is found exactly once on its base
    # edge (a, b) as c ∈ N_out(a) ∩ N_out(b).  Materializing sorted
    # out-neighbor ARRAYS (≤ O(√m) long under degree orientation) and
    # intersecting per edge keeps the frame |E|-rows wide — the wedge
    # JOIN formulation would materialize Σ d_out² rows (tens of
    # millions on a dense co-occurrence graph) only to filter most
    # away.
    # adj is consumed by BOTH sides of the closing join — pin the
    # aggregate once (|V| rows, O(√m) arrays — a persistable vertex
    # frame) instead of running the collect_list exchange twice.
    adj = (
        oriented.groupBy("u")
        .agg(F.array_sort(F.collect_list("v")).alias("nb"))
        .transform(_pin)
    )
    tri = (
        oriented.join(
            adj.select(F.col("u"), F.col("nb").alias("nb_u")), "u"
        )
        .join(
            adj.select(
                F.col("u").alias("v"), F.col("nb").alias("nb_v")
            ),
            "v",
            "left",
        )
        .agg(
            F.sum(
                F.when(F.col("nb_v").isNull(), 0).otherwise(
                    F.size(F.array_intersect("nb_u", "nb_v"))
                )
            )
            .cast("long")
            .alias("t")
        )
    )
    stats = (
        deg.agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum(F.expr("d * (d - 1) div 2")).cast("long").alias("n_wedges"),
        )
        .crossJoin(
            F.broadcast(
                edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
            )
        )
        .crossJoin(F.broadcast(tri))
    )
    return stats.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        F.col("t").alias("n_triangles"),
        F.expr("(2000000 * 3 * t + n_wedges) div (2 * n_wedges)")
        .cast("long")
        .alias("gcc_micro"),
    )


q224.__doc__ = q224.__doc__.format(cap=_Q224_CAP, sup=_Q224_SUPPORT)


# ---------------------------------------------------------------------------
# q225 — content-defined chunking (CDC) + chunk-store dedup audit
# ---------------------------------------------------------------------------

# Boundary rule: a chunk ends at token e when the rolling 2-token
# window hash md5(l[e-1] || ' ' || l[e]) has a final hex digit in 0-3 —
# divisor 4, expected chunk length 4 tokens.  md5 and 1-based substr
# are bit-identical cross-engine (the q209 rule).
_Q225_BOUNDARY = ("0", "1", "2", "3")
_Q225_B_SQL = ", ".join(f"'{c}'" for c in _Q225_BOUNDARY)

_Q225_ORACLE = f"""
WITH s AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS l FROM documents
), d AS (
  SELECT doc_id, l, CAST(len(l) AS BIGINT) AS n,
         list_sort(list_distinct(
           list_filter(generate_series(2, len(l)),
             e -> substr(md5(l[e - 1] || ' ' || l[e]), 32, 1)
                  IN ({_Q225_B_SQL})) || [len(l)])) AS ends
  FROM s WHERE len(l) >= 2
), ch AS (
  SELECT doc_id, n,
         unnest(list_transform(generate_series(1, len(ends)),
           k -> array_to_string(
                  list_slice(l, coalesce(ends[k - 1], 0) + 1, ends[k]),
                  ' '))) AS chunk
  FROM d
), store AS (
  SELECT chunk, CAST(count(*) AS BIGINT) AS cnt FROM ch GROUP BY chunk
), per AS (
  SELECT ch.doc_id, max(ch.n) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_chunks,
         CAST(sum(CASE WHEN store.cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared
  FROM ch JOIN store USING (chunk)
  GROUP BY ch.doc_id
)
SELECT doc_id, n_tokens, n_chunks, n_shared,
       CAST((2000000 * n_tokens + n_chunks) // (2 * n_chunks) AS BIGINT)
         AS avg_chunk_micro,
       CAST((2000000 * n_shared + n_chunks) // (2 * n_chunks) AS BIGINT)
         AS shared_micro
FROM per
"""


@register("q225_cdc_chunking", _Q225_ORACLE)
def q225(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the LBFS / FastCDC storage-dedup
    primitive, here at token granularity): a chunk boundary falls
    wherever the rolling 2-token window hash lands in a fixed residue
    class (divisor 4 → expected 4-token chunks), so boundaries move
    WITH the content — an insertion shifts at most the chunk it lands
    in, unlike fixed-stride splitting (q59) where one insertion
    reflows every later chunk.  Every chunk is then looked up in the
    corpus-wide chunk store; per document the audit reports how many of
    its chunk instances are shared (content seen ≥ 2 times anywhere) —
    the dedup-ratio estimate a chunk-level storage/training-corpus
    pipeline computes before committing to chunked storage.

    Entirely row-local until the chunk-store aggregation: the ends
    array and the chunk strings are whole-array ops over the staged
    token attribute (the q209 staging rule); the store is one
    map-side-combined groupBy on the chunk string and joins back on the
    same key — at 100 TB both sides hash-partition on chunk content
    (the dedup key), and md5 is the 128-bit collision-safe identity."""
    docs = spread_for_compute(load_table(spark, sf_dir, "documents"))
    staged = (
        docs.select("doc_id", tokens(normalize_text("text")).alias("l"))
        .filter(F.size("l") >= 2)
        .select("doc_id", "l", F.size("l").cast("long").alias("n"))
    )
    bset = F.array(*[F.lit(c) for c in _Q225_BOUNDARY])
    ends = F.array_sort(
        F.array_distinct(
            F.concat(
                F.filter(
                    F.sequence(F.lit(2), F.col("n").cast("int")),
                    lambda e: F.array_contains(
                        bset,
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    " ",
                                    F.element_at(F.col("l"), e - 1),
                                    F.element_at(F.col("l"), e),
                                )
                            ),
                            32,
                            1,
                        ),
                    ),
                ),
                F.array(F.col("n").cast("int")),
            )
        )
    )
    chunks = staged.withColumn("ends", ends).select(
        "doc_id",
        "n",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ends")),
                lambda k: F.concat_ws(
                    " ",
                    F.slice(
                        F.col("l"),
                        F.coalesce(F.get(F.col("ends"), k - 2), F.lit(0))
                        + 1,
                        F.element_at(F.col("ends"), k)
                        - F.coalesce(
                            F.get(F.col("ends"), k - 2), F.lit(0)
                        ),
                    ),
                ),
            )
        ).alias("chunk"),
    )
    store = chunks.groupBy("chunk").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    per = (
        chunks.join(store, "chunk")
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("cnt") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_shared"),
        )
    )
    return per.select(
        "doc_id",
        "n_tokens",
        "n_chunks",
        "n_shared",
        F.expr("(2000000 * n_tokens + n_chunks) div (2 * n_chunks)")
        .cast("long")
        .alias("avg_chunk_micro"),
        F.expr("(2000000 * n_shared + n_chunks) div (2 * n_chunks)")
        .cast("long")
        .alias("shared_micro"),
    )


# ---------------------------------------------------------------------------
# q227 — Gini coefficient of the token distribution (corpus concentration)
# ---------------------------------------------------------------------------

_Q227_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split({_NORM_SQL}, ' ')) AS w FROM documents
), c AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w
), r AS (
  SELECT c, row_number() OVER (ORDER BY c ASC, w ASC) AS i FROM c
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS t,
         CAST(sum(i * c) AS BIGINT) AS s
  FROM r
)
SELECT n AS n_terms, t AS total_tokens,
       CAST((2000000 * (2 * s - (n + 1) * t) + n * t) // (2 * n * t)
            AS BIGINT) AS gini_micro
FROM s
"""


@register("q227_token_gini", _Q227_ORACLE)
def q227(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the corpus token-frequency distribution —
    the concentration audit that complements q204's Zipf slope: Gini =
    (2·Σᵢ i·cᵢ − (n+1)·Σc) / (n·Σc) over counts sorted ascending, 0 =
    perfectly uniform vocabulary use, →1 = a handful of tokens dominate
    (a skew warning for tokenizer training and mixture design).
    Integer-exact: counts, ranks, and one pinned micro ratio; the rank
    is tie-invariant (equal counts commute in Σ i·cᵢ), so the word
    tie-break affects nothing.

    Scale: the ranked frame is VOCABULARY-sized (≈10⁵-10⁶ terms at
    100 TB), not corpus-sized — and even that dimension frame never
    funnels into one task: the global position comes from the
    range-exchange two-phase row number (operators/windows), so the
    only sorts are per-partition."""
    from ..operators.windows import scalable_prefix_sums

    docs = load_table(spark, sf_dir, "documents")
    c = (
        docs.select(
            F.explode(tokens(normalize_text("text"))).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    r = scalable_prefix_sums(c, ("c", "w"), {"i": F.lit(1)}).select(
        "c", F.col("i").cast("long").alias("i")
    )
    s = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("t"),
        F.sum(F.col("i") * F.col("c")).cast("long").alias("s"),
    )
    return s.select(
        F.col("n").alias("n_terms"),
        F.col("t").alias("total_tokens"),
        F.expr(
            "(2000000 * (2 * s - (n + 1) * t) + n * t) div (2 * n * t)"
        )
        .cast("long")
        .alias("gini_micro"),
    )


# ---------------------------------------------------------------------------
# q229 — Chao1 vocabulary-richness estimate (unseen n-grams remaining)
# ---------------------------------------------------------------------------

_Q229_ORACLE = f"""
WITH s AS (
  SELECT lang, string_split({_NORM_SQL}, ' ') AS l FROM documents
), tg AS (
  SELECT lang,
         unnest(list_transform(generate_series(1, len(l) - 2),
                i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2])) AS t
  FROM s WHERE len(l) >= 3
), c AS (
  SELECT lang, t, CAST(count(*) AS BIGINT) AS c FROM tg GROUP BY 1, 2
), r AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS s_obs,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
         CAST(sum(c) AS BIGINT) AS n_ngrams
  FROM c GROUP BY lang
), est AS (
  SELECT lang, s_obs, f1, f2, n_ngrams,
         1000000 * s_obs
           + (2000000 * f1 * (f1 - 1) + 2 * (f2 + 1))
             // (4 * (f2 + 1)) AS chao1_micro
  FROM r
)
SELECT lang, s_obs, f1, f2, n_ngrams,
       CAST(chao1_micro AS BIGINT) AS chao1_micro,
       CAST((2000000 * (1000000 * s_obs) + chao1_micro)
            // (2 * chao1_micro) AS BIGINT) AS coverage_micro
FROM est
"""


@register("q229_chao1_richness", _Q229_ORACLE)
def q229(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 species-richness estimator (Chao 1984; the standard
    unseen-vocabulary planner) per language over token TRIGRAMS: from
    the singleton/doubleton counts of the frequency spectrum, estimate
    the TRUE vocabulary size chao1 = S_obs + f1(f1−1)/(2(f2+1)) (the
    bias-corrected form, defined at f2 = 0) and the coverage S_obs /
    chao1 — the number a corpus-collection effort checks to decide
    whether more crawling will still surface new constructions.
    Integer-exact: counts, one pinned division for the correction term
    and one for coverage (both non-negative).  BIGINT headroom: the
    coverage pin computes 2·10⁶·(10⁶·S_obs), safe through vocabularies
    of ~10⁶ types; a larger type space pins coverage at 10³ scale
    instead.

    Scale: the frequency spectrum is one map-side-combined groupBy on
    (lang, trigram) followed by a vocabulary-sized re-aggregation to
    (f1, f2, S) per language — the corpus is read once, nothing after
    the first aggregation exceeds vocabulary cardinality."""
    docs = load_table(spark, sf_dir, "documents")
    tg = (
        docs.select("lang", tokens(normalize_text("text")).alias("l"))
        .filter(F.size("l") >= 3)
        .select(
            "lang",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("l") - 2),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("l"), i),
                        F.element_at(F.col("l"), i + 1),
                        F.element_at(F.col("l"), i + 2),
                    ),
                )
            ).alias("t"),
        )
    )
    c = tg.groupBy("lang", "t").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    r = c.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("s_obs"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("long")
        .alias("f2"),
        F.sum("c").cast("long").alias("n_ngrams"),
    )
    est = r.withColumn(
        "chao1_micro",
        F.expr(
            "1000000 * s_obs"
            " + (2000000 * f1 * (f1 - 1) + 2 * (f2 + 1))"
            "   div (4 * (f2 + 1))"
        ).cast("long"),
    )
    return est.select(
        "lang",
        "s_obs",
        "f1",
        "f2",
        "n_ngrams",
        "chao1_micro",
        F.expr(
            "(2000000 * (1000000 * s_obs) + chao1_micro)"
            " div (2 * chao1_micro)"
        )
        .cast("long")
        .alias("coverage_micro"),
    )


# ---------------------------------------------------------------------------
# q230 — Good–Turing frequency smoothing audit
# ---------------------------------------------------------------------------

_Q230_RMAX = 5

_Q230_ORACLE = f"""
WITH s AS (
  SELECT string_split({_NORM_SQL}, ' ') AS l FROM documents
), tg AS (
  SELECT unnest(list_transform(generate_series(1, len(l) - 2),
                i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2])) AS t
  FROM s WHERE len(l) >= 3
), c AS (
  SELECT t, CAST(count(*) AS BIGINT) AS c FROM tg GROUP BY t
), spec AS (
  SELECT c AS r, CAST(count(*) AS BIGINT) AS f
  FROM c GROUP BY c
), tot AS (
  SELECT CAST(sum(r * f) AS BIGINT) AS n,
         CAST(sum(CASE WHEN r = 1 THEN f ELSE 0 END) AS BIGINT) AS f1
  FROM spec
)
SELECT a.r, a.f AS f_r, COALESCE(b.f, 0) AS f_next,
       CAST((2000000 * (a.r + 1) * COALESCE(b.f, 0) + a.f)
            // (2 * a.f) AS BIGINT) AS r_star_micro,
       tot.n AS n_ngrams,
       CAST((2000000 * tot.f1 + tot.n) // (2 * tot.n) AS BIGINT)
         AS p0_micro
FROM spec a LEFT JOIN spec b ON b.r = a.r + 1 CROSS JOIN tot
WHERE a.r <= {_Q230_RMAX}
"""


@register("q230_good_turing", _Q230_ORACLE)
def q230(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good–Turing frequency smoothing audit (Good 1953; the classic
    language-model discount): for each low frequency class r ≤
    {rmax}, the smoothed count r* = (r+1)·f_(r+1)/f_r, plus the
    unseen-probability mass p₀ = f₁/N — the numbers an n-gram LM
    (Katz backoff, simple GT) derives before assigning probability to
    events never seen in training.  Complements q229 (same frequency
    spectrum, the richness question) and q216 (the per-document
    surprisal question): this is the SMOOTHING question — how much
    probability must be reserved for the unseen.  Integer-exact:
    the spectrum is counts-of-counts, r* and p₀ pin with the
    round-half-up rule on non-negative operands.

    Scale: two nested map-side-combined aggregations (corpus →
    trigram counts → counts-of-counts); the spectrum frame is at most
    max-frequency rows — effectively constant — and the class join is
    a self-join on r+1 over that constant frame."""
    docs = load_table(spark, sf_dir, "documents")
    tg = (
        docs.select(tokens(normalize_text("text")).alias("l"))
        .filter(F.size("l") >= 3)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("l") - 2),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("l"), i),
                        F.element_at(F.col("l"), i + 1),
                        F.element_at(F.col("l"), i + 2),
                    ),
                )
            ).alias("t")
        )
    )
    c = tg.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("c"))
    spec = c.groupBy(F.col("c").alias("r")).agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    tot = spec.agg(
        F.sum(F.col("r") * F.col("f")).cast("long").alias("n"),
        F.sum(F.when(F.col("r") == 1, F.col("f")).otherwise(0))
        .cast("long")
        .alias("f1"),
    )
    nxt = spec.select(
        (F.col("r") - 1).alias("r"), F.col("f").alias("f_next")
    )
    return (
        spec.filter(F.col("r") <= _Q230_RMAX)
        .join(F.broadcast(nxt), "r", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "r",
            F.col("f").alias("f_r"),
            F.coalesce("f_next", F.lit(0)).cast("long").alias("f_next"),
            F.expr(
                "(2000000 * (r + 1) * coalesce(f_next, 0) + f)"
                " div (2 * f)"
            )
            .cast("long")
            .alias("r_star_micro"),
            F.col("n").alias("n_ngrams"),
            F.expr("(2000000 * f1 + n) div (2 * n)")
            .cast("long")
            .alias("p0_micro"),
        )
    )


q230.__doc__ = q230.__doc__.format(rmax=_Q230_RMAX)


# ---------------------------------------------------------------------------
# q231 — distinct-n diversity ratios per source
# ---------------------------------------------------------------------------

_Q231_ORACLE = f"""
WITH s AS (
  SELECT source, string_split({_NORM_SQL}, ' ') AS l FROM documents
), grams AS (
  SELECT source, n, g FROM (
    SELECT source, 1 AS n, unnest(l) AS g FROM s
    UNION ALL
    SELECT source, 2 AS n,
           unnest(list_transform(generate_series(1, len(l) - 1),
                  i -> l[i] || ' ' || l[i + 1])) AS g
    FROM s WHERE len(l) >= 2
    UNION ALL
    SELECT source, 3 AS n,
           unnest(list_transform(generate_series(1, len(l) - 2),
                  i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2])) AS g
    FROM s WHERE len(l) >= 3
  )
), agg AS (
  SELECT source, n,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(count(DISTINCT g) AS BIGINT) AS n_distinct
  FROM grams GROUP BY source, n
)
SELECT source, CAST(n AS BIGINT) AS n, n_grams, n_distinct,
       CAST((2000000 * n_distinct + n_grams) // (2 * n_grams)
            AS BIGINT) AS distinct_micro
FROM agg
"""


@register("q231_distinct_n", _Q231_ORACLE)
def q231(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n diversity (Li et al. 2016 — the standard
    text-generation diversity metric, equally used as a corpus
    repetitiveness gate): per source and n ∈ {{1,2,3}}, the ratio of
    DISTINCT n-grams to total n-grams.  Templated or model-generated
    text collapses distinct-2/distinct-3 toward 0 while natural text
    stays high — the per-SOURCE grain makes it the triage view for
    which ingest feed went degenerate.  Complements q58 (repetition
    signals WITHIN a document) and q216 (corpus-model surprisal): this
    is the source-level distinct-type budget.  Integer-exact: counts
    and one pinned ratio.

    Scale: one corpus scan explodes all three gram orders in a single
    union (the n-gram arrays are row-local transforms of the staged
    token attribute); count(DISTINCT) per (source, n) is the only
    shuffle — partial-aggregated on (source, n, gram) before the
    distinct count, never a window."""
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "source", tokens(normalize_text("text")).alias("l")
    )

    def grams(order: int) -> DataFrame:
        gram = (
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("l") - (order - 1)),
                    lambda i: F.concat_ws(
                        " ",
                        *[
                            F.element_at(F.col("l"), i + off)
                            for off in range(order)
                        ],
                    ),
                )
            )
            if order > 1
            else F.explode("l")
        )
        return staged.filter(F.size("l") >= order).select(
            "source", F.lit(order).cast("long").alias("n"), gram.alias("g")
        )

    allg = grams(1).unionAll(grams(2)).unionAll(grams(3))
    agg = allg.groupBy("source", "n").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.count_distinct("g").cast("long").alias("n_distinct"),
    )
    return agg.select(
        "source",
        "n",
        "n_grams",
        "n_distinct",
        F.expr("(2000000 * n_distinct + n_grams) div (2 * n_grams)")
        .cast("long")
        .alias("distinct_micro"),
    )


# ---------------------------------------------------------------------------
# q232 — self-BLEU-2 (per-document modified bigram precision vs corpus)
# ---------------------------------------------------------------------------

# Clipping needs, per bigram g: the max per-doc count m1, HOW MANY docs
# attain it, and the runner-up m2 — then the reference cap for doc d is
# m1 unless d is the UNIQUE argmax, in which case m2.  All integer.
_Q232_ORACLE = f"""
WITH s AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS l FROM documents
), bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(l) - 1),
                i -> l[i] || ' ' || l[i + 1])) AS g
  FROM s WHERE len(l) >= 2
), dc AS (
  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
  FROM bg GROUP BY doc_id, g
), ref AS (
  SELECT g,
         CAST(max(c) AS BIGINT) AS m1,
         CAST(sum(CASE WHEN c = (SELECT max(c) FROM dc i
                                 WHERE i.g = dc.g) THEN 1 ELSE 0 END)
              AS BIGINT) AS n_at_m1,
         CAST(coalesce(max(CASE WHEN c < (SELECT max(c) FROM dc i
                                          WHERE i.g = dc.g)
                            THEN c END), 0) AS BIGINT) AS m2
  FROM dc GROUP BY g
), clipped AS (
  SELECT dc.doc_id,
         CAST(sum(dc.c) AS BIGINT) AS n_bigrams,
         CAST(sum(least(dc.c,
                        CASE WHEN dc.c = ref.m1 AND ref.n_at_m1 = 1
                             THEN ref.m2 ELSE ref.m1 END))
              AS BIGINT) AS n_clipped
  FROM dc JOIN ref USING (g)
  GROUP BY dc.doc_id
)
SELECT doc_id, n_bigrams, n_clipped,
       CAST((2000000 * n_clipped + n_bigrams) // (2 * n_bigrams)
            AS BIGINT) AS selfbleu2_micro
FROM clipped
"""


@register("q232_self_bleu2", _Q232_ORACLE)
def q232(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-BLEU-2 (Zhu et al. 2018, Texygen — the standard
    corpus-diversity metric for generated text): each document's
    MODIFIED bigram precision against every OTHER document as
    reference — Σ_g min(c_d(g), max_(d'≠d) c_d'(g)) / Σ_g c_d(g).
    High self-BLEU = the corpus repeats itself (mode collapse in
    generated data, boilerplate in crawls); no brevity penalty (the
    reference set is the whole corpus, length mismatch is meaningless).
    The leave-one-out max is computed WITHOUT a per-doc loop: per
    bigram keep (m1, #docs at m1, m2) — the cap for doc d is m1 unless
    d is the UNIQUE argmax, else m2.  Integer-exact end to end.

    Scale: two map-side-combined aggregations (per-doc-per-gram counts,
    then the gram-level (m1, n@m1, m2) frame — vocabulary²-bounded,
    not corpus-bounded) and one hash join back on g; no windows, no
    driver state, no quadratic doc×doc comparison anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    bg = (
        docs.select("doc_id", tokens(normalize_text("text")).alias("l"))
        .filter(F.size("l") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice(F.col("l"), 1, F.size("l") - 1),
                    F.slice(F.col("l"), 2, F.size("l") - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ).alias("g"),
        )
    )
    dc = bg.groupBy("doc_id", "g").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    # (m1, n@m1, m2) per gram without a window: a first max pass over
    # the per-doc counts, broadcast back onto the same grouped frame —
    # both aggregations map-side combine, and no partition-by-gram
    # window ever materializes.
    m1 = dc.groupBy("g").agg(F.max("c").cast("long").alias("m1"))
    ref = (
        dc.join(F.broadcast(m1), "g")
        .groupBy("g")
        .agg(
            F.max("m1").cast("long").alias("m1"),
            F.sum(F.when(F.col("c") == F.col("m1"), 1).otherwise(0))
            .cast("long")
            .alias("n_at_m1"),
            F.coalesce(
                F.max(F.when(F.col("c") < F.col("m1"), F.col("c"))),
                F.lit(0),
            )
            .cast("long")
            .alias("m2"),
        )
    )
    cap = F.when(
        (F.col("c") == F.col("m1")) & (F.col("n_at_m1") == 1),
        F.col("m2"),
    ).otherwise(F.col("m1"))
    clipped = (
        dc.join(ref, "g")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.sum(F.least(F.col("c"), cap))
            .cast("long")
            .alias("n_clipped"),
        )
    )
    return clipped.select(
        "doc_id",
        "n_bigrams",
        "n_clipped",
        F.expr("(2000000 * n_clipped + n_bigrams) div (2 * n_bigrams)")
        .cast("long")
        .alias("selfbleu2_micro"),
    )


# ---------------------------------------------------------------------------
# q233 — graded nDCG@10 retrieval evaluation
# ---------------------------------------------------------------------------

_Q233_K = 10
_Q233_NQ = 5  # query vectors: vec_id 0..4
# Position discounts 10^6 / log2(i+1), i = 1..10 — hardcoded micro
# constants (the q228 rule: a known law's table beats a libm call).
_Q233_DISC = (
    1000000, 630930, 500000, 430677, 386853,
    356207, 333333, 315465, 301030, 289065,
)
_Q233_DISC_SQL = ", ".join(
    f"({i + 1}, {d})" for i, d in enumerate(_Q233_DISC)
)

_Q233_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS qlabel
  FROM embeddings WHERE vec_id < {_Q233_NQ}
), c AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS cv, label FROM embeddings
), scored AS (
  SELECT q.query_id, q.qlabel, c.id,
         CASE WHEN c.label = q.qlabel THEN 3
              WHEN c.label % 5 = q.qlabel % 5 THEN 1 ELSE 0 END AS rel,
         list_dot_product(q.qv, c.cv)
           / (sqrt(list_dot_product(q.qv, q.qv))
              * sqrt(list_dot_product(c.cv, c.cv))) AS score
  FROM q JOIN c ON c.id != q.query_id
), ranked AS (
  SELECT query_id, qlabel, rel,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, id ASC) AS rk
  FROM scored
), disc AS (
  SELECT * FROM (VALUES {_Q233_DISC_SQL}) AS t(i, d)
), dcg AS (
  SELECT query_id, qlabel,
         CAST(sum((CASE rel WHEN 3 THEN 7 WHEN 1 THEN 1 ELSE 0 END)
                  * disc.d) AS BIGINT) AS dcg_micro
  FROM ranked JOIN disc ON disc.i = ranked.rk
  WHERE ranked.rk <= {_Q233_K}
  GROUP BY query_id, qlabel
), grades AS (
  SELECT query_id,
         CAST(sum(CASE WHEN rel = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         CAST(sum(CASE WHEN rel = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
  FROM scored GROUP BY query_id
), idcg AS (
  SELECT g.query_id,
         CAST(sum(disc.d * (CASE WHEN disc.i <= g.n3 THEN 7
                                 WHEN disc.i <= g.n3 + g.n1 THEN 1
                                 ELSE 0 END)) AS BIGINT) AS idcg_micro
  FROM grades g CROSS JOIN disc
  GROUP BY g.query_id
)
SELECT dcg.query_id, CAST(dcg.qlabel AS BIGINT) AS qlabel,
       dcg.dcg_micro, idcg.idcg_micro,
       CAST((2000000 * dcg.dcg_micro + idcg.idcg_micro)
            // (2 * idcg.idcg_micro) AS BIGINT) AS ndcg_micro
FROM dcg JOIN idcg USING (query_id)
"""


@register("q233_ndcg_at_10", _Q233_ORACLE)
def q233(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded nDCG@{k} (Järvelin & Kekäläinen 2002 — the standard
    ranking-quality metric with graded relevance): {nq} query vectors
    rank the corpus by cosine; relevance grades come from the label
    column (3 = same label, 1 = related label class, 0 otherwise);
    DCG uses the exponential gain 2^rel − 1 and hardcoded micro
    discounts 10⁶/log2(i+1) (the q228 rule — a known law's table beats
    a libm call), and IDCG is derived from the per-query GRADE COUNTS
    (ideal ordering never needs an actual sort: n₃ sevens then n₁
    ones, truncated at {k}).  Complements q197 (binary known-item
    MRR): this is the graded, position-discounted judgment.

    Scale: the query side is {nq} rows broadcast; per-query ranking is
    the q27 brute-force pattern (at 100 TB an ANN index supplies the
    top-k instead, the eval math is unchanged); everything after the
    rank filter is ({nq}·{k})-rows tiny.  Integer-exact given equal
    ranks — and ranks match cross-engine because the cosine doubles do
    (the q27/q30 portability argument)."""
    emb = load_table(spark, sf_dir, "embeddings")
    from ..operators.similarity import dot

    q = emb.filter(F.col("vec_id") < _Q233_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"),
        F.col("label").alias("qlabel"),
    )
    c = emb.select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
        "label",
    )
    score = dot(F.col("qv"), F.col("cv")) / (
        F.sqrt(dot(F.col("qv"), F.col("qv")))
        * F.sqrt(dot(F.col("cv"), F.col("cv")))
    )
    rel = (
        F.when(F.col("label") == F.col("qlabel"), 3)
        .when(F.col("label") % 5 == F.col("qlabel") % 5, 1)
        .otherwise(0)
    )
    scored = (
        c.join(F.broadcast(q), F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            "qlabel",
            "id",
            rel.alias("rel"),
            score.alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("id").asc()
    )
    ranked = scored.withColumn("rk", F.row_number().over(w))
    disc = spark.createDataFrame(
        [(i + 1, d) for i, d in enumerate(_Q233_DISC)], "i LONG, d LONG"
    )
    gain = (
        F.when(F.col("rel") == 3, 7)
        .when(F.col("rel") == 1, 1)
        .otherwise(0)
    )
    dcg = (
        ranked.filter(F.col("rk") <= _Q233_K)
        .join(F.broadcast(disc), F.col("rk") == F.col("i"))
        .groupBy("query_id", "qlabel")
        .agg(F.sum(gain * F.col("d")).cast("long").alias("dcg_micro"))
    )
    grades = scored.groupBy("query_id").agg(
        F.sum(F.when(F.col("rel") == 3, 1).otherwise(0))
        .cast("long")
        .alias("n3"),
        F.sum(F.when(F.col("rel") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
    )
    idcg = (
        grades.crossJoin(F.broadcast(disc))
        .groupBy("query_id")
        .agg(
            F.sum(
                F.col("d")
                * F.when(F.col("i") <= F.col("n3"), 7)
                .when(F.col("i") <= F.col("n3") + F.col("n1"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("idcg_micro")
        )
    )
    return (
        dcg.join(idcg, "query_id")
        .select(
            "query_id",
            F.col("qlabel").cast("long"),
            "dcg_micro",
            "idcg_micro",
            F.expr(
                "(2000000 * dcg_micro + idcg_micro)"
                " div (2 * idcg_micro)"
            )
            .cast("long")
            .alias("ndcg_micro"),
        )
    )


q233.__doc__ = q233.__doc__.format(k=_Q233_K, nq=_Q233_NQ)


# ---------------------------------------------------------------------------
# q234 — word2vec preprocessing audit (subsampling + negative-sampling table)
# ---------------------------------------------------------------------------

_Q234_T_MICRO = 10000  # subsample threshold t = 0.01 (micro units) —
# the corpus vocabulary is ~30 types, so every frequency is ~3e-2 and
# the canonical t = 1e-5 would discard everything; same formula, a
# threshold scaled to the corpus.

_Q234_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split({_NORM_SQL}, ' ')) AS w FROM documents
), c AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n FROM c
), base AS (
  SELECT w, c, tot.n,
         CAST(floor(sqrt(c * sqrt(c))) AS BIGINT) AS ns_w
  FROM c CROSS JOIN tot
), wsum AS (
  SELECT CAST(sum(ns_w) AS BIGINT) AS sw FROM base
)
SELECT w, c,
       CAST((2000000 * c + n) // (2 * n) AS BIGINT) AS freq_micro,
       CAST(greatest(0, CAST(round(
         1000000 * (1 - sqrt({_Q234_T_MICRO} * n / (1000000.0 * c))))
         AS BIGINT)) AS BIGINT) AS p_keep_micro,
       ns_w,
       CAST((2000000 * ns_w + sw) // (2 * sw) AS BIGINT) AS ns_share_micro
FROM base CROSS JOIN wsum
"""


@register("q234_word2vec_prep", _Q234_ORACLE)
def q234(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two canonical word2vec preprocessing tables (Mikolov et al.
    2013) in one vocabulary-sized frame: per token, the FREQUENT-WORD
    SUBSAMPLING keep probability p = 1 − √(t/f) (clamped at 0) and the
    NEGATIVE-SAMPLING weight c^(3/4) with its normalized share — what
    an embedding trainer materializes before the first epoch.
    Portability: ³⁄₄ and ½ powers compose from IEEE-correctly-rounded
    sqrt (c^0.75 = √(c·√c); ln/exp/pow are NOT safe, sqrt chains are
    — the q221 rule), the division t/f is one double op on identical
    operands, and both engines round the identical double identically
    (positive half-away).  t is scaled to this corpus's ~30-type
    vocabulary ({t} micro) — the formula, not the constant, is the
    operator.

    Scale: one map-side-combined count over the corpus; everything
    after is vocabulary-sized with two broadcast scalar totals."""
    docs = load_table(spark, sf_dir, "documents")
    c = (
        docs.select(F.explode(tokens(normalize_text("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = c.agg(F.sum("c").cast("long").alias("n"))
    base = c.crossJoin(F.broadcast(tot)).withColumn(
        "ns_w",
        F.floor(F.sqrt(F.col("c") * F.sqrt(F.col("c")))).cast("long"),
    )
    wsum = base.agg(F.sum("ns_w").cast("long").alias("sw"))
    return base.crossJoin(F.broadcast(wsum)).select(
        "w",
        "c",
        F.expr("(2000000 * c + n) div (2 * n)")
        .cast("long")
        .alias("freq_micro"),
        F.greatest(
            F.lit(0),
            F.round(
                1000000
                * (
                    1
                    - F.sqrt(
                        _Q234_T_MICRO
                        * F.col("n")
                        / (F.lit(1000000.0) * F.col("c"))
                    )
                ),
                0,
            ).cast("long"),
        )
        .cast("long")
        .alias("p_keep_micro"),
        "ns_w",
        F.expr("(2000000 * ns_w + sw) div (2 * sw)")
        .cast("long")
        .alias("ns_share_micro"),
    )


q234.__doc__ = q234.__doc__.format(t=_Q234_T_MICRO)


# ---------------------------------------------------------------------------
# q235 — GloVe distance-weighted co-occurrence table
# ---------------------------------------------------------------------------

_Q235_W = 4  # context window
_Q235_LCM = 12  # lcm(1..4): 1/d weights become exact integers 12/d
_Q235_TOPK = 50

_Q235_PAIRS_SQL = " UNION ALL ".join(
    f"""SELECT l[i] AS a, l[i + {d}] AS b, {_Q235_LCM // d} AS w12
        FROM s CROSS JOIN
             unnest(generate_series(1, len(l) - {d})) AS u(i)
        WHERE len(l) > {d}"""
    for d in range(1, _Q235_W + 1)
)

_Q235_ORACLE = f"""
WITH s AS (
  SELECT string_split({_NORM_SQL}, ' ') AS l FROM documents
), pairs AS ({_Q235_PAIRS_SQL}
), x AS (
  SELECT a, b, CAST(sum(w12) AS BIGINT) AS x12
  FROM pairs GROUP BY a, b
), mx AS (
  SELECT CAST(max(x12) AS BIGINT) AS xmax FROM x
)
SELECT a, b, x12,
       CAST(round(1000000 * least(1.0,
              sqrt((x12 / CAST(xmax AS DOUBLE))
                   * sqrt(x12 / CAST(xmax AS DOUBLE))))) AS BIGINT)
         AS fweight_micro
FROM x CROSS JOIN mx
ORDER BY x12 DESC, a ASC, b ASC
LIMIT {_Q235_TOPK}
"""


@register("q235_glove_cooc", _Q235_ORACLE)
def q235(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GloVe co-occurrence construction (Pennington et al. 2014): count
    ordered (center, context) pairs within a {w}-token window with the
    1/d distance weighting — made EXACT by scaling to lcm(1..{w}) =
    {lcm} (x12 = Σ {lcm}/d is an integer) — then the training weight
    f(x) = min(1, (x/xmax)^(3/4)), the ¾ power composed from
    correctly-rounded sqrt on the identical double ratio (the
    q221/q234 rule).  Top-{k} pairs by weighted count.  Complements
    q234: word2vec's tables are UNIGRAM-frequency-shaped; GloVe's
    statistic is the pairwise co-occurrence matrix itself.

    Scale: the pair stream is corpus×{w} rows but collapses through
    ONE map-side-combined groupBy on (a, b) — vocabulary²-bounded
    output regardless of corpus size; xmax broadcasts; the final
    ranking is a TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(tokens(normalize_text("text")).alias("l"))
    parts = []
    for d in range(1, _Q235_W + 1):
        parts.append(
            staged.filter(F.size("l") > d).select(
                F.explode(
                    F.zip_with(
                        F.slice(F.col("l"), 1, F.size("l") - d),
                        F.slice(F.col("l"), 1 + d, F.size("l") - d),
                        lambda a, b: F.struct(
                            a.alias("a"), b.alias("b")
                        ),
                    )
                ).alias("p"),
                F.lit(_Q235_LCM // d).alias("w12"),
            )
        )
    pairs = parts[0]
    for p in parts[1:]:
        pairs = pairs.unionAll(p)
    x = (
        pairs.select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "w12")
        .groupBy("a", "b")
        .agg(F.sum("w12").cast("long").alias("x12"))
    )
    mx = x.agg(F.max("x12").cast("long").alias("xmax"))
    r = F.col("x12") / F.col("xmax").cast("double")
    return (
        x.crossJoin(F.broadcast(mx))
        .select(
            "a",
            "b",
            "x12",
            F.round(
                1000000 * F.least(F.lit(1.0), F.sqrt(r * F.sqrt(r))), 0
            )
            .cast("long")
            .alias("fweight_micro"),
        )
        .orderBy(F.col("x12").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(_Q235_TOPK)
    )


q235.__doc__ = q235.__doc__.format(w=_Q235_W, lcm=_Q235_LCM, k=_Q235_TOPK)


# ---------------------------------------------------------------------------
# q236 — collocation mining by exact lift (PMI's rational core)
# ---------------------------------------------------------------------------

_Q236_MINSUP = 5
_Q236_TOPK = 30

_Q236_ORACLE = f"""
WITH s AS (
  SELECT string_split({_NORM_SQL}, ' ') AS l FROM documents
), bg AS (
  SELECT l[i] AS a, l[i + 1] AS b
  FROM s CROSS JOIN unnest(generate_series(1, len(l) - 1)) AS u(i)
  WHERE len(l) >= 2
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM bg
), ca AS (
  SELECT a, CAST(count(*) AS BIGINT) AS ca FROM bg GROUP BY a
), cb AS (
  SELECT b, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY b
), cab AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS cab
  FROM bg GROUP BY a, b HAVING count(*) >= {_Q236_MINSUP}
)
SELECT cab.a, cab.b, cab.cab, ca.ca, cb.cb,
       CAST((2000000 * n.n * cab.cab + ca.ca * cb.cb)
            // (2 * ca.ca * cb.cb) AS BIGINT) AS lift_micro
FROM cab JOIN ca USING (a) JOIN cb USING (b) CROSS JOIN n
ORDER BY lift_micro DESC, a ASC, b ASC
LIMIT {_Q236_TOPK}
"""


@register("q236_collocation_lift", _Q236_ORACLE)
def q236(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by LIFT — the exact-rational core of PMI
    (PMI = log lift) and the standard association-rule measure:
    lift(a,b) = N·c(a,b) / (c(a,·)·c(·,b)) over bigram margins, with a
    minimum support of {minsup} (the classic frequency floor that keeps
    one-off pairs from dominating the ranking — c=1 pairs have huge
    lift and zero evidence).  Staying in the linear domain keeps the
    statistic integer-exact (no libm log), and the RANKING is identical
    to PMI's because log is monotone.  Top-{k} collocations.

    Scale: three map-side-combined aggregations over one exploded
    bigram stream (pair counts + both margins); margins are
    vocabulary-sized and broadcast onto the supported pairs; the final
    ranking is a TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    bg = (
        docs.select(tokens(normalize_text("text")).alias("l"))
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
    n = bg.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ca = bg.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("ca"))
    cb = bg.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("cb"))
    cab = (
        bg.groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cab"))
        .filter(F.col("cab") >= _Q236_MINSUP)
    )
    return (
        cab.join(F.broadcast(ca), "a")
        .join(F.broadcast(cb), "b")
        .crossJoin(F.broadcast(n))
        .select(
            "a",
            "b",
            "cab",
            "ca",
            "cb",
            F.expr("(2000000 * n * cab + ca * cb) div (2 * ca * cb)")
            .cast("long")
            .alias("lift_micro"),
        )
        .orderBy(
            F.col("lift_micro").desc(), F.col("a").asc(), F.col("b").asc()
        )
        .limit(_Q236_TOPK)
    )


q236.__doc__ = q236.__doc__.format(minsup=_Q236_MINSUP, k=_Q236_TOPK)


# ---------------------------------------------------------------------------
# q237 — Z-order (Morton) layout audit: data-skipping under a 2-D curve
# ---------------------------------------------------------------------------

_Q237_BITS = 15  # per-dimension bits (partkey < 2^15 at sf0.1)
_Q237_CELL = 1 << 18  # key-space per simulated file/cell
_Q237_PLO, _Q237_PHI = 100, 199  # audit predicate: partkey range

# Morton interleave as plain integer arithmetic — the SAME expression
# text runs in Spark SQL and DuckDB (div/%/*/+ only, no UDF).
_Q237_MORTON = " + ".join(
    f"((p // {1 << i}) % 2) * {1 << (2 * i + 1)}"
    f" + ((s // {1 << i}) % 2) * {1 << (2 * i)}"
    for i in range(_Q237_BITS)
)

_Q237_ORACLE = f"""
WITH r AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
), keyed AS (
  SELECT p, s,
         ({_Q237_MORTON}) // {_Q237_CELL} AS cell_z,
         (s * {1 << _Q237_BITS} + p) // {_Q237_CELL} AS cell_linear
  FROM r
), z AS (
  SELECT 'zorder' AS layout,
         CAST(count(DISTINCT cell_z) AS BIGINT) AS n_cells,
         CAST(count(DISTINCT CASE WHEN p BETWEEN {_Q237_PLO} AND {_Q237_PHI}
                             THEN cell_z END) AS BIGINT) AS cells_hit
  FROM keyed
), lin AS (
  SELECT 'linear' AS layout,
         CAST(count(DISTINCT cell_linear) AS BIGINT) AS n_cells,
         CAST(count(DISTINCT CASE WHEN p BETWEEN {_Q237_PLO} AND {_Q237_PHI}
                             THEN cell_linear END) AS BIGINT) AS cells_hit
  FROM keyed
)
SELECT layout, n_cells, cells_hit,
       CAST((2000000 * cells_hit + n_cells) // (2 * n_cells) AS BIGINT)
         AS hit_micro
FROM (SELECT * FROM z UNION ALL SELECT * FROM lin)
"""


@register("q237_zorder_skipping", _Q237_ORACLE)
def q237(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout audit — the lakehouse OPTIMIZE ZORDER question:
    if files are laid out along a Morton space-filling curve over
    (partkey, suppkey), how many files does a single-dimension range
    predicate touch versus a suppkey-major linear sort?  The Morton
    key interleaves {bits} bits per dimension with plain integer
    arithmetic (div/mod/multiply — the identical expression text runs
    in both engines), simulated files are equal key-space cells of
    2^18, and the audit reports the hit fraction per layout for
    partkey ∈ [{plo}, {phi}] — z-order localizes BOTH dimensions, so
    the partkey range touches a small cell subset, while the
    suppkey-major layout scatters it across nearly every cell.  This
    is the ANALYSIS an engine runs before choosing a table layout;
    min/max file-skipping statistics then deliver the predicted skip
    rate at scan time.

    Scale: one distinct-projection of the fact table, a row-local key
    computation, and two count-distinct aggregations — no windows, no
    sort of the full table (cells are key-space partitions, not
    equal-count ntiles, precisely so the audit needs NO global rank)."""
    li = load_table(spark, sf_dir, "lineitem")
    keyed = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    morton_spark = _Q237_MORTON.replace("//", "div")
    keyed = keyed.select(
        "p",
        "s",
        F.expr(f"({morton_spark}) div {_Q237_CELL}").alias("cell_z"),
        F.expr(
            f"(s * {1 << _Q237_BITS} + p) div {_Q237_CELL}"
        ).alias("cell_linear"),
    )
    hit = F.col("p").between(_Q237_PLO, _Q237_PHI)

    def layout(name: str, cell: str) -> DataFrame:
        return keyed.agg(
            F.lit(name).alias("layout"),
            F.count_distinct(F.col(cell)).cast("long").alias("n_cells"),
            F.count_distinct(F.when(hit, F.col(cell)))
            .cast("long")
            .alias("cells_hit"),
        )

    both = layout("zorder", "cell_z").unionAll(
        layout("linear", "cell_linear")
    )
    return both.select(
        "layout",
        "n_cells",
        "cells_hit",
        F.expr("(2000000 * cells_hit + n_cells) div (2 * n_cells)")
        .cast("long")
        .alias("hit_micro"),
    )


q237.__doc__ = q237.__doc__.format(
    bits=_Q237_BITS, plo=_Q237_PLO, phi=_Q237_PHI
)


# ---------------------------------------------------------------------------
# q238 — exponentially decayed counters by integer halving
# ---------------------------------------------------------------------------

_Q238_REF = "2024-01-31"  # decay reference date (end of the event span)

_Q238_ORACLE = f"""
WITH d AS (
  SELECT event_type,
         date_diff('day', CAST(ts AS DATE), DATE '{_Q238_REF}') AS age,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       CAST(sum(c) AS BIGINT) AS n_events,
       CAST(sum(c // (1 << least(age, 62))) AS BIGINT) AS decayed,
       CAST(max(c // (1 << least(age, 62))) AS BIGINT) AS peak_day_decayed
FROM d GROUP BY event_type
"""


@register("q238_decayed_counters", _Q238_ORACLE)
def q238(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially decayed counters with a one-day half-life — the
    trending/popularity primitive (recent activity dominates, history
    fades) in its INTEGER-EXACT form: per (event_type, day) bucket the
    contribution is count div 2^age_days, so the decay is pure bit
    arithmetic with no exp() and the result value-hash-verifies.  At
    serving time the same identity lets yesterday's total fold into
    today's as total div 2 + today — the classic decayed-counter
    update rule; this query is its batch (re)computation.

    Scale: one map-side-combined groupBy on (type, day) — the bucket
    frame is types × days, constant-sized relative to the corpus —
    then a types-sized rollup.  The age shift saturates at 62 to stay
    in BIGINT range for arbitrarily old buckets."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type",
        F.date_diff(
            F.lit(_Q238_REF).cast("date"), F.col("ts").cast("date")
        ).alias("age"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    dec = F.expr("c div shiftleft(1, least(age, 62))")
    return d.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.sum(dec).cast("long").alias("decayed"),
        F.max(dec).cast("long").alias("peak_day_decayed"),
    )


# ---------------------------------------------------------------------------
# q239 — inter-event burstiness (Goh–Barabási)
# ---------------------------------------------------------------------------

_Q239_ORACLE = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY ts ASC, event_id ASC) AS prev
  FROM events
), g AS (
  SELECT user_id, (us - prev) // 1000000 AS dt
  FROM e WHERE prev IS NOT NULL
), agg AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_gaps,
         CAST(sum(dt) AS BIGINT) AS s,
         CAST(sum(dt * dt) AS BIGINT) AS s2
  FROM g GROUP BY user_id
), v AS (
  SELECT user_id, n_gaps, s,
         n_gaps * s2 - s * s AS vnum
  FROM agg WHERE n_gaps >= 2 AND s > 0
)
SELECT user_id, n_gaps, s AS sum_dt_s, CAST(vnum AS BIGINT) AS var_num,
       CAST(round(1000000 * (sqrt(CAST(vnum AS DOUBLE)) - s)
                  / (sqrt(CAST(vnum AS DOUBLE)) + s)) AS BIGINT)
         AS burstiness_micro
FROM v
"""


@register("q239_burstiness", _Q239_ORACLE)
def q239(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event burstiness B = (σ−μ)/(σ+μ) per user (Goh & Barabási
    2008) — the standard temporal-pattern signature: B → −1 for
    clockwork activity, ≈ 0 for Poisson, → +1 for extreme bursts.
    Bots and schedulers sit near −1, humans are bursty — an
    events-quality verb.  The sample size CANCELS: with integer gap
    seconds, S = Σdt and the exact integer v_num = n·Σdt² − (Σdt)²,
    B = (√v_num − S)/(√v_num + S) — ONE sqrt of an exact BIGINT plus
    correctly-rounded double ops on identical operands, so the pinned
    micro value matches cross-engine (no variance-of-doubles drift).
    Gap seconds floor from epoch microseconds ((µs_b − µs_a) div 10⁶),
    identical integer flooring in both engines.

    Scale: the lag window partitions on user_id (unbounded
    cardinality key); everything after is one map-side-combined
    aggregation to a users-sized frame."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    g = (
        ev.select(
            "user_id",
            F.unix_micros("ts").alias("us"),
            F.lag(F.unix_micros("ts")).over(w).alias("prev"),
        )
        .filter(F.col("prev").isNotNull())
        .select(
            "user_id", F.expr("(us - prev) div 1000000").alias("dt")
        )
    )
    agg = g.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("dt").cast("long").alias("s"),
        F.sum(F.col("dt") * F.col("dt")).cast("long").alias("s2"),
    )
    v = agg.filter((F.col("n_gaps") >= 2) & (F.col("s") > 0)).select(
        "user_id",
        "n_gaps",
        "s",
        (F.col("n_gaps") * F.col("s2") - F.col("s") * F.col("s")).alias(
            "vnum"
        ),
    )
    sq = F.sqrt(F.col("vnum").cast("double"))
    return v.select(
        "user_id",
        "n_gaps",
        F.col("s").alias("sum_dt_s"),
        F.col("vnum").cast("long").alias("var_num"),
        F.round(1000000 * (sq - F.col("s")) / (sq + F.col("s")), 0)
        .cast("long")
        .alias("burstiness_micro"),
    )


# ---------------------------------------------------------------------------
# q240 — robots.txt-style longest-match crawl rules
# ---------------------------------------------------------------------------

# Rule table (domain suffix '' = every domain).  Precedence: the most
# SPECIFIC domain group wins first (robots files are per-host — a
# host's own rules shadow any global default), then the longest PATH
# prefix, then Allow over Disallow on a tie (RFC 9309 / Google), then
# rule_id deterministically.
_Q240_RULES = (
    # (rule_id, domain_suffix, path_prefix, allow)
    (1, "", "/p/1", 1),
    (2, "", "/p/", 0),
    (3, ".net", "/p/", 1),
    (4, "site13.com", "", 0),
    (5, ".co.uk", "/p/9", 0),
    (6, "", "", 1),
)

_Q240_RULES_SQL = ", ".join(
    f"({i}, '{d}', '{p}', {a})" for i, d, p, a in _Q240_RULES
)

_Q240_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, canon_url, domain,
         substr(canon_url, strpos(canon_url, '/')) AS path
  FROM ({_Q214_ORACLE.replace(chr(10), ' ')})
), rules AS (
  SELECT * FROM (VALUES {_Q240_RULES_SQL})
    AS t(rule_id, dsuf, prefix, allow)
), m AS (
  SELECT d.doc_id, d.domain, d.path, r.rule_id, r.prefix, r.allow,
         row_number() OVER (
           PARTITION BY d.doc_id
           ORDER BY length(r.dsuf) DESC, length(r.prefix) DESC,
                    r.allow DESC, r.rule_id ASC
         ) AS rk
  FROM docs d JOIN rules r
    ON (r.dsuf = '' OR d.domain LIKE '%' || r.dsuf)
   AND starts_with(d.path, r.prefix)
)
SELECT doc_id, domain, path,
       CAST(rule_id AS BIGINT) AS rule_id,
       CAST(allow AS BIGINT) AS allowed
FROM m WHERE rk = 1
"""


@register("q240_robots_rules", _Q240_ORACLE)
def q240(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt-style crawl governance (RFC 9309 semantics): each
    URL is matched against a rule table of (domain-suffix, path-prefix,
    allow/deny) entries; the LONGEST matching path prefix wins, an
    Allow beats a Disallow of equal length, and a catch-all allow rule
    provides the implicit default — the precedence every crawler
    implements before a fetch, applied here as a batch filter over the
    q214 canonical-URL corpus (rule 4 blacklists one whole domain,
    rule 3 re-allows on .net what rule 2 disallows globally, so all
    three precedence axes fire on this corpus).

    Scale: the rule table is broadcast-literal (robots rules per
    domain are KBs); matching is one join with prefix predicates and a
    per-URL rank over the handful of applicable rules — window
    partition key is the URL itself (unbounded cardinality, never a
    funnel)."""
    rules = spark.createDataFrame(
        list(_Q240_RULES), "rule_id LONG, dsuf STRING, prefix STRING, allow LONG"
    )
    docs = q214(spark, sf_dir).select(
        "doc_id",
        "domain",
        F.expr("substr(canon_url, instr(canon_url, '/'))").alias("path"),
    )
    m = docs.join(
        F.broadcast(rules),
        (
            (F.col("dsuf") == "")
            | F.col("domain").endswith(F.col("dsuf"))
        )
        & F.col("path").startswith(F.col("prefix")),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.length("dsuf").desc(),
        F.length("prefix").desc(),
        F.col("allow").desc(),
        F.col("rule_id").asc(),
    )
    return (
        m.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            "domain",
            "path",
            F.col("rule_id").cast("long"),
            F.col("allow").cast("long").alias("allowed"),
        )
    )


# ---------------------------------------------------------------------------
# q241 — group-aware K-fold assignment + cross-fold n-gram leakage audit
# ---------------------------------------------------------------------------

_Q241_K = 5
_Q241_SALT = "gkf-v1"

_Q241_FOLD_SQL = (
    f"(('0x' || substring(md5('{_Q241_SALT}' || source), 1, 12))::BIGINT"
    f" % {_Q241_K})"
)

_Q241_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source, {_Q241_FOLD_SQL} AS fold,
         string_split({_NORM_SQL}, ' ') AS l
  FROM documents
), folds AS (
  SELECT fold, CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM d GROUP BY fold
), tot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM folds
), tg AS (
  SELECT DISTINCT fold,
         unnest(list_transform(generate_series(1, len(l) - 2),
                i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2])) AS t
  FROM d WHERE len(l) >= 3
), spread AS (
  SELECT t, CAST(count(*) AS BIGINT) AS n_folds FROM tg GROUP BY t
), leak AS (
  SELECT tg.fold,
         CAST(count(*) AS BIGINT) AS n_trigrams_distinct,
         CAST(sum(CASE WHEN spread.n_folds >= 2 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_leaked
  FROM tg JOIN spread USING (t)
  GROUP BY tg.fold
)
SELECT folds.fold, folds.n_sources, folds.n_docs,
       CAST((2000000 * folds.n_docs + tot.n) // (2 * tot.n) AS BIGINT)
         AS share_micro,
       leak.n_trigrams_distinct, leak.n_leaked,
       CAST((2000000 * leak.n_leaked + leak.n_trigrams_distinct)
            // (2 * leak.n_trigrams_distinct) AS BIGINT) AS leak_micro
FROM folds JOIN leak USING (fold) CROSS JOIN tot
"""


@register("q241_groupkfold_leakage", _Q241_ORACLE)
def q241(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware K-fold assignment (sklearn GroupKFold semantics:
    every document of a SOURCE lands in one fold, so no group straddles
    train and validation) with the two audits that decide whether the
    split is usable: fold BALANCE (doc share per fold vs the ideal
    1/{k}) and residual CONTENT LEAKAGE — the fraction of each fold's
    distinct trigrams that also occur in another fold.  Group
    separation stops group-level leakage but NOT text reuse across
    groups; measuring the n-gram spread is exactly the decontamination
    check (q51/q205) applied fold-wise, and on a shared-vocabulary
    corpus it reads high — which is the audit's warning, not a bug.
    Fold assignment is the salted 48-bit md5 coordinate mod {k}
    (operators/sampling._u48), identical in both engines.

    Scale: fold stats are one groupBy; the leakage side is a DISTINCT
    (fold, trigram) projection, a trigram-keyed spread count
    (vocabulary³-bounded, not corpus-bounded), and one join back —
    map-side combined throughout, no windows."""
    from ..operators.sampling import _u48

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        (_u48(F.col("source"), _Q241_SALT) % _Q241_K).alias("fold"),
        tokens(normalize_text("text")).alias("l"),
    )
    # r12 opt round: `folds` feeds the final join AND the total (a
    # second corpus aggregate), and `tg` feeds the spread aggregate
    # AND the join back (a second run of the trigram explode +
    # distinct). Both pin eagerly — folds is K rows; tg's consumers
    # build as concurrent stages of one action (the graph.py rule).
    folds = (
        d.groupBy("fold")
        .agg(
            F.count_distinct("source").cast("long").alias("n_sources"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
        .transform(_pin)
    )
    tot = folds.agg(F.sum("n_docs").cast("long").alias("n"))
    tg = (
        d.filter(F.size("l") >= 3)
        .select(
            "fold",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("l") - 2),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("l"), i),
                        F.element_at(F.col("l"), i + 1),
                        F.element_at(F.col("l"), i + 2),
                    ),
                )
            ).alias("t"),
        )
        .distinct()
        .transform(_pin)
    )
    spread = tg.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n_folds")
    )
    leak = (
        tg.join(spread, "t")
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trigrams_distinct"),
            F.sum(F.when(F.col("n_folds") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_leaked"),
        )
    )
    return (
        folds.join(leak, "fold")
        .crossJoin(F.broadcast(tot))
        .select(
            "fold",
            "n_sources",
            "n_docs",
            F.expr("(2000000 * n_docs + n) div (2 * n)")
            .cast("long")
            .alias("share_micro"),
            "n_trigrams_distinct",
            "n_leaked",
            F.expr(
                "(2000000 * n_leaked + n_trigrams_distinct)"
                " div (2 * n_trigrams_distinct)"
            )
            .cast("long")
            .alias("leak_micro"),
        )
    )


q241.__doc__ = q241.__doc__.format(k=_Q241_K)


# ---------------------------------------------------------------------------
# q242 — bronze-layer validation & quarantine (expectations / bad records)
# ---------------------------------------------------------------------------

# Deterministic corruption (the q179/q214 synthesis pattern): every
# 17th event loses its closing brace, every 23rd gets a non-numeric k —
# both invalid under the contract '{"k": <int>}'.
_Q242_PAT = '^\\{"k": ([0-9]+)\\}$'

_Q242_ORACLE = f"""
WITH raw AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 17 = 0
              THEN substr(props, 1, length(props) - 1)
              WHEN event_id % 23 = 0
              THEN replace(props, '"k": ', '"k": x')
              ELSE props END AS props
  FROM events
), v AS (
  SELECT event_type,
         regexp_extract(props, '{_Q242_PAT}', 1) AS kstr
  FROM raw
)
SELECT event_type,
       CAST(sum(CASE WHEN kstr <> '' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_valid,
       CAST(sum(CASE WHEN kstr <> '' THEN 0 ELSE 1 END) AS BIGINT)
         AS n_quarantined,
       CAST((2000000 * sum(CASE WHEN kstr <> '' THEN 0 ELSE 1 END)
             + count(*)) // (2 * count(*)) AS BIGINT)
         AS quarantine_micro,
       CAST(sum(CASE WHEN kstr <> '' THEN CAST(kstr AS BIGINT)
                ELSE 0 END) AS BIGINT) AS sum_k
FROM v GROUP BY event_type
"""


@register("q242_validate_quarantine", _Q242_ORACLE)
def q242(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bronze-layer contract validation with quarantine accounting —
    the Delta Live Tables \"expectations\" / badRecordsPath verb: every
    raw payload is checked against its contract (here '{{"k": <int>}}'
    via one anchored regexp whose capture doubles as the extraction),
    rows failing the contract are COUNTED INTO QUARANTINE per event
    type rather than silently dropped or crashing the job, and the
    valid side feeds the typed aggregate.  Corruption is synthesized
    deterministically on two residue classes (truncated JSON and a
    non-numeric field) so both failure modes are live and both engines
    see identical inputs.  The anchored digit-class pattern sits in
    the regex subset both engines implement identically.

    Scale: one scan, row-local validation inside whole-stage codegen
    (regexp + CASE — no UDF, no exception-driven control flow, which
    is precisely why quarantine beats try/except at 100 TB), one
    map-side-combined groupBy on event type."""
    ev = load_table(spark, sf_dir, "events")
    e = F.col("event_id")
    raw = ev.select(
        "event_type",
        F.when(
            e % 17 == 0,
            F.expr("substr(props, 1, length(props) - 1)"),
        )
        .when(e % 23 == 0, F.replace(F.col("props"), F.lit('"k": '), F.lit('"k": x')))
        .otherwise(F.col("props"))
        .alias("props"),
    )
    v = raw.select(
        "event_type",
        F.regexp_extract("props", _Q242_PAT, 1).alias("kstr"),
    )
    ok = F.col("kstr") != ""
    return v.groupBy("event_type").agg(
        F.sum(F.when(ok, 1).otherwise(0)).cast("long").alias("n_valid"),
        F.sum(F.when(ok, 0).otherwise(1))
        .cast("long")
        .alias("n_quarantined"),
        F.expr(
            "(2000000 * sum(CASE WHEN kstr <> '' THEN 0 ELSE 1 END)"
            " + count(*)) div (2 * count(*))"
        )
        .cast("long")
        .alias("quarantine_micro"),
        F.sum(F.when(ok, F.col("kstr").cast("long")).otherwise(0))
        .cast("long")
        .alias("sum_k"),
    )


# ---------------------------------------------------------------------------
# q244 — CBO histogram selectivity audit (equi-width vs equi-depth)
# ---------------------------------------------------------------------------

_Q244_B = 10
_Q244_PLO, _Q244_PHI = 5000000, 10000000  # predicate range, in cents

# Shared interpolation rule (uniformity within a bucket):
#   contribution = count_b · overlap / span, in milli units,
#   overlap = |[lo_b, hi_b] ∩ [plo, phi]| and span = hi_b − lo_b + 1.
_Q244_EST = (
    "(2000 * cb * greatest(0, least(hi, {phi}) - greatest(lo, {plo}) + 1)"
    " + (hi - lo + 1)) // (2 * (hi - lo + 1))"
).format(plo=_Q244_PLO, phi=_Q244_PHI)

_Q244_ORACLE = f"""
WITH c AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c,
         o_orderkey AS k
  FROM orders
), st AS (
  SELECT CAST(min(c) AS BIGINT) AS cmin, CAST(max(c) AS BIGINT) AS cmax,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN c BETWEEN {_Q244_PLO} AND {_Q244_PHI}
                  THEN 1 ELSE 0 END) AS BIGINT) AS true_count
  FROM c
), wbuck AS (
  SELECT least({_Q244_B - 1},
               ((c.c - st.cmin) * {_Q244_B}) // (st.cmax - st.cmin + 1))
           AS b,
         CAST(count(*) AS BIGINT) AS cb
  FROM c CROSS JOIN st GROUP BY 1
), wframe AS (
  SELECT wbuck.b, wbuck.cb,
         st.cmin + (wbuck.b * (st.cmax - st.cmin + 1)) // {_Q244_B} AS lo,
         st.cmin + ((wbuck.b + 1) * (st.cmax - st.cmin + 1)) // {_Q244_B}
           - 1 AS hi
  FROM wbuck CROSS JOIN st
), west AS (
  SELECT 'width' AS histogram, CAST(sum({_Q244_EST}) AS BIGINT) AS est_milli
  FROM wframe
), r AS (
  SELECT c, row_number() OVER (ORDER BY c ASC, k ASC) AS rn FROM c
), dpos AS (
  SELECT b,
         (b * st.n) // {_Q244_B} + 1 AS lo_pos,
         ((b + 1) * st.n) // {_Q244_B} AS hi_pos
  FROM (SELECT unnest(generate_series(0, {_Q244_B - 1})) AS b)
       CROSS JOIN st
), dframe AS (
  SELECT dpos.b,
         CAST(dpos.hi_pos - dpos.lo_pos + 1 AS BIGINT) AS cb,
         rlo.c AS lo, rhi.c AS hi
  FROM dpos JOIN r rlo ON rlo.rn = dpos.lo_pos
            JOIN r rhi ON rhi.rn = dpos.hi_pos
), dest AS (
  SELECT 'depth' AS histogram, CAST(sum({_Q244_EST}) AS BIGINT) AS est_milli
  FROM dframe
)
SELECT e.histogram, CAST({_Q244_B} AS BIGINT) AS n_buckets,
       e.est_milli, st.true_count,
       CAST((2000000 * abs(e.est_milli - 1000 * st.true_count)
             + 1000 * st.true_count) // (2000 * st.true_count)
            AS BIGINT) AS err_micro
FROM (SELECT * FROM west UNION ALL SELECT * FROM dest) e CROSS JOIN st
"""


@register("q244_histogram_selectivity", _Q244_ORACLE)
def q244(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimizer-statistics quality audit — the question behind ANALYZE
    TABLE: how well does a {b}-bucket histogram predict the selectivity
    of a range predicate?  Builds BOTH classic shapes over order totals
    in exact integer cents — equi-WIDTH (fixed value spans) and
    equi-DEPTH (boundaries at rank positions b·n div {b}, the shape
    real CBOs keep precisely because estimation error concentrates
    where data does) — applies the same within-bucket uniformity
    interpolation to each, and reports estimate vs true count with the
    relative error pinned in micro units.  Everything is integer: cents
    recover exactly from the double, bucket spans/overlaps are integer
    arithmetic, the interpolation pins per bucket in milli units.

    Scale: equi-width is one map-side-combined groupBy; equi-depth
    boundary positions are read from a scalable_prefix_sums global rank
    (range exchange — NOT a single-partition window) joined against
    {b} broadcast positions; both audits then run on {b}-row frames."""
    orders = load_table(spark, sf_dir, "orders")
    from ..operators.windows import scalable_prefix_sums

    c = orders.select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("c"),
        F.col("o_orderkey").alias("k"),
    )
    # pinned: the 1-row stats frame is broadcast into four consumers
    # (width buckets, width frame, depth positions, final) — each
    # BroadcastExchange otherwise re-runs the orders scan + aggregate
    st = c.agg(
        F.min("c").cast("long").alias("cmin"),
        F.max("c").cast("long").alias("cmax"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(F.col("c").between(_Q244_PLO, _Q244_PHI), 1).otherwise(0)
        )
        .cast("long")
        .alias("true_count"),
    ).transform(_pin)
    wbuck = (
        c.crossJoin(F.broadcast(st))
        .groupBy(
            F.least(
                F.lit(_Q244_B - 1),
                F.expr(f"((c - cmin) * {_Q244_B}) div (cmax - cmin + 1)"),
            ).alias("b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cb"))
    )
    wframe = wbuck.crossJoin(F.broadcast(st)).select(
        "b",
        "cb",
        F.expr(f"cmin + (b * (cmax - cmin + 1)) div {_Q244_B}").alias("lo"),
        F.expr(
            f"cmin + ((b + 1) * (cmax - cmin + 1)) div {_Q244_B} - 1"
        ).alias("hi"),
    )
    est = F.expr(_Q244_EST.replace("//", "div"))
    west = wframe.agg(
        F.lit("width").alias("histogram"),
        F.sum(est).cast("long").alias("est_milli"),
    )
    ranked = scalable_prefix_sums(c, ("c", "k"), {"rn": F.lit(1)})
    dpos = (
        spark.range(_Q244_B)
        .select(F.col("id").alias("b"))
        .crossJoin(F.broadcast(st))
        .select(
            "b",
            F.expr(f"(b * n) div {_Q244_B} + 1").alias("lo_pos"),
            F.expr(f"((b + 1) * n) div {_Q244_B}").alias("hi_pos"),
        )
    )
    # ONE probe join instead of two: melt (lo_pos, hi_pos) into 2·B
    # tagged position rows and pivot back after the join — the old
    # two-probe form re-executed the whole range-exchange rank subtree
    # once per boundary side. rn is unique, so each max(when) reads
    # exactly one row.
    pos = dpos.select(
        "b",
        F.explode(
            F.array(
                F.struct(F.lit("lo").alias("w"), F.col("lo_pos").alias("rn")),
                F.struct(F.lit("hi").alias("w"), F.col("hi_pos").alias("rn")),
            )
        ).alias("p"),
    ).select("b", "p.w", "p.rn")
    bounds = (
        ranked.join(F.broadcast(pos), "rn")
        .groupBy("b")
        .agg(
            F.max(F.when(F.col("w") == "lo", F.col("c"))).alias("lo"),
            F.max(F.when(F.col("w") == "hi", F.col("c"))).alias("hi"),
        )
    )
    dframe = bounds.join(F.broadcast(dpos), "b").select(
        "b",
        (F.col("hi_pos") - F.col("lo_pos") + 1).cast("long").alias("cb"),
        "lo",
        "hi",
    )
    dest = dframe.agg(
        F.lit("depth").alias("histogram"),
        F.sum(est).cast("long").alias("est_milli"),
    )
    return (
        west.unionAll(dest)
        .crossJoin(F.broadcast(st.select("true_count")))
        .select(
            "histogram",
            F.lit(_Q244_B).cast("long").alias("n_buckets"),
            "est_milli",
            "true_count",
            F.expr(
                "(2000000 * abs(est_milli - 1000 * true_count)"
                " + 1000 * true_count) div (2000 * true_count)"
            )
            .cast("long")
            .alias("err_micro"),
        )
    )


q244.__doc__ = q244.__doc__.format(b=_Q244_B)


# ---------------------------------------------------------------------------
# q246 — k-anonymity / l-diversity audit over quasi-identifiers
# ---------------------------------------------------------------------------

_Q246_K = 5  # k-anonymity threshold
_Q246_BAND = 200000  # acctbal generalization band, cents (2000.00)

_Q246_ORACLE = f"""
WITH g AS (
  SELECT c_nationkey AS nation, c_mktsegment AS segment,
         CAST(round(c_acctbal * 100) AS BIGINT) // {_Q246_BAND}
           AS bal_band,
         c_custkey % 7 AS sensitive
  FROM customer
), eq AS (
  SELECT nation, segment, bal_band,
         CAST(count(*) AS BIGINT) AS class_size,
         CAST(count(DISTINCT sensitive) AS BIGINT) AS l_diversity
  FROM g GROUP BY nation, segment, bal_band
), tot AS (
  SELECT CAST(sum(class_size) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_classes,
         CAST(min(class_size) AS BIGINT) AS k_anonymity,
         CAST(min(l_diversity) AS BIGINT) AS min_l,
         CAST(sum(CASE WHEN class_size < {_Q246_K}
                  THEN class_size ELSE 0 END) AS BIGINT) AS n_exposed
  FROM eq
)
SELECT n, n_classes, k_anonymity, min_l, n_exposed,
       CAST((2000000 * n_exposed + n) // (2 * n) AS BIGINT)
         AS exposed_micro
FROM tot
"""


@register("q246_k_anonymity", _Q246_ORACLE)
def q246(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala
    2007) — the privacy gate run before releasing a quasi-identified
    table: group by the quasi-identifiers (nation × market segment ×
    generalized balance band), report the dataset's k (the SMALLEST
    equivalence class — one undersized class breaks the guarantee for
    its members), the minimum l-diversity of a sensitive attribute
    (a k-anonymous class whose sensitive value is constant still leaks
    it), and the count/share of rows sitting in classes below
    k = {k} — the rows a release would re-identify.  Complements q63
    (which APPLIES the generalization; this MEASURES whether it was
    enough).  Integer-exact: exact-cents banding, counts, one pinned
    share.

    Scale: one map-side-combined groupBy on the quasi-identifier tuple
    (unbounded key), then a one-row rollup — min/sum over the class
    frame."""
    cust = load_table(spark, sf_dir, "customer")
    g = cust.select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.expr(
            f"CAST(round(c_acctbal * 100) AS BIGINT) div {_Q246_BAND}"
        ).alias("bal_band"),
        (F.col("c_custkey") % 7).alias("sensitive"),
    )
    eq = g.groupBy("nation", "segment", "bal_band").agg(
        F.count(F.lit(1)).cast("long").alias("class_size"),
        F.count_distinct("sensitive").cast("long").alias("l_diversity"),
    )
    tot = eq.agg(
        F.sum("class_size").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("class_size").cast("long").alias("k_anonymity"),
        F.min("l_diversity").cast("long").alias("min_l"),
        F.sum(
            F.when(
                F.col("class_size") < _Q246_K, F.col("class_size")
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_exposed"),
    )
    return tot.select(
        "n",
        "n_classes",
        "k_anonymity",
        "min_l",
        "n_exposed",
        F.expr("(2000000 * n_exposed + n) div (2 * n)")
        .cast("long")
        .alias("exposed_micro"),
    )


q246.__doc__ = q246.__doc__.format(k=_Q246_K)


# ---------------------------------------------------------------------------
# q247 — day-of-week seasonal index
# ---------------------------------------------------------------------------

# Portable day-of-week: (days since 1970-01-01 + 4) % 7, 0 = Sunday —
# Spark's dayofweek() is 1-based-Sunday while DuckDB's dow is 0-based,
# so both sides derive it from epoch-day arithmetic instead.
_Q247_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM events GROUP BY 1
), keyed AS (
  SELECT (date_diff('day', DATE '1970-01-01', d) + 4) % 7 AS dow,
         rev_cents
  FROM daily
), per AS (
  SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(rev_cents) AS BIGINT) AS rev
  FROM keyed GROUP BY dow
), tot AS (
  SELECT CAST(sum(n_days) AS BIGINT) AS nd,
         CAST(sum(rev) AS BIGINT) AS r
  FROM per
)
SELECT CAST(per.dow AS BIGINT) AS dow, per.n_days, per.rev AS rev_cents,
       CAST((2000000 * per.rev * tot.nd + per.n_days * tot.r)
            // (2 * per.n_days * tot.r) AS BIGINT) AS seasonal_micro
FROM per CROSS JOIN tot
"""


@register("q247_seasonal_index", _Q247_ORACLE)
def q247(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index — the first step of any seasonal
    decomposition (the ratio-to-moving-average method's seasonal
    factor, computed against the global mean): index(dow) = mean daily
    revenue on that weekday / overall mean daily revenue, in micro
    units; 1e6 = no weekday effect.  Forecasting, anomaly baselines
    (q182's CUSUM drifts without deseasonalization), and capacity
    planning all start here.  Integer-exact: exact-cents revenue, and
    the index is the single pinned rational (rev·N_days) /
    (n_days·R_total).  Day-of-week derives from epoch-day arithmetic
    ((epoch_days + 4) % 7) because the engines' dayofweek() numbering
    CONVENTIONS differ — a one-line portability trap worth the
    comment.

    Scale: two map-side-combined aggregations (per-day, then per-dow —
    the second over a days-sized frame) and one broadcast total."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("rev_cents")
    )
    keyed = daily.select(
        (
            (F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")) + 4)
            % 7
        ).alias("dow"),
        "rev_cents",
    )
    per = keyed.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("rev_cents").cast("long").alias("rev"),
    )
    tot = per.agg(
        F.sum("n_days").cast("long").alias("nd"),
        F.sum("rev").cast("long").alias("r"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        F.col("dow").cast("long"),
        "n_days",
        F.col("rev").alias("rev_cents"),
        F.expr(
            "(2000000 * rev * nd + n_days * r) div (2 * n_days * r)"
        )
        .cast("long")
        .alias("seasonal_micro"),
    )


# ---------------------------------------------------------------------------
# q248 — graph homophily audit + majority-label aggregation (GNN round)
# ---------------------------------------------------------------------------

# Same co-supply edge spec as q224 (cap {cap}, support {sup}).
_Q248_EDGES_SQL = f"""
  ps AS (
    SELECT l_partkey AS p, l_suppkey AS s,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem GROUP BY 1, 2
  ), ranked AS (
    SELECT p, s, row_number() OVER (PARTITION BY p
                                    ORDER BY n_items DESC, s ASC) AS rk
    FROM ps
  ), capped AS (
    SELECT p, s FROM ranked WHERE rk <= {_Q224_CAP}
  ), edges AS (
    SELECT a.s AS s1, b.s AS s2
    FROM capped a JOIN capped b ON a.p = b.p AND a.s < b.s
    GROUP BY 1, 2 HAVING count(*) >= {_Q224_SUPPORT}
  )
"""

_Q248_ORACLE = f"""
WITH {_Q248_EDGES_SQL},
und AS (
  SELECT s1 AS v, s2 AS w FROM edges
  UNION ALL SELECT s2, s1 FROM edges
), lab AS (
  SELECT s_suppkey AS v, CAST(s_nationkey AS BIGINT) AS nation
  FROM supplier
), msg AS (
  SELECT und.v, lw.nation AS nb_nation, CAST(count(*) AS BIGINT) AS c
  FROM und JOIN lab lw ON lw.v = und.w
  GROUP BY und.v, lw.nation
), ranked_msg AS (
  SELECT v, nb_nation, c,
         row_number() OVER (PARTITION BY v
                            ORDER BY c DESC, nb_nation ASC) AS rk,
         CAST(sum(c) OVER (PARTITION BY v) AS BIGINT) AS degree
  FROM msg
), own AS (
  SELECT m.v, m.degree, m.nb_nation AS majority_nation, lab.nation,
         COALESCE(sm.c, 0) AS n_same
  FROM ranked_msg m
  JOIN lab ON lab.v = m.v
  LEFT JOIN msg sm ON sm.v = m.v AND sm.nb_nation = lab.nation
  WHERE m.rk = 1
)
SELECT v AS supplier, nation, degree,
       CAST(n_same AS BIGINT) AS n_same_nation,
       CAST((2000000 * n_same + degree) // (2 * degree) AS BIGINT)
         AS homophily_micro,
       majority_nation
FROM own
"""


@register("q248_graph_homophily", _Q248_ORACLE)
def q248(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph homophily audit + one majority-label message-passing
    round over the q224 co-supply graph with nation labels — the two
    numbers a graph-ML practitioner checks before choosing an
    architecture: per node, the share of neighbors sharing its label
    (edge homophily; GNNs that assume homophily fail on heterophilous
    graphs) and the MAJORITY neighbor label (exactly one round of
    label-propagation-style aggregation, deterministic via the
    (count desc, label asc) tie-break).  Integer-exact counts and one
    pinned share.

    Scale: the undirected message stream is 2|E| rows; the per-node
    label histogram is one map-side-combined groupBy; the majority
    pick partitions the window on the NODE (unbounded cardinality).
    Same bounded edge construction as q224 (per-part cap + support)."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    ps = li.groupBy(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_items"))
    wrk = Window.partitionBy("p").orderBy(
        F.col("n_items").desc(), F.col("s").asc()
    )
    # pinned: the capped frame feeds BOTH sides of the wedge self-join
    # (Catalyst shares no subtree across a self-join, so the lineitem
    # rollup + per-part window ran twice — the q224 posture)
    capped = (
        ps.withColumn("rk", F.row_number().over(wrk))
        .filter(F.col("rk") <= _Q224_CAP)
        .select("p", "s")
        .transform(_pin)
    )
    a, b = capped.alias("a"), capped.alias("b")
    edges = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(F.count(F.lit(1)).alias("_sup"))
        .filter(F.col("_sup") >= _Q224_SUPPORT)
        .select("s1", "s2")
    )
    # undirected doubling as a row-local explode of ONE edge row — a
    # union of two selects would re-execute the whole self-join
    # subtree per branch (the containment_pairs directed-pair rule)
    und = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("s1").alias("v"), F.col("s2").alias("w")),
                F.struct(F.col("s2").alias("v"), F.col("s1").alias("w")),
            )
        ).alias("e")
    ).select("e.v", "e.w")
    lab = sup.select(
        F.col("s_suppkey").alias("v"),
        F.col("s_nationkey").cast("long").alias("nation"),
    )
    # ONE aggregate produces degree, majority pick and the same-nation
    # count: the oracle's window + two joins back onto msg re-executed
    # the whole edge subtree once per consumer (the plan carried three
    # copies of the capped self-join — 62 Exchanges / 22 scans before).
    # Equivalences: row_number()=1 over (c desc, nb_nation asc) is
    # max_by over the (c, -nb_nation) struct (nb_nation is unique per
    # (v, nb_nation) group, so the pick is deterministic); degree is
    # the plain sum; the left self-join for n_same is the conditional
    # sum over the own-nation bucket (no matching bucket → 0, matching
    # COALESCE). lab joins BEFORE the per-node rollup — supplier is
    # dimension-sized, so the join broadcasts and adds no exchange.
    msg = (
        und.join(
            lab.select(F.col("v").alias("w"), F.col("nation").alias("nb_nation")),
            "w",
        )
        .groupBy("v", "nb_nation")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    own = (
        msg.join(lab, "v")
        .groupBy("v", "nation")
        .agg(
            F.sum("c").cast("long").alias("degree"),
            F.max_by(
                "nb_nation", F.struct(F.col("c"), (-F.col("nb_nation")))
            ).alias("majority_nation"),
            F.coalesce(
                F.sum(F.when(F.col("nb_nation") == F.col("nation"), F.col("c"))),
                F.lit(0),
            )
            .cast("long")
            .alias("n_same"),
        )
    )
    return own.select(
        F.col("v").alias("supplier"),
        "nation",
        "degree",
        F.col("n_same").alias("n_same_nation"),
        F.expr("(2000000 * n_same + degree) div (2 * degree)")
        .cast("long")
        .alias("homophily_micro"),
        "majority_nation",
    )


# ---------------------------------------------------------------------------
# q249 — two-proportion z-test (A/B experiment readout)
# ---------------------------------------------------------------------------

_Q249_ORACLE = """
WITH u AS (
  SELECT user_id, user_id % 2 AS arm,
         CAST(CASE WHEN sum(CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END)
                   > sum(CASE WHEN event_type = 'view'
                         THEN 1 ELSE 0 END)
              THEN 1 ELSE 0 END AS BIGINT) AS converted
  FROM events GROUP BY user_id
), arms AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(converted) AS BIGINT) AS x
  FROM u GROUP BY arm
), w AS (
  SELECT max(CASE WHEN arm = 0 THEN n END) AS n0,
         max(CASE WHEN arm = 0 THEN x END) AS x0,
         max(CASE WHEN arm = 1 THEN n END) AS n1,
         max(CASE WHEN arm = 1 THEN x END) AS x1
  FROM arms
)
SELECT CAST(n0 AS BIGINT) AS n_control, CAST(x0 AS BIGINT) AS x_control,
       CAST(n1 AS BIGINT) AS n_treat, CAST(x1 AS BIGINT) AS x_treat,
       CAST((2000000 * x0 + n0) // (2 * n0) AS BIGINT) AS p_control_micro,
       CAST((2000000 * x1 + n1) // (2 * n1) AS BIGINT) AS p_treat_micro,
       CAST(round(1000 * (CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0)
            / sqrt((CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
                   * (1 - CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
                   * (1.0 / n0 + 1.0 / n1))) AS BIGINT) AS z_milli
FROM w
"""


@register("q249_ab_ztest", _Q249_ORACLE)
def q249(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test — the standard A/B experiment readout:
    per-user conversion (any purchase event), arms assigned by the
    deterministic user_id parity, pooled-variance z statistic
    (p̂₁−p̂₀)/√(p̂(1−p̂)(1/n₀+1/n₁)).  Counts and the per-arm rates are
    integer-exact; the z statistic itself runs entirely in
    correctly-rounded double ops (divisions of exact integers, one
    sqrt) on identical operands, so the milli-pinned value matches
    cross-engine — the q239 argument.  |z| < 1.96 on this corpus
    (parity arms of uniform behavior), which is the correct null
    readout, asserted in the test.

    Scale: one groupBy to per-user conversion flags, one to the
    two-arm frame; everything after is a 1-row projection."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            > F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("converted")
    ).select((F.col("user_id") % 2).alias("arm"), "converted")
    arms = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("converted").cast("long").alias("x"),
    )
    w = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("x"))).alias("x0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("x"))).alias("x1"),
    )
    pooled = (F.col("x0") + F.col("x1")).cast("double") / (
        F.col("n0") + F.col("n1")
    )
    z = (
        F.col("x1").cast("double") / F.col("n1")
        - F.col("x0").cast("double") / F.col("n0")
    ) / F.sqrt(
        pooled
        * (1 - pooled)
        * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
    )
    return w.select(
        F.col("n0").cast("long").alias("n_control"),
        F.col("x0").cast("long").alias("x_control"),
        F.col("n1").cast("long").alias("n_treat"),
        F.col("x1").cast("long").alias("x_treat"),
        F.expr("(2000000 * x0 + n0) div (2 * n0)")
        .cast("long")
        .alias("p_control_micro"),
        F.expr("(2000000 * x1 + n1) div (2 * n1)")
        .cast("long")
        .alias("p_treat_micro"),
        F.round(1000 * z, 0).cast("long").alias("z_milli"),
    )


# ---------------------------------------------------------------------------
# q250 — CUPED variance-reduction audit
# ---------------------------------------------------------------------------

_Q250_SPLIT = "2024-01-16"  # pre-period covariate / post-period metric

_Q250_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '{_Q250_SPLIT}'
                  THEN CAST(round(value * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '{_Q250_SPLIT}'
                  THEN CAST(round(value * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY user_id
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM u
), d AS (
  SELECT n,
         n * sxx - sx * sx AS vx,
         n * syy - sy * sy AS vy,
         n * sxy - sx * sy AS cxy
  FROM m
)
SELECT n AS n_users,
       CAST(vx AS BIGINT) AS var_x_num, CAST(vy AS BIGINT) AS var_y_num,
       CAST(cxy AS BIGINT) AS cov_num,
       CAST(round(1000000 * CAST(cxy AS DOUBLE) / CAST(vx AS DOUBLE))
            AS BIGINT) AS theta_micro,
       CAST(round(1000000 * (CAST(cxy AS DOUBLE) * cxy)
                  / (CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)))
            AS BIGINT) AS rho2_micro
FROM d
"""


@register("q250_cuped_audit", _Q250_ORACLE)
def q250(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduction audit (Deng et al. 2013 — the standard
    experiment-sensitivity booster): regress each user's POST-period
    metric on their PRE-period covariate; θ = cov(X,Y)/var(X) is the
    adjustment coefficient and ρ² the fraction of metric variance
    CUPED removes (the experiment runs 1/(1−ρ²)× faster).  Moments are
    EXACT integers (cents; n·Σxy − Σx·Σy form); θ pins sign-safely
    (the covariance CAN be negative); ρ² crosses to double only for
    the final ratio — both engines cast the identical BIGINTs and
    round the identical product, the q239/q249 determinism argument.
    On this corpus user behavior has no persistent heterogeneity, so
    the audit correctly reports ρ² ≈ 0 — \"CUPED will not help here\"
    IS the decision this query exists to make.

    Scale: one groupBy to per-user (X, Y), one map-side-combined
    moment aggregation, one-row algebra after."""
    ev = load_table(spark, sf_dir, "events")
    split = F.lit(_Q250_SPLIT).cast("date")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts").cast("date") < split, cents).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(
            F.when(F.col("ts").cast("date") >= split, cents).otherwise(0)
        )
        .cast("long")
        .alias("y"),
    )
    m = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    d = m.select(
        "n",
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("vx"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("vy"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("cxy"),
    )
    return d.select(
        F.col("n").alias("n_users"),
        F.col("vx").cast("long").alias("var_x_num"),
        F.col("vy").cast("long").alias("var_y_num"),
        F.col("cxy").cast("long").alias("cov_num"),
        F.round(
            1000000 * F.col("cxy").cast("double") / F.col("vx").cast("double"),
            0,
        )
        .cast("long")
        .alias("theta_micro"),
        F.round(
            1000000
            * (F.col("cxy").cast("double") * F.col("cxy"))
            / (F.col("vx").cast("double") * F.col("vy").cast("double")),
            0,
        )
        .cast("long")
        .alias("rho2_micro"),
    )


# ---------------------------------------------------------------------------
# q251 — Mann–Whitney U test (rank-based A/B, tie-corrected)
# ---------------------------------------------------------------------------

# Per-user metric: total revenue cents; arms by user_id parity (q249's
# assignment).  Average ranks are half-integers, so everything carries
# DOUBLED ranks: for a tied value group spanning positions
# [c+1, c+t], rank2 = 2c + t + 1 (an exact integer).
_Q251_ORACLE = """
WITH u AS (
  SELECT user_id % 2 AS arm,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY user_id
), vals AS (
  SELECT v, CAST(count(*) AS BIGINT) AS t,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t1
  FROM u GROUP BY v
), ranked AS (
  SELECT v, t, t1,
         CAST(coalesce(sum(t) OVER (ORDER BY v ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS c
  FROM vals
), agg AS (
  SELECT CAST(sum(t) AS BIGINT) AS n,
         CAST(sum(t1) AS BIGINT) AS n1,
         CAST(sum(t1 * (2 * c + t + 1)) AS BIGINT) AS r2_1,
         CAST(sum(t * t * t - t) AS BIGINT) AS tie3
  FROM ranked
)
SELECT n, n1, CAST(n - n1 AS BIGINT) AS n0,
       CAST(r2_1 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
       tie3,
       CAST(round(1000 * (CAST(r2_1 - n1 * (n1 + 1) AS DOUBLE) / 2
                          - CAST(n1 * (n - n1) AS DOUBLE) / 2)
            / sqrt(CAST(n1 AS DOUBLE) * (n - n1) / 12
                   * ((n + 1) - CAST(tie3 AS DOUBLE) / (n * (n - 1)))))
            AS BIGINT) AS z_milli
FROM agg
"""


@register("q251_mann_whitney_u", _Q251_ORACLE)
def q251(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U test (Wilcoxon rank-sum) with tie correction —
    the nonparametric twin of q249 for metrics too skewed for a
    z-on-means (revenue always is): rank all users' revenue, U₁ =
    R₁ − n₁(n₁+1)/2, normal approximation with the tie term
    Σ(t³−t)/(n(n−1)).  Average ranks of ties are half-integers, so the
    plan carries DOUBLED ranks (a tie group over positions [c+1, c+t]
    contributes rank2 = 2c+t+1) and the DOUBLED U stays an exact
    integer (U itself is a half-integer when an even-sized tie group
    splits oddly between arms — truncation vs rounding of that .5
    diverges cross-engine, found at sf0.1); only the
    final z crosses to double (identical casts, one sqrt — the q239
    argument).  The rank accumulation runs on the DISTINCT-VALUE frame
    (value-cardinality sized), not per user, so the only ordered
    window touches a frame that aggregation already collapsed.

    Scale: per-user groupBy, distinct-value groupBy, a cumulative
    prefix-sum over the value frame — which is value-cardinality
    sized (up to |users| distinct revenue sums), so it runs through
    the range-exchange two-phase scan (operators/windows), not a
    single-task global window — then one-row algebra."""
    from ..operators.windows import scalable_prefix_sums

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("v")
    ).select((F.col("user_id") % 2).alias("arm"), "v")
    vals = u.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("t1"),
    )
    # exclusive prefix (rows strictly below v) = inclusive − own t
    ranked = scalable_prefix_sums(vals, ("v",), {"_ct": "t"}).select(
        "v",
        "t",
        "t1",
        (F.col("_ct") - F.col("t")).cast("long").alias("c"),
    )
    agg = ranked.agg(
        F.sum("t").cast("long").alias("n"),
        F.sum("t1").cast("long").alias("n1"),
        F.sum(F.col("t1") * (2 * F.col("c") + F.col("t") + 1))
        .cast("long")
        .alias("r2_1"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tie3"),
    )
    n, n1 = F.col("n"), F.col("n1")
    mean_u = (n1 * (n - n1)).cast("double") / 2
    u1 = (F.col("r2_1") - n1 * (n1 + 1)).cast("double") / 2
    var_u = (
        n1.cast("double")
        * (n - n1)
        / 12
        * ((n + 1) - F.col("tie3").cast("double") / (n * (n - 1)))
    )
    return agg.select(
        "n",
        "n1",
        (n - n1).cast("long").alias("n0"),
        F.expr("r2_1 - n1 * (n1 + 1)").cast("long").alias("u1_x2"),
        "tie3",
        F.round(1000 * (u1 - mean_u) / F.sqrt(var_u), 0)
        .cast("long")
        .alias("z_milli"),
    )


# ---------------------------------------------------------------------------
# q252 — experiment health panel: SRM check + delta-method ratio metric
# ---------------------------------------------------------------------------

_Q252_ORACLE = """
WITH u AS (
  SELECT user_id % 2 AS arm,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY user_id
), m AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM u GROUP BY arm
), d AS (
  SELECT arm, n, sx, sy,
         CAST(sx AS DOUBLE) / sy AS r,
         (CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) ^ 2
          - 2 * (CAST(sx AS DOUBLE) / sy)
            * (CAST(sxy AS DOUBLE) / n
               - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
          + (CAST(sx AS DOUBLE) / sy) ^ 2
            * (CAST(syy AS DOUBLE) / n - (CAST(sy AS DOUBLE) / n) ^ 2))
         / (n * (CAST(sy AS DOUBLE) / n) ^ 2) AS var_r
  FROM m
), w AS (
  SELECT max(CASE WHEN arm = 0 THEN n END) AS n0,
         max(CASE WHEN arm = 1 THEN n END) AS n1,
         max(CASE WHEN arm = 0 THEN r END) AS r0,
         max(CASE WHEN arm = 1 THEN r END) AS r1,
         max(CASE WHEN arm = 0 THEN var_r END) AS v0,
         max(CASE WHEN arm = 1 THEN var_r END) AS v1
  FROM d
)
SELECT CAST(n0 AS BIGINT) AS n_control, CAST(n1 AS BIGINT) AS n_treat,
       CAST((2000 * (n0 - n1) * (n0 - n1) + (n0 + n1))
            // (2 * (n0 + n1)) AS BIGINT) AS srm_chi2_milli,
       CAST(round(10 * r0) AS BIGINT) AS r_control_milli,
       CAST(round(10 * r1) AS BIGINT) AS r_treat_milli,
       CAST(round(1000 * (r1 - r0) / sqrt(v0 + v1)) AS BIGINT) AS z_milli
FROM w
"""


@register("q252_experiment_panel", _Q252_ORACLE)
def q252(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment health panel — the two readouts every A/B platform
    computes before anyone looks at the metric: (1) the SAMPLE-RATIO
    MISMATCH chi-square (n₀−n₁)²/(n₀+n₁), integer-exact and
    milli-pinned — a skewed split means broken randomization and
    invalidates everything downstream; (2) the RATIO metric (revenue
    per event, ΣX/ΣY — the unit of analysis is the USER but the metric
    denominator is events, the classic delta-method case) with its
    linearized variance (varX − 2R·cov + R²·varY)/(n·Ȳ²) per arm and
    the z score of the difference.  Moments are exact integer cents;
    ratios/variances cross to double on identical operands (the
    q239/q250 determinism argument); r_*_milli reports cents·10³/event
    = milli-cents per event.

    Scale: per-user groupBy, two-arm moment aggregation, one-row
    algebra."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("x"),
        F.count(F.lit(1)).cast("long").alias("y"),
    ).select((F.col("user_id") % 2).alias("arm"), "x", "y")
    m = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx").cast("double"), F.col("sy").cast("double")
    r = sx / F.col("sy")
    mx, my = sx / n, sy / n
    vx = F.col("sxx").cast("double") / n - mx * mx
    vy = F.col("syy").cast("double") / n - my * my
    cxy = F.col("sxy").cast("double") / n - mx * my
    var_r = (vx - 2 * r * cxy + r * r * vy) / (n * my * my)
    d = m.select("arm", "n", r.alias("r"), var_r.alias("var_r"))
    w = d.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 0, F.col("r"))).alias("r0"),
        F.max(F.when(F.col("arm") == 1, F.col("r"))).alias("r1"),
        F.max(F.when(F.col("arm") == 0, F.col("var_r"))).alias("v0"),
        F.max(F.when(F.col("arm") == 1, F.col("var_r"))).alias("v1"),
    )
    return w.select(
        F.col("n0").cast("long").alias("n_control"),
        F.col("n1").cast("long").alias("n_treat"),
        F.expr(
            "(2000 * (n0 - n1) * (n0 - n1) + (n0 + n1))"
            " div (2 * (n0 + n1))"
        )
        .cast("long")
        .alias("srm_chi2_milli"),
        F.round(10 * F.col("r0"), 0).cast("long").alias("r_control_milli"),
        F.round(10 * F.col("r1"), 0).cast("long").alias("r_treat_milli"),
        F.round(
            1000 * (F.col("r1") - F.col("r0")) / F.sqrt(F.col("v0") + F.col("v1")),
            0,
        )
        .cast("long")
        .alias("z_milli"),
    )


# ---------------------------------------------------------------------------
# q253 — clamped running balance (ordered recurrence as a row-local fold)
# ---------------------------------------------------------------------------

_Q253_ORACLE = """
WITH tx AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase'
              THEN CAST(round(value * 100) AS BIGINT)
              ELSE -CAST(round(value * 100) AS BIGINT) END AS delta
  FROM events WHERE event_type IN ('purchase', 'click')
), seq AS (
  SELECT user_id,
         list_transform(
           list_sort(list((ts, event_id, delta))),
           s -> s[3]) AS deltas
  FROM tx GROUP BY user_id
)
SELECT user_id,
       CAST(len(deltas) AS BIGINT) AS n_txn,
       CAST(list_sum(list_filter(deltas, d -> d > 0)) AS BIGINT)
         AS deposits,
       CAST(-list_sum(list_filter(deltas, d -> d < 0)) AS BIGINT)
         AS withdrawals,
       CAST(list_sum(deltas) AS BIGINT) AS net_unclamped,
       CAST(list_reduce([CAST(0 AS BIGINT)] || deltas,
                        (acc, d) -> greatest(0, acc + d)) AS BIGINT)
         AS final_balance
FROM seq
"""


@register("q253_clamped_balance", _Q253_ORACLE)
def q253(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamped running balance — the ordered RECURRENCE no window
    function expresses (inventory that cannot go negative, prepaid
    credit, rate-limit token buckets): balance ← max(0, balance + Δ)
    folded over each user's (ts, event_id)-ordered transactions
    (purchases deposit, clicks withdraw).  The clamp makes every step
    depend on the previous — prefix sums cannot compute it — so the
    plan collects each user's deltas into an ORDERED ARRAY and runs
    the fold ROW-LOCALLY (Spark `aggregate`, DuckDB `list_reduce`
    seeded by a prepended 0), staying JVM-side with zero UDFs.  The
    unclamped net ships alongside: where they differ, the clamp
    actually fired.

    Scale: one groupBy to per-user arrays — valid while per-entity
    transaction counts are bounded (events-per-user here; at unbounded
    history the same fold runs per segment via
    applyInPandasWithState, the q83 machinery).  Sorting happens
    inside each array (array_sort on (ts, id, Δ) structs), never as a
    global or windowed sort."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    tx = ev.filter(
        F.col("event_type").isin("purchase", "click")
    ).select(
        "user_id",
        F.struct(
            F.col("ts").alias("ts"),
            F.col("event_id").alias("event_id"),
            F.when(F.col("event_type") == "purchase", cents)
            .otherwise(-cents)
            .alias("delta"),
        ).alias("s"),
    )
    seq = tx.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list("s")), lambda s: s["delta"]
        ).alias("deltas")
    )
    pos = F.filter(F.col("deltas"), lambda d: d > 0)
    neg = F.filter(F.col("deltas"), lambda d: d < 0)
    return seq.select(
        "user_id",
        F.size("deltas").cast("long").alias("n_txn"),
        F.aggregate(pos, F.lit(0).cast("long"), lambda a, d: a + d)
        .cast("long")
        .alias("deposits"),
        (-F.aggregate(neg, F.lit(0).cast("long"), lambda a, d: a + d))
        .cast("long")
        .alias("withdrawals"),
        F.aggregate(
            F.col("deltas"), F.lit(0).cast("long"), lambda a, d: a + d
        )
        .cast("long")
        .alias("net_unclamped"),
        F.aggregate(
            F.col("deltas"),
            F.lit(0).cast("long"),
            lambda a, d: F.greatest(F.lit(0).cast("long"), a + d),
        )
        .cast("long")
        .alias("final_balance"),
    )


# ---------------------------------------------------------------------------
# q254 — categorical drift panel (TVD + two-sample chi-square)
# ---------------------------------------------------------------------------

_Q254_SPLIT = "2024-01-16"  # reference window vs current window

_Q254_ORACLE = f"""
WITH c AS (
  SELECT event_type,
         CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '{_Q254_SPLIT}'
                  THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '{_Q254_SPLIT}'
                  THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM events GROUP BY event_type
), tot AS (
  SELECT CAST(sum(n1) AS BIGINT) AS t1, CAST(sum(n2) AS BIGINT) AS t2
  FROM c
), terms AS (
  SELECT c.event_type, c.n1, c.n2, tot.t1, tot.t2,
         abs(c.n1 * tot.t2 - c.n2 * tot.t1) AS dnum,
         (c.n1 * tot.t2 - c.n2 * tot.t1)
           * (c.n1 * tot.t2 - c.n2 * tot.t1) AS csq_num,
         tot.t1 * tot.t2 * (c.n1 + c.n2) AS csq_den
  FROM c CROSS JOIN tot
)
SELECT event_type, n1 AS n_ref, n2 AS n_cur,
       CAST((2000000 * n1 + t1) // (2 * t1) AS BIGINT) AS p_ref_micro,
       CAST((2000000 * n2 + t2) // (2 * t2) AS BIGINT) AS p_cur_micro,
       CAST((2000000 * dnum + 2 * t1 * t2) // (4 * t1 * t2) AS BIGINT)
         AS tvd_contrib_micro,
       CAST((2000 * csq_num + csq_den) // (2 * csq_den) AS BIGINT)
         AS chi2_contrib_milli
FROM terms
"""


@register("q254_categorical_drift", _Q254_ORACLE)
def q254(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift panel — the model-monitoring readout for a
    discrete feature (complements q185's numeric KS): reference window
    vs current window of the event-type distribution, per category the
    TOTAL VARIATION contribution |p_ref − p_cur|/2 and the two-sample
    chi-square contribution (n₁T₂ − n₂T₁)²/(T₁T₂(n₁+n₂)) — both EXACT
    rationals pinned in micro/milli units, no libm (PSI's ln(p/q) is
    why PSI is NOT here; TVD + χ² carry the same drift decision
    integer-exactly).  Summing the contribution columns yields the
    dataset-level TVD and χ² statistics; per-category rows show WHICH
    category drifted, which is what the alert needs to say.

    Scale: one map-side-combined groupBy over the scan, a broadcast
    totals row, pure row-local algebra after.  Overflow audit:
    (n₁T₂)² stays under 2⁶³ through T ≈ 3·10⁶ per window at the
    |categories| = 5 cardinality here; wider regimes drop to the
    q250-style deterministic-double route."""
    ev = load_table(spark, sf_dir, "events")
    split = F.lit(_Q254_SPLIT).cast("date")
    c = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("ts").cast("date") < split, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("ts").cast("date") >= split, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
    )
    tot = c.agg(
        F.sum("n1").cast("long").alias("t1"),
        F.sum("n2").cast("long").alias("t2"),
    )
    terms = c.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n1",
        "n2",
        "t1",
        "t2",
        F.abs(F.col("n1") * F.col("t2") - F.col("n2") * F.col("t1")).alias(
            "dnum"
        ),
        (
            (F.col("n1") * F.col("t2") - F.col("n2") * F.col("t1"))
            * (F.col("n1") * F.col("t2") - F.col("n2") * F.col("t1"))
        ).alias("csq_num"),
        (F.col("t1") * F.col("t2") * (F.col("n1") + F.col("n2"))).alias(
            "csq_den"
        ),
    )
    return terms.select(
        "event_type",
        F.col("n1").alias("n_ref"),
        F.col("n2").alias("n_cur"),
        F.expr("(2000000 * n1 + t1) div (2 * t1)")
        .cast("long")
        .alias("p_ref_micro"),
        F.expr("(2000000 * n2 + t2) div (2 * t2)")
        .cast("long")
        .alias("p_cur_micro"),
        F.expr("(2000000 * dnum + 2 * t1 * t2) div (4 * t1 * t2)")
        .cast("long")
        .alias("tvd_contrib_micro"),
        F.expr("(2000 * csq_num + csq_den) div (2 * csq_den)")
        .cast("long")
        .alias("chi2_contrib_milli"),
    )


# ---------------------------------------------------------------------------
# q255 — embedding centroid drift (vector-store monitoring)
# ---------------------------------------------------------------------------

_Q255_ORACLE = """
WITH ex AS (
  SELECT CAST(label AS BIGINT) AS label, vec_id % 2 AS half,
         CAST(u.i - 1 AS BIGINT) AS dim,
         CAST(floor(v[u.i] * 10000.0) AS BIGINT) AS vq
  FROM (SELECT label, vec_id, embedding::DOUBLE[] AS v FROM embeddings)
  CROSS JOIN LATERAL unnest(generate_series(1, len(v))) AS u(i)
), s AS (
  SELECT label, dim,
         CAST(sum(CASE WHEN half = 0 THEN vq ELSE 0 END) AS BIGINT) AS s1,
         CAST(sum(CASE WHEN half = 1 THEN vq ELSE 0 END) AS BIGINT) AS s2
  FROM ex GROUP BY label, dim
), n AS (
  SELECT CAST(label AS BIGINT) AS label,
         CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_ref,
         CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_cur
  FROM embeddings GROUP BY label
), dots AS (
  SELECT label,
         CAST(sum(s1 * s2) AS BIGINT) AS d12,
         CAST(sum(s1 * s1) AS BIGINT) AS d11,
         CAST(sum(s2 * s2) AS BIGINT) AS d22
  FROM s GROUP BY label
)
SELECT n.label, n.n_ref, n.n_cur,
       CAST(round(1000000 * CAST(dots.d12 AS DOUBLE)
                  / (sqrt(CAST(dots.d11 AS DOUBLE))
                     * sqrt(CAST(dots.d22 AS DOUBLE)))) AS BIGINT)
         AS cos_micro,
       CAST(round(1000 * (sqrt(CAST(dots.d22 AS DOUBLE)) * n.n_ref)
                  / (sqrt(CAST(dots.d11 AS DOUBLE)) * n.n_cur)) AS BIGINT)
         AS norm_ratio_milli
FROM n JOIN dots USING (label)
"""


@register("q255_centroid_drift", _Q255_ORACLE)
def q255(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding centroid drift — the vector-store monitoring readout
    (a re-embedded or upstream-shifted model moves class centroids;
    ANN indexes and cached neighbors silently rot): per label, the
    COSINE between the reference-half and current-half centroids
    (1e6 = unmoved) and the centroid NORM ratio (scale drift the
    cosine is blind to).  Determinism: per-dimension sums use q69's
    floor-quantized-integer rule (order-independent), cosine is
    scale-invariant so it runs directly on the integer SUM vectors —
    means never materialize — and the dots stay EXACT BIGINTs
    (quantization at 1e4 keeps 64-dim sums of products inside 2⁶³
    through sf1-scale groups; a double dot here would sum rounded
    >2⁵³ products in engine-dependent order — the one float hazard
    quantized sums exist to remove).  Only the final cos/ratio touch
    doubles: sqrt of exact integers, one division (the q239 rule).

    Scale: posexplode to (label, half, dim), ONE map-side-combined
    groupBy to |labels|×|dims| cells — corpus-size independent — then
    label-level algebra."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.col("label").cast("long").alias("label"),
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.col("embedding")).alias("dim", "val"),
    ).select(
        "label",
        "half",
        F.col("dim").cast("long").alias("dim"),
        F.floor(F.col("val").cast("double") * F.lit(10000.0))
        .cast("long")
        .alias("vq"),
    )
    s = ex.groupBy("label", "dim").agg(
        F.sum(F.when(F.col("half") == 0, F.col("vq")).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.sum(F.when(F.col("half") == 1, F.col("vq")).otherwise(0))
        .cast("long")
        .alias("s2"),
    )
    n = emb.groupBy(F.col("label").cast("long").alias("label")).agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_ref"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_cur"),
    )
    dots = s.groupBy("label").agg(
        F.sum(F.col("s1") * F.col("s2")).cast("long").alias("d12"),
        F.sum(F.col("s1") * F.col("s1")).cast("long").alias("d11"),
        F.sum(F.col("s2") * F.col("s2")).cast("long").alias("d22"),
    )
    return n.join(dots, "label").select(
        "label",
        "n_ref",
        "n_cur",
        F.round(
            1000000
            * F.col("d12").cast("double")
            / (F.sqrt(F.col("d11").cast("double"))
               * F.sqrt(F.col("d22").cast("double"))),
            0,
        )
        .cast("long")
        .alias("cos_micro"),
        F.round(
            1000
            * (F.sqrt(F.col("d22").cast("double")) * F.col("n_ref"))
            / (F.sqrt(F.col("d11").cast("double")) * F.col("n_cur")),
            0,
        )
        .cast("long")
        .alias("norm_ratio_milli"),
    )


# ---------------------------------------------------------------------------
# q256 — capture-recapture population estimate (Chapman estimator)
# ---------------------------------------------------------------------------

_Q256_SPLIT = "2024-01-16"

_Q256_ORACLE = f"""
WITH w AS (
  SELECT user_id,
         CAST(max(CASE WHEN CAST(ts AS DATE) < DATE '{_Q256_SPLIT}'
                  THEN 1 ELSE 0 END) AS BIGINT) AS in_a,
         CAST(max(CASE WHEN CAST(ts AS DATE) >= DATE '{_Q256_SPLIT}'
                  THEN 1 ELSE 0 END) AS BIGINT) AS in_b
  FROM events GROUP BY user_id
), c AS (
  SELECT CAST(sum(in_a) AS BIGINT) AS n1,
         CAST(sum(in_b) AS BIGINT) AS n2,
         CAST(sum(in_a * in_b) AS BIGINT) AS m,
         CAST(count(*) AS BIGINT) AS n_true
  FROM w
)
SELECT n1, n2, m, n_true,
       CAST((2000 * ((n1 + 1) * (n2 + 1) - (m + 1)) + (m + 1))
            // (2 * (m + 1)) AS BIGINT) AS chapman_milli,
       CAST((2000000 * m * m + n1 * n2) // (2 * n1 * n2) AS BIGINT)
         AS overlap_sq_micro
FROM c
"""


@register("q256_capture_recapture", _Q256_ORACLE)
def q256(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture population estimate (Lincoln–Petersen with
    the Chapman correction, N̂ = (n₁+1)(n₂+1)/(m+1) − 1) — the
    coverage estimator a crawl/dedup pipeline uses to ask \"how many
    entities EXIST, given how much two samples overlap?\": two event
    windows mark-and-recapture the user population, and the estimate
    is checked against the TRUE distinct count carried alongside (the
    audit this synthetic corpus makes possible).  The Chapman form is
    exact-rational (milli-pinned; defined even at zero overlap) —
    the estimator IS a ratio of integers, no libm anywhere.  Also
    emits m²/(n₁n₂), the overlap-independence diagnostic (≈ capture
    probability product when sampling is independent).

    Scale: one groupBy to per-user window flags, one map-side-combined
    reduction to four counters, one-row algebra."""
    ev = load_table(spark, sf_dir, "events")
    split = F.lit(_Q256_SPLIT).cast("date")
    w = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("ts").cast("date") < split, 1).otherwise(0)
        )
        .cast("long")
        .alias("in_a"),
        F.max(
            F.when(F.col("ts").cast("date") >= split, 1).otherwise(0)
        )
        .cast("long")
        .alias("in_b"),
    )
    c = w.agg(
        F.sum("in_a").cast("long").alias("n1"),
        F.sum("in_b").cast("long").alias("n2"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("m"),
        F.count(F.lit(1)).cast("long").alias("n_true"),
    )
    return c.select(
        "n1",
        "n2",
        "m",
        "n_true",
        F.expr(
            "(2000 * ((n1 + 1) * (n2 + 1) - (m + 1)) + (m + 1))"
            " div (2 * (m + 1))"
        )
        .cast("long")
        .alias("chapman_milli"),
        F.expr("(2000000 * m * m + n1 * n2) div (2 * n1 * n2)")
        .cast("long")
        .alias("overlap_sq_micro"),
    )


# ---------------------------------------------------------------------------
# q257 — join-cardinality estimation audit (CBO formula vs truth)
# ---------------------------------------------------------------------------

# The three joins every TPC-H plan contains, audited with the textbook
# uniform-key estimate |R ⋈ S| ≈ |R|·|S| / max(ndv_R, ndv_S).
_Q257_JOINS = (
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
)


def _q257_one_sql(name: str, lt: str, lk: str, rt: str, rk: str) -> str:
    return f"""
  SELECT '{name}' AS join_name,
         (SELECT CAST(count(*) AS BIGINT) FROM {lt}) AS n_left,
         (SELECT CAST(count(*) AS BIGINT) FROM {rt}) AS n_right,
         (SELECT CAST(count(DISTINCT {lk}) AS BIGINT) FROM {lt}) AS ndv_left,
         (SELECT CAST(count(DISTINCT {rk}) AS BIGINT) FROM {rt}) AS ndv_right,
         (SELECT CAST(count(*) AS BIGINT)
          FROM {lt} JOIN {rt} ON {lt}.{lk} = {rt}.{rk}) AS true_rows"""


_Q257_ORACLE = f"""
WITH j AS ({" UNION ALL ".join(_q257_one_sql(*t) for t in _Q257_JOINS)}
)
SELECT join_name, n_left, n_right, ndv_left, ndv_right, true_rows,
       CAST((2 * n_left * n_right
             + greatest(ndv_left, ndv_right))
            // (2 * greatest(ndv_left, ndv_right)) AS BIGINT) AS est_rows,
       CAST((2000000 * abs((2 * n_left * n_right
                            + greatest(ndv_left, ndv_right))
                           // (2 * greatest(ndv_left, ndv_right))
                           - true_rows)
             + true_rows) // (2 * true_rows) AS BIGINT) AS err_micro
FROM j
"""


@register("q257_join_cardinality", _Q257_ORACLE)
def q257(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation audit — the other half of the CBO
    statistics question (q244 covers single-table selectivity): for the
    three joins every TPC-H plan contains, the textbook uniform-key
    estimate |R⋈S| ≈ |R|·|S|/max(ndv_R, ndv_S) against the TRUE join
    size, with the relative error pinned in micro units.  On clean FK
    joins the formula is near-exact (the audit confirms the statistics
    are sufficient); where keys are filtered or skewed it degrades —
    which is the number a CBO needs to know before trusting its plan.
    Integer-exact end to end (counts, ndv counts, one pinned division
    each).

    Scale: per join, two count aggregates, two distinct-counts, and
    the true join count — each map-side combined; the audit frame is
    three rows.  At 100 TB the same audit runs with HLL ndv sketches
    (q31) in place of exact distinct counts, same formula."""
    frames = []
    for name, lt, lk, rt, rk in _Q257_JOINS:
        left = load_table(spark, sf_dir, lt)
        right = load_table(spark, sf_dir, rt)
        stats = (
            left.agg(
                F.count(F.lit(1)).cast("long").alias("n_left"),
                F.count_distinct(F.col(lk)).cast("long").alias("ndv_left"),
            )
            .crossJoin(
                F.broadcast(
                    right.agg(
                        F.count(F.lit(1)).cast("long").alias("n_right"),
                        F.count_distinct(F.col(rk))
                        .cast("long")
                        .alias("ndv_right"),
                    )
                )
            )
            .crossJoin(
                F.broadcast(
                    left.join(right, left[lk] == right[rk])
                    .agg(F.count(F.lit(1)).cast("long").alias("true_rows"))
                )
            )
            .select(
                F.lit(name).alias("join_name"),
                "n_left",
                "n_right",
                "ndv_left",
                "ndv_right",
                "true_rows",
            )
        )
        frames.append(stats)
    j = frames[0]
    for fdf in frames[1:]:
        j = j.unionAll(fdf)
    est = F.expr(
        "(2 * n_left * n_right + greatest(ndv_left, ndv_right))"
        " div (2 * greatest(ndv_left, ndv_right))"
    )
    return j.select(
        "join_name",
        "n_left",
        "n_right",
        "ndv_left",
        "ndv_right",
        "true_rows",
        est.cast("long").alias("est_rows"),
        F.expr(
            "(2000000 * abs((2 * n_left * n_right"
            " + greatest(ndv_left, ndv_right))"
            " div (2 * greatest(ndv_left, ndv_right)) - true_rows)"
            " + true_rows) div (2 * true_rows)"
        )
        .cast("long")
        .alias("err_micro"),
    )


# ---------------------------------------------------------------------------
# q258 — skyline / Pareto frontier with grid pruning
# ---------------------------------------------------------------------------

_Q258_BUCKET = 1000000  # price-cents per prune cell (~50 cells here)

# Dominance: order y is dominated iff some order has (price <, date >=)
# or (price <=, date >).  Frontier = cheapest-and-freshest staircase.
_Q258_ORACLE = f"""
WITH o AS (
  SELECT o_orderkey AS k,
         CAST(round(o_totalprice * 100) AS BIGINT) AS p,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS d
  FROM orders
), cellmax AS (
  SELECT p // {_Q258_BUCKET} AS cell, CAST(max(d) AS BIGINT) AS dmax
  FROM o GROUP BY 1
), cellpfx AS (
  SELECT cell,
         max(dmax) OVER (ORDER BY cell ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pfx
  FROM cellmax
), surv AS (
  SELECT o.* FROM o
  JOIN cellpfx ON cellpfx.cell = o.p // {_Q258_BUCKET}
  WHERE cellpfx.pfx IS NULL OR o.d > cellpfx.pfx
), swept AS (
  SELECT k, p, d,
         max(d) OVER (ORDER BY p ASC
           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS dprev,
         max(d) OVER (PARTITION BY p) AS dsame
  FROM surv
)
SELECT k AS o_orderkey, p AS price_cents, CAST(d AS BIGINT) AS date_days
FROM swept
WHERE (dprev IS NULL OR d > dprev) AND d = dsame
"""


@register("q258_skyline", _Q258_ORACLE)
def q258(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier (Börzsönyi et al. 2001 — the SKYLINE
    OF operator): orders no other order beats on BOTH dimensions
    (cheaper AND more recent) — the multi-criteria shortlist verb.
    The plan is the scale shape, not the naive quadratic NOT EXISTS:
    (1) GRID PRUNE — bucket prices into cells, prefix-max the cell
    date maxima, and keep only rows later than every strictly-cheaper
    cell's maximum (a NECESSARY condition: every true frontier row
    survives; dominance is transitive, so every dominator of anything
    is itself dominated only by frontier rows, which survive); the
    survivor set is staircase-sized, not table-sized.  (2) EXACT SWEEP
    on the survivors: a strict-price range-frame running max plus a
    same-price group max — a row is frontier iff it beats both.
    Integer-exact (cents, epoch days).

    Scale: the prune is one groupBy + a cells-sized prefix window +
    one broadcast-able join; only the survivor remnant (≈ frontier
    size) enters the global-ordered sweep window."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("p"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1970-01-01").cast("date"),
        )
        .cast("long")
        .alias("d"),
    )
    cellmax = o.groupBy(
        F.expr(f"p div {_Q258_BUCKET}").alias("cell")
    ).agg(F.max("d").cast("long").alias("dmax"))
    wpfx = (
        Window.orderBy(F.col("cell").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cellpfx = cellmax.select(
        "cell", F.max("dmax").over(wpfx).alias("pfx")
    )
    surv = (
        o.withColumn("cell", F.expr(f"p div {_Q258_BUCKET}"))
        .join(F.broadcast(cellpfx), "cell")
        .filter(F.col("pfx").isNull() | (F.col("d") > F.col("pfx")))
        .select("k", "p", "d")
    )
    wprev = (
        Window.orderBy(F.col("p").asc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    swept = surv.select(
        "k",
        "p",
        "d",
        F.max("d").over(wprev).alias("dprev"),
        F.max("d").over(Window.partitionBy("p")).alias("dsame"),
    )
    return swept.filter(
        (F.col("dprev").isNull() | (F.col("d") > F.col("dprev")))
        & (F.col("d") == F.col("dsame"))
    ).select(
        F.col("k").alias("o_orderkey"),
        F.col("p").alias("price_cents"),
        F.col("d").alias("date_days"),
    )


# ---------------------------------------------------------------------------
# q259 — ABC (Pareto) classification by revenue contribution
# ---------------------------------------------------------------------------

_Q259_A, _Q259_B = 800000, 950000  # cumulative-share cuts (micro)

_Q259_ORACLE = f"""
WITH rev AS (
  SELECT l_partkey AS part,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM lineitem GROUP BY 1
), tot AS (
  SELECT CAST(sum(rev_cents) AS BIGINT) AS t FROM rev
), ranked AS (
  SELECT part, rev_cents,
         CAST(sum(rev_cents) OVER (ORDER BY rev_cents DESC, part ASC)
              AS BIGINT) AS cum
  FROM rev
), classed AS (
  SELECT part, rev_cents, cum, tot.t,
         CASE WHEN 1000000 * (cum - rev_cents) < {_Q259_A} * tot.t
              THEN 'A'
              WHEN 1000000 * (cum - rev_cents) < {_Q259_B} * tot.t
              THEN 'B' ELSE 'C' END AS abc
  FROM ranked CROSS JOIN tot
)
SELECT abc, CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(rev_cents) AS BIGINT) AS class_rev_cents,
       CAST((2000000 * sum(rev_cents) + max(t)) // (2 * max(t))
            AS BIGINT) AS rev_share_micro
FROM classed GROUP BY abc
"""


@register("q259_abc_classification", _Q259_ORACLE)
def q259(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto inventory classification — the 80/15/5 revenue
    segmentation every supply-chain and catalog team runs: rank parts
    by revenue, take the running share, and class a part by the share
    accumulated BEFORE it (so the part that crosses a boundary still
    belongs to the class it completes — the standard convention, and
    one that makes the cut deterministic under ties via the part-id
    tie-break).  The boundary test stays integer-exact by
    cross-multiplying (10⁶·cum_before < cut·total, never a division).

    Scale: revenue aggregates to a PARTS-sized frame before any
    ordering (the fact table never sorts); the running sum over that
    frame IS the q153 two-phase prefix-sum (operators/windows) — a
    parts dimension is ~2·10⁸ keys at 100 TB, too big for the
    single-task global window the naive plan would use (revenue desc
    negated into an ascending key, the scalable_ntile contract)."""
    from ..operators.windows import scalable_prefix_sums

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("rev_cents")
    )
    # total revenue = the kernel's driver-stats grand total
    # (totals) — exact for ANY sign of rev_cents (it
    # is the sum of the same per-partition sums), retiring the r9
    # max(cum) non-negativity precondition AND the aggregate + 1-row
    # cross join that read it. q330 reads its totals the same way.
    ranked = scalable_prefix_sums(
        rev.withColumn("_neg_rev", -F.col("rev_cents")),
        ("_neg_rev", "part"),
        {"cum": "rev_cents"},
        totals={"cum": "t"},
    ).select(
        "part", "rev_cents", F.col("cum").cast("long").alias("cum"), "t"
    )
    classed = ranked.select(
        "rev_cents",
        "t",
        F.when(
            1000000 * (F.col("cum") - F.col("rev_cents"))
            < _Q259_A * F.col("t"),
            "A",
        )
        .when(
            1000000 * (F.col("cum") - F.col("rev_cents"))
            < _Q259_B * F.col("t"),
            "B",
        )
        .otherwise("C")
        .alias("abc"),
    )
    return classed.groupBy("abc").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("rev_cents").cast("long").alias("class_rev_cents"),
        F.expr("(2000000 * sum(rev_cents) + max(t)) div (2 * max(t))")
        .cast("long")
        .alias("rev_share_micro"),
    )


# ---------------------------------------------------------------------------
# q260 — Theil–Sen robust trend slope
# ---------------------------------------------------------------------------

_Q260_ORACLE = """
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev
  FROM events GROUP BY 1
), pairs AS (
  SELECT b.rev - a.rev AS num, b.d - a.d AS den,
         CAST(b.rev - a.rev AS DOUBLE) / (b.d - a.d) AS slope
  FROM daily a JOIN daily b ON a.d < b.d
), ranked AS (
  SELECT num, den, slope,
         row_number() OVER (ORDER BY slope ASC, num ASC, den ASC) AS rk,
         CAST(count(*) OVER () AS BIGINT) AS n_pairs
  FROM pairs
)
SELECT n_pairs,
       CAST(max(CASE WHEN rk = (n_pairs + 1) // 2 THEN num END)
            AS BIGINT) AS med_num,
       CAST(max(CASE WHEN rk = (n_pairs + 1) // 2 THEN den END)
            AS BIGINT) AS med_den,
       CAST(round(1000000 * max(CASE WHEN rk = (n_pairs + 1) // 2
                                THEN slope END)) AS BIGINT)
         AS slope_micro
FROM ranked GROUP BY n_pairs
"""


@register("q260_theil_sen", _Q260_ORACLE)
def q260(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend estimator — the median of all pairwise
    slopes of the daily-revenue series, the slope OLS users switch to
    when outlier days (q207's targets) wreck least squares (Theil-Sen
    tolerates ~29 % contamination).  The slope of each pair is an
    EXACT rational (cent difference over day difference — the median
    row ships num/den alongside the pinned micro value); ordering uses
    the double quotient (identical division of identical integers
    cross-engine) with a deterministic (num, den) tie-break, and the
    lower median is read at rank ⌈N/2⌉.

    Scale: the pair join runs on the DAILY aggregate — a days-sized
    frame, so the O(days²) pair set is bounded by the calendar, never
    by the corpus; the fact table itself is touched by exactly one
    map-side-combined groupBy."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("rev")
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, F.col("a.d") < F.col("b.d")).select(
        (F.col("b.rev") - F.col("a.rev")).alias("num"),
        (F.col("b.d") - F.col("a.d")).alias("den"),
        (
            (F.col("b.rev") - F.col("a.rev")).cast("double")
            / (F.col("b.d") - F.col("a.d"))
        ).alias("slope"),
    )
    w = Window.orderBy(
        F.col("slope").asc(), F.col("num").asc(), F.col("den").asc()
    )
    ranked = pairs.select(
        "num",
        "den",
        "slope",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias(
            "n_pairs"
        ),
    )
    med = F.when(F.col("rk") == F.expr("(n_pairs + 1) div 2"), True)
    return ranked.groupBy("n_pairs").agg(
        F.max(F.when(med, F.col("num"))).cast("long").alias("med_num"),
        F.max(F.when(med, F.col("den"))).cast("long").alias("med_den"),
        F.round(1000000 * F.max(F.when(med, F.col("slope"))), 0)
        .cast("long")
        .alias("slope_micro"),
    )


# ---------------------------------------------------------------------------
# q261 — autocorrelation function of the daily series (lags 1..7)
# ---------------------------------------------------------------------------

_Q261_MAXLAG = 7

_Q261_ORACLE = f"""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev
  FROM events GROUP BY 1
), series AS (
  SELECT list_transform(list_sort(list((d, rev))), s -> s[2]) AS xs
  FROM daily
), centered AS (
  SELECT len(xs) AS n,
         list_transform(xs,
           x -> CAST(len(xs) * x - list_sum(xs) AS DOUBLE)) AS a
  FROM series
)
SELECT CAST(k AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_days,
       CAST(round(1000000
              * list_dot_product(a[1:n - k], a[1 + k:n])
              / list_dot_product(a, a)) AS BIGINT) AS acf_micro
FROM centered
CROSS JOIN unnest(generate_series(1, {_Q261_MAXLAG})) AS t(k)
"""


@register("q261_autocorrelation", _Q261_ORACLE)
def q261(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily-revenue series, lags
    1..{maxlag} — the first diagnostic of any time-series model
    (weekly seasonality shows as a lag-7 spike; q247 then quantifies
    it) and the input to Ljung–Box whiteness checks.  Determinism:
    centered values are EXACT integers (n·x_t − Σx, the q250 scaling
    trick that avoids the mean's division), and each lag's numerator
    is a dot product over the ORDERED day array — array-index
    summation order, identical in both engines (the q27
    list_dot_product argument) — never a shuffled double sum (the
    q255 hazard).

    Scale: one map-side-combined groupBy to the days-sized series,
    collected into ONE ordered array row (calendar-bounded); the lag
    fan-out is a row-local explode over that single row."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("rev")
    )
    series = daily.agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("d"), F.col("rev")))
            ),
            lambda s: s["rev"],
        ).alias("xs")
    )
    centered = series.select(
        F.size("xs").alias("n"),
        F.transform(
            F.col("xs"),
            lambda x: (
                F.size(F.col("xs")) * x
                - F.aggregate(
                    F.col("xs"), F.lit(0).cast("long"), lambda a, b: a + b
                )
            ).cast("double"),
        ).alias("a"),
    )
    from ..operators.similarity import dot

    lags = centered.select(
        "n",
        "a",
        F.explode(F.sequence(F.lit(1), F.lit(_Q261_MAXLAG))).alias("k"),
    )
    num = dot(
        F.slice(F.col("a"), 1, F.col("n") - F.col("k")),
        F.slice(F.col("a"), 1 + F.col("k"), F.col("n") - F.col("k")),
    )
    den = dot(F.col("a"), F.col("a"))
    return lags.select(
        F.col("k").cast("long").alias("lag"),
        F.col("n").cast("long").alias("n_days"),
        F.round(1000000 * num / den, 0).cast("long").alias("acf_micro"),
    )


q261.__doc__ = q261.__doc__.format(maxlag=_Q261_MAXLAG)


# ---------------------------------------------------------------------------
# q262 — header/detail financial reconciliation with tolerance bands
# ---------------------------------------------------------------------------

# Ratio bands (header/detail), boundaries in per-mille cross-multiplied
# so banding never divides: <0.5, [0.5,0.9), [0.9,1.1), [1.1,2), >=2.
_Q262_BANDS_SQL = """
  CASE WHEN 2 * h < d THEN 'lt_0_5'
       WHEN 10 * h < 9 * d THEN '0_5_to_0_9'
       WHEN 10 * h < 11 * d THEN '0_9_to_1_1'
       WHEN h < 2 * d THEN '1_1_to_2'
       ELSE 'ge_2' END
"""

_Q262_ORACLE = f"""
WITH li AS (
  SELECT l_orderkey AS k,
         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                             * (1 + l_tax) * 1000000) AS BIGINT))
              AS BIGINT) AS d
  FROM lineitem GROUP BY 1
), j AS (
  SELECT CAST(floor(o.o_totalprice * 1000000) AS BIGINT) AS h, li.d
  FROM orders o JOIN li ON o.o_orderkey = li.k
), banded AS (
  SELECT {_Q262_BANDS_SQL} AS band, h, d FROM j
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM j
)
SELECT band, CAST(count(*) AS BIGINT) AS n_orders,
       CAST((2000000 * count(*) + tot.n) // (2 * tot.n) AS BIGINT)
         AS share_micro
FROM banded CROSS JOIN tot
GROUP BY band, tot.n
"""


@register("q262_amount_reconciliation", _Q262_ORACLE)
def q262(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header/detail financial reconciliation — the accounting audit
    run before trusting ANY revenue number: does each order header's
    total match the sum of its priced line items
    (extended·(1−disc)·(1+tax)), banded by ratio tolerance?  On this
    synthetic corpus the header is UNRELATED to the detail (every
    order mismatches, spread 0.002×–416×) — exactly the finding the
    audit exists to surface before anyone joins revenue to headers.
    Determinism: the per-row priced amount floor-quantizes to integer
    micro-units BEFORE the per-order sum (the q69 rule — a raw double
    sum's value depends on reduction order), and the ratio bands
    cross-multiply integers, never divide.

    Scale: one map-side-combined groupBy per side, one FK join, a
    5-band rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    amt = F.floor(
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
        * 1000000
    ).cast("long")
    d = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.sum(amt).cast("long").alias("d")
    )
    j = orders.join(d, orders["o_orderkey"] == d["k"]).select(
        F.floor(F.col("o_totalprice") * 1000000).cast("long").alias("h"),
        "d",
    )
    band = F.expr(_Q262_BANDS_SQL)
    tot = j.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        j.select(band.alias("band"))
        .groupBy("band")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .crossJoin(F.broadcast(tot))
        .select(
            "band",
            "n_orders",
            F.expr("(2000000 * n_orders + n) div (2 * n)")
            .cast("long")
            .alias("share_micro"),
        )
    )


# ---------------------------------------------------------------------------
# q263 — Luhn checksum validation (payment-data quality gate)
# ---------------------------------------------------------------------------

# Deterministic account synthesis (q179/q242 pattern): an 11-digit base
# from custkey arithmetic plus a VALID Luhn check digit — then a 1-in-13
# residue class gets its second digit corrupted (+1 mod 10), so the
# invalid branch is live and its rate is known by construction.
_Q263_BASE_SQL = (
    "lpad(CAST((c_custkey * 73856093 + 19349663) % 100000000000"
    " AS VARCHAR), 11, '0')"
)

# Luhn sum over an 11-digit base, doubling from the RIGHTMOST base
# digit (positions 11, 9, ... from the left): digit d at 1-based
# position i contributes d if (11 - i) is odd else 2d - 9·(d > 4).
_Q263_LUHN_BASE = """
  list_sum(list_transform(generate_series(1, 11),
    i -> CASE WHEN (11 - i) % 2 = 1
              THEN CAST(b[i] AS BIGINT)
              ELSE 2 * CAST(b[i] AS BIGINT)
                   - CASE WHEN CAST(b[i] AS BIGINT) > 4 THEN 9 ELSE 0 END
         END))
"""

_Q263_ORACLE = f"""
WITH acct AS (
  SELECT c_custkey, c_nationkey,
         string_split_regex({_Q263_BASE_SQL}, '') AS b
  FROM customer
), checked AS (
  SELECT c_custkey, c_nationkey,
         (10 - ({_Q263_LUHN_BASE}) % 10) % 10 AS check_digit,
         b
  FROM acct
), final AS (
  SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nation,
         CASE WHEN c_custkey % 13 = 0
              THEN list_apply(b, (d, i) -> CASE WHEN i = 2
                   THEN CAST((CAST(d AS BIGINT) + 1) % 10 AS VARCHAR)
                   ELSE d END)
              ELSE b END AS b,
         check_digit
  FROM checked
), validated AS (
  SELECT nation,
         CASE WHEN ((({_Q263_LUHN_BASE}) + check_digit) % 10) = 0
              THEN 1 ELSE 0 END AS ok
  FROM final
)
SELECT nation, CAST(count(*) AS BIGINT) AS n_accounts,
       CAST(sum(1 - ok) AS BIGINT) AS n_invalid,
       CAST((2000000 * sum(1 - ok) + count(*)) // (2 * count(*))
            AS BIGINT) AS invalid_micro
FROM validated GROUP BY nation
"""


@register("q263_luhn_validation", _Q263_ORACLE)
def q263(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn mod-10 checksum validation (ISO/IEC 7812 — the check digit
    on every card/IMEI/account number): synthesize an 11-digit account
    per customer WITH a valid check digit, corrupt one digit on a
    1-in-13 residue class (single-digit errors are exactly what Luhn
    detects), and report per-nation invalid rates — the payment-file
    quality gate.  All digit algebra runs on the BIGINT-string
    decomposition (bit-identical cross-engine), the doubling rule is a
    position-parity CASE, and the corruption is deterministic so the
    expected invalid rate is known by construction.

    Scale: entirely row-local inside whole-stage codegen (string ops +
    a fixed-11 transform/sum), one map-side-combined groupBy."""
    cust = load_table(spark, sf_dir, "customer")
    base = F.lpad(
        (
            (F.col("c_custkey") * 73856093 + 19349663) % 100000000000
        ).cast("string"),
        11,
        "0",
    )

    def luhn_sum(arr):
        return F.aggregate(
            F.zip_with(
                arr,
                F.sequence(F.lit(1), F.lit(11)),
                lambda d, i: F.when(
                    (11 - i) % 2 == 1, d.cast("long")
                ).otherwise(
                    2 * d.cast("long")
                    - F.when(d.cast("long") > 4, 9).otherwise(0)
                ),
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )

    # per-digit decomposition via substr (Spark's split keeps a
    # trailing empty match for position regexes; substr does not)
    checked = cust.select(
        "c_custkey",
        F.col("c_nationkey").cast("long").alias("nation"),
        base.alias("b_str"),
    ).select(
        "c_custkey",
        "nation",
        F.transform(
            F.sequence(F.lit(1), F.lit(11)),
            lambda i: F.col("b_str").substr(i, F.lit(1)),
        ).alias("b"),
    ).withColumn(
        "check_digit", (10 - luhn_sum(F.col("b")) % 10) % 10
    )
    corrupted = checked.withColumn(
        "b",
        F.when(
            F.col("c_custkey") % 13 == 0,
            F.zip_with(
                F.col("b"),
                F.sequence(F.lit(1), F.lit(11)),
                lambda d, i: F.when(
                    i == 2, ((d.cast("long") + 1) % 10).cast("string")
                ).otherwise(d),
            ),
        ).otherwise(F.col("b")),
    )
    validated = corrupted.select(
        "nation",
        F.when(
            (luhn_sum(F.col("b")) + F.col("check_digit")) % 10 == 0, 1
        )
        .otherwise(0)
        .alias("ok"),
    )
    return validated.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n_accounts"),
        F.sum(1 - F.col("ok")).cast("long").alias("n_invalid"),
        F.expr(
            "(2000000 * sum(1 - ok) + count(*)) div (2 * count(*))"
        )
        .cast("long")
        .alias("invalid_micro"),
    )


# ---------------------------------------------------------------------------
# q264 — deadline conversion funnel (signup → purchase within 72 h)
# ---------------------------------------------------------------------------

_Q264_DEADLINE_S = 72 * 3600

_Q264_ORACLE = f"""
WITH s AS (
  SELECT user_id, min(epoch_us(ts)) AS signup_us
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), p AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS first_purchase_us
  FROM events e JOIN s ON s.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s.signup_us
  GROUP BY e.user_id
), u AS (
  SELECT s.user_id,
         CAST(to_timestamp(s.signup_us // 1000000) AS DATE) AS cohort,
         CASE WHEN p.first_purchase_us IS NOT NULL
               AND (p.first_purchase_us - s.signup_us) // 1000000
                   <= {_Q264_DEADLINE_S}
              THEN 1 ELSE 0 END AS converted,
         CASE WHEN p.first_purchase_us IS NOT NULL
               AND (p.first_purchase_us - s.signup_us) // 1000000
                   <= {_Q264_DEADLINE_S}
              THEN (p.first_purchase_us - s.signup_us) // 1000000
              ELSE 0 END AS tts
  FROM s LEFT JOIN p ON p.user_id = s.user_id
)
SELECT CAST(cohort AS DATE) AS cohort,
       CAST(count(*) AS BIGINT) AS n_signups,
       CAST(sum(converted) AS BIGINT) AS n_converted,
       CAST((2000000 * sum(converted) + count(*)) // (2 * count(*))
            AS BIGINT) AS conv_micro,
       CAST(sum(tts) AS BIGINT) AS sum_seconds_to_convert
FROM u GROUP BY cohort
"""


@register("q264_deadline_conversion", _Q264_ORACLE)
def q264(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deadline conversion funnel — the product-analytics readout with
    the clause q72's stage funnel lacks: a signup only counts as
    converted if the FIRST purchase AT-OR-AFTER it lands within 72
    hours, reported per signup-day cohort (activation-rate tracking,
    the number behind \"day-3 conversion\").  Time arithmetic floors
    epoch microseconds to whole seconds identically in both engines
    (the q239 rule); the summed time-to-convert column lets a consumer
    derive the converters' mean exactly.

    Scale: two map-side-combined per-user aggregations (first signup;
    first qualifying purchase via one semi-structured join back), a
    left join, a cohort-day rollup — no windows."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(us).alias("signup_us"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", us.alias("pus"))
        .join(s, "user_id")
        .filter(F.col("pus") >= F.col("signup_us"))
        .groupBy("user_id")
        .agg(F.min("pus").alias("first_purchase_us"))
    )
    conv = (
        F.col("first_purchase_us").isNotNull()
        & (
            F.expr("(first_purchase_us - signup_us) div 1000000")
            <= _Q264_DEADLINE_S
        )
    )
    u = s.join(p, "user_id", "left").select(
        F.timestamp_seconds(F.expr("signup_us div 1000000"))
        .cast("date")
        .alias("cohort"),
        F.when(conv, 1).otherwise(0).alias("converted"),
        F.when(
            conv, F.expr("(first_purchase_us - signup_us) div 1000000")
        )
        .otherwise(0)
        .alias("tts"),
    )
    return u.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("n_signups"),
        F.sum("converted").cast("long").alias("n_converted"),
        F.expr(
            "(2000000 * sum(converted) + count(*)) div (2 * count(*))"
        )
        .cast("long")
        .alias("conv_micro"),
        F.sum("tts").cast("long").alias("sum_seconds_to_convert"),
    )


# ---------------------------------------------------------------------------
# q265 — rank-biased overlap between two rankers (RBO@10, exact)
# ---------------------------------------------------------------------------

# RBO@k with p = 4/5: (1-p)·Σ_{d=1..k} p^(d-1)·|A_d ∩ B_d|/d.  Every
# term is an exact rational over the common denominator 5^k·2520
# (2520 = lcm(1..10)), so the truncated RBO is ONE exact integer
# ratio.  Per-depth numerator: 2520/d · 4^(d-1) · 5^(k-d) · ov_d,
# summed, over 5^k·2520 — then pinned to micro.  (p = 9/10 needs
# 10^k·2520 and the 2·10^6 pin overflows BIGINT; 0.8 is the other
# standard persistence.)
_Q265_K = 10
# exact integer per-depth coefficients (2520//d)*4^(d-1)*5^(k-d) and
# the common denominator 2520*5^k — Python-computed literals, because
# DuckDB's ** operator returns DOUBLE and floor-divides as a float
# (caught as a +-1 in the pinned value)
_Q265_COEF = tuple(
    (d, (2520 // d) * 4 ** (d - 1) * 5 ** (_Q265_K - d))
    for d in range(1, _Q265_K + 1)
)
_Q265_COEF_SQL = ", ".join(f"({d}, {c})" for d, c in _Q265_COEF)
_Q265_DEN = 2520 * 5 ** _Q265_K

_Q265_ORACLE = f"""
WITH lex AS (
  SELECT doc_id AS id, CAST(rank AS BIGINT) AS r
  FROM ({_Q132_ORACLE}) WHERE rank <= {_Q265_K}
), rrf AS (
  SELECT doc_id AS id, CAST(fused_rank AS BIGINT) AS r
  FROM ({_Q133_ORACLE}) WHERE fused_rank <= {_Q265_K}
), depths AS (
  SELECT d FROM unnest(generate_series(1, {_Q265_K})) AS t(d)
), ov AS (
  SELECT depths.d,
         CAST((SELECT count(*) FROM lex a JOIN rrf b ON a.id = b.id
               WHERE a.r <= depths.d AND b.r <= depths.d) AS BIGINT)
           AS ov
  FROM depths
), coef AS (
  SELECT * FROM (VALUES {_Q265_COEF_SQL}) AS t(d, c)
), acc AS (
  SELECT CAST(sum(coef.c * ov.ov) AS BIGINT) AS num
  FROM ov JOIN coef USING (d)
)
SELECT CAST({_Q265_K} AS BIGINT) AS k,
       (SELECT max(ov) FROM ov) AS overlap_at_k,
       num,
       CAST((2000000 * num + {_Q265_DEN}) // (2 * {_Q265_DEN})
            AS BIGINT) AS rbo_micro
FROM acc
"""


@register("q265_rank_biased_overlap", _Q265_ORACLE)
def q265(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel 2010) between the
    BM25 lexical ranking (q132) and the RRF hybrid ranking (q133) — the
    top-weighted similarity used to answer \"how much did the ranker
    change?\" when deploying a new retrieval stack (Kendall's tau
    treats depth 1 and depth 100 alike; RBO geometrically discounts).
    With persistence p = 4/5 every term of the truncated RBO@{k} is
    an exact rational over 5^{k}·2520, so the statistic is ONE exact
    integer ratio — no pow(), no float accumulation; 2520 = lcm(1..10)
    clears the 1/d, and 4^(d-1)·5^(k-d) clears p^(d-1).

    Scale: both inputs are top-{k} frames, so
    depth overlaps and the weighted sum run on ≤ 2·{k} rows —
    broadcast territory at any corpus size."""
    from .round6b_queries import q132, q133

    lex = (
        q132(spark, sf_dir)
        .filter(F.col("rank") <= _Q265_K)
        .select(F.col("doc_id").alias("id"), F.col("rank").alias("ra"))
    )
    rrf = (
        q133(spark, sf_dir)
        .filter(F.col("fused_rank") <= _Q265_K)
        .select(
            F.col("doc_id").alias("id"),
            F.col("fused_rank").alias("rb"),
        )
    )
    both = lex.join(rrf, "id").select("ra", "rb")
    depths = spark.range(1, _Q265_K + 1).select(
        F.col("id").alias("d")
    )
    ov = (
        depths.join(
            F.broadcast(both),
            (F.col("ra") <= F.col("d")) & (F.col("rb") <= F.col("d")),
            "left",
        )
        .groupBy("d")
        .agg(
            F.sum(F.when(F.col("ra").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("ov")
        )
    )
    coef = spark.createDataFrame(list(_Q265_COEF), "d LONG, c LONG")
    acc = ov.join(F.broadcast(coef), "d").agg(
        F.sum(F.col("c") * F.col("ov")).cast("long").alias("num"),
        F.max("ov").cast("long").alias("overlap_at_k"),
    )
    return acc.select(
        F.lit(_Q265_K).cast("long").alias("k"),
        "overlap_at_k",
        "num",
        F.expr(
            f"(2000000 * num + {_Q265_DEN}) div (2 * {_Q265_DEN})"
        )
        .cast("long")
        .alias("rbo_micro"),
    )


q265.__doc__ = q265.__doc__.format(k=_Q265_K)


# ---------------------------------------------------------------------------
# q266 — RFM segmentation (recency / frequency / monetary quintiles)
# ---------------------------------------------------------------------------

_Q266_REF = "2024-01-31"

_Q266_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         date_diff('day', max(CAST(ts AS DATE)), DATE '{_Q266_REF}')
           AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS monetary_cents
  FROM events GROUP BY user_id
), scored AS (
  SELECT user_id,
         ntile(5) OVER (ORDER BY recency_days ASC, user_id ASC) AS r,
         ntile(5) OVER (ORDER BY frequency DESC, user_id ASC) AS f,
         ntile(5) OVER (ORDER BY monetary_cents DESC, user_id ASC) AS m
  FROM u
)
SELECT CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f,
       CAST(m AS BIGINT) AS m,
       CAST(100 * r + 10 * f + m AS BIGINT) AS segment,
       CAST(count(*) AS BIGINT) AS n_users
FROM scored GROUP BY r, f, m
"""


@register("q266_rfm_segmentation", _Q266_ORACLE)
def q266(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic CRM scoring: per user, RECENCY
    (days since last event), FREQUENCY (event count), MONETARY
    (purchase revenue), each quintile-scored 1–5 (1 = best: most
    recent / most frequent / highest spend) and concatenated into the
    familiar 111–555 segment code, reported as segment sizes.
    Determinism: ntile over a TOTAL order (metric + user_id tie-break)
    is the same earlier-buckets-larger definition in both engines, and
    all three metrics are exact integers (epoch-day recency, counts,
    cents).

    Scale: the fact table collapses to a users-sized frame first; at
    ~10⁹ users that frame is entity-scale, so each quintile cut runs
    through scalable_ntile (operators/windows — range-exchange
    two-phase row number + the closed-form ANSI tile rule), never a
    single-task global window; descending metrics enter negated (the
    scalable_ntile contract). The output is ≤ 125 segment rows."""
    from ..operators.windows import scalable_ntile

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.datediff(
            F.lit(_Q266_REF).cast("date"),
            F.max(F.col("ts").cast("date")),
        ).alias("recency_days"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100, 0).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("monetary_cents"),
    )
    neg = u.withColumn("_neg_f", -F.col("frequency")).withColumn(
        "_neg_m", -F.col("monetary_cents")
    )
    scored = scalable_ntile(
        scalable_ntile(
            scalable_ntile(neg, ("recency_days", "user_id"), 5, out_col="r"),
            ("_neg_f", "user_id"),
            5,
            out_col="f",
        ),
        ("_neg_m", "user_id"),
        5,
        out_col="m",
    ).select("r", "f", "m")
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    ).select(
        F.col("r").cast("long"),
        F.col("f").cast("long"),
        F.col("m").cast("long"),
        (100 * F.col("r") + 10 * F.col("f") + F.col("m"))
        .cast("long")
        .alias("segment"),
        "n_users",
    )


# ---------------------------------------------------------------------------
# q267 — vocabulary growth curve (Heaps audit)
# ---------------------------------------------------------------------------

_Q267_FRACS = ((1, 16), (1, 8), (1, 4), (1, 2), (1, 1))  # of the corpus

_Q267_ORACLE = f"""
WITH ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id ASC) AS rk,
         string_split({_NORM_SQL}, ' ') AS l
  FROM documents
), n AS (
  SELECT CAST(max(rk) AS BIGINT) AS n FROM ranked
), cuts AS (
  SELECT i, num, den, CAST((num * n.n + den - 1) // den AS BIGINT) AS k
  FROM (VALUES {", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(_Q267_FRACS, 1))})
       AS t(i, num, den) CROSS JOIN n
), first_seen AS (
  SELECT t, CAST(min(rk) AS BIGINT) AS first_rk
  FROM (
    SELECT rk,
           unnest(list_transform(generate_series(1, len(l) - 2),
                  j -> l[j] || ' ' || l[j + 1] || ' ' || l[j + 2])) AS t
    FROM ranked WHERE len(l) >= 3
  ) GROUP BY t
), v AS (
  SELECT cuts.i, cuts.k,
         CAST(count(CASE WHEN first_seen.first_rk <= cuts.k
                    THEN 1 END) AS BIGINT) AS cum_types
  FROM cuts CROSS JOIN first_seen
  GROUP BY cuts.i, cuts.k
), w AS (
  SELECT i, k, cum_types,
         coalesce(lag(cum_types) OVER (ORDER BY i), 0) AS prev_types,
         coalesce(lag(k) OVER (ORDER BY i), 0) AS prev_k
  FROM v
)
SELECT CAST(i AS BIGINT) AS checkpoint, k AS n_docs, cum_types,
       CAST(cum_types - prev_types AS BIGINT) AS new_types,
       CAST((2000000 * (cum_types - prev_types) + (k - prev_k))
            // (2 * (k - prev_k)) AS BIGINT) AS new_per_doc_micro
FROM w
"""


@register("q267_vocab_growth", _Q267_ORACLE)
def q267(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (the observed Heaps'-law trajectory):
    cumulative distinct trigram types after 1/16, 1/8, 1/4, 1/2 and
    all of the corpus (doc_id order), with the NEW-types-per-document
    rate in each increment — the declining marginal-novelty readout a
    collection effort uses to decide when more of the same source
    stops paying (q229's Chao1 asks the asymptote; this shows the
    path).  Integer-exact: ranks, first-seen minima, counts, pinned
    rates.

    Scale: the doc rank is one ordered pass over the docs frame; each
    type reduces to its FIRST-SEEN rank (one map-side-combined min per
    trigram — vocabulary-sized, like q229); checkpoint membership is a
    broadcast cross of 5 cut rows against that frame.  No per-
    checkpoint rescans of the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.windows import scalable_prefix_sums

    # the token arrays are DERIVED on the staged frame (post-exchange):
    # passed as an input column they were tokenized TWICE (range-bounds
    # sampling pass + exchange map side) and shipped through the range
    # exchange; now the exchange carries (doc_id, text) only and
    # normalize+tokenize runs once, in the consuming action (derived
    # after the ranking instead, the size(l) filter below would
    # re-tokenize every row)
    ranked = scalable_prefix_sums(
        docs.select("doc_id", "text"),
        ("doc_id",),
        {"rk": F.lit(1)},
        derive={"l": tokens(normalize_text("text"))},
    ).drop("text")
    n = ranked.agg(F.max("rk").cast("long").alias("n"))
    cuts = (
        spark.createDataFrame(
            [(i, a, b) for i, (a, b) in enumerate(_Q267_FRACS, 1)],
            "i LONG, num LONG, den LONG",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "i", F.expr("(num * n + den - 1) div den").alias("k")
        )
    )
    first_seen = (
        ranked.filter(F.size("l") >= 3)
        .select(
            "rk",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("l") - 2),
                    lambda j: F.concat_ws(
                        " ",
                        F.element_at(F.col("l"), j),
                        F.element_at(F.col("l"), j + 1),
                        F.element_at(F.col("l"), j + 2),
                    ),
                )
            ).alias("t"),
        )
        .groupBy("t")
        .agg(F.min("rk").cast("long").alias("first_rk"))
    )
    v = (
        first_seen.crossJoin(F.broadcast(cuts))
        .groupBy("i", "k")
        .agg(
            F.sum(F.when(F.col("first_rk") <= F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("cum_types")
        )
    )
    wlag = Window.orderBy(F.col("i").asc())
    w = v.select(
        "i",
        "k",
        "cum_types",
        F.coalesce(F.lag("cum_types").over(wlag), F.lit(0)).alias(
            "prev_types"
        ),
        F.coalesce(F.lag("k").over(wlag), F.lit(0)).alias("prev_k"),
    )
    return w.select(
        F.col("i").cast("long").alias("checkpoint"),
        F.col("k").alias("n_docs"),
        "cum_types",
        (F.col("cum_types") - F.col("prev_types"))
        .cast("long")
        .alias("new_types"),
        F.expr(
            "(2000000 * (cum_types - prev_types) + (k - prev_k))"
            " div (2 * (k - prev_k))"
        )
        .cast("long")
        .alias("new_per_doc_micro"),
    )


# ---------------------------------------------------------------------------
# q268 — market-basket association rules (support / confidence / lift)
# ---------------------------------------------------------------------------

_Q268_MINSUP = 20

_Q268_ORACLE = f"""
WITH b AS (
  SELECT DISTINCT li.l_orderkey AS k, p.p_brand AS v
  FROM lineitem li JOIN part p ON p.p_partkey = li.l_partkey
), n AS (
  SELECT CAST(count(DISTINCT k) AS BIGINT) AS n FROM b
), item AS (
  SELECT v, CAST(count(*) AS BIGINT) AS s FROM b GROUP BY v
), pair AS (
  SELECT a.v AS v1, b2.v AS v2, CAST(count(*) AS BIGINT) AS s12
  FROM b a JOIN b b2 ON a.k = b2.k AND a.v < b2.v
  GROUP BY 1, 2 HAVING count(*) >= {_Q268_MINSUP}
), rules AS (
  SELECT v1 AS antecedent, v2 AS consequent, s12,
         i1.s AS s_ante, i2.s AS s_cons
  FROM pair JOIN item i1 ON i1.v = pair.v1
            JOIN item i2 ON i2.v = pair.v2
  UNION ALL
  SELECT v2, v1, s12, i2.s, i1.s
  FROM pair JOIN item i1 ON i1.v = pair.v1
            JOIN item i2 ON i2.v = pair.v2
)
SELECT antecedent, consequent, s12 AS support_count,
       CAST((2000000 * s12 + n.n) // (2 * n.n) AS BIGINT)
         AS support_micro,
       CAST((2000000 * s12 + s_ante) // (2 * s_ante) AS BIGINT)
         AS confidence_micro,
       CAST((2000000 * n.n * s12 + s_ante * s_cons)
            // (2 * s_ante * s_cons) AS BIGINT) AS lift_micro
FROM rules CROSS JOIN n
"""


@register("q268_basket_rules", _Q268_ORACLE)
def q268(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (Agrawal/Srikant — the apriori
    output): per directed rule brand_A → brand_B over ORDER baskets,
    the three canonical measures — support s(AB)/N, confidence
    s(AB)/s(A), lift N·s(AB)/(s(A)s(B)) — with a minimum pair support
    of {minsup}.  Complements q236 (the same lift measure over TEXT
    bigrams): this is the retail-basket grain, built on distinct
    (order, brand) rows so a repeated brand within one order counts
    once (set semantics, the market-basket convention).  All exact
    rationals, micro-pinned.

    Scale: basket items per order are bounded (≤ ~13 lines), so pair
    generation per order is constant-bounded; item supports broadcast;
    everything map-side combines.  The part dimension joins in
    broadcast (dimension-sized)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    b = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li["l_partkey"] == part["p_partkey"],
        )
        .select(F.col("l_orderkey").alias("k"), F.col("p_brand").alias("v"))
        .distinct()
        # 4 consumers (N count, item supports, both self-join sides),
        # several of them concurrent broadcast builds — unpinned, the
        # scan→broadcast-join→distinct chain ran once per consumer;
        # pinned, the narrow (orderkey, brand) rows are computed once
        .transform(_pin)
    )
    n = b.agg(F.count_distinct("k").cast("long").alias("n"))
    item = b.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("s"))
    a, b2 = b.alias("a"), b.alias("b2")
    pair = (
        a.join(
            b2,
            (F.col("a.k") == F.col("b2.k")) & (F.col("a.v") < F.col("b2.v")),
        )
        .groupBy(F.col("a.v").alias("v1"), F.col("b2.v").alias("v2"))
        .agg(F.count(F.lit(1)).cast("long").alias("s12"))
        .filter(F.col("s12") >= _Q268_MINSUP)
    )
    joined = pair.join(
        F.broadcast(item.select(F.col("v").alias("v1"), F.col("s").alias("s1"))),
        "v1",
    ).join(
        F.broadcast(item.select(F.col("v").alias("v2"), F.col("s").alias("s2"))),
        "v2",
    )
    fwd = joined.select(
        F.col("v1").alias("antecedent"),
        F.col("v2").alias("consequent"),
        "s12",
        F.col("s1").alias("s_ante"),
        F.col("s2").alias("s_cons"),
    )
    rev = joined.select(
        F.col("v2").alias("antecedent"),
        F.col("v1").alias("consequent"),
        "s12",
        F.col("s2").alias("s_ante"),
        F.col("s1").alias("s_cons"),
    )
    return (
        fwd.unionAll(rev)
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            F.col("s12").alias("support_count"),
            F.expr("(2000000 * s12 + n) div (2 * n)")
            .cast("long")
            .alias("support_micro"),
            F.expr("(2000000 * s12 + s_ante) div (2 * s_ante)")
            .cast("long")
            .alias("confidence_micro"),
            F.expr(
                "(2000000 * n * s12 + s_ante * s_cons)"
                " div (2 * s_ante * s_cons)"
            )
            .cast("long")
            .alias("lift_micro"),
        )
    )


q268.__doc__ = q268.__doc__.format(minsup=_Q268_MINSUP)


# ---------------------------------------------------------------------------
# q269 — lead-time percentiles by month (order → ship SLA)
# ---------------------------------------------------------------------------

_Q269_ORACLE = """
WITH ct AS (
  SELECT year(CAST(o.o_orderdate AS DATE)) * 100
           + month(CAST(o.o_orderdate AS DATE)) AS ym,
         date_diff('day', CAST(o.o_orderdate AS DATE),
                   CAST(li.l_shipdate AS DATE)) AS days,
         li.l_orderkey AS k, li.l_linenumber AS ln
  FROM lineitem li JOIN orders o ON o.o_orderkey = li.l_orderkey
), ranked AS (
  SELECT ym, days,
         row_number() OVER (PARTITION BY ym
                            ORDER BY days ASC, k ASC, ln ASC) AS rk,
         CAST(count(*) OVER (PARTITION BY ym) AS BIGINT) AS n
  FROM ct
)
SELECT CAST(ym AS BIGINT) AS ym, n AS n_lines,
       CAST(max(CASE WHEN rk = (n + 1) // 2 THEN days END) AS BIGINT)
         AS p50_days,
       CAST(max(CASE WHEN rk = (9 * n + 9) // 10 THEN days END)
            AS BIGINT) AS p90_days,
       CAST(max(days) AS BIGINT) AS max_days
FROM ranked GROUP BY ym, n
"""


@register("q269_leadtime_percentiles", _Q269_ORACLE)
def q269(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lead time p50/p90/max per order month — the
    supply-chain SLA readout (p90 is what the contract says; the mean
    hides the tail).  Percentiles are EXACT positional picks (lower
    median at ⌈n/2⌉, p90 at ⌈9n/10⌉ — integer ceilings, deterministic
    (days, orderkey, linenumber) tie-break), and the month key is
    integer year·100+month, sidestepping cross-engine date-format
    strings.

    Scale: the month is a LOW-cardinality partition key, so the rank
    runs through the grouped scalable_prefix_sums range-exchange
    form — the q207 rule — never a per-month window funnel."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    from ..operators.windows import scalable_prefix_sums

    ct = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li["l_orderkey"] == orders["o_orderkey"],
    ).select(
        (
            F.year(F.col("o_orderdate").cast("date")) * 100
            + F.month(F.col("o_orderdate").cast("date"))
        ).alias("ym"),
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.col("o_orderdate").cast("date"),
        ).alias("days"),
        F.col("l_orderkey").alias("k"),
        F.col("l_linenumber").alias("ln"),
    )
    # totals: group sizes come from the rank machinery's own
    # offsets (it counts every group anyway) instead of a
    # second full consumer of the ranked frame — the old
    # max(rk)-aggregate + broadcast join re-ran the staged window
    # and its offset joins once more (the whole subtree appeared
    # twice in the plan, 26 Exchanges → half that)
    j = scalable_prefix_sums(
        ct, ("days", "k", "ln"), {"rk": F.lit(1)}, part_col="ym",
        totals={"rk": "n"},
    )
    return j.groupBy("ym", "n").agg(
        F.max(
            F.when(F.col("rk") == F.expr("(n + 1) div 2"), F.col("days"))
        )
        .cast("long")
        .alias("p50_days"),
        F.max(
            F.when(
                F.col("rk") == F.expr("(9 * n + 9) div 10"), F.col("days")
            )
        )
        .cast("long")
        .alias("p90_days"),
        F.max("days").cast("long").alias("max_days"),
    ).select(
        F.col("ym").cast("long"),
        F.col("n").alias("n_lines"),
        "p50_days",
        "p90_days",
        "max_days",
    )


# ---------------------------------------------------------------------------
# q270 — engagement stickiness panel (DAU / WAU / MAU)
# ---------------------------------------------------------------------------

_Q270_ORACLE = """
WITH act AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
  FROM events
), dau AS (
  SELECT d, CAST(count(*) AS BIGINT) AS dau FROM act GROUP BY d
), wau AS (
  SELECT d // 7 AS w, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
  FROM act GROUP BY 1
), agg AS (
  SELECT (SELECT CAST(sum(dau) AS BIGINT) FROM dau) AS dau_sum,
         (SELECT CAST(count(*) AS BIGINT) FROM dau) AS n_days,
         (SELECT CAST(sum(wau) AS BIGINT) FROM wau) AS wau_sum,
         (SELECT CAST(count(*) AS BIGINT) FROM wau) AS n_weeks,
         (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM act)
           AS mau
)
SELECT dau_sum, n_days, wau_sum, n_weeks, mau,
       CAST((2000 * dau_sum + n_days) // (2 * n_days) AS BIGINT)
         AS dau_avg_milli,
       CAST((2000000 * dau_sum + n_days * mau) // (2 * n_days * mau)
            AS BIGINT) AS stickiness_micro,
       CAST((2000000 * wau_sum + n_weeks * mau) // (2 * n_weeks * mau)
            AS BIGINT) AS weekly_stickiness_micro
FROM agg
"""


@register("q270_stickiness_panel", _Q270_ORACLE)
def q270(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement stickiness panel — mean DAU, DAU/MAU (the classic
    stickiness ratio: what fraction of the monthly audience shows up
    on an average day) and WAU/MAU, the first dashboard of any
    product-health review.  Time buckets are epoch-integer arithmetic
    (day number, day div 7) — no engine week-numbering conventions —
    and every ratio is an exact pinned rational over distinct-user
    counts.

    Scale: one DISTINCT (user, day) projection feeds everything; daily
    and weekly rollups map-side combine; the panel is one row."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        "user_id",
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("d"),
    ).distinct()
    dau = act.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    wau = act.groupBy(F.expr("d div 7").alias("w")).agg(
        F.count_distinct("user_id").cast("long").alias("wau")
    )
    agg = (
        dau.agg(
            F.sum("dau").cast("long").alias("dau_sum"),
            F.count(F.lit(1)).cast("long").alias("n_days"),
        )
        .crossJoin(
            F.broadcast(
                wau.agg(
                    F.sum("wau").cast("long").alias("wau_sum"),
                    F.count(F.lit(1)).cast("long").alias("n_weeks"),
                )
            )
        )
        .crossJoin(
            F.broadcast(
                act.agg(
                    F.count_distinct("user_id").cast("long").alias("mau")
                )
            )
        )
    )
    return agg.select(
        "dau_sum",
        "n_days",
        "wau_sum",
        "n_weeks",
        "mau",
        F.expr("(2000 * dau_sum + n_days) div (2 * n_days)")
        .cast("long")
        .alias("dau_avg_milli"),
        F.expr(
            "(2000000 * dau_sum + n_days * mau) div (2 * n_days * mau)"
        )
        .cast("long")
        .alias("stickiness_micro"),
        F.expr(
            "(2000000 * wau_sum + n_weeks * mau) div (2 * n_weeks * mau)"
        )
        .cast("long")
        .alias("weekly_stickiness_micro"),
    )


# ---------------------------------------------------------------------------
# q271 — weekly revenue-retention cohort triangle (NRR)
# ---------------------------------------------------------------------------

_Q271_ORACLE = """
WITH e AS (
  SELECT user_id,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
           AS w,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), cohort AS (
  SELECT user_id, CAST(min(w) AS BIGINT) AS c FROM e GROUP BY user_id
), grid AS (
  SELECT cohort.c, CAST(e.w - cohort.c AS BIGINT) AS offset_w,
         CAST(sum(e.cents) AS BIGINT) AS rev
  FROM e JOIN cohort USING (user_id)
  GROUP BY cohort.c, e.w - cohort.c
), base AS (
  SELECT c, rev AS rev0 FROM grid WHERE offset_w = 0
)
SELECT grid.c AS cohort_week, grid.offset_w, grid.rev AS rev_cents,
       CAST((2000000 * grid.rev + base.rev0) // (2 * base.rev0)
            AS BIGINT) AS nrr_micro
FROM grid JOIN base USING (c)
"""


@register("q271_revenue_retention", _Q271_ORACLE)
def q271(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly revenue-retention cohort triangle (net revenue retention
    — the SaaS metric boards read): users cohorted by FIRST purchase
    week, each later week's purchase revenue expressed against the
    cohort's week-0 revenue (> 1e6 = the surviving cohort EXPANDS
    revenue, the \"net\" in NRR).  q73 is the COUNT retention triangle;
    money retains differently than bodies, which is why both exist.
    Epoch-integer week buckets, exact cents, one pinned ratio per
    cell.

    Scale: one per-user min (cohort), one (cohort, offset) rollup, a
    cohorts-sized base join — all map-side combined, no windows."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.expr(
            "datediff(CAST(ts AS DATE), DATE '1970-01-01') div 7"
        ).alias("w"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    cohort = e.groupBy("user_id").agg(
        F.min("w").cast("long").alias("c")
    )
    grid = (
        e.join(cohort, "user_id")
        .groupBy("c", (F.col("w") - F.col("c")).cast("long").alias("offset_w"))
        .agg(F.sum("cents").cast("long").alias("rev"))
    )
    base = grid.filter(F.col("offset_w") == 0).select(
        "c", F.col("rev").alias("rev0")
    )
    return grid.join(F.broadcast(base), "c").select(
        F.col("c").alias("cohort_week"),
        "offset_w",
        F.col("rev").alias("rev_cents"),
        F.expr("(2000000 * rev + rev0) div (2 * rev0)")
        .cast("long")
        .alias("nrr_micro"),
    )


# ---------------------------------------------------------------------------
# q272 — price-volume-mix revenue bridge
# ---------------------------------------------------------------------------

_Q272_PIVOT = "1998-06-01"  # period 1 = ships before, period 2 = after

_Q272_ORACLE = f"""
WITH base AS (
  SELECT l_partkey AS part,
         CASE WHEN CAST(l_shipdate AS DATE) < DATE '{_Q272_PIVOT}'
              THEN 1 ELSE 2 END AS period,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS r
  FROM lineitem GROUP BY 1, 2
), w AS (
  SELECT part,
         max(CASE WHEN period = 1 THEN q END) AS q1,
         max(CASE WHEN period = 1 THEN r END) AS r1,
         max(CASE WHEN period = 2 THEN q END) AS q2,
         max(CASE WHEN period = 2 THEN r END) AS r2
  FROM base GROUP BY part
), effects AS (
  SELECT
    CAST(sum(CASE WHEN q1 IS NOT NULL AND q2 IS NOT NULL THEN r1 END)
         AS BIGINT) AS rev1_common,
    CAST(sum(CASE WHEN q1 IS NOT NULL AND q2 IS NOT NULL THEN r2 END)
         AS BIGINT) AS rev2_common,
    CAST(coalesce(sum(CASE WHEN q1 IS NULL THEN r2 END), 0) AS BIGINT)
      AS rev_new,
    CAST(coalesce(sum(CASE WHEN q2 IS NULL THEN r1 END), 0) AS BIGINT)
      AS rev_lost,
    CAST(sum(CASE WHEN q1 IS NOT NULL AND q2 IS NOT NULL THEN
         CAST(round(1000.0 * q1 * (CAST(r2 AS DOUBLE) / q2
                                   - CAST(r1 AS DOUBLE) / q1))
              AS BIGINT) END) AS BIGINT) AS price_effect_milli,
    CAST(sum(CASE WHEN q1 IS NOT NULL AND q2 IS NOT NULL THEN
         CAST(round(1000.0 * (q2 - q1) * CAST(r1 AS DOUBLE) / q1)
              AS BIGINT) END) AS BIGINT) AS volume_effect_milli,
    CAST(sum(CASE WHEN q1 IS NOT NULL AND q2 IS NOT NULL THEN
         CAST(round(1000.0 * (q2 - q1)
                    * (CAST(r2 AS DOUBLE) / q2
                       - CAST(r1 AS DOUBLE) / q1)) AS BIGINT) END)
         AS BIGINT) AS cross_effect_milli
  FROM w
)
SELECT rev1_common, rev2_common, rev_new, rev_lost,
       price_effect_milli, volume_effect_milli, cross_effect_milli
FROM effects
"""


@register("q272_pvm_bridge", _Q272_ORACLE)
def q272(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix revenue bridge — the FP&A decomposition of
    Δrevenue between two ship periods into PRICE (q₁·Δp), VOLUME
    (p₁·Δq) and CROSS (Δp·Δq) effects over parts sold in BOTH periods,
    with NEW and DISCONTINUED parts' revenue reported separately (the
    five bars of every revenue-bridge chart).  Per-part average prices
    are exact-integer ratios evaluated in double (identical operands,
    the q250 rule), each part's effect rounds to milli-cents BEFORE
    summation, so the totals are integer sums — deterministic even
    though per-part rounding makes the bridge close only approximately
    (documented; exact closure would need per-part rational output).

    Scale: one (part, period) map-side-combined rollup, a parts-sized
    pivot, a one-row reduction."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.when(
            F.col("l_shipdate").cast("date")
            < F.lit(_Q272_PIVOT).cast("date"),
            1,
        )
        .otherwise(2)
        .alias("period"),
    ).agg(
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q"),
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("r"),
    )
    w = base.groupBy("part").agg(
        F.max(F.when(F.col("period") == 1, F.col("q"))).alias("q1"),
        F.max(F.when(F.col("period") == 1, F.col("r"))).alias("r1"),
        F.max(F.when(F.col("period") == 2, F.col("q"))).alias("q2"),
        F.max(F.when(F.col("period") == 2, F.col("r"))).alias("r2"),
    )
    common = F.col("q1").isNotNull() & F.col("q2").isNotNull()
    p1 = F.col("r1").cast("double") / F.col("q1")
    p2 = F.col("r2").cast("double") / F.col("q2")
    pe = F.round(1000.0 * F.col("q1") * (p2 - p1), 0).cast("long")
    ve = F.round(1000.0 * (F.col("q2") - F.col("q1")) * p1, 0).cast("long")
    ce = F.round(
        1000.0 * (F.col("q2") - F.col("q1")) * (p2 - p1), 0
    ).cast("long")
    return w.agg(
        F.sum(F.when(common, F.col("r1"))).cast("long").alias("rev1_common"),
        F.sum(F.when(common, F.col("r2"))).cast("long").alias("rev2_common"),
        F.coalesce(
            F.sum(F.when(F.col("q1").isNull(), F.col("r2"))), F.lit(0)
        )
        .cast("long")
        .alias("rev_new"),
        F.coalesce(
            F.sum(F.when(F.col("q2").isNull(), F.col("r1"))), F.lit(0)
        )
        .cast("long")
        .alias("rev_lost"),
        F.sum(F.when(common, pe)).cast("long").alias("price_effect_milli"),
        F.sum(F.when(common, ve)).cast("long").alias("volume_effect_milli"),
        F.sum(F.when(common, ce)).cast("long").alias("cross_effect_milli"),
    )
