"""The shared top-k contract of the vector search operators in
operators/similarity.py, and their persist release on failure.

Every operator stages both sides, generates candidate pairs, scores
them and ranks per query on one path; these tests pin what that path
promises to every caller, whatever the candidate step."""

import pyspark.sql.functions as F
import pytest

from nessus_client_etl_scripts_spark.operators import similarity as sim

DIM = 16
SCALE = 4096.0


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (i, [float((i * 7 + d * 3) % 11) - 5.0 + 0.01 * i for d in range(DIM)])
        for i in range(1, 61)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _cases():
    cells = sim._hyperplanes(4, DIM, seed=0xC0DE)
    pq = sim.pq_codebooks(m=4, subdim=DIM // 4, k=4)
    return {
        "brute": lambda c, q: sim.brute_force_topk(c, q, k=3),
        "lsh_probes0": lambda c, q: sim.lsh_topk(c, q, k=3, bits=4),
        "lsh_probes2": lambda c, q: sim.lsh_topk(c, q, k=3, bits=4, probes=2),
        "codebook_ivf": lambda c, q: sim.codebook_ivf_topk(c, q, cells, k=3),
        "ivf_exact": lambda c, q: sim.ivf_exact_topk(
            c, q, [[x * SCALE for x in v] for v in cells], k=3, nprobe=2
        ),
        "pq_adc": lambda c, q: sim.pq_adc_topk(c, q, pq, k=3),
        "ivfpq": lambda c, q: sim.ivfpq_topk(c, q, cells, pq, k=3, nprobe=2),
    }


def _broadcast_subtrees(plan: str) -> list[str]:
    """The text of every BroadcastExchange subtree in a plan string."""
    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        col = line.find("BroadcastExchange")
        if col < 0:
            continue
        sub = [line]
        for nxt in lines[i + 1 :]:
            body = nxt.lstrip(" :+-")
            if len(nxt) - len(body) <= col:
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


@pytest.mark.parametrize("op", sorted(_cases()))
def test_topk_contract(spark, emb, op):
    queries = emb.filter(F.col("vec_id") < 5)
    out = _cases()[op](emb, queries)
    score = "adc_micro" if op in ("pq_adc", "ivfpq") else "score"
    assert out.columns == ["query_id", "neighbor_id", score, "rank"]
    assert dict(out.dtypes)["rank"] == "bigint"

    rows = out.collect()
    assert rows
    by_query: dict[int, list[int]] = {}
    for r in rows:
        assert r.query_id != r.neighbor_id
        by_query.setdefault(r.query_id, []).append(r.rank)
    for ranks in by_query.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)) and len(ranks) <= 3

    # the query side — the only side filtered on vec_id — is the one
    # that is broadcast; the corpus streams
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert any("< 5)" in sub for sub in _broadcast_subtrees(plan)), plan


def _cache_census(spark):
    return (
        spark.sparkContext._jsc.sc().getPersistentRDDs().size(),
        spark._jsparkSession.sharedState().cacheManager().isEmpty(),
    )


def test_kmeans_exact_quantized_releases_persist_on_failure(spark, emb, monkeypatch):
    """A raise between the trainer's persist and its unpersist (here
    in the first assignment round, after the init job materialized the
    cache) must still release the cached vectors."""
    before = _cache_census(spark)

    def planted(*_a, **_k):
        raise RuntimeError("planted assignment failure")

    monkeypatch.setattr(sim, "_cell_ranking_expr", planted)
    with pytest.raises(RuntimeError, match="planted"):
        sim.kmeans_exact_quantized(emb, n_centroids=2, iters=1)
    assert _cache_census(spark) == before
