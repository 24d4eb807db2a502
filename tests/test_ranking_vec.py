"""Vectorized handle_ranking == scalar handle_ranking (bit-exact).

The vectorized path (query/shard.py handle_ranking -> ranking.final_score_batch)
is the engine default; the scalar loop (handle_ranking_scalar -> final_score)
is the readable transcription of QueryManager.cpp:274-358 and serves as the
oracle here. Scores are uint32 from float32 accumulation, so equality is
exact, not approximate.
"""

import random

import pytest

from mithril_spark.fixtures import QUERY_SET, generate_pages, VOCAB, STOP_SAMPLE
from mithril_spark.oracle import OracleIndex
from mithril_spark.query.isr import DocMapCols, DocMeta, ShardIndex
from mithril_spark.query.shard import (
    evaluate_query,
    handle_ranking,
    handle_ranking_scalar,
)


@pytest.fixture(scope="module")
def oracle():
    pages = generate_pages(200, seed=7)
    return OracleIndex.build(
        [(r["url"].encode(), r["html"]) for r in pages], num_shards=2
    )


def test_vec_equals_scalar_on_fixture_queries(oracle):
    for q in QUERY_SET:
        for shard in oracle.shards:
            matches = evaluate_query(q, shard)
            assert handle_ranking(q, shard, matches) == \
                handle_ranking_scalar(q, shard, matches), q


def test_vec_equals_scalar_on_random_queries(oracle):
    rng = random.Random(1234)
    pool = VOCAB + STOP_SAMPLE + ["thermite", "NASA", "zzz"]
    for _ in range(40):
        q = " ".join(rng.choice(pool) for _ in range(rng.randint(1, 6)))
        for shard in oracle.shards:
            matches = evaluate_query(q, shard)
            assert handle_ranking(q, shard, matches) == \
                handle_ranking_scalar(q, shard, matches), q


def _synthetic_shard(n_docs: int, seed: int = 3) -> ShardIndex:
    """Large shard with skewed scores to exercise every short-circuit break."""
    rng = random.Random(seed)
    shard = ShardIndex(doc_count=n_docs, base_doc_id=0)
    docs_with_term = []
    firsts = []
    for d in range(n_docs):
        title = [b"alpha", b"beta"] if rng.random() < 0.5 else [b"gamma"]
        shard.doc_map[d] = DocMeta(
            doc_id=d,
            url=f"https://example{rng.randint(1, 5)}.com/p/{d}.html".encode(),
            title=title,
            body_len=rng.randint(5, 400), title_len=len(title),
            url_len=30, desc_len=rng.randint(0, 10),
        )
        shard.total_body_length += shard.doc_map[d].body_len
        if rng.random() < 0.7:
            docs_with_term.append(d)
            firsts.append(rng.randint(0, 50))
    shard.postings["alpha"] = (docs_with_term, [1] * len(docs_with_term))
    shard.positions["alpha"] = (
        docs_with_term,
        [0] * len(docs_with_term),
        [[f, f + 3] for f in firsts],
    )
    # a doc-map hole: NotISR-style matches can reference unmapped docids
    del shard.doc_map[n_docs // 2]
    shard.doc_cols = DocMapCols.from_metas(shard.doc_map)
    return shard


@pytest.mark.parametrize("n_docs", [100, 26000, 35000])
def test_vec_equals_scalar_short_circuits(n_docs):
    """26k crosses MINIMUM_QUOTA_FOR_RESULTS_CHECK; 35k crosses the
    RESULTS_REQUIRED_TO_SHORTCIRCUIT threshold; both must break at the
    identical match."""
    shard = _synthetic_shard(n_docs)
    matches = list(range(n_docs))  # includes the doc-map hole
    for q in ["alpha beta", "alpha", "gamma the alpha", "the of alpha"]:
        assert handle_ranking(q, shard, matches) == \
            handle_ranking_scalar(q, shard, matches), (n_docs, q)
