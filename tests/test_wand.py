"""Block-max WAND: exactness vs exhaustive BM25, plus the engine API."""

import random

import numpy as np
import pytest

from mithril_spark.codec import encode_posting_blocks
from mithril_spark.engine import PAYLOAD_COLS
from mithril_spark.query.isr import DocMapCols
from mithril_spark.query.wand import bm25_exhaustive_topk, bm25_wand_topk


def _shard_inputs(term_blocks, body_lens):
    """Codec block dicts per term -> the shard's P payload tuples, and
    {local docid: body length} -> its DocMapCols image (the kernel's two
    inputs, as the engine hands them over)."""
    p_rows = [
        tuple({**b, "term": term, "salt": 0}[c] for c in PAYLOAD_COLS["P"])
        for term, blocks in term_blocks.items() for b in blocks
    ]
    ids = sorted(body_lens)
    n = len(ids)
    img = DocMapCols(ids, [b""] * n, [[]] * n, [body_lens[d] for d in ids],
                     [0] * n, [0] * n, [0] * n, [0.0] * n, [0.0] * n)
    return p_rows, img


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_wand_equals_exhaustive_random(seed):
    rng = random.Random(seed)
    for _trial in range(25):
        n_docs = rng.randint(5, 600)
        body_lens = {d: rng.randint(1, 50) for d in range(n_docs)}
        avg = sum(body_lens.values()) / n_docs
        term_blocks = {}
        for t in range(rng.randint(1, 5)):
            docs = sorted(rng.sample(range(n_docs), rng.randint(1, n_docs)))
            freqs = [rng.choice([1, 1, 2, 3, 5, 100]) for _ in docs]
            term_blocks[f"t{t}"] = list(
                encode_posting_blocks(
                    np.array(docs, np.uint32), np.array(freqs, np.uint32)
                )
            )
        p_rows, img = _shard_inputs(term_blocks, body_lens)
        for k in (1, 5, 20):
            assert bm25_wand_topk(p_rows, img, n_docs, avg, k) == \
                bm25_exhaustive_topk(p_rows, img, n_docs, avg, k)


@pytest.mark.parametrize("seed", [3, 4])
def test_wand_equals_exhaustive_with_tombstones(seed):
    """Dead-doc filtering at block decode + exact df override: WAND stays
    exactly equal to exhaustive scoring over tombstoned segments, and
    never returns a dead doc (append-mode merges, indexer.py)."""
    rng = random.Random(seed)
    for _trial in range(20):
        n_docs = rng.randint(5, 600)
        body_lens = {d: rng.randint(1, 50) for d in range(n_docs)}
        avg = sum(body_lens.values()) / n_docs
        term_blocks = {}
        postings = {}
        for t in range(rng.randint(1, 5)):
            docs = sorted(rng.sample(range(n_docs), rng.randint(1, n_docs)))
            freqs = [rng.choice([1, 1, 2, 3, 5, 100]) for _ in docs]
            postings[f"t{t}"] = docs
            term_blocks[f"t{t}"] = list(
                encode_posting_blocks(
                    np.array(docs, np.uint32), np.array(freqs, np.uint32)
                )
            )
        dead = np.array(
            sorted(rng.sample(range(n_docs),
                              rng.randint(0, max(1, n_docs // 2)))),
            np.int64,
        )
        deadset = set(dead.tolist())
        dfs = {
            t: sum(1 for d in docs if d not in deadset)
            for t, docs in postings.items()
        }
        p_rows, img = _shard_inputs(term_blocks, body_lens)
        for k in (1, 5, 20):
            got = bm25_wand_topk(p_rows, img, n_docs, avg, k,
                                 dfs=dfs, tombstones=dead)
            want = bm25_exhaustive_topk(p_rows, img, n_docs,
                                        avg, k, dfs=dfs, tombstones=dead)
            assert got == want
            assert not deadset.intersection(d for d, _s in got)


def test_wand_skips_blocks():
    """The lazy cursor must not decode blocks it can skip."""
    import mithril_spark.query.wand as wand

    n = 20000
    docs_a = np.arange(0, n, 2, dtype=np.uint32)       # dense common term
    freqs_a = np.ones_like(docs_a)
    docs_b = np.array([n - 2], dtype=np.uint32)        # rare term at the end
    freqs_b = np.array([50], dtype=np.uint32)
    # body_len == avg everywhere -> norm 1 -> tf_norm == tf (tight bounds)
    term_blocks = {
        "common": list(encode_posting_blocks(docs_a, freqs_a, tf_norms=freqs_a)),
        "rare": list(encode_posting_blocks(docs_b, freqs_b, tf_norms=freqs_b)),
    }
    body_lens = {d: 30 for d in range(n)}
    p_rows, img = _shard_inputs(term_blocks, body_lens)
    decoded = 0
    orig = wand._Cursor._load_block

    def counting(self, idx):
        nonlocal decoded
        decoded += 1
        return orig(self, idx)

    wand._Cursor._load_block = counting
    stats = {}
    try:
        got = bm25_wand_topk(p_rows, img, n, 30.0, 1, stats=stats)
    finally:
        wand._Cursor._load_block = orig
    want = bm25_exhaustive_topk(p_rows, img, n, 30.0, 1)
    assert got == want
    total_blocks = len(term_blocks["common"]) + len(term_blocks["rare"])
    assert decoded < total_blocks, "WAND decoded every block — no skipping"
    # the reported counters agree with the instrumented ground truth
    assert stats["blocks_total"] == total_blocks
    assert stats["blocks_decoded"] == decoded
    assert stats["blocks_skipped"] == total_blocks - decoded > 0
    assert 0 < stats["docs_scored"] < n


def _random_shard(rng, body_lens, n_terms, under_bound=1.0):
    """Random P tuples over ``body_lens``'s docs whose stored ``max_tfn``
    is the true per-block max normalized tf divided by ``under_bound``."""
    n_docs = max(body_lens) + 1
    avg = sum(body_lens.values()) / len(body_lens)
    term_blocks = {}
    for t in range(n_terms):
        docs = sorted(rng.sample(range(n_docs), rng.randint(1, n_docs)))
        freqs = [rng.choice([1, 1, 2, 3, 5, 100]) for _ in docs]
        tfn = [f / (0.25 + 0.75 * body_lens.get(d, 0) / avg)
               for d, f in zip(docs, freqs)]
        term_blocks[f"t{t}"] = list(encode_posting_blocks(
            np.array(docs, np.uint32), np.array(freqs, np.uint32),
            tf_norms=np.array(tfn) / under_bound))
    return term_blocks, avg


@pytest.mark.parametrize("scale", [2.0, 4.0])
def test_wand_tfn_scale_covers_under_bound_blocks(scale):
    """Blocks whose stored max_tfn under-bounds the true normalized tf by
    ``scale`` (encoded before appends raised the average body length):
    WAND with ``tfn_scale=scale`` stays equal to the exhaustive twin."""
    rng = random.Random(int(scale))
    for _trial in range(30):
        n_docs = rng.randint(50, 1500)
        body_lens = {d: rng.randint(1, 60) for d in range(n_docs)}
        term_blocks, avg = _random_shard(rng, body_lens, rng.randint(1, 4),
                                         under_bound=scale)
        p_rows, img = _shard_inputs(term_blocks, body_lens)
        for k in (1, 5, 20):
            assert bm25_wand_topk(p_rows, img, n_docs, avg, k,
                                  tfn_scale=scale) == \
                bm25_exhaustive_topk(p_rows, img, n_docs, avg, k)


def test_wand_holey_image_scores_absent_docs_at_zero_length():
    """An image holding a sparse subset of the posting docids: absent docs
    score with body length 0, and WAND equals the exhaustive twin."""
    from mithril_spark.ranking import bm25_score

    rng = random.Random(11)
    for _trial in range(20):
        n_docs = rng.randint(20, 1200)
        body_lens = {d: rng.randint(1, 50) for d in range(n_docs)
                     if rng.random() < 0.4}
        body_lens.setdefault(n_docs - 1, 7)
        term_blocks, avg = _random_shard(rng, body_lens, rng.randint(1, 4))
        p_rows, img = _shard_inputs(term_blocks, body_lens)
        assert len(img) < n_docs
        for k in (1, 5, 20):
            assert bm25_wand_topk(p_rows, img, n_docs, avg, k) == \
                bm25_exhaustive_topk(p_rows, img, n_docs, avg, k)
    # one absent doc, one term: its score is the body-length-0 score
    absent = next(d for d in range(n_docs) if d not in body_lens)
    (blk,) = encode_posting_blocks(np.array([absent], np.uint32),
                                   np.array([3], np.uint32))
    p_rows, _ = _shard_inputs({"t": [blk]}, {})
    assert bm25_wand_topk(p_rows, img, n_docs, avg, 1) == \
        [(absent, bm25_score(n_docs, avg, 0, 1, 3))]


def test_engine_wand_skips_on_zipf_corpus(spark, tmp_path_factory):
    """End-to-end block skipping on a zipfian-df corpus (VERDICT r03 #6).

    The flat fixture corpus never skips — every term's posting gaps sit
    below the 128-posting block size. `generate_zipf_pages` plants a df
    spread of three decades; a rare(+high-idf) × mid(many-blocks) query
    must then skip a material share of blocks AND stay exactly equal to
    exhaustive oracle scoring.
    """
    from mithril_spark.engine import SearchEngine
    from mithril_spark.fixtures import generate_zipf_pages, pages_to_df, zipf_term
    from mithril_spark.indexer import build_index
    from mithril_spark.oracle import OracleIndex
    from mithril_spark.ranking import bm25_score

    pages = generate_zipf_pages(8000, seed=7)
    idx_dir = str(tmp_path_factory.mktemp("zipfidx") / "i")
    build_index(pages_to_df(spark, pages), idx_dir, num_shards=1)
    engine = SearchEngine(spark, idx_dir)
    oracle = OracleIndex.build(
        [(r["url"].encode(), r["html"]) for r in pages], num_shards=1
    )

    query = f"{zipf_term(799)} {zipf_term(2)}"  # rare gap-800 + mid df n/3
    got, wstats = engine.bm25_topk(query, k=3, return_stats=True)

    shard = oracle.shards[0]
    scores: dict[int, float] = {}
    for term in sorted(t for t in query.split()):
        entry = shard.postings.get(term)
        if not entry:
            continue
        docs, freqs = entry
        df = len(docs)
        for d, f in zip(docs, freqs):
            scores[d] = scores.get(d, 0.0) + bm25_score(
                shard.doc_count, shard.avg_body_length,
                shard.doc_map[d].body_len, df, f,
            )
    want = sorted(scores.items(), key=lambda t: (-t[1], t[0]))[:3]
    assert got == want
    skipped = wstats["blocks_skipped"] / wstats["blocks_total"]
    assert skipped >= 0.15, wstats


def test_engine_bm25_topk(spark, tmp_path_factory):
    """Engine WAND == per-shard exhaustive BM25 computed from the oracle."""
    from mithril_spark.engine import SearchEngine
    from mithril_spark.fixtures import generate_pages, pages_to_df
    from mithril_spark.indexer import build_index
    from mithril_spark.oracle import OracleIndex
    from mithril_spark.ranking import bm25_score
    from mithril_spark.text.normalize import BODY, normalize

    pages = generate_pages(150, seed=42)
    idx_dir = str(tmp_path_factory.mktemp("wandidx") / "i")
    build_index(pages_to_df(spark, pages), idx_dir, num_shards=2)
    engine = SearchEngine(spark, idx_dir)
    oracle = OracleIndex.build(
        [(r["url"].encode(), r["html"]) for r in pages], num_shards=2
    )

    for query, k in [("search engine", 10), ("granite quartz marble", 5),
                     ("zzznothing", 3), ("the and of", 5)]:
        got = engine.bm25_topk(query, k=k)
        terms = {
            normalize(t.encode(), BODY).decode("latin-1") for t in query.split()
        } - {""}
        want = []
        for shard in oracle.shards:
            scores: dict[int, float] = {}
            for term in sorted(terms):  # canonical order, matches wand.py
                entry = shard.postings.get(term)
                if not entry:
                    continue
                docs, freqs = entry
                df = len(docs)
                for d, f in zip(docs, freqs):
                    scores[d] = scores.get(d, 0.0) + bm25_score(
                        shard.doc_count, shard.avg_body_length,
                        shard.doc_map[d].body_len, df, f,
                    )
            want.extend(
                (d + shard.base_doc_id, s) for d, s in scores.items()
            )
        want.sort(key=lambda t: (-t[1], t[0]))
        assert got == want[:k], query

    # stats plumbing: same results, sane aggregated counters
    res, wstats = engine.bm25_topk("search engine", k=10, return_stats=True)
    assert res == engine.bm25_topk("search engine", k=10)
    assert wstats["blocks_total"] >= wstats["blocks_decoded"] > 0
    assert wstats["blocks_skipped"] == (
        wstats["blocks_total"] - wstats["blocks_decoded"]
    )


def test_bm25_topk_no_terms_returns_empty_stats(spark, tmp_path_factory):
    """A query with no WAND term (empty, or punctuation only) answers []
    — and ([], {}) with return_stats, like a query whose terms match
    nothing."""
    from mithril_spark.engine import SearchEngine
    from mithril_spark.fixtures import generate_pages, pages_to_df
    from mithril_spark.indexer import build_index

    idx_dir = str(tmp_path_factory.mktemp("wand_noterms") / "i")
    build_index(pages_to_df(spark, generate_pages(40, seed=3)), idx_dir,
                num_shards=1)
    engine = SearchEngine(spark, idx_dir)
    for query in ("", "!!"):
        assert engine.bm25_topk(query) == [], query
        assert engine.bm25_topk(query, return_stats=True) == ([], {}), query
        assert engine.bm25_topk_with_snippets(query) == [], query


def test_bm25_topk_reads_image_columns_in_place(spark, tmp_path_factory):
    """Resident WAND reads each shard image's ``local_ids``/``body_lens``
    where they are: with columns that refuse to become Python lists or to
    iterate, ``bm25_topk`` returns the same answer and counters."""
    from mithril_spark.engine import SearchEngine
    from mithril_spark.fixtures import generate_pages, pages_to_df
    from mithril_spark.indexer import build_index

    class NoCopy(np.ndarray):
        def tolist(self):
            raise AssertionError("image column copied to a list")

        def __iter__(self):
            raise AssertionError("image column iterated")

    idx_dir = str(tmp_path_factory.mktemp("wand_inplace") / "i")
    build_index(pages_to_df(spark, generate_pages(150, seed=42)), idx_dir,
                num_shards=2)
    engine = SearchEngine(spark, idx_dir)
    assert engine._driver_images
    queries = ("search engine", "granite quartz marble", "the and of")
    want = {q: engine.bm25_topk(q, k=10, return_stats=True) for q in queries}
    assert want["search engine"][0]
    for img in engine._driver_images.values():
        img.local_ids = img.local_ids.view(NoCopy)
        img.body_lens = img.body_lens.view(NoCopy)
    for q in queries:
        assert engine.bm25_topk(q, k=10, return_stats=True) == want[q], q


def test_tfn_scale_zero_avg_encode(spark, tmp_path_factory):
    """min_avg_body_enc == 0.0 must NOT read as "absent" (code-review r5):
    blocks encoded at avg body length 0 carry max_tfn == max freq
    (norm=1 branch), while live serving at avg_now > 0 normalizes by as
    little as 1-b = 0.25 — the sound cover is a 4x bound scale, and the
    old truthiness test applied none, letting WAND prune a block holding
    a top-k doc. Also: absent entry and grown-avg entries unchanged."""
    import json
    import os

    from mithril_spark.engine import SearchEngine
    from mithril_spark.fixtures import generate_pages, pages_to_df
    from mithril_spark.indexer import build_index
    from mithril_spark.ranking import BM25_B

    d = str(tmp_path_factory.mktemp("tfnscale") / "i")
    build_index(pages_to_df(spark, generate_pages(40, seed=3)), d,
                num_shards=2)
    mpath = os.path.join(d, "index_meta.json")
    meta = json.load(open(mpath))
    enc = meta["min_avg_body_enc"]
    avg0 = SearchEngine(spark, d).stats[0]
    avg_now0 = avg0["total_body"] / avg0["doc_count"]
    assert avg_now0 > 0
    # shard 0 "encoded at avg 0", shard 1 encoded at half its live avg
    s1 = SearchEngine(spark, d).stats[1]
    enc["0"] = 0.0
    enc["1"] = (s1["total_body"] / s1["doc_count"]) / 2.0
    json.dump(meta, open(mpath, "w"))
    eng = SearchEngine(spark, d)
    assert eng._tfn_scale[0] == 1.0 / (1.0 - BM25_B)  # the 4x cover
    assert abs(eng._tfn_scale[1] - 2.0) < 1e-12        # ratio path intact
    # absent entry -> no scale
    del meta["min_avg_body_enc"]["0"]
    json.dump(meta, open(mpath, "w"))
    eng2 = SearchEngine(spark, d)
    assert 0 not in eng2._tfn_scale
    # WAND with the loosened bounds still matches the unscaled twin
    assert eng.bm25_topk("search engine", k=10) == \
        eng2.bm25_topk("search engine", k=10)
