"""Vectorized match enumeration == scalar ISR walk (exact), and the
engine's and the oracle's doc-map image builders rank identically.

The numpy set-algebra evaluator (query/vecisr.py) is the engine default for
quote/phrase-free trees; the per-doc cursor walk (evaluate_query_scalar,
the literal transcription of QueryEngine.h:46-73) is the oracle here.
Random trees cover AND/OR/NOT nesting, field terms, stopwords, missing
terms, and quote/phrase fall-through.
"""

import copy
import random

import numpy as np
import pandas as pd
import pytest

from mithril_spark.fixtures import QUERY_SET, STOP_SAMPLE, VOCAB, generate_pages
from mithril_spark.oracle import OracleIndex
from mithril_spark.query.isr import DocMapCols, ShardIndex
from mithril_spark.query.shard import (
    evaluate_query,
    evaluate_query_scalar,
    handle_ranking,
)
from mithril_spark.query.vecisr import (
    complement_sorted,
    intersect_sorted,
    union_sorted,
)


@pytest.fixture(scope="module")
def oracle():
    pages = generate_pages(300, seed=11)
    return OracleIndex.build(
        [(r["url"].encode(), r["html"]) for r in pages], num_shards=3
    )


def _as_list(res):
    return [int(x) for x in res]


def test_vec_equals_scalar_on_fixture_queries(oracle):
    for q in QUERY_SET:
        for shard in oracle.shards:
            assert _as_list(evaluate_query(q, shard)) == _as_list(
                evaluate_query_scalar(q, shard)
            ), q


def _random_query(rng: random.Random, depth: int = 0) -> str:
    """Random query expression over the fixture vocab (grammar-shaped)."""
    pool = VOCAB + STOP_SAMPLE + ["zzzmissing", "qqq"]
    r = rng.random()
    if depth >= 3 or r < 0.3:
        term = rng.choice(pool)
        f = rng.random()
        if f < 0.15:
            return rng.choice(["title:", "url:", "anchor:", "desc:"]) + term
        return term
    if r < 0.42:
        # quote/phrase at any nesting spot: exercises BOTH the vectorized
        # positional path (root / under never-seeked ORs) and the scalar
        # fall-through (under AND/NOT, where their destructive seek rules
        # set algebra out)
        words = " ".join(rng.choice(pool) for _ in range(rng.randint(1, 3)))
        return rng.choice([f'"{words}"', f"'{words}'"])
    if r < 0.58:
        return f"({_random_query(rng, depth + 1)} AND {_random_query(rng, depth + 1)})"
    if r < 0.76:
        return f"({_random_query(rng, depth + 1)} OR {_random_query(rng, depth + 1)})"
    if r < 0.9:
        return f"(NOT {_random_query(rng, depth + 1)})"
    # implicit AND juxtaposition
    return f"{_random_query(rng, depth + 1)} {_random_query(rng, depth + 1)}"


def test_vec_equals_scalar_on_random_trees(oracle):
    rng = random.Random(20260816)
    for i in range(300):
        q = _random_query(rng)
        for shard in oracle.shards:
            assert _as_list(evaluate_query(q, shard)) == _as_list(
                evaluate_query_scalar(q, shard)
            ), (i, q)


def _tombstoned(shard, rng):
    """A live-filtered copy of ``shard`` with a HOLEY docid space, as the
    engine builds over an append-merged index (engine._build_shard): dead
    docids filtered out of every posting/position stream, doc_map without
    them, docid_space = the original dense bound."""
    all_docs = sorted(shard.doc_map)
    dead = set(rng.sample(all_docs, max(1, len(all_docs) // 6)))
    out = ShardIndex(
        doc_count=shard.doc_count - len(dead),
        base_doc_id=shard.base_doc_id,
        docid_space=shard.doc_count,
        tombstones=np.array(sorted(dead), np.int64),
        total_body_length=shard.total_body_length,
        total_title_length=shard.total_title_length,
        total_url_length=shard.total_url_length,
        total_desc_length=shard.total_desc_length,
    )
    for t, (docs, freqs) in shard.postings.items():
        kept = [(d, f) for d, f in zip(docs, freqs) if int(d) not in dead]
        if kept:
            out.postings[t] = ([d for d, _ in kept], [f for _, f in kept])
    for t, (docs, flags, plists) in shard.positions.items():
        kept = [(d, fl, p) for d, fl, p in zip(docs, flags, plists)
                if int(d) not in dead]
        if kept:
            out.positions[t] = ([d for d, _, _ in kept],
                                [fl for _, fl, _ in kept],
                                [p for _, _, p in kept])
    out.doc_map = {d: m for d, m in shard.doc_map.items() if d not in dead}
    out.doc_cols = DocMapCols.from_metas(out.doc_map)
    return out


def test_vec_equals_scalar_on_tombstoned_shards(oracle):
    """The vec==scalar identity must survive the append-merge serving
    shape: holey docid spaces (docid_space > doc_count) change the NOT
    complement universe in BOTH evaluators — they must keep agreeing on
    every random tree, and never emit a dead docid for posting-backed
    subtrees (NOT-yielded dead docids are dropped downstream at the
    doc-map lookup, so they may legitimately appear here)."""
    rng = random.Random(20260818)
    shards = [_tombstoned(s, rng) for s in oracle.shards]
    for i in range(200):
        q = _random_query(rng)
        for shard in shards:
            assert _as_list(evaluate_query(q, shard)) == _as_list(
                evaluate_query_scalar(q, shard)
            ), (i, q)


def test_ranking_drops_tombstoned_matches(oracle):
    """ADVICE r04 (medium): NOT complements over a holey docid space yield
    dead local ids; handle_ranking must DROP them before ranking instead
    of appending phantom (docid, 0, b"", []) rows — on both the vectorized
    and the scalar path, tuple-identically."""
    from mithril_spark.query.shard import handle_ranking_scalar

    rng = random.Random(20260819)
    shards = [_tombstoned(s, rng) for s in oracle.shards]
    queries = ["NOT granite", "NOT zzzmissing", "search OR NOT engine",
               "NOT the"] + [_random_query(rng) for _ in range(40)]
    for shard in shards:
        dead = set(shard.tombstones.tolist())
        for q in queries:
            matches = evaluate_query(q, shard)
            ranked = handle_ranking(q, shard, matches)
            got_ids = {int(d) for d, *_ in ranked}
            assert not (got_ids & dead), (q, got_ids & dead)
            # no phantom rows: every surfaced hit has a real url
            assert all(u != b"" for _d, _s, u, _t in ranked), q
            assert ranked == handle_ranking_scalar(q, shard, matches), q


def test_quote_phrase_trees_match_scalar(oracle):
    """Positional trees == scalar walk in BOTH gate outcomes: vectorized
    (root / under a never-seeked OR) and scalar fall-through (under AND or
    NOT, where quote/phrase destructive seeks rule set algebra out)."""
    from mithril_spark.query import grammar as g
    from mithril_spark.query.vecisr import vec_eligible

    vec_qs = ['"search engine"', "'open spark'", '"search engine" OR granite',
              '"search engine" OR "open source"', '"engine search"']
    scalar_qs = ['gamma AND "alpha beta"', 'NOT "search engine"',
                 'granite "search engine"']
    for q in vec_qs:
        assert vec_eligible(g.parse_query(q)), q
    for q in scalar_qs:
        assert not vec_eligible(g.parse_query(q)), q
    for q in vec_qs + scalar_qs:
        for shard in oracle.shards:
            assert _as_list(evaluate_query(q, shard)) == _as_list(
                evaluate_query_scalar(q, shard)
            ), q


def test_quote_phrase_random_synthetic_shards():
    """Vectorized quote/phrase == scalar cursor machine on adversarial
    synthetic shards: random posting lists, positions stored for only a
    subset of posting docs (shouldStorePositions reality), list tails
    aligned or not — driving every quirk branch: first-candidate skip,
    one-behind drop-last, single-match-to-empty, and the exhaustion-pump
    IsrError abort (scalar raises -> query []; the vectorized tail replay
    must agree shard-for-shard)."""
    rng = random.Random(20260817)
    terms = ["qa", "qb", "qc", "qd"]
    for trial in range(400):
        n_docs = rng.randint(3, 60)
        shard = ShardIndex(doc_count=n_docs, base_doc_id=0)
        for t in terms:
            if rng.random() < 0.15:
                continue  # absent term
            docs = sorted(rng.sample(range(n_docs),
                                     rng.randint(1, max(1, n_docs - 1))))
            shard.postings[t] = (docs, [1] * len(docs))
            pos_docs, plists = [], []
            for d in docs:
                if rng.random() < 0.8:
                    pos_docs.append(d)
                    k = rng.randint(1, 6)
                    plists.append(sorted(rng.sample(range(12), k)))
            if pos_docs:
                shard.positions[t] = (pos_docs, [0] * len(pos_docs), plists)
        for _ in range(6):
            words = " ".join(
                rng.choice(terms) for _ in range(rng.randint(1, 3))
            )
            q = rng.choice([f'"{words}"', f"'{words}'",
                            f'"{words}" OR qa', f"'{words}' OR (qb OR qc)"])
            got = _as_list(evaluate_query(q, shard))
            want = _as_list(evaluate_query_scalar(q, shard))
            assert got == want, (trial, q, got, want)


def test_kernels_against_python_sets():
    rng = random.Random(7)
    for _ in range(200):
        n = rng.randint(0, 60)
        a = np.array(sorted(rng.sample(range(100), rng.randint(0, 40))),
                     dtype=np.int64)
        b = np.array(sorted(rng.sample(range(100), rng.randint(0, 40))),
                     dtype=np.int64)
        sa, sb = set(a.tolist()), set(b.tolist())
        assert intersect_sorted(a, b).tolist() == sorted(sa & sb)
        assert union_sorted(a, b).tolist() == sorted(sa | sb)
        dc = rng.randint(0, 100)
        want = (
            list(range(dc)) if not sb
            else [d for d in range(1, dc) if d not in sb]
        )
        assert complement_sorted(b, dc).tolist() == want


def test_columnar_docmap_rank_identity(oracle):
    """The engine's image builder (engine._docmap_image over doc_map rows,
    here a shuffled frame of an oracle shard's rows) and the oracle's
    (DocMapCols.from_metas) rank tuple-identically, for fixture + random
    queries — this gates the row sort and column conversions of the
    engine's image against the oracle's."""
    from mithril_spark.engine import _docmap_image

    rng = random.Random(99)
    queries = list(QUERY_SET) + [
        " ".join(rng.choice(VOCAB + STOP_SAMPLE) for _ in range(rng.randint(1, 4)))
        for _ in range(20)
    ]
    for shard in oracle.shards:
        rows = [
            {"local_id": d, "url": m.url, "title": m.title,
             "body_len": m.body_len, "title_len": m.title_len,
             "url_len": m.url_len, "desc_len": m.desc_len,
             "pagerank": m.pagerank, "static_rank": m.static_rank}
            for d, m in shard.doc_map.items()
        ]
        rng.shuffle(rows)
        eshard = copy.copy(shard)
        eshard.doc_cols = _docmap_image(pd.DataFrame(rows))
        for q in queries:
            matches = evaluate_query(q, shard)
            assert handle_ranking(q, eshard, matches) == \
                handle_ranking(q, shard, matches), q


def test_columnar_docmap_scalar_path(oracle):
    """DocMapCols.meta (the scalar ranking path's per-doc lookup) round-trips
    every oracle DocMeta; an absent id gives None."""
    for shard in oracle.shards:
        for d, m in shard.doc_map.items():
            assert shard.get_meta(d) == m, d
        assert shard.get_meta(-1) is None
        assert shard.get_meta(max(shard.doc_map) + 1) is None


def test_columnar_docmap_with_holes():
    """Missing docids rank as (m, 0, b'', []) and porn-keyword docs drop
    out, identically on the vectorized and scalar paths. Mixed-case urls
    and titles reach the image's lowered-string precomputes."""
    from mithril_spark.query.isr import DocMeta
    from mithril_spark.query.shard import handle_ranking_scalar

    docs = list(range(0, 40, 2))
    holes = {10, 26}
    porn_urls = {4: b"https://ex.com/xxx/4.html", 30: b"https://nsfw.ex.com/30"}
    porn_titles = {12: [b"free", b"P0RN"], 34: [b"sex"]}
    shard = ShardIndex(doc_count=40, base_doc_id=0)
    shard.postings["alpha"] = (docs, [1] * len(docs))
    for d in docs:
        if d in holes:
            continue
        mixed = d % 3 == 0
        shard.doc_map[d] = DocMeta(
            doc_id=d,
            url=porn_urls.get(d, (f"https://ex.com/alpha/ALPHA/{d}.html"
                                  if mixed else f"https://ex.com/a/{d}.html"
                                  ).encode()),
            title=porn_titles.get(d, [b"Doc", b"ALPHA"] if mixed
                                  else [b"doc", b"alpha"]),
            body_len=50, title_len=3, url_len=20, desc_len=0,
        )
        shard.total_body_length += 50
    shard.doc_cols = DocMapCols.from_metas(shard.doc_map)
    assert shard.doc_cols.porn_mask.sum() == len(porn_urls) + len(porn_titles)
    matches = evaluate_query("alpha", shard)
    assert _as_list(matches) == docs
    ranked = handle_ranking("alpha", shard, matches)
    assert ranked == handle_ranking_scalar("alpha", shard, matches)
    by_id = {d: (s, u, t) for d, s, u, t in ranked}
    for d in holes:
        assert by_id[d] == (0, b"", [])
    assert not (set(porn_urls) | set(porn_titles)) & set(by_id)
