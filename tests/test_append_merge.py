"""Append-mode incremental merge (VERDICT r03 #4): O(delta) posting work.

``merge_index_delta`` appends posting/position segments instead of
rebuilding the corpus. Docids stay dense per shard (the delta fills the tail shard and
spills into new serving shards), so when the delta's urls all sort AFTER
the existing corpus the result is exactly the dense layout a fresh build
would produce: those cases gate VALUE identity of every derived table and
full top_k tuple identity. Interleaved-url deltas change docid values (not
content): those gate url-level match-set identity, global df identity and
the o(corpus) bytes bound the verdict asked for. ``compact_index`` folds
any appended index back to byte-identity with a fresh build.
"""

import json
import os

import numpy as np

from mithril_spark.codec import decode_posting_block, decode_position_block
from mithril_spark import indexer
from mithril_spark.engine import SearchEngine
from mithril_spark.fixtures import generate_pages, pages_to_df
from mithril_spark.indexer import (
    build_index,
    compact_index,
    merge_index_delta,
    read_doc_map_live,
)
from mithril_spark.oracle import OracleIndex
from tests.test_incremental import _assert_same_index
from tests.test_spark_engine import _metrics_rows, _phase_rows

QUERIES = [
    "search engine",
    "granite OR marble",
    "NOT quartz",
    "data AND systems",
    '"search engine"',
]


def _sorted_pages(n, seed=42):
    # binary url order — the docid-assignment sort key
    # (indexer._docid_assigner)
    pages = generate_pages(n, seed=seed)
    return sorted(pages, key=lambda p: p["url"].encode())


def _decoded_postings(spark, path):
    """(term, shard) -> (docs, freqs) concatenated in docid order —
    block-boundary-insensitive content view of the postings table."""
    rows = spark.read.parquet(f"{path}/postings").collect()
    by_key = {}
    for r in rows:
        by_key.setdefault((r["term"], int(r["shard"])), []).append(r)
    out = {}
    for key, blks in by_key.items():
        blks.sort(key=lambda b: (int(b["salt"]), int(b["first_doc_id"])))
        parts = [decode_posting_block(bytes(b["doc_ids_enc"]),
                                      bytes(b["freqs_enc"])) for b in blks]
        docs = np.concatenate([p[0] for p in parts])
        freqs = np.concatenate([p[1] for p in parts])
        assert (np.diff(docs) > 0).all(), f"unsorted postings for {key}"
        out[key] = (docs.tolist(), freqs.tolist())
    return out


def _decoded_positions(spark, path):
    rows = spark.read.parquet(f"{path}/positions").collect()
    by_key = {}
    for r in rows:
        by_key.setdefault((r["term"], int(r["shard"])), []).append(r)
    out = {}
    for key, blks in by_key.items():
        blks.sort(key=lambda b: (int(b["salt"]), int(b["first_doc_id"])))
        docs, flags, plists = [], [], []
        for b in blks:
            d, fl, pl = decode_position_block(
                bytes(b["doc_ids_enc"]), bytes(b["flags_enc"]),
                bytes(b["pos_counts_enc"]), bytes(b["positions_enc"]))
            docs.extend(d.tolist())
            flags.extend(fl.tolist())
            plists.extend(p.tolist() for p in pl)
        assert docs == sorted(docs)
        out[key] = (docs, flags, plists)
    return out


def _doc_urls(spark, path):
    # LIVE view: doc_map is append-only across re-crawl merges, so dead
    # rows stay on disk and must be masked (identity on clean indexes)
    return {
        int(r["doc_id"]): bytes(r["url"])
        for r in read_doc_map_live(spark, path).collect()
    }


def test_append_aligned_is_byte_identical(spark, tmp_path_factory):
    """Delta urls sorting after a shard-aligned base: the appended index
    IS the dense layout — every table byte/value-identical to a fresh
    build, including block boundaries, and served results are equal."""
    pages = _sorted_pages(150)
    base, delta = pages[:100], pages[100:]

    full_dir = str(tmp_path_factory.mktemp("ap_full") / "i")
    build_index(pages_to_df(spark, pages), full_dir, num_shards=3)

    inc_dir = str(tmp_path_factory.mktemp("ap_inc") / "i")
    build_index(pages_to_df(spark, base), inc_dir, num_shards=2)
    res = merge_index_delta(inc_dir, pages_to_df(spark, delta))
    assert res["mode"] == "append"
    # base had 2 full shards of 50; the delta spilled into shard 2
    assert res["meta"]["num_shards"] == 3

    _assert_same_index(spark, full_dir, inc_dir)

    ef = SearchEngine(spark, full_dir)
    ei = SearchEngine(spark, inc_dir)
    for q in QUERIES:
        assert ef.top_k(q) == ei.top_k(q), q
        assert ef.bm25_topk(q) == ei.bm25_topk(q), q


def test_append_tail_fill_same_content(spark, tmp_path_factory):
    """Delta straddling a partially-filled tail shard: block boundaries
    legitimately differ from a fresh build (segments encode separately)
    but decoded posting/position streams, term_dict, stats, doc_map and
    served results are identical — docids included."""
    pages = _sorted_pages(144)
    base, delta = pages[:95], pages[95:]

    full_dir = str(tmp_path_factory.mktemp("tf_full") / "i")
    build_index(pages_to_df(spark, pages), full_dir, num_shards=3)

    inc_dir = str(tmp_path_factory.mktemp("tf_inc") / "i")
    build_index(pages_to_df(spark, base), inc_dir, num_shards=2)
    res = merge_index_delta(inc_dir, pages_to_df(spark, delta))
    assert res["mode"] == "append"

    assert _decoded_postings(spark, full_dir) == _decoded_postings(spark, inc_dir)
    assert _decoded_positions(spark, full_dir) == _decoded_positions(spark, inc_dir)
    from tests.test_incremental import DCOLS, SCOLS, TCOLS, _tbl

    for name, cols in [("doc_map", DCOLS), ("term_dict", TCOLS),
                       ("index_stats", SCOLS)]:
        assert _tbl(spark, full_dir, name, cols) == _tbl(spark, inc_dir, name, cols)

    ef = SearchEngine(spark, full_dir)
    ei = SearchEngine(spark, inc_dir)
    for q in QUERIES:
        assert ef.top_k(q) == ei.top_k(q), q
        assert ef.bm25_topk(q) == ei.bm25_topk(q), q


def test_append_interleaved_semantics(spark, tmp_path_factory):
    """Generic delta (urls interleave with the base): docids differ from a
    fresh dense build but the CONTENT must agree — url-level match sets
    for every query shape, global df per term, corpus stats."""
    pages = generate_pages(150, seed=7)
    base, delta = pages[:100], pages[100:]

    full_dir = str(tmp_path_factory.mktemp("il_full") / "i")
    build_index(pages_to_df(spark, pages), full_dir, num_shards=3)

    inc_dir = str(tmp_path_factory.mktemp("il_inc") / "i")
    build_index(pages_to_df(spark, base), inc_dir, num_shards=2)
    res = merge_index_delta(inc_dir, pages_to_df(spark, delta))
    assert res["mode"] == "append"

    ef = SearchEngine(spark, full_dir)
    ei = SearchEngine(spark, inc_dir)
    uf, ui = _doc_urls(spark, full_dir), _doc_urls(spark, inc_dir)
    assert sorted(uf.values()) == sorted(ui.values())
    # cross-layout comparison is only valid for shard-layout-INDEPENDENT
    # query shapes (plain/AND/OR): NOT and quote/phrase carry reference
    # quirks that kill a whole shard's stream on a missing term, so their
    # match sets legitimately depend on which docs share a shard — those
    # shapes are gated below against an oracle built at the SAME layout
    for q in ["search engine", "granite OR marble", "data AND systems"]:
        assert {uf[d] for d in ef.matches(q)} == \
               {ui[d] for d in ei.matches(q)}, q

    # the flagship rank-identity invariant, extended to the appended
    # layout: an oracle whose docid order is (base urls, then delta urls)
    # at the base build's shard_size IS the spec for this index
    with open(os.path.join(inc_dir, "index_meta.json")) as f:
        shard_size = json.load(f)["shard_size"]
    delta_urls = {p["url"].encode() for p in delta}
    oracle = OracleIndex.build(
        [(p["url"].encode(), p["html"]) for p in pages],
        sort_key=lambda u: (u in delta_urls, u), shard_size=shard_size,
    )
    for q in QUERIES + ["systems OR NOT granite", '"data systems"']:
        assert ei.top_k(q) == oracle.top_k(q), q
        assert sorted(ei.matches(q)) == sorted(oracle.matches(q)), q

    df_full = {
        (r["term"],): int(r["df"]) for r in
        spark.read.parquet(f"{full_dir}/term_dict")
        .groupBy("term").agg({"df": "sum"})
        .withColumnRenamed("sum(df)", "df").collect()
    }
    df_inc = {
        (r["term"],): int(r["df"]) for r in
        spark.read.parquet(f"{inc_dir}/term_dict")
        .groupBy("term").agg({"df": "sum"})
        .withColumnRenamed("sum(df)", "df").collect()
    }
    assert df_full == df_inc

    # compaction folds the appended segments back to the canonical dense
    # layout: byte-identical to a fresh build at the base shard count
    compact_index(spark, inc_dir)
    full2 = str(tmp_path_factory.mktemp("il_full2") / "i")
    build_index(pages_to_df(spark, pages), full2, num_shards=2)
    _assert_same_index(spark, full2, inc_dir)


def test_append_writes_o_delta_bytes(spark, tmp_path_factory):
    """The verdict's hard bound: a small delta appends o(corpus)
    posting/position bytes (recompaction would rewrite ~100%)."""
    pages = generate_pages(400, seed=11)
    base, delta = pages[:388], pages[388:]

    inc_dir = str(tmp_path_factory.mktemp("bb_inc") / "i")
    build_index(pages_to_df(spark, base), inc_dir, num_shards=2)
    res = merge_index_delta(inc_dir, pages_to_df(spark, delta),
                            sort_partitions=4)
    assert res["mode"] == "append"
    by_phase = {p["phase"]: p for p in res["phases"]}
    for tbl in ("postings", "positions"):
        appended = by_phase[tbl]["appended_bytes"]
        before = by_phase[tbl]["table_bytes_before"]
        assert appended > 0
        # file-level bytes carry a per-append floor of ~num_buckets parquet
        # footers (the small-files cost of any log-structured index —
        # irrelevant at real scale, reclaimed by compact_index); at this
        # toy scale that floor dominates, so the file-level bound is loose
        assert appended < 0.5 * before, (tbl, appended, before)
    # the scale-true signal: ENCODED posting payload appended for a 3%
    # delta is a small fraction of the corpus' total encoded bytes
    with open(os.path.join(inc_dir, "index_meta.json")) as f:
        total_enc = json.load(f)["counters"]["posting_bytes_compressed"]
    enc = by_phase["postings"]["encoded_bytes"]
    assert 0 < enc < 0.1 * total_enc, (enc, total_enc)

    # the appended index still serves without any rebuild
    ei = SearchEngine(spark, inc_dir)
    urls = _doc_urls(spark, inc_dir)
    hits = {urls[d] for d, *_ in ei.top_k("search")} | \
           {urls[d] for d, *_ in ei.top_k("granite OR data")}
    assert hits

    # VERDICT r04 #1: a RE-CRAWL delta must stay o(corpus) for the slim
    # row tables too — doc_map/doc_ids are append-only, dead rows masked
    # by the tombstone set instead of a full dead-free rewrite
    from mithril_spark.text.docproc import process_page

    recrawl = []
    for i in (3, 40, 97, 210, 333):
        cand = dict(base[i], html=base[(i + 60) % len(base)]["html"])
        if process_page(cand["url"].encode(), cand["html"]) is not None:
            recrawl.append(cand)
    assert recrawl
    res2 = merge_index_delta(inc_dir, pages_to_df(spark, recrawl),
                             sort_partitions=4)
    assert res2["mode"] == "append"
    by_phase2 = {p["phase"]: p for p in res2["phases"]}
    assert by_phase2["tombstones"]["replaced_docs"] >= 1
    # the merge's build_metrics table holds exactly its returned phases
    assert _metrics_rows(spark, inc_dir) == _phase_rows(res2["phases"])
    for tbl in ("doc_map_delta", "doc_ids"):
        appended = by_phase2[tbl]["appended_bytes"]
        before = by_phase2[tbl]["table_bytes_before"]
        assert 0 < appended < 0.5 * before, (tbl, appended, before)

    # and the served view reflects the replacement
    ei2 = SearchEngine(spark, inc_dir)
    urls2 = _doc_urls(spark, inc_dir)
    # live url set = old live set plus every admitted re-crawl url (a url
    # whose OLD html failed admission joins as an add, not a replacement)
    expected = set(urls.values()) | {r["url"].encode() for r in recrawl}
    assert sorted(urls2.values()) == sorted(expected)
    assert {d for d, *_ in ei2.top_k("search")} <= set(urls2)


def test_auto_compaction_guard(spark, tmp_path_factory, monkeypatch):
    """VERDICT r04 #2: past the tombstone threshold the merge compacts the
    index ITSELF (result['compacted']), restoring the canonical dense
    layout byte-identically; below it (default floor) the LSM path is
    untouched. Serving stays correct through the transition."""
    from mithril_spark.text.docproc import process_page

    pages = generate_pages(70, seed=29)
    base, fresh = pages[:40], pages[40:50]
    inc_dir = str(tmp_path_factory.mktemp("acg_inc") / "i")
    build_index(pages_to_df(spark, base), inc_dir, num_shards=2)

    current = {p["url"]: p for p in base}

    def admitted_recrawls(idxs, donor_off):
        out = []
        for i in idxs:
            cand = dict(pages[i], html=pages[(i + donor_off) % 40]["html"])
            if process_page(cand["url"].encode(), cand["html"]) is not None:
                out.append(cand)
        return out

    # merge 1: re-crawls under the DEFAULT guard (100k floor) — stays LSM
    d1 = admitted_recrawls((1, 5, 9, 22), 13) + fresh
    res = merge_index_delta(inc_dir, pages_to_df(spark, d1))
    assert res["mode"] == "append" and "compacted" not in res
    assert os.path.isdir(os.path.join(inc_dir, "tombstones"))
    for p in d1:
        current[p["url"]] = p

    # merge 2: floor lowered to 1 — the guard must fire and compact
    d2 = admitted_recrawls((3, 11, 30), 7)
    assert d2
    monkeypatch.setattr(indexer, "TOMBSTONE_COMPACT_MIN", 1)
    res2 = merge_index_delta(inc_dir, pages_to_df(spark, d2))
    assert res2["mode"] == "append" and res2.get("compacted") is True
    assert not os.path.isdir(os.path.join(inc_dir, "tombstones"))
    assert int(res2["meta"].get("tombstone_count", 0)) == 0
    for p in d2:
        current[p["url"]] = p

    # compacted result is byte-identical to a fresh build over the
    # resolved corpus, and serves identically
    full_dir = str(tmp_path_factory.mktemp("acg_full") / "i")
    build_index(pages_to_df(spark, list(current.values())), full_dir,
                num_shards=2)
    _assert_same_index(spark, full_dir, inc_dir)
    ef = SearchEngine(spark, full_dir)
    ei = SearchEngine(spark, inc_dir)
    for q in QUERIES:
        assert ef.top_k(q) == ei.top_k(q), q


def test_cached_engine_plans_dont_leak_across_merges(spark, tmp_path_factory):
    """Spark's CacheManager matches cached plans by path+schema, NOT the
    file list — an engine built BEFORE a merge (which persists its
    shard-image rows) must not poison a fresh engine's reads of the same
    paths AFTER the merge. merge_index_delta refreshes the index path at
    the end (code-review r5 / stale-cache regression)."""
    pages = generate_pages(60, seed=37)
    inc_dir = str(tmp_path_factory.mktemp("ccl_inc") / "i")
    build_index(pages_to_df(spark, pages[:50]), inc_dir, num_shards=2)

    e1 = SearchEngine(spark, inc_dir)  # caching engine, pre-merge
    assert e1.top_k("search engine")

    res = merge_index_delta(inc_dir, pages_to_df(spark, pages[50:]))
    assert res["mode"] == "append"

    with open(os.path.join(inc_dir, "index_meta.json")) as f:
        shard_size = json.load(f)["shard_size"]
    delta_urls = {p["url"].encode() for p in pages[50:]}
    oracle = OracleIndex.build(
        [(p["url"].encode(), p["html"]) for p in pages],
        sort_key=lambda u: (u in delta_urls, u), shard_size=shard_size,
    )
    e2 = SearchEngine(spark, inc_dir)  # fresh engine, post-merge
    for q in QUERIES:
        assert e2.top_k(q) == oracle.top_k(q), q


def test_auto_compaction_preserves_pagerank(spark, tmp_path_factory,
                                            monkeypatch):
    """code-review r5: when the guard compacts a pagerank-built index it
    must recompute pagerank — compact_index(pagerank=False) would zero
    the WHOLE corpus's scores, not just the delta's. The result must be
    byte-identical to a fresh pagerank build over the resolved corpus."""
    import pytest

    from mithril_spark.text.docproc import process_page

    pages = generate_pages(30, seed=31)
    base = pages[:24]
    inc_dir = str(tmp_path_factory.mktemp("acp_inc") / "i")
    build_index(pages_to_df(spark, base), inc_dir, num_shards=1,
                pagerank=True)

    current = {p["url"]: p for p in base}
    delta = []
    for i in (2, 9, 17):
        cand = dict(pages[i], html=pages[(i + 7) % 24]["html"])
        if process_page(cand["url"].encode(), cand["html"]) is not None:
            delta.append(cand)
    delta += pages[24:26]
    monkeypatch.setattr(indexer, "TOMBSTONE_COMPACT_MIN", 1)
    with pytest.warns(UserWarning, match="pagerank"):
        res = merge_index_delta(inc_dir, pages_to_df(spark, delta))
    assert res["mode"] == "append" and res.get("compacted") is True
    for p in delta:
        current[p["url"]] = p

    dm = spark.read.parquet(f"{inc_dir}/doc_map")
    assert dm.filter("pagerank != 0.0").count() > 0

    full_dir = str(tmp_path_factory.mktemp("acp_full") / "i")
    build_index(pages_to_df(spark, list(current.values())), full_dir,
                num_shards=1, pagerank=True)
    _assert_same_index(spark, full_dir, inc_dir)
    pr_of = {
        bytes(r["url"]): float(r["pagerank"])
        for r in spark.read.parquet(f"{full_dir}/doc_map").collect()
    }
    for r in dm.collect():
        assert float(r["pagerank"]) == pr_of[bytes(r["url"])]


def test_append_on_pagerank_index_warns(spark, tmp_path_factory):
    """ADVICE r04: appends cannot maintain the global pagerank — merging
    into a pagerank-built index must warn (delta docs serve pagerank 0.0
    until a recompaction), while a plain-built index stays silent."""
    import warnings

    import pytest

    pages = generate_pages(25, seed=3)
    inc_dir = str(tmp_path_factory.mktemp("prw_inc") / "i")
    build_index(pages_to_df(spark, pages[:20]), inc_dir, num_shards=1,
                pagerank=True)
    with pytest.warns(UserWarning, match="pagerank"):
        res = merge_index_delta(inc_dir, pages_to_df(spark, pages[20:22]))
    assert res["mode"] == "append"

    plain_dir = str(tmp_path_factory.mktemp("prw_plain") / "i")
    build_index(pages_to_df(spark, pages[:20]), plain_dir, num_shards=1)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        res = merge_index_delta(plain_dir, pages_to_df(spark, pages[22:]))
    assert res["mode"] == "append"


def test_auto_mode_selection(spark, tmp_path_factory):
    """The default mode appends any content delta (new urls AND
    re-crawls, the latter via tombstones) — including pagerank refreshes,
    which append then recompute the sidecar instead of recompacting."""
    pages = generate_pages(40, seed=5)
    inc_dir = str(tmp_path_factory.mktemp("auto_inc") / "i")
    build_index(pages_to_df(spark, pages[:30]), inc_dir, num_shards=2)

    res = merge_index_delta(inc_dir, pages_to_df(spark, pages[30:35]))
    assert res["mode"] == "append"

    recrawl = [dict(pages[3], html=pages[7]["html"])] + pages[35:]
    res = merge_index_delta(inc_dir, pages_to_df(spark, recrawl))
    assert res["mode"] == "append"
    by_phase = {p["phase"]: p for p in res["phases"]}
    assert by_phase["tombstones"]["replaced_docs"] >= 1

    with open(os.path.join(inc_dir, "index_meta.json")) as f:
        meta = json.load(f)
    rows = read_doc_map_live(spark, inc_dir).select("url").collect()
    urls = {bytes(r["url"]) for r in rows}
    # replacement, not duplication: every LIVE url once, meta agrees
    assert len(rows) == len(urls) == meta["total_docs"]
    assert meta["docid_watermark"] > meta["total_docs"]
    assert pages[3]["url"].encode() in urls

    res = merge_index_delta(inc_dir, pages_to_df(spark, pages[:2]),
                            pagerank=True)
    assert res["mode"] == "append"
    assert res["pagerank_refresh"]["mode"] == "pagerank_refresh"
    assert os.path.exists(os.path.join(inc_dir, "pagerank", "_SUCCESS"))
    # compaction folds pagerank into doc_map directly
    res = compact_index(spark, inc_dir, pagerank=True)
    assert res["mode"] == "compact"
    assert not os.path.isdir(os.path.join(inc_dir, "pagerank"))
    dm = spark.read.parquet(f"{inc_dir}/doc_map")
    assert dm.filter("pagerank != 0.0").count() > 0


def test_compaction_never_drops_pagerank(spark, tmp_path_factory):
    """compact_index computes pagerank whenever the index already has it:
    ``pagerank=False`` on a pagerank-built index still recomputes every
    doc's score into the fresh doc_map, bit-identical to the build's."""
    pages = generate_pages(22, seed=13)
    idx_dir = str(tmp_path_factory.mktemp("cndp") / "i")
    build_index(pages_to_df(spark, pages), idx_dir, num_shards=1,
                pagerank=True)

    def pr_by_url():
        return {bytes(r["url"]): float(r["pagerank"]) for r in
                spark.read.parquet(f"{idx_dir}/doc_map").collect()}

    want = pr_by_url()
    assert any(v != 0.0 for v in want.values())
    compact_index(spark, idx_dir, pagerank=False)
    assert pr_by_url() == want


def test_many_appends_lsm_stability(spark, tmp_path_factory):
    """Four successive mixed deltas (new urls + re-crawls of urls from any
    earlier generation): segments and tombstones accumulate, serving stays
    exact (df/stats/url parity with a fresh build over the resolved
    corpus), and one compaction folds the whole history away."""
    import random as _random

    from mithril_spark.text.docproc import process_page

    pages = generate_pages(220, seed=21)
    rng = _random.Random(99)
    base, pool = pages[:80], pages[80:]
    inc_dir = str(tmp_path_factory.mktemp("lsm_inc") / "i")
    build_index(pages_to_df(spark, base), inc_dir, num_shards=2)

    current = {p["url"]: p for p in base}
    pool_i = 0
    total_replaced = 0
    for _round in range(4):
        fresh = pool[pool_i:pool_i + 25]
        pool_i += 25
        recrawls = []
        for src in rng.sample(sorted(current), 6):
            donor = rng.choice(pages)
            cand = dict(current[src], html=donor["html"])
            # keep the model simple: only re-crawl to admissible content
            # (latest-admitted-wins otherwise keeps the old row)
            if process_page(cand["url"].encode(), cand["html"]) is not None:
                recrawls.append(cand)
        delta = fresh + recrawls
        res = merge_index_delta(inc_dir, pages_to_df(spark, delta))
        assert res["mode"] == "append"
        by_phase = {p["phase"]: p for p in res["phases"]}
        total_replaced += by_phase["tombstones"]["replaced_docs"]
        for p in delta:
            current[p["url"]] = p

    assert total_replaced >= 4  # tombstones genuinely accumulated
    with open(os.path.join(inc_dir, "index_meta.json")) as f:
        meta = json.load(f)
    assert meta["tombstone_count"] == total_replaced
    assert meta["docid_watermark"] > meta["total_docs"]

    full_dir = str(tmp_path_factory.mktemp("lsm_full") / "i")
    build_index(pages_to_df(spark, list(current.values())), full_dir,
                num_shards=2)

    def url_stats(path):
        return sorted(
            (bytes(r["url"]), int(r["body_len"]))
            for r in read_doc_map_live(spark, path)
            .select("url", "body_len").collect()
        )

    def global_df(path):
        return {
            r["term"]: int(r["df"]) for r in
            spark.read.parquet(f"{path}/term_dict")
            .groupBy("term").agg({"df": "sum"})
            .withColumnRenamed("sum(df)", "df").collect()
        }

    assert url_stats(full_dir) == url_stats(inc_dir)
    assert global_df(full_dir) == global_df(inc_dir)

    ef = SearchEngine(spark, full_dir)
    ei = SearchEngine(spark, inc_dir)
    uf, ui = _doc_urls(spark, full_dir), _doc_urls(spark, inc_dir)
    for q in ["search engine", "granite OR marble", "data AND systems"]:
        assert {uf[d] for d in ef.matches(q)} == \
               {ui[d] for d in ei.matches(q)}, q

    compact_index(spark, inc_dir)
    _assert_same_index(spark, full_dir, inc_dir)


def test_not_complement_never_surfaces_tombstones(spark, tmp_path_factory):
    """ADVICE r04 (medium): with FEWER than k live matches per shard, a
    complement query on an append-merged index used to pad its top-k with
    phantom dead docids as (docid, 0, b'', []) rows. The corpus here is
    small enough that every complement ranks fully, so any leaked dead id
    would surface."""
    pages = generate_pages(30, seed=17)
    inc_dir = str(tmp_path_factory.mktemp("ncx_inc") / "i")
    build_index(pages_to_df(spark, pages[:25]), inc_dir, num_shards=2)

    from mithril_spark.text.docproc import process_page

    recrawl = []
    for i in (2, 7, 11, 19):
        cand = dict(pages[i], html=pages[(i + 9) % 25]["html"])
        if process_page(cand["url"].encode(), cand["html"]) is not None:
            recrawl.append(cand)
    res = merge_index_delta(inc_dir, pages_to_df(spark, recrawl + pages[25:]))
    assert res["mode"] == "append"
    by_phase = {p["phase"]: p for p in res["phases"]}
    assert by_phase["tombstones"]["replaced_docs"] >= 1

    shard_size = json.load(open(os.path.join(inc_dir, "index_meta.json")))[
        "shard_size"]
    dead_gids = {
        int(r["shard"]) * shard_size + int(r["local_id"])
        for r in spark.read.parquet(f"{inc_dir}/tombstones").collect()
    }
    ei = SearchEngine(spark, inc_dir)
    for q in ["NOT quartz", "NOT granite", "NOT zzzneverseen",
              "search OR NOT engine"]:
        hits = ei.top_k(q)
        ids = {d for d, *_ in hits}
        assert not (ids & dead_gids), (q, ids & dead_gids)
        assert all(u != b"" for _d, _s, u, _t in hits), q


def test_append_recrawl_tombstone_semantics(spark, tmp_path_factory):
    """Re-crawls as LSM deletes: stale postings stay on disk but serving
    filters them — content, document frequencies, stats and snippets all
    behave as if the index had been rebuilt over the resolved corpus."""
    pages = generate_pages(130, seed=13)
    base, fresh = pages[:100], pages[100:]
    replaced_idx = [3, 10, 33, 57, 71, 92]
    recrawl = [
        dict(pages[i], html=pages[(i + 40) % 100]["html"])
        for i in replaced_idx
    ]
    # merge semantics are latest-ADMITTED-snapshot-wins: a re-crawl whose
    # new html fails admission never reaches the delta, so the old row
    # stays live — mirror that in the expected resolved corpus
    from mithril_spark.text.docproc import process_page

    resolved = {p["url"]: p for p in base}
    for p in recrawl + fresh:
        if process_page(p["url"].encode(), p["html"]) is not None:
            resolved[p["url"]] = p

    full_dir = str(tmp_path_factory.mktemp("ts_full") / "i")
    build_index(pages_to_df(spark, list(resolved.values())), full_dir,
                num_shards=3)

    inc_dir = str(tmp_path_factory.mktemp("ts_inc") / "i")
    build_index(pages_to_df(spark, base), inc_dir, num_shards=2)
    res = merge_index_delta(inc_dir, pages_to_df(spark, recrawl + fresh))
    assert res["mode"] == "append"
    by_phase = {p["phase"]: p for p in res["phases"]}
    n_dead = by_phase["tombstones"]["replaced_docs"]
    # the admitted subset of the 6 re-crawls (both the old url and the new
    # html must pass the admission filter to count as a replacement)
    assert n_dead >= 2

    ef = SearchEngine(spark, full_dir)
    ei = SearchEngine(spark, inc_dir)

    # live corpus identical: same url set, same per-url body/title stats
    def url_stats(path):
        return sorted(
            (bytes(r["url"]), int(r["body_len"]), int(r["title_len"]))
            for r in read_doc_map_live(spark, path)
            .select("url", "body_len", "title_len").collect()
        )

    assert url_stats(full_dir) == url_stats(inc_dir)

    # incremental index_stats (old + delta - dead) must EXACTLY equal a
    # fresh recompute over the live doc_map rows — ranking reads these
    from pyspark.sql import functions as F

    want_stats = sorted(
        tuple(int(r[c]) for c in ("shard", "doc_count", "total_body",
                                  "total_title", "total_url", "total_desc"))
        for r in read_doc_map_live(spark, inc_dir).groupBy("shard").agg(
            F.count("*").alias("doc_count"),
            F.sum("body_len").alias("total_body"),
            F.sum("title_len").alias("total_title"),
            F.sum("url_len").alias("total_url"),
            F.sum("desc_len").alias("total_desc"),
        ).collect()
    )
    got_stats = sorted(
        tuple(int(r[c]) for c in ("shard", "doc_count", "total_body",
                                  "total_title", "total_url", "total_desc"))
        for r in spark.read.parquet(f"{inc_dir}/index_stats").collect()
    )
    assert got_stats == want_stats

    # exact global document frequencies (dead docs subtracted)
    def global_df(path):
        return {
            r["term"]: int(r["df"]) for r in
            spark.read.parquet(f"{path}/term_dict")
            .groupBy("term").agg({"df": "sum"})
            .withColumnRenamed("sum(df)", "df").collect()
        }

    assert global_df(full_dir) == global_df(inc_dir)

    # match sets (layout-independent shapes) agree at url level
    uf, ui = _doc_urls(spark, full_dir), _doc_urls(spark, inc_dir)
    for q in ["search engine", "granite OR marble", "data AND systems",
              "index"]:
        assert {uf[d] for d in ef.matches(q)} == \
               {ui[d] for d in ei.matches(q)}, q

    # serving-path equality over the tombstoned index: resident (default)
    # and DIRECT must agree on everything
    e_dist = SearchEngine(spark, inc_dir, driver_serve_bytes=0)
    for q in QUERIES + ["index NOT granite"]:
        assert e_dist.top_k(q) == ei.top_k(q), q
        assert sorted(ei.matches(q)) == sorted(e_dist.matches(q)), q
    assert ei.bm25_topk("granite data", k=5) == \
        e_dist.bm25_topk("granite data", k=5)

    # a replaced doc serves its NEW text end-to-end (snippets resolve the
    # sidecar generations latest-wins) and its old docid never surfaces
    tomb = {
        (int(r["shard"]), int(r["local_id"]))
        for r in spark.read.parquet(f"{inc_dir}/tombstones").collect()
    }
    assert len(tomb) == n_dead
    shard_size = json.load(open(os.path.join(inc_dir, "index_meta.json")))[
        "shard_size"]
    dead_gids = {s * shard_size + l for s, l in tomb}
    for q in ["search engine", "granite OR marble", "NOT quartz"]:
        hits = ei.top_k_with_snippets(q)
        assert not dead_gids.intersection(d for d, *_ in hits)
        assert not dead_gids.intersection(ei.matches(q))
    for d, _s in ei.bm25_topk("search engine granite", k=20):
        assert d not in dead_gids

    # compaction folds tombstones + generations away: byte-identical to a
    # fresh build over the resolved corpus at the base shard count
    compact_index(spark, inc_dir)
    assert not os.path.isdir(os.path.join(inc_dir, "tombstones"))
    full2 = str(tmp_path_factory.mktemp("ts_full2") / "i")
    build_index(pages_to_df(spark, list(resolved.values())), full2,
                num_shards=2)
    _assert_same_index(spark, full2, inc_dir)


def test_refresh_pagerank_sidecar(spark, tmp_path_factory):
    """indexer.refresh_pagerank (ADVICE r04 follow-up): after an append
    with re-crawls, the sidecar restores BIT-identical global pagerank —
    equal to a fresh pagerank build over the resolved corpus — without
    rewriting doc_map (raw delta rows keep 0.0 on disk). Engine images
    consume the sidecar, and compaction (pagerank autodetect) folds it
    back into doc_map byte-identically."""
    import pytest

    from mithril_spark.indexer import refresh_pagerank
    from mithril_spark.text.docproc import process_page

    pages = generate_pages(40, seed=11)
    base = pages[:32]
    inc_dir = str(tmp_path_factory.mktemp("rpr_inc") / "i")
    build_index(pages_to_df(spark, base), inc_dir, num_shards=2,
                pagerank=True)

    current = {p["url"]: p for p in base}
    delta = [p for p in pages[32:34]  # new urls (admitted only — the
             # raw-0.0 assertion below needs them present in doc_map)
             if process_page(p["url"].encode(), p["html"]) is not None]
    for i in (3, 11):  # re-crawls (content swap, admission-checked)
        cand = dict(pages[i], html=pages[(i + 5) % 32]["html"])
        if process_page(cand["url"].encode(), cand["html"]) is not None:
            delta.append(cand)
    assert len(delta) >= 2
    # merging WITHOUT pagerank=True must still warn about staleness
    with pytest.warns(UserWarning, match="pagerank"):
        res = merge_index_delta(inc_dir, pages_to_df(spark, delta))
    assert res["mode"] == "append" and "compacted" not in res
    for p in delta:
        current[p["url"]] = p

    refresh_pagerank(spark, inc_dir)
    assert os.path.exists(os.path.join(inc_dir, "pagerank", "_SUCCESS"))

    # bit-identical per-url pagerank vs a fresh pagerank build over the
    # resolved corpus (same graph -> same int64 fixed point -> same f32)
    full_dir = str(tmp_path_factory.mktemp("rpr_full") / "i")
    build_index(pages_to_df(spark, list(current.values())), full_dir,
                num_shards=2, pagerank=True)
    want = {
        bytes(r["url"]): float(r["pagerank"])
        for r in spark.read.parquet(f"{full_dir}/doc_map").collect()
    }
    got = {
        bytes(r["url"]): float(r["pagerank"])
        for r in read_doc_map_live(spark, inc_dir).collect()
    }
    assert got == want
    assert any(v != 0.0 for v in want.values())

    # doc_map itself was NOT rewritten: the delta's rows still carry the
    # append-time 0.0 on disk (the sidecar overrides them at read)
    raw_zero_urls = {
        bytes(r["url"])
        for r in spark.read.parquet(f"{inc_dir}/doc_map")
        .filter("pagerank = 0.0").collect()
    }
    for p in delta:
        assert p["url"].encode() in raw_zero_urls

    # the engine's (driver-resident) images serve the refreshed values
    eng = SearchEngine(spark, inc_dir, pagerank_weight=80.0)
    assert eng._driver_images
    img_pr = {}
    for s, img in eng._driver_images.items():
        dead = eng._tombstones.get(s, ())
        for lid, u, v in zip(img.local_ids, img.urls, img.pageranks):
            if lid not in dead:
                img_pr[u] = float(v)
    assert img_pr == want

    # compaction with the autodetect default must PRESERVE pagerank
    # (recomputed into doc_map), drop the sidecar, and restore
    # byte-identity with the fresh pagerank build
    compact_index(spark, inc_dir)
    assert not os.path.isdir(os.path.join(inc_dir, "pagerank"))
    assert not os.path.isdir(os.path.join(inc_dir, "tombstones"))
    _assert_same_index(spark, full_dir, inc_dir)


def test_merge_append_pagerank_refresh_rank_identity(spark,
                                                     tmp_path_factory):
    """merge_index_delta(pagerank=True) on the append path refreshes the
    sidecar itself (no staleness warning, no recompaction) and serving
    under a NON-ZERO pagerank weight is rank-identical to the oracle with
    pagerank at the append layout — on the driver-resident AND the
    distributed (worker-image) tiers."""
    import warnings

    pages = _sorted_pages(60, seed=5)
    base, delta = pages[:50], pages[50:]

    inc_dir = str(tmp_path_factory.mktemp("rprr_inc") / "i")
    build_index(pages_to_df(spark, base), inc_dir, num_shards=2,
                pagerank=True)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        res = merge_index_delta(inc_dir, pages_to_df(spark, delta),
                                pagerank=True)
    assert not [x for x in w if "pagerank" in str(x.message)]
    assert res["mode"] == "append"
    assert res["pagerank_refresh"]["mode"] == "pagerank_refresh"
    assert os.path.exists(os.path.join(inc_dir, "pagerank", "_SUCCESS"))

    shard_size = json.load(open(os.path.join(inc_dir, "index_meta.json")))[
        "shard_size"]
    delta_urls = {p["url"].encode() for p in delta}
    oracle = OracleIndex.build(
        [(p["url"].encode(), p["html"]) for p in pages],
        sort_key=lambda u: (u in delta_urls, u), shard_size=shard_size,
        pagerank=True, pagerank_weight=80.0,
    )
    e_res = SearchEngine(spark, inc_dir, pagerank_weight=80.0)
    e_dist = SearchEngine(spark, inc_dir, pagerank_weight=80.0,
                          driver_serve_bytes=0)
    for q in QUERIES:
        want = oracle.top_k(q)
        assert e_res.top_k(q) == want, q
        assert e_dist.top_k(q) == want, q


def test_aborted_stage_write_is_invisible_and_retried(spark,
                                                      tmp_path_factory):
    """Crash contract, part 1: a merge that died MID-STAGE-WRITE leaves a
    marker-less stage_delta dir. It must be invisible to read_stage (the
    derived tables are untouched, so the index still serves the pre-merge
    corpus), and retrying the same merge must overwrite the debris and
    converge to exactly the state a never-crashed merge produces."""
    import shutil

    from mithril_spark.indexer import read_stage

    pages = _sorted_pages(50, seed=23)
    base, delta = pages[:40], pages[40:]

    inc_dir = str(tmp_path_factory.mktemp("abort_inc") / "i")
    build_index(pages_to_df(spark, base), inc_dir, num_shards=2)
    n_base = read_stage(spark, inc_dir).count()

    # simulate the aborted write: partial parquet rows, no _SUCCESS
    debris = os.path.join(inc_dir, "stage_delta_00001")
    tmp = os.path.join(inc_dir, "_abort_tmp")
    from mithril_spark.indexer import extract_docs
    extract_docs(pages_to_df(spark, delta[:2])).write.mode(
        "overwrite").parquet(tmp)
    os.remove(os.path.join(tmp, "_SUCCESS"))
    os.rename(tmp, debris)

    # invisible: resolved corpus is still the base, serving unaffected
    assert read_stage(spark, inc_dir).count() == n_base
    eng = SearchEngine(spark, inc_dir)
    oracle = OracleIndex.build(
        [(p["url"].encode(), p["html"]) for p in base], num_shards=2)
    for q in QUERIES[:3]:
        assert eng.top_k(q) == oracle.top_k(q), q

    # retry reuses the debris dir name and sweeps it
    res = merge_index_delta(inc_dir, pages_to_df(spark, delta))
    assert res["mode"] == "append"
    assert os.path.exists(os.path.join(debris, "_SUCCESS"))

    twin = str(tmp_path_factory.mktemp("abort_twin") / "i")
    build_index(pages_to_df(spark, base), twin, num_shards=2)
    merge_index_delta(twin, pages_to_df(spark, delta))
    _assert_same_index(spark, twin, inc_dir)

    shard_size = json.load(
        open(os.path.join(inc_dir, "index_meta.json")))["shard_size"]
    delta_urls = {p["url"].encode() for p in delta}
    oracle2 = OracleIndex.build(
        [(p["url"].encode(), p["html"]) for p in pages],
        sort_key=lambda u: (u in delta_urls, u), shard_size=shard_size)
    eng2 = SearchEngine(spark, inc_dir)
    for q in QUERIES:
        assert eng2.top_k(q) == oracle2.top_k(q), q


def test_crashed_merge_recovers_via_compact(spark, tmp_path_factory,
                                            monkeypatch):
    """Crash contract, part 2: a merge that died MID-DERIVED-APPEND (the
    stage generation committed, some segment adoptions landed, others did
    not) recovers through compact_index: the stage is the WAL and the
    derived tables are a pure function of its resolved view, so the redo
    rebuilds exactly the post-merge index — byte-identical to a fresh
    build over the union corpus."""
    import pytest

    import mithril_spark.indexer as ix

    pages = _sorted_pages(50, seed=29)
    base = pages[:40]
    # mixed delta: new urls AND a re-crawl, so the crash also interrupts
    # tombstone/doc-map bookkeeping
    delta = pages[40:48] + [dict(pages[5], html=pages[11]["html"])]
    current = {p["url"]: p for p in base}
    for p in delta:
        current[p["url"]] = p

    inc_dir = str(tmp_path_factory.mktemp("crash_inc") / "i")
    build_index(pages_to_df(spark, base), inc_dir, num_shards=2)

    real_adopt = ix._adopt_parquet_files
    calls = {"n": 0}

    def exploding_adopt(tmp_dir, final_dir):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("simulated crash mid-derived-append")
        return real_adopt(tmp_dir, final_dir)

    monkeypatch.setattr(ix, "_adopt_parquet_files", exploding_adopt)
    with pytest.raises(RuntimeError, match="simulated crash"):
        merge_index_delta(inc_dir, pages_to_df(spark, delta))
    monkeypatch.setattr(ix, "_adopt_parquet_files", real_adopt)
    assert calls["n"] >= 2  # the crash hit after at least one adoption

    full_dir = str(tmp_path_factory.mktemp("crash_full") / "i")
    build_index(pages_to_df(spark, list(current.values())), full_dir,
                num_shards=2)

    # the stage WAL holds the whole post-merge corpus (counts compare
    # against the fresh build's stage: extraction admission-filters, so
    # raw page count is not the right oracle)
    from mithril_spark.indexer import read_stage
    want_stage = spark.read.parquet(
        os.path.join(full_dir, "stage_raw")).count()
    assert read_stage(spark, inc_dir).count() == want_stage

    # appending onto the crash-inconsistent index is REFUSED (the stage
    # ledger disagrees with the derived tables): merging would silently
    # drop the crashed generation's docs forever
    with pytest.raises(RuntimeError, match="crash-inconsistent"):
        merge_index_delta(inc_dir, pages_to_df(spark, pages[48:49]))

    # redo: rebuild every derived table from the resolved stage
    compact_index(spark, inc_dir)
    _assert_same_index(spark, full_dir, inc_dir)

    eng = SearchEngine(spark, inc_dir)
    oracle = OracleIndex.build(
        [(u.encode(), p["html"]) for u, p in current.items()],
        num_shards=2)
    for q in QUERIES:
        assert eng.top_k(q) == oracle.top_k(q), q

    # ...and the compacted index accepts merges again (ledger reset)
    res = merge_index_delta(inc_dir, pages_to_df(spark, pages[48:49]))
    assert res["mode"] == "append"


def test_worker_image_epoch_stability(spark, tmp_path_factory):
    """code-review r5: a worker that first loads a shard image AFTER a
    merge committed, under an engine's PRE-merge token, must still be
    able to resolve every docid that engine considers live. Worker images
    are therefore maskless epoch-stable supersets (doc_map is
    append-only; dead filtering ships with the ENGINE's tombstone set via
    query/shard.py::_drop_tombstoned) — the old CURRENT-disk-tombstone
    masking would drop docs a pre-merge engine still matches, surfacing
    phantom (docid, 0, b'', []) rows. The pagerank sidecar override IS
    epoch-dependent, so it applies only while the disk epoch still
    matches the requested token. (A pre-merge engine can only keep
    serving at all when its scans come from cached blocks — term_dict is
    rewritten in place by merges — so this is gated at the image level.)
    """
    from mithril_spark.engine import _docmap_token, _worker_image
    from mithril_spark.indexer import refresh_pagerank

    pages = _sorted_pages(42, seed=37)
    base, newdocs = pages[:36], pages[36:]

    inc_dir = str(tmp_path_factory.mktemp("epoch_inc") / "i")
    build_index(pages_to_df(spark, base), inc_dir, num_shards=2)
    old_token = _docmap_token(inc_dir)

    delta = [dict(base[3], html=base[11]["html"]),
             dict(base[20], html=base[5]["html"])] + newdocs
    res = merge_index_delta(inc_dir, pages_to_df(spark, delta))
    assert res["mode"] == "append"
    assert res["meta"]["tombstone_count"] >= 1
    assert _docmap_token(inc_dir) != old_token

    # every tombstoned (shard, local_id) — live in the pre-merge epoch —
    # must still resolve in an image loaded post-merge under ANY token
    dead = spark.read.parquet(os.path.join(inc_dir, "tombstones")).collect()
    assert dead
    for r in dead:
        img = _worker_image(inc_dir, int(r["shard"]), old_token)
        assert int(r["local_id"]) in img.local_ids, \
            "pre-merge docid vanished from the epoch-stable image"

    # and a POST-merge engine over the same (unmasked) images never
    # surfaces those dead docids — _drop_tombstoned is the filter now
    eng = SearchEngine(spark, inc_dir, driver_serve_bytes=0)
    dead_global = {
        int(r["shard"]) * eng.meta["shard_size"] + int(r["local_id"])
        for r in dead
    }
    for q in QUERIES + ["NOT thermite", "the"]:
        for d, _s, url, _t in eng.top_k(q):
            assert d not in dead_global, q
            assert url != b"", q

    # sidecar epoch gate: a refresh moves the disk epoch, so an image
    # requested under the OLD token must NOT bake the new sidecar in
    refresh_pagerank(spark, inc_dir)
    img_stale = _worker_image(inc_dir, 0, old_token + "_stale_probe")
    assert not np.any(img_stale.pageranks)  # doc_map's own 0.0 values
    img_live = _worker_image(inc_dir, 0, _docmap_token(inc_dir))
    assert np.any(img_live.pageranks)  # sidecar applied at match


def test_driver_images_equal_worker_images(spark, tmp_path_factory):
    """One image loader for both tiers: on a re-crawled, pagerank-
    refreshed index every driver-resident shard image equals the worker
    image for the engine's token, column by column — dead rows kept (the
    tombstone set filters match lists, not images) and the sidecar
    applied on both."""
    from mithril_spark.engine import _worker_image
    from mithril_spark.query.isr import DocMapCols

    pages = _sorted_pages(40, seed=41)
    base = pages[:34]
    inc_dir = str(tmp_path_factory.mktemp("img_eq") / "i")
    build_index(pages_to_df(spark, base), inc_dir, num_shards=2)
    delta = [dict(base[2], html=base[9]["html"]),
             dict(base[25], html=base[4]["html"])] + pages[34:]
    res = merge_index_delta(inc_dir, pages_to_df(spark, delta),
                            pagerank=True)
    assert res["meta"]["tombstone_count"] >= 1
    assert "pagerank_refresh" in res

    eng = SearchEngine(spark, inc_dir)
    assert eng._driver_images and eng._tombstones
    assert sorted(eng._driver_images) == sorted(eng.stats)
    for s, img in eng._driver_images.items():
        want = _worker_image(inc_dir, s, eng._image_token)
        for col in DocMapCols.__slots__:
            a, b = getattr(img, col), getattr(want, col)
            if isinstance(b, np.ndarray):
                assert np.array_equal(a, b), (s, col)
            else:
                assert a == b, (s, col)
        assert np.isin(eng._tombstones.get(s, []), img.local_ids).all(), s
    assert any(np.any(img.pageranks) for img in eng._driver_images.values())


def test_empty_delta_merge_is_a_true_noop(spark, tmp_path_factory):
    """A merge whose delta extracts ZERO admitted rows must leave the
    index exactly as it found it — including the stage-generation ledger.
    Regression (code-review r5 #2): the empty stage delta committed before
    the zero-row early return, leaving the committed-generation count one
    ahead of index_meta.stage_generations, so the NEXT merge's crash guard
    raised a false 'crash-inconsistent' RuntimeError on a healthy index
    and only an O(corpus) compact_index would unbrick it."""
    from mithril_spark.indexer import _stage_generations, extract_docs

    pages = _sorted_pages(40, seed=31)
    base, delta = pages[:30], pages[30:]

    inc_dir = str(tmp_path_factory.mktemp("noop_inc") / "i")
    build_index(pages_to_df(spark, base), inc_dir, num_shards=2)
    meta_before = json.load(open(os.path.join(inc_dir, "index_meta.json")))

    # 1) the no-op merge: zero extracted rows (all pages inadmissible)
    empty = extract_docs(pages_to_df(spark, delta)).limit(0)
    res = merge_index_delta(inc_dir, extracted=empty)
    assert res["mode"] == "append"
    # ledger and on-disk generations agree; no stage_delta debris remains
    assert _stage_generations(inc_dir) == [
        os.path.join(inc_dir, "stage_raw")]
    meta_after = json.load(open(os.path.join(inc_dir, "index_meta.json")))
    assert meta_after == meta_before

    # 2) the next REAL merge succeeds (previously: false crash error)
    merge_index_delta(inc_dir, pages_to_df(spark, delta))

    # 3) crash-window variant: an empty COMMITTED generation left behind
    # by a crash between the stage commit and the no-op cleanup is swept
    # by the guard, not treated as a crash casualty
    debris = os.path.join(
        inc_dir, f"stage_delta_{len(_stage_generations(inc_dir)):05d}")
    extract_docs(pages_to_df(spark, delta)).limit(0).write.mode(
        "overwrite").parquet(debris)
    assert os.path.exists(os.path.join(debris, "_SUCCESS"))
    more = generate_pages(46, seed=31)[40:]
    merge_index_delta(inc_dir, pages_to_df(spark, more))
    # the sweep freed the slot; the real delta then reused it, so the dir
    # now holds the new generation's rows and the ledger agrees with disk
    from mithril_spark.indexer import _dir_parquet_rows
    assert _dir_parquet_rows(debris) > 0
    meta_now = json.load(open(os.path.join(inc_dir, "index_meta.json")))
    assert meta_now["stage_generations"] == \
        len(_stage_generations(inc_dir)) - 1

    # end state serves identically to a twin that never saw the no-ops
    twin = str(tmp_path_factory.mktemp("noop_twin") / "i")
    build_index(pages_to_df(spark, base), twin, num_shards=2)
    merge_index_delta(twin, pages_to_df(spark, delta))
    merge_index_delta(twin, pages_to_df(spark, more))
    _assert_same_index(spark, twin, inc_dir)


def test_extracted_delta_duplicate_urls_resolve_like_read_stage(
        spark, tmp_path_factory):
    """An ``extracted=`` delta skips dedupe_pages, so it can hold several
    rows of one url. The append resolves them through read_stage's own
    delta resolution (indexer._resolve_deltas: greatest md5(text) within a
    generation), so the appended index and its compaction serve the same
    row — the one an oracle over that row serves — in top_k and in
    snippet text."""
    import hashlib

    from mithril_spark.indexer import extract_docs
    from mithril_spark.oracle import extract_text

    admitted = [p for p in _sorted_pages(100, seed=42)
                if extract_text(p["url"].encode(), p["html"]) is not None]
    # an odd base leaves one free slot in the tail shard, so the appended
    # url (it sorts last) lands where a fresh build and the compaction
    # put it: docids and per-shard stats agree on all three indexes
    base, last = admitted[:-1], admitted[-1]
    assert len(base) % 2 == 1
    url = last["url"].encode()
    variants = [dict(last, html=admitted[i]["html"]) for i in (-1, 5, 40)]
    texts = [extract_text(url, v["html"]) for v in variants]
    assert len(set(texts)) == 3
    winner = max(zip(texts, variants),
                 key=lambda tv: hashlib.md5(tv[0]).hexdigest())[1]

    inc_dir = str(tmp_path_factory.mktemp("dup_inc") / "i")
    build_index(pages_to_df(spark, base), inc_dir, num_shards=2)
    delta = extract_docs(pages_to_df(spark, variants))
    assert delta.count() == 3
    res = merge_index_delta(inc_dir, extracted=delta)
    assert res["mode"] == "append"

    oracle = OracleIndex.build(
        [(p["url"].encode(), p["html"]) for p in base + [winner]],
        num_shards=2)
    # each of the three texts ranks the url differently on these queries
    queries = ["search engine", "granite OR marble", "NOT quartz", "index"]
    want = {q: (oracle.top_k(q), oracle.top_k_with_snippets(q))
            for q in queries}
    appended = SearchEngine(spark, inc_dir)
    for q in queries:
        assert appended.top_k(q) == want[q][0], q
        assert appended.top_k_with_snippets(q) == want[q][1], q

    compact_index(spark, inc_dir)
    compacted = SearchEngine(spark, inc_dir)
    for q in queries:
        assert compacted.top_k(q) == want[q][0], q
        assert compacted.top_k_with_snippets(q) == want[q][1], q


def test_force_rebuild_sweeps_stale_stage_deltas(spark, tmp_path_factory):
    """build_index(force=True) over a dir that previously received append
    merges must sweep the old stage_delta_* generations: the rebuild
    derives from the freshly written stage_raw ALONE, so surviving deltas
    would both be counted adopted by the ledger and resolve their stale
    rows back over the new corpus in every read_stage consumer
    (refresh_pagerank, the next merge's old_stage, compact_stage) —
    silently diverging from the served tables (code-review r5)."""
    from mithril_spark.indexer import _stage_generations, read_stage

    pages = _sorted_pages(50, seed=29)
    base, delta = pages[:35], pages[35:]
    new_corpus = generate_pages(30, seed=91)

    d = str(tmp_path_factory.mktemp("force_sweep") / "i")
    build_index(pages_to_df(spark, base), d, num_shards=2)
    merge_index_delta(d, pages_to_df(spark, delta))
    assert len(_stage_generations(d)) == 2  # the delta generation exists

    build_index(pages_to_df(spark, new_corpus), d, num_shards=2, force=True)
    assert _stage_generations(d) == [os.path.join(d, "stage_raw")]
    # the resolved corpus is EXACTLY the new corpus's admitted rows — no
    # stale delta url survives the sweep
    from mithril_spark.indexer import extract_docs

    want_urls = {
        bytes(r["url"]) for r in
        extract_docs(pages_to_df(spark, new_corpus)).select("url").collect()
    }
    got_urls = {
        bytes(r["url"]) for r in read_stage(spark, d).select("url").collect()
    }
    assert got_urls == want_urls
    meta = json.load(open(os.path.join(d, "index_meta.json")))
    assert meta["stage_generations"] == 0

    # the rebuilt index serves the NEW corpus, not a stale-delta blend
    eng = SearchEngine(spark, d)
    oracle = OracleIndex.build(
        [(p["url"].encode(), p["html"]) for p in new_corpus], num_shards=2)
    for q in QUERIES[:3]:
        assert eng.top_k(q) == oracle.top_k(q), q

    # and the next merge still works on the clean ledger
    merge_index_delta(d, pages_to_df(spark, generate_pages(34, seed=91)[30:]))


def test_merge_joins_degrade_without_broadcast(spark, tmp_path_factory,
                                               monkeypatch):
    """Every size-guarded broadcast — the build's ids join, the append
    merge's delta-bounded joins and read_stage's anti-join — reads the one
    BROADCAST_BYTES_CAP (indexer._bcast_small): with the budget forced to
    0 every join takes the AQE sort-merge path, and the index must be
    IDENTICAL to the broadcast twin — the guard changes physical strategy
    only."""
    from mithril_spark import indexer as ix

    pages = _sorted_pages(50, seed=37)
    base, delta = pages[:40], pages[32:]  # 8 re-crawls + 10 new urls

    def ids_broadcast(res):
        (row,) = [p for p in res["phases"] if p["phase"] == "assign_ids"]
        return row["ids_broadcast"]

    def stage_broadcasts(index_dir):
        plan = ix.read_stage(spark, index_dir)._jdf.queryExecution() \
            .executedPlan().toString()
        return "BroadcastExchange" in plan

    # Spark's size-estimate broadcast (autoBroadcastJoinThreshold, 10 MB by
    # default) would broadcast these test-sized joins whatever the cap:
    # off for both twins, only the guard's explicit hints can broadcast
    conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "-1")
    try:
        a = str(tmp_path_factory.mktemp("bcast_on") / "i")
        assert ids_broadcast(build_index(pages_to_df(spark, base), a,
                                         num_shards=2))
        merge_index_delta(a, pages_to_df(spark, delta))
        assert stage_broadcasts(a)

        b = str(tmp_path_factory.mktemp("bcast_off") / "i")
        monkeypatch.setattr(ix, "BROADCAST_BYTES_CAP", 0)
        assert not ids_broadcast(build_index(pages_to_df(spark, base), b,
                                             num_shards=2))
        merge_index_delta(b, pages_to_df(spark, delta))
        assert not stage_broadcasts(b)
    finally:
        spark.conf.set(conf, old)

    _assert_same_index(spark, a, b)


def test_merge_op_sequence_fuzz(spark, tmp_path_factory):
    """Seeded random op sequence over the LSM lifecycle — appends,
    re-crawls (incl. of already-re-crawled urls), EMPTY deltas, and
    MID-SEQUENCE compactions in whatever order the seed deals — with the
    crash-consistency ledger, the live doc_map view, and serving checked
    after every step, and full byte-identity against a fresh build over
    the final resolved corpus at the end. The hand-written cases cover
    each transition once; this covers their compositions."""
    import random as _random

    from mithril_spark.indexer import (
        _stage_generations,
        extract_docs,
        read_stage,
    )
    from mithril_spark.text.docproc import process_page

    pages = generate_pages(260, seed=55)
    rng = _random.Random(4242)
    base, pool = pages[:70], pages[70:]
    d = str(tmp_path_factory.mktemp("fuzz") / "i")
    build_index(pages_to_df(spark, base), d, num_shards=2)

    current = {p["url"]: p for p in base}  # live model: url -> latest page
    pool_i = 0
    ops_run = []
    # every op KIND present by construction, order randomized — rng.choice
    # alone could (and under one seed, would) skip a kind, silently losing
    # the lifecycle coverage the docstring promises (code-review r5)
    ops = ["new", "recrawl", "mixed", "empty", "compact",
           "mixed", "empty", "new"]
    rng.shuffle(ops)
    for op in ops:
        if op == "compact":
            compact_index(spark, d)
        elif op == "empty":
            probe = pages_to_df(spark, pool[pool_i:pool_i + 3])
            res = merge_index_delta(
                d, extracted=extract_docs(probe).limit(0))
            assert res["mode"] == "append"
        else:
            fresh, recrawls = [], []
            if op in ("new", "mixed"):
                fresh = pool[pool_i:pool_i + 8]
                pool_i += 8
            if op in ("recrawl", "mixed"):
                candidates = sorted(current)
                rng.shuffle(candidates)
                for src in candidates:
                    if len(recrawls) == 4:
                        break
                    donor = rng.choice(pages)
                    cand = dict(current[src], html=donor["html"])
                    # model stays exact only for admissible re-crawls: an
                    # inadmissible delta row never reaches the stage, so
                    # the index correctly keeps the OLD content while a
                    # fresh build over "latest pages" would drop the url
                    if process_page(cand["url"].encode(),
                                    cand["html"]) is not None:
                        recrawls.append(cand)
                assert recrawls  # the pool always yields admissible content
            delta = fresh + recrawls
            res = merge_index_delta(d, pages_to_df(spark, delta))
            assert res["mode"] == "append"
            for p in delta:
                current[p["url"]] = p
        ops_run.append(op)

        # per-step invariants: ledger == disk, live view == model,
        # serving never surfaces a dead/missing doc
        meta = json.load(open(os.path.join(d, "index_meta.json")))
        assert meta["stage_generations"] == \
            len(_stage_generations(d)) - 1, ops_run
        admitted = {
            u.encode() for u, p in current.items()
            if process_page(p["url"].encode(), p["html"]) is not None
        }
        live = {
            bytes(r["url"]) for r in
            read_doc_map_live(spark, d).select("url").collect()
        }
        assert live == admitted, ops_run
        assert {
            bytes(r["url"]) for r in
            read_stage(spark, d).select("url").collect()
        } == admitted, ops_run
        eng = SearchEngine(spark, d)
        for _did, _s, url, _t in eng.top_k("search engine"):
            assert url != b"", ops_run

    # every op kind actually executed (subset-direction matters!)
    assert set(ops_run) == {"new", "recrawl", "mixed", "empty", "compact"}
    assert len(ops_run) == 8

    # end state: compact folds the whole history to byte-identity with a
    # fresh build over the final resolved corpus
    full = str(tmp_path_factory.mktemp("fuzz_full") / "i")
    build_index(pages_to_df(spark, list(current.values())), full,
                num_shards=2)
    compact_index(spark, d)
    _assert_same_index(spark, full, d)
