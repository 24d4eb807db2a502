"""Incremental index maintenance: appends then compact_index == full
rebuild.

The derived tables (doc_map, postings, positions, term_dict, index_stats)
are a deterministic function of the staged row set, so folding new pages in
through two merge_index_delta appends and one compact_index must produce
BYTE-IDENTICAL tables to a from-scratch build over the union corpus — at 1,
2 and 3 shards. Compaction folds the stage generations into one dir without
changing the rows read_stage resolves.
"""

import shutil

import pytest

from mithril_spark.fixtures import generate_pages, pages_to_df
from mithril_spark.indexer import (
    _stage_generations,
    build_index,
    compact_index,
    compact_stage,
    merge_index_delta,
    read_stage,
)

PCOLS = ["term", "shard", "salt", "block_id", "doc_count", "first_doc_id",
         "last_doc_id", "max_freq", "freq_sum", "doc_ids_enc", "freqs_enc"]
XCOLS = ["term", "shard", "salt", "doc_count", "first_doc_id", "last_doc_id",
         "doc_ids_enc", "flags_enc", "pos_counts_enc", "positions_enc"]
DCOLS = ["shard", "doc_id", "local_id", "url", "title_len", "body_len",
         "static_rank", "pagerank"]  # pagerank too: float32, bit-identical
# by invariant (Spark == numpy exact fixed point -> same standardization),
# so stale/partial scores fail the identity gates, not just all-zeros
TCOLS = ["term", "shard", "df", "cf"]
SCOLS = ["shard", "doc_count", "total_body", "total_title", "total_url",
         "total_desc"]


def _tbl(spark, path, name, cols):
    return sorted(
        tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v
              for v in (r[c] for c in cols))
        for r in spark.read.parquet(f"{path}/{name}").select(*cols).collect()
    )


def _stage_urls(spark, path):
    return {bytes(r["url"]) for r in read_stage(spark, path)
            .select("url").collect()}


def _compact_keeps_stage(spark, path, generations):
    """compact_index over ``generations`` stage generations folds them into
    one while read_stage resolves the same urls before and after."""
    assert len(_stage_generations(path)) == generations
    before = _stage_urls(spark, path)
    assert compact_index(spark, path)["mode"] == "compact"
    assert len(_stage_generations(path)) == 1
    assert _stage_urls(spark, path) == before


def _assert_same_index(spark, a, b):
    for name, cols in [("doc_map", DCOLS), ("postings", PCOLS),
                       ("positions", XCOLS), ("term_dict", TCOLS),
                       ("index_stats", SCOLS)]:
        assert _tbl(spark, a, name, cols) == _tbl(spark, b, name, cols), name


@pytest.mark.parametrize("shards", [1, 2, 3])
def test_two_increments_equal_full_rebuild(spark, tmp_path_factory, shards):
    pages = generate_pages(120, seed=42)
    p1, p2, p3 = pages[:70], pages[70:95], pages[95:]

    full_dir = str(tmp_path_factory.mktemp(f"inc_full_{shards}") / "i")
    shutil.rmtree(full_dir, ignore_errors=True)
    build_index(pages_to_df(spark, pages), full_dir, num_shards=shards)

    inc_dir = str(tmp_path_factory.mktemp(f"inc_inc_{shards}") / "i")
    shutil.rmtree(inc_dir, ignore_errors=True)
    build_index(pages_to_df(spark, p1), inc_dir, num_shards=shards)
    merge_index_delta(inc_dir, pages_to_df(spark, p2))
    merge_index_delta(inc_dir, pages_to_df(spark, p3))
    _compact_keeps_stage(spark, inc_dir, 3)

    _assert_same_index(spark, full_dir, inc_dir)

    # the served results agree too (query layer over the merged index)
    from mithril_spark.engine import SearchEngine

    ef = SearchEngine(spark, full_dir)
    ei = SearchEngine(spark, inc_dir)
    for q in ["search engine", "granite OR marble", "NOT quartz"]:
        assert ef.top_k(q) == ei.top_k(q), q


def test_streaming_ingest_feeds_incremental_merge(spark, tmp_path_factory):
    """The full freshness loop: the crawler keeps writing (streaming
    extraction over a pages directory), merge_index_delta appends the
    stream's extracted rows to the index WITHOUT re-parsing, and after
    compact_index the result is byte-identical to a from-scratch build
    over the union."""
    from mithril_spark.streaming import stream_extract_pages

    pages = generate_pages(100, seed=42)
    p1, p2 = pages[:60], pages[60:]
    tmp = tmp_path_factory.mktemp("stream_inc")

    full_dir = str(tmp / "full")
    build_index(pages_to_df(spark, pages), full_dir, num_shards=2)

    inc_dir = str(tmp / "inc")
    build_index(pages_to_df(spark, p1), inc_dir, num_shards=2)

    # crawler writes p2; streaming extraction picks it up incrementally
    pages_dir = str(tmp / "pages")
    extracted_dir = str(tmp / "extracted")
    ckpt = str(tmp / "ckpt")
    pages_to_df(spark, p2).write.parquet(pages_dir)
    q = stream_extract_pages(spark, pages_dir, extracted_dir, ckpt)
    q.awaitTermination(120)

    merge_index_delta(inc_dir, extracted=spark.read.parquet(extracted_dir))
    _compact_keeps_stage(spark, inc_dir, 2)
    _assert_same_index(spark, full_dir, inc_dir)


def test_merge_replaces_recrawled_url(spark, tmp_path_factory):
    """A re-crawled url is replaced by its newest snapshot (latest
    generation wins), mirroring dedupe_pages semantics."""
    pages = generate_pages(40, seed=5)
    inc_dir = str(tmp_path_factory.mktemp("inc_replace") / "i")
    shutil.rmtree(inc_dir, ignore_errors=True)
    build_index(pages_to_df(spark, pages), inc_dir, num_shards=2)

    # re-crawl one url with different content (borrow another page's html)
    recrawl = [dict(pages[3], html=pages[7]["html"])]
    merge_index_delta(inc_dir, pages_to_df(spark, recrawl))

    stage = read_stage(spark, inc_dir)
    assert stage.count() <= len(pages)  # replacement, not duplication
    row = stage.filter(
        stage.url == pages[3]["url"].encode()
    ).select("text").collect()
    from mithril_spark.oracle import extract_text

    want = extract_text(pages[3]["url"].encode(), pages[7]["html"])
    assert len(row) == 1 and bytes(row[0]["text"]) == want


def test_resume_after_midbuild_crash(spark, tmp_path_factory):
    """Checkpoint-resume under a SIMULATED mid-build crash (north rule:
    'resumable from checkpoint with per-partition lineage'): a build that
    died after the doc_map/stats phases committed — postings mid-write
    (stale part file, no _SUCCESS), term_dict never started, final
    metadata never written — must resume by re-running ONLY the missing
    phases (overwrite sweeps the partial write) and converge to tables
    identical to an uninterrupted build."""
    import json
    import os

    pages = generate_pages(60, seed=17)
    df = pages_to_df(spark, pages)

    a_dir = str(tmp_path_factory.mktemp("resume_full") / "i")
    build_index(df, a_dir, num_shards=2)

    b_dir = str(tmp_path_factory.mktemp("resume_crash") / "i")
    build_index(df, b_dir, num_shards=2)
    # simulate the crash window: postings partially written, term_dict
    # absent, index_meta (the last thing a build writes) missing
    os.remove(os.path.join(b_dir, "postings", "_SUCCESS"))
    with open(os.path.join(b_dir, "postings",
                           "part-99999-deadbeef.parquet"), "wb") as f:
        f.write(b"partial write garbage")
    shutil.rmtree(os.path.join(b_dir, "term_dict"))
    os.remove(os.path.join(b_dir, "index_meta.json"))

    res = build_index(df, b_dir, num_shards=2)
    ran = {m["phase"]: m.get("ran") for m in res["phases"]}
    assert ran["postings"] is True
    assert ran["term_dict"] is True
    for done in ("extract", "assign_ids", "doc_map", "doc_text"):
        assert ran[done] is False, done

    _assert_same_index(spark, a_dir, b_dir)
    with open(os.path.join(a_dir, "index_meta.json")) as fa, \
            open(os.path.join(b_dir, "index_meta.json")) as fb:
        ma, mb = json.load(fa), json.load(fb)
    assert ma == mb

    # the resumed index serves rank-identically to the untouched twin
    from mithril_spark.engine import SearchEngine

    ea = SearchEngine(spark, a_dir)
    eb = SearchEngine(spark, b_dir)
    for q in ["search engine", "granite OR marble", "NOT quartz"]:
        assert ea.top_k(q) == eb.top_k(q), q


def test_assign_meta_commits_before_ids(spark, tmp_path_factory,
                                        monkeypatch):
    """_assign_meta.json is written BEFORE the doc_ids _SUCCESS commit
    (code-review r5): the resume gate is the ids marker, so the old
    order's crash window (ids committed, meta missing/stale) either dead-
    ended the resume on FileNotFoundError or silently reused a previous
    build's total_docs/shard_size. Simulate a crash DURING the ids write
    and prove the on-disk state is the safe one — meta present, marker
    absent — and that a plain re-run converges to a clean twin."""
    import os

    from mithril_spark import indexer as ix

    pages = generate_pages(40, seed=19)
    df = pages_to_df(spark, pages)

    a_dir = str(tmp_path_factory.mktemp("ameta_full") / "i")
    build_index(df, a_dir, num_shards=2)

    b_dir = str(tmp_path_factory.mktemp("ameta_crash") / "i")
    real = ix._write_once

    def boom(sdf, path, force=False):
        if path.endswith("doc_ids"):
            raise RuntimeError("simulated crash during the ids write")
        return real(sdf, path, force=force)

    monkeypatch.setattr(ix, "_write_once", boom)
    try:
        build_index(df, b_dir, num_shards=2)
        raise AssertionError("build survived the simulated crash")
    except RuntimeError:
        pass
    monkeypatch.setattr(ix, "_write_once", real)

    # the safe crash state: meta already durable, ids not yet committed
    assert os.path.exists(os.path.join(b_dir, "_assign_meta.json"))
    assert not os.path.exists(os.path.join(b_dir, "doc_ids", "_SUCCESS"))

    build_index(df, b_dir, num_shards=2)
    _assert_same_index(spark, a_dir, b_dir)


def test_old_index_format_rejected_at_open(spark, tmp_path_factory):
    """The index format is checked once, at open: an index whose
    index_meta.json lacks a key every current build writes (an index from
    before the stage ledger, the pagerank flag and the base shard count)
    is refused by the engine, the merge and the compaction alike, with a
    ValueError naming the key, before anything is read or written."""
    import json
    import os

    from mithril_spark.engine import SearchEngine
    from mithril_spark.indexer import INDEX_META_KEYS

    pages = generate_pages(40, seed=23)
    built = str(tmp_path_factory.mktemp("fmt_built") / "i")
    build_index(pages_to_df(spark, pages), built, num_shards=2)
    delta = pages_to_df(spark, generate_pages(5, seed=24))

    for key in INDEX_META_KEYS:
        d = str(tmp_path_factory.mktemp(f"fmt_no_{key}") / "i")
        shutil.copytree(built, d)
        mpath = os.path.join(d, "index_meta.json")
        with open(mpath) as f:
            meta = json.load(f)
        del meta[key]
        with open(mpath, "w") as f:
            json.dump(meta, f)
        before = sorted(os.listdir(d))

        with pytest.raises(ValueError, match=key):
            SearchEngine(spark, d)
        with pytest.raises(ValueError, match=key):
            merge_index_delta(d, delta)
        with pytest.raises(ValueError, match=key):
            compact_index(spark, d)
        with pytest.raises(ValueError, match=key):
            compact_stage(spark, d)
        assert sorted(os.listdir(d)) == before, key
        with open(mpath) as f:
            assert json.load(f) == meta, key
