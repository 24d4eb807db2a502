"""The two serving tiers agree: DIRECT (one mapInPandas job, per-task
pyarrow payload reads) == RESIDENT (driver term store + images) == oracle.

``driver_serve_bytes=0`` forces every query onto the DIRECT tier, where
posting/position blocks never transit the driver; rank identity with the
oracle must hold on the full fixture query set at 1/2/3 shards, and the
WAND, matches, positions and snippet APIs must agree with the resident
tier. A resident query whose payload is over the row cap is served DIRECT.
"""

import shutil

import pytest

from mithril_spark.fixtures import QUERY_SET, generate_pages, pages_to_df
from mithril_spark.oracle import OracleIndex


@pytest.fixture(scope="module")
def corpus():
    return generate_pages(150, seed=42)


@pytest.fixture(scope="module")
def oracle_pages(corpus):
    return [(r["url"].encode(), r["html"]) for r in corpus]


def _index(spark, corpus, tmp_path_factory, shards):
    from mithril_spark.indexer import build_index

    path = str(tmp_path_factory.mktemp(f"cog{shards}") / "i")
    shutil.rmtree(path, ignore_errors=True)
    build_index(pages_to_df(spark, corpus), path, num_shards=shards)
    return path


@pytest.mark.parametrize("shards", [1, 2, 3])
def test_cogroup_path_rank_identity(spark, corpus, oracle_pages,
                                    tmp_path_factory, shards):
    """The executor-side payload path (formerly the cogroup tier, now
    DIRECT: posting/position blocks never transit the driver) stays
    rank-identical to the oracle on the full fixture query set."""
    from mithril_spark.engine import SearchEngine

    path = _index(spark, corpus, tmp_path_factory, shards)
    engine = SearchEngine(spark, path, driver_serve_bytes=0)
    oracle = OracleIndex.build(oracle_pages, num_shards=shards)
    for q in QUERY_SET:
        assert engine.top_k(q) == oracle.top_k(q), (shards, q)


@pytest.mark.parametrize("shards", [1, 3])
def test_distributed_collect_path_rank_identity(spark, corpus, oracle_pages,
                                                tmp_path_factory, shards):
    """driver_serve_bytes=0 disables the resident tier: the DIRECT tier
    (one mapInPandas job, per-task pyarrow payload reads — the at-scale
    default) must stay rank-identical to the oracle, and its
    WAND/snippets APIs must agree with the resident tier."""
    from mithril_spark.engine import SearchEngine

    path = _index(spark, corpus, tmp_path_factory, shards)
    engine = SearchEngine(spark, path, driver_serve_bytes=0)
    assert engine._driver_images is None and engine._driver_store is None
    oracle = OracleIndex.build(oracle_pages, num_shards=shards)
    for q in QUERY_SET:
        assert engine.top_k(q) == oracle.top_k(q), (shards, q)
    resident = SearchEngine(spark, path)
    for q in ["search engine", "granite OR marble"]:
        assert engine.bm25_topk(q, k=5) == resident.bm25_topk(q, k=5), q
        assert engine.top_k_with_snippets(q) == \
            resident.top_k_with_snippets(q), q


def test_worker_image_cache_is_lru(tmp_path, monkeypatch):
    """ADVICE r04: hits must refresh recency — a hot image is never the
    eviction victim. No JVM: drives _worker_image against tiny parquet
    doc_map partitions directly."""
    import collections

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mithril_spark import engine

    idx = str(tmp_path)
    for s in range(3):
        d = tmp_path / "doc_map" / f"shard={s}"
        d.mkdir(parents=True)
        pdf = pd.DataFrame({
            "local_id": [0, 1], "url": [b"u0", b"u1"],
            "title": [[b"t"], [b"t"]], "body_len": [10, 12],
            "title_len": [1, 1], "url_len": [2, 2], "desc_len": [0, 0],
            "static_rank": [1.0, 1.0], "pagerank": [0.0, 0.0],
        })
        pq.write_table(pa.Table.from_pandas(pdf), d / "part-0.parquet")

    monkeypatch.setattr(engine, "_IMAGE_CACHE", collections.OrderedDict())
    monkeypatch.setattr(engine, "_image_nbytes", lambda img: 1)
    monkeypatch.setattr(engine, "_IMAGE_CACHE_BUDGET", 2)
    monkeypatch.setattr(engine, "_IMAGE_LOADS", 0)

    engine._worker_image(idx, 0, "tok")
    engine._worker_image(idx, 1, "tok")
    engine._worker_image(idx, 0, "tok")   # hit: refreshes shard 0's recency
    assert engine._IMAGE_LOADS == 2
    engine._worker_image(idx, 2, "tok")   # evicts LRU = shard 1, NOT shard 0
    assert engine._IMAGE_LOADS == 3
    keys = {k[1] for k in engine._IMAGE_CACHE}
    assert keys == {0, 2}
    engine._worker_image(idx, 0, "tok")   # still resident — no reload
    assert engine._IMAGE_LOADS == 3


def _spark_payload(spark, path, pt, xt, dt) -> dict[int, dict[str, set]]:
    """Independent reference reader: plain Spark scans of the three term
    tables filtered by ``term.isin``, as payload tuple sets per shard."""
    from pyspark.sql import functions as F

    out: dict[int, dict[str, set]] = {}

    def scan(table, terms):
        return spark.read.parquet(f"{path}/{table}").filter(
            F.col("term").isin(sorted(terms))).collect()

    def add(r, kind, row):
        out.setdefault(int(r["shard"]), {"P": set(), "X": set(), "D": set()}
                       )[kind].add(row)

    for r in scan("postings", pt):
        add(r, "P", (r["term"], int(r["salt"]), int(r["block_id"]),
                     int(r["doc_count"]), int(r["first_doc_id"]),
                     int(r["last_doc_id"]), int(r["max_freq"]),
                     float(r["max_tfn"]),
                     bytes(r["doc_ids_enc"]), bytes(r["freqs_enc"])))
    for r in scan("positions", xt):
        add(r, "X", (r["term"], int(r["salt"]), int(r["first_doc_id"]),
                     bytes(r["doc_ids_enc"]), bytes(r["flags_enc"]),
                     bytes(r["pos_counts_enc"]), bytes(r["positions_enc"])))
    for r in scan("term_dict", dt):
        add(r, "D", (r["term"], int(r["df"])))
    return out


def test_direct_payload_read_equals_union_scan(spark, corpus,
                                               tmp_path_factory):
    """The two payload readers agree with an independent Spark read: the
    DIRECT tier's per-task pyarrow read (_read_shard_payload) and the
    resident Arrow term store (_payload_from_store) must yield EXACTLY the
    same payload tuples per shard as plain ``term.isin`` scans of the
    parquet tables, including for a term absent from the index (the e2e
    rank-identity tests would also catch a divergence, but only if it
    flips a top-50). WAND snippets must also be the same, hit for hit,
    whether their positions come from the resident store or the DIRECT
    reads."""
    from mithril_spark.engine import (
        SearchEngine,
        _read_shard_payload,
        _wand_terms,
    )

    path = _index(spark, corpus, tmp_path_factory, 3)
    e = SearchEngine(spark, path, driver_serve_bytes=0)
    resident = SearchEngine(spark, path)
    assert resident._driver_store is not None
    nb = e.meta["num_buckets"]
    absent = "zzqxabsentterm"
    pt = frozenset({"search", "engine", "granite", "thermite", absent})
    xt = frozenset({"search", "engine", absent})
    dt = frozenset({"search", "engine", "granite", absent})
    by_shard = _spark_payload(spark, path, pt, xt, dt)
    assert by_shard, "fixture terms matched nothing"
    stored, n_rows = resident._payload_from_store(pt, xt, dt)
    assert n_rows == sum(len(pl["P"]) + len(pl["X"])
                         for pl in by_shard.values())
    assert set(stored) <= set(e.stats)
    for shard in sorted(e.stats):
        want = by_shard.get(shard, {"P": set(), "X": set(), "D": set()})
        direct = _read_shard_payload(path, shard, pt, xt, dt, nb)
        store = stored.get(shard, {"P": [], "X": [], "D": []})
        for kind in ("P", "X", "D"):
            for name, got in (("direct", direct), ("store", store)):
                assert len(set(got[kind])) == len(got[kind]), (name, kind)
                assert set(got[kind]) == want[kind], (name, shard, kind)
                assert absent not in {t[0] for t in got[kind]}

    q = f"granite quartz marble {absent}"
    hits, st = resident._wand(_wand_terms(q), 20, with_positions=True)
    assert any(pos for *_h, pos in hits), "no positions recovered"
    assert (hits, st) == e._wand(_wand_terms(q), 20, with_positions=True)
    got = resident.bm25_topk_with_snippets(q, k=20)
    assert [(d, s) for d, s, *_r in got] == resident.bm25_topk(q, k=20)
    assert got == e.bm25_topk_with_snippets(q, k=20)


def test_image_load_stats_plumbing(spark, corpus, tmp_path_factory):
    """image_load_stats must report the worker pool's cache counters and
    show image loads converging: the warm pool stops reloading parquet
    once every (worker, shard) image is resident (byte-bounded LRU)."""
    from mithril_spark.engine import SearchEngine

    path = _index(spark, corpus, tmp_path_factory, 3)
    e = SearchEngine(spark, path, driver_serve_bytes=0)  # worker images
    e.top_k("search engine")
    st1 = e.image_load_stats()
    assert st1["loads"] >= 1 and st1["workers"] >= 1
    assert st1["resident_images"] >= 1
    # warm until every worker the pool schedules has its images
    for _ in range(6):
        e.top_k("search engine")
        e.top_k("granite OR marble")
    st2 = e.image_load_stats()
    for _ in range(3):
        e.top_k("search engine")
    st3 = e.image_load_stats()
    # steady state: resident images serve without reloading. Python
    # workers are NOT immortal (idle reaping in long sessions kills a
    # counter and a replacement reloads its shards), so the bound is
    # "at most one worker's worth of reloads", not zero — the tight ~0
    # number is bench.py's warmed search_16shard_churn measurement.
    delta = st3["loads"] - st2["loads"]
    assert delta <= 3, (st2, st3)  # <= n_shards (one replaced worker)


def test_direct_matches_and_wand_agree_with_resident_path(
    spark, corpus, oracle_pages, tmp_path_factory
):
    from mithril_spark.engine import SearchEngine

    path = _index(spark, corpus, tmp_path_factory, 2)
    direct = SearchEngine(spark, path, driver_serve_bytes=0)
    drv = SearchEngine(spark, path)  # resident term store + images
    for q in ["search engine", "granite OR marble", "index NOT (spark OR engine)",
              '"search engine"', "thermite"]:
        assert direct.matches(q) == drv.matches(q), q
    for q, k in [("search engine", 10), ("granite quartz marble", 5),
                 ("the and of", 5)]:
        assert direct.bm25_topk(q, k=k) == drv.bm25_topk(q, k=k), q
    # per-hit positions + snippets must be payload-path-independent too
    for q in ["search engine", "granite OR marble"]:
        assert direct.top_k_many([q], with_positions=True) == \
            drv.top_k_many([q], with_positions=True), q
        assert direct.top_k_with_snippets(q) == drv.top_k_with_snippets(q), q
        # WAND snippets (positions ride the WAND pass) must be identical
        # whether the positions payload comes from the resident store (drv)
        # or the DIRECT reads (direct)
        assert direct.bm25_topk_with_snippets(q, k=5) == \
            drv.bm25_topk_with_snippets(q, k=5), q


def test_oversized_resident_payload_serves_direct(
    spark, corpus, oracle_pages, tmp_path_factory, monkeypatch
):
    """A resident engine whose query payload is over the row cap (head
    terms) serves it on the DIRECT tier: exactly one Spark job per query,
    rank-identical to the oracle and equal to the resident answers. With
    the cap at 0 every query that fetches any row is over it."""
    from mithril_spark import engine as engine_mod

    path = _index(spark, corpus, tmp_path_factory, 2)
    e = engine_mod.SearchEngine(spark, path)
    assert e._driver_store is not None
    oracle = OracleIndex.build(oracle_pages, num_shards=2)
    ranked = ["search engine", "granite OR marble", "NOT quartz",
              "title:engine"]
    wand = ["search engine", "granite quartz marble", "marble"]
    matched = ["search engine", "index NOT (spark OR engine)", "thermite"]
    want_wand = {q: e.bm25_topk(q, k=5) for q in wand}
    want_snippets = {q: e.bm25_topk_with_snippets(q, k=5) for q in wand}
    want_matches = {q: e.matches(q) for q in matched}

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def one_job(i, fn, *args, **kwargs):
        group = f"oversized-direct-{i}"
        sc.setJobGroup(group, group)
        try:
            out = fn(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(tracker.getJobIdsForGroup(group)) == 1, (fn, args)
        return out

    monkeypatch.setattr(engine_mod, "PAYLOAD_ROW_CAP", 0)
    calls = ([(e.top_k, (q,), {}, oracle.top_k(q)) for q in ranked]
             + [(e.bm25_topk, (q,), {"k": 5}, want_wand[q]) for q in wand]
             + [(e.matches, (q,), {}, want_matches[q]) for q in matched])
    for i, (fn, args, kwargs, want) in enumerate(calls):
        assert one_job(i, fn, *args, **kwargs) == want, (fn, args)
    # WAND snippets over the cap: the WAND pass (urls, titles, positions)
    # runs DIRECT, and the answer equals the resident one
    for q in wand:
        assert e.bm25_topk_with_snippets(q, k=5) == want_snippets[q], q


def test_wand_snippets_take_one_wand_pass(spark, corpus, tmp_path_factory,
                                          monkeypatch):
    """bm25_topk_with_snippets takes each hit's url, title and positions
    from its own WAND pass: with the doc_text fetch (_fetch_doc_rows)
    answering from the rows the real fetch returned, a resident engine
    submits no Spark job and a DIRECT engine exactly one."""
    from mithril_spark.engine import SearchEngine

    path = _index(spark, corpus, tmp_path_factory, 2)
    resident = SearchEngine(spark, path)
    direct = SearchEngine(spark, path, driver_serve_bytes=0)
    assert resident._driver_store is not None
    q = "granite quartz marble"
    fetched = []
    real_fetch = SearchEngine._fetch_doc_rows

    def record(self, urls):
        fetched.append(real_fetch(self, urls))
        return fetched[-1]

    monkeypatch.setattr(SearchEngine, "_fetch_doc_rows", record)
    want = resident.bm25_topk_with_snippets(q, k=5)
    assert want and len(fetched) == 1
    monkeypatch.setattr(SearchEngine, "_fetch_doc_rows",
                        lambda self, urls: fetched[0])

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for engine, n_jobs in ((resident, 0), (direct, 1)):
        group = f"wand-snippet-jobs-{n_jobs}"
        sc.setJobGroup(group, group)
        try:
            got = engine.bm25_topk_with_snippets(q, k=5)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(tracker.getJobIdsForGroup(group)) == n_jobs
        assert got == want


def test_docmap_token_covers_success_markers(tmp_path):
    """code-review r5: the pagerank sidecar's visibility is gated on its
    _SUCCESS marker (engine._apply_pagerank_sidecar), so the doc-map
    epoch token must change when the marker LANDS, not only when parquet
    parts do — an image cached during the commit window (parts written,
    marker not yet) would otherwise pin the no-sidecar view under an
    unchanged token forever."""
    from mithril_spark.engine import _docmap_token

    d = tmp_path / "idx"
    (d / "doc_map").mkdir(parents=True)
    (d / "doc_map" / "part-0.parquet").write_bytes(b"x")
    t1 = _docmap_token(str(d))
    side = d / "pagerank" / "shard=0"
    side.mkdir(parents=True)
    (side / "part-0.parquet").write_bytes(b"y")
    t2 = _docmap_token(str(d))
    assert t2 != t1  # parts alone already version it
    (d / "pagerank" / "_SUCCESS").write_bytes(b"")
    t3 = _docmap_token(str(d))
    assert t3 != t2  # ...and the marker versions it AGAIN
