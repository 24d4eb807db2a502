"""Spark integration: index build + rank-identity vs the oracle.

This is the north_rule gate: byte-identical extracted text per url and
rank-identical top-k docIDs + scores on the fixture query set, at one and
at multiple shards.
"""

import shutil

import pytest

from mithril_spark.fixtures import QUERY_SET, generate_pages, pages_to_df
from mithril_spark.oracle import OracleIndex, extract_text


@pytest.fixture(scope="module")
def corpus():
    return generate_pages(150, seed=42)


@pytest.fixture(scope="module")
def pages_df(spark, corpus):
    return pages_to_df(spark, corpus)


# the latest build_index result per built index path
_BUILDS: dict[str, dict] = {}


def _build(spark, pages_df, tmp, num_shards, **kw):
    from mithril_spark.indexer import build_index

    path = str(tmp)
    shutil.rmtree(path, ignore_errors=True)
    _BUILDS[path] = build_index(pages_df, path, num_shards=num_shards, **kw)
    return path


@pytest.fixture(scope="module")
def index_1(spark, pages_df, tmp_path_factory):
    return _build(spark, pages_df, tmp_path_factory.mktemp("idx1") / "i", 1)


@pytest.fixture(scope="module")
def index_3(spark, pages_df, tmp_path_factory):
    return _build(spark, pages_df, tmp_path_factory.mktemp("idx3") / "i", 3)


@pytest.fixture(scope="module")
def oracle_pages(corpus):
    return [(r["url"].encode(), r["html"]) for r in corpus]


def test_text_byte_identity(spark, pages_df, corpus, index_1):
    """Engine-extracted text equals the oracle's, byte for byte, per url."""
    docs = spark.read.parquet(index_1 + "/stage_raw").select("url", "text").collect()
    got = {bytes(r["url"]): bytes(r["text"]) for r in docs}
    expected = {}
    for r in corpus:
        t = extract_text(r["url"].encode(), r["html"])
        if t is not None:
            expected[r["url"].encode()] = t
    assert got == expected


def test_admission_counts(spark, index_1, oracle_pages):
    oracle = OracleIndex.build(oracle_pages)
    n = spark.read.parquet(index_1 + "/doc_map").count()
    assert n == len(oracle.docs)


def test_docid_determinism_across_partitioning(spark, pages_df, tmp_path_factory):
    """Dense docid = global url rank: independent of sort parallelism."""
    a = _build(spark, pages_df, tmp_path_factory.mktemp("da") / "i", 2,
               sort_partitions=2)
    b = _build(spark, pages_df, tmp_path_factory.mktemp("db") / "i", 2,
               sort_partitions=7)
    rows_a = {
        (bytes(r["url"]), r["doc_id"])
        for r in spark.read.parquet(a + "/doc_map").select("url", "doc_id").collect()
    }
    rows_b = {
        (bytes(r["url"]), r["doc_id"])
        for r in spark.read.parquet(b + "/doc_map").select("url", "doc_id").collect()
    }
    assert rows_a == rows_b

    # posting/position BLOCKS must also be byte-identical across sort
    # parallelism — this gates the streaming per-batch emit (a group split
    # across two encode calls would fork block_id runs and payload bytes)
    def _tbl(path, name, cols):
        return sorted(
            tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v
                  for v in (r[c] for c in cols))
            for r in spark.read.parquet(f"{path}/{name}").select(*cols).collect()
        )

    pcols = ["term", "shard", "salt", "block_id", "doc_count",
             "doc_ids_enc", "freqs_enc"]
    assert _tbl(a, "postings", pcols) == _tbl(b, "postings", pcols)
    xcols = ["term", "shard", "salt", "doc_count", "doc_ids_enc",
             "flags_enc", "pos_counts_enc", "positions_enc"]
    assert _tbl(a, "positions", xcols) == _tbl(b, "positions", xcols)


@pytest.mark.parametrize("shards", [1, 3])
def test_rank_identity(spark, request, oracle_pages, shards):
    """Engine top-k == oracle top-k (docids AND scores) for every query."""
    from mithril_spark.engine import SearchEngine

    index = request.getfixturevalue(f"index_{shards}")
    engine = SearchEngine(spark, index)
    oracle = OracleIndex.build(oracle_pages, num_shards=shards)
    for q in QUERY_SET:
        assert engine.top_k(q) == oracle.top_k(q), f"query {q!r} diverged"


def _fuzz_engine_query(rng) -> str:
    """Random grammar-mix query: nested AND/OR/NOT (prefix and the infix
    quirk), parens, fields, quotes/phrases, odd tokens, plus 15% raw
    operator soup that may not parse (both sides must then return [])."""
    from mithril_spark.fixtures import ACRONYMS, ODD_TOKENS, STOP_SAMPLE, VOCAB

    words = VOCAB + STOP_SAMPLE + ACRONYMS + ["zzz", "engine"]

    def atom():
        r = rng.random()
        w = rng.choice(words)
        if r < 0.08:
            w = w.upper()
        if r < 0.55:
            return w
        if r < 0.67:
            return rng.choice(["title:", "url:", "desc:", "anchor:"]) + w
        if r < 0.80:
            q = rng.choice(['"', "'"])
            inner = " ".join(rng.choice(words)
                             for _ in range(rng.randint(1, 3)))
            return q + inner + q
        if r < 0.88:
            return rng.choice(ODD_TOKENS)
        return " ".join(rng.choice(words) for _ in range(2))  # implicit AND

    def expr(depth=0):
        r = rng.random()
        if depth >= 3 or r < 0.45:
            return atom()
        if r < 0.60:
            return f"{expr(depth + 1)} AND {expr(depth + 1)}"
        if r < 0.72:
            return f"{expr(depth + 1)} OR {expr(depth + 1)}"
        if r < 0.80:
            return f"NOT {expr(depth + 1)}"
        if r < 0.88:
            return f"({expr(depth + 1)})"
        return f"{expr(depth + 1)} NOT {expr(depth + 1)}"

    if rng.random() < 0.15:
        bits = [atom() if rng.random() < 0.7
                else rng.choice(["AND", "OR", "NOT", "(", ")"])
                for _ in range(rng.randint(1, 6))]
        return " ".join(bits)
    return expr()


def test_rank_identity_fuzz(spark, oracle_pages, index_3):
    """200 seeded random grammar-mix queries: engine == oracle, docids AND
    scores, at 3 shards. Extends the fixture QUERY_SET gate to operator
    interleavings nobody hand-picked."""
    import random

    from mithril_spark.engine import SearchEngine

    engine = SearchEngine(spark, index_3)
    oracle = OracleIndex.build(oracle_pages, num_shards=3)
    rng = random.Random(20260819)
    n_nonempty = 0
    for _ in range(200):
        q = _fuzz_engine_query(rng)
        got = engine.top_k(q)
        assert got == oracle.top_k(q), f"query {q!r} diverged"
        n_nonempty += bool(got)
    assert n_nonempty > 80, n_nonempty  # generator sanity


def test_resume_skips_completed_phases(spark, pages_df, index_1):
    """Re-running build on an existing dir skips every phase (checkpoint/resume)."""
    from mithril_spark.indexer import build_index

    res = build_index(pages_df, index_1, num_shards=1)
    _BUILDS[index_1] = res  # the resume rewrote build_metrics
    ran = {m["phase"]: m.get("ran") for m in res["phases"]}
    assert not any(ran.values()), ran


def _metrics_rows(spark, index_dir) -> list[tuple]:
    """(phase, ran, docs_tokenized, postings_emitted, bytes_compressed) of
    an index's build_metrics table, sorted."""
    return sorted(
        tuple(r) for r in spark.read.parquet(index_dir + "/build_metrics")
        .select("phase", "ran", "docs_tokenized", "postings_emitted",
                "bytes_compressed").collect())


def _phase_rows(phases) -> list[tuple]:
    """The same tuples from a build/merge result's ``phases`` list."""
    return sorted(
        (p["phase"], bool(p.get("ran", False)),
         int(p.get("docs_tokenized", 0)), int(p.get("postings_emitted", 0)),
         int(p.get("posting_bytes_compressed", 0)))
        for p in phases)


def test_metrics_table_written(spark, index_1):
    m = spark.read.parquet(index_1 + "/build_metrics")
    assert {"phase", "started", "finished", "ran"} <= set(m.columns)
    assert m.count() >= 5
    # the persisted rows are the returned phases, one for one
    assert _metrics_rows(spark, index_1) == \
        _phase_rows(_BUILDS[index_1]["phases"])
