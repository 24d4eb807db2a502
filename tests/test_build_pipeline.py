"""The derived-table pipeline shared by the full build and the append
merge (indexer._stage_urls / _docid_assigner / _posting_blocks_df / ...).

The byte-identity gates (tests/test_incremental.py, test_append_merge.py)
prove the two callers lay tables out alike; these tests pin the pieces
themselves: the docid rule without a JVM, and the phase names both callers
report, which perfbench looks up by name (``indexer.build.<phase>_s``).
"""

import json
import os

import pyarrow as pa
import pytest

from mithril_spark.fixtures import generate_pages, pages_to_df
from mithril_spark.indexer import _docid_assigner, build_index, merge_index_delta

BUILD_PHASES = {"extract", "doc_text", "assign_ids", "pagerank", "doc_map",
                "postings", "positions", "term_dict", "counters"}
APPEND_PHASES = {"extract_delta", "doc_text", "tombstones", "assign_ids_delta",
                 "positions", "doc_map_delta", "postings", "counters",
                 "doc_ids"}


def _pid_group(urls, pid):
    return pa.table({"url": pa.array(urls, pa.binary()),
                     "pid": pa.array([pid] * len(urls), pa.int32())})


def test_docid_assigner_base_and_shard_split():
    # two range partitions staged before this one hold 3 + 4 urls; ids
    # start at the append's watermark (1000), so pid 2 starts at 1007
    assign = _docid_assigner({0: 3, 1: 4, 2: 4}, 1000, 1009)
    out = assign(_pid_group([b"d", b"b", b"a", b"c"], 2))
    assert out.column_names == ["url", "doc_id", "shard", "local_id"]
    assert out.column("url").to_pylist() == [b"a", b"b", b"c", b"d"]
    assert out.column("doc_id").to_pylist() == [1007, 1008, 1009, 1010]
    # the shard boundary (1009 = 1 * shard_size) falls inside the partition
    assert out.column("shard").to_pylist() == [0, 0, 1, 1]
    assert out.column("local_id").to_pylist() == [1007, 1008, 0, 1]
    assert out.schema.field("shard").type == pa.int32()
    assert out.schema.field("local_id").type == pa.int64()


def test_docid_assigner_empty_and_first_partition():
    assign = _docid_assigner({0: 2}, 0, 10)
    assert assign(_pid_group([b"y", b"x"], 0)).column(
        "doc_id").to_pylist() == [0, 1]
    empty = assign(_pid_group([], 0))
    assert empty.num_rows == 0 and "pid" not in empty.column_names


def test_docid_assigner_rejects_duplicate_url():
    assign = _docid_assigner({0: 3}, 0, 10)
    with pytest.raises(ValueError, match="duplicate url"):
        assign(_pid_group([b"a", b"b", b"a"], 0))


def test_phase_names_pinned(spark, tmp_path_factory):
    """A pagerank build and an append merge (new urls + re-crawls) report
    exactly these phase names; a renamed phase would make perfbench's
    ``indexer.build.<phase>_s`` metrics silently read 0."""
    pages = generate_pages(30, seed=23)
    d = str(tmp_path_factory.mktemp("phases") / "i")
    res = build_index(pages_to_df(spark, pages[:24]), d, num_shards=2,
                      pagerank=True)
    assert {p["phase"] for p in res["phases"]} == BUILD_PHASES

    bench = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                         "BENCHMARK.json")
    with open(bench) as f:
        names = [m["name"] for m in json.load(f)["per_layer"]]
    pre, suf = "indexer.build.", "_s"
    assert {n[len(pre):-len(suf)] for n in names
            if n.startswith(pre)} <= BUILD_PHASES

    with pytest.warns(UserWarning, match="pagerank"):
        res = merge_index_delta(d, pages_to_df(spark, pages[20:]))
    assert res["mode"] == "append" and "compacted" not in res
    assert {p["phase"] for p in res["phases"]} == APPEND_PHASES
