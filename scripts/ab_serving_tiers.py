"""A/B: serving tier x shard count at a fixed corpus size (dev tool).

The resident tier evaluates shards serially in the driver (a measured
thread-pool variant was 0.4-0.7x — GIL-bound); the DIRECT tier ranks
shards in parallel worker PROCESSES. This script measures where the
crossover sits and whether shard counts that grow with the corpus keep
per-query latency bounded on the distributed path.

Engines per shard count:
- ``resident``: the default budget (the whole index in the driver);
- ``distributed``: ``driver_serve_bytes=0`` (every query DIRECT);
- ``docmap_budget``: ``driver_serve_bytes`` = the index's on-disk doc_map
  bytes — the budget that fits the doc map but not the term tables;
- any ``--tier NAME=JSON`` given: extra ``SearchEngine`` kwargs, so the
  same script can time engine variants of other revisions of the code.

Per engine and rep (engines alternate within a rep), it times sequential
``top_k`` over QUERIES, one batched ``top_k_many(QUERIES)``,
``bm25_topk(k=10)`` over WAND_QUERIES and ``top_k`` of HEAD_QUERY, and
checks every answer against the first engine's at that shard count.

The Spark session gets every core of the host, up to 32.

Usage: python scripts/ab_serving_tiers.py [n_pages] [reps] [shard_counts]
           [--tier NAME=JSON ...]
e.g.   python scripts/ab_serving_tiers.py 4000 5 8
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

QUERIES = ["search engine", "title:engine", "spark shuffle partition",
           "granite OR marble", "NOT quartz"]
WAND_QUERIES = ["search engine", "granite quartz marble", "the and of"]
# the generated corpus's highest-df terms (stopwords are not indexed)
HEAD_QUERY = "engine OR text OR anchor"

MODES = ("seq", "batch", "wand", "head")


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _run(e, mode):
    """(answer, seconds per query) of one timed step."""
    if mode == "seq":
        res, dt = _timed(lambda: [e.top_k(q) for q in QUERIES])
        return res, dt / len(QUERIES)
    if mode == "batch":
        res, dt = _timed(lambda: e.top_k_many(QUERIES))
        return res, dt / len(QUERIES)
    if mode == "wand":
        res, dt = _timed(lambda: [e.bm25_topk(q, k=10) for q in WAND_QUERIES])
        return res, dt / len(WAND_QUERIES)
    return _timed(lambda: e.top_k(HEAD_QUERY))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("n_pages", nargs="?", type=int, default=100_000)
    ap.add_argument("reps", nargs="?", type=int, default=3)
    ap.add_argument("shard_counts", nargs="?", default="4,20")
    ap.add_argument("--tier", action="append", default=[],
                    metavar="NAME=JSON", help="extra engine: SearchEngine "
                    "kwargs as a JSON object")
    args = ap.parse_args()
    shard_counts = [int(x) for x in args.shard_counts.split(",")]
    extra = {}
    for spec in args.tier:
        name, _, kw = spec.partition("=")
        extra[name] = json.loads(kw)

    from mithril_spark.engine import SearchEngine
    from mithril_spark.fixtures import generate_pages_df
    from mithril_spark.indexer import _dir_parquet_bytes, build_index
    from mithril_spark.session import get_spark

    cores = min(32, os.cpu_count() or 1)
    spark = get_spark(cores=cores, app_name="mithril-ab-tiers")
    spark.sparkContext.setLogLevel("ERROR")

    engines: dict[tuple, SearchEngine] = {}
    for ns in shard_counts:
        idx = f"/tmp/mithril_ab_idx_{args.n_pages}_{ns}"
        if not os.path.exists(os.path.join(idx, "index_meta.json")):
            shutil.rmtree(idx, ignore_errors=True)
            df = generate_pages_df(
                spark, args.n_pages, seed=42).repartition(16).cache()
            df.count()
            build_index(df, idx, num_shards=ns, force=True)
        dm_bytes = _dir_parquet_bytes(os.path.join(idx, "doc_map"))
        tiers = {"resident": {}, "distributed": {"driver_serve_bytes": 0},
                 "docmap_budget": {"driver_serve_bytes": dm_bytes}, **extra}
        for tier, kw in tiers.items():
            engines[(ns, tier)] = SearchEngine(spark, idx, **kw)

    for e in engines.values():
        # warm to STEADY STATE: with W workers and S shards there are W*S
        # (worker, shard) first-hit image loads (each paying the doc-only
        # ranking precompute); loop until a full sweep stops loading (same
        # protocol as bench.py's churn step). A resident engine loads none.
        prev = e.image_load_stats()["loads"]
        for _ in range(40):
            for q in QUERIES + [HEAD_QUERY]:
                e.top_k(q)
            cur = e.image_load_stats()["loads"]
            if cur - prev <= 1:
                break
            prev = cur

    # identity only WITHIN a shard count: per-shard BM25 stats (and global
    # docids) legitimately differ across shard layouts, reference semantics
    base: dict[tuple, object] = {}
    times: dict[tuple, dict[str, list[float]]] = {
        k: {m: [] for m in MODES} for k in engines}
    for _ in range(args.reps):
        for mode in MODES:
            for key, e in engines.items():  # alternating (tenancy protocol)
                res, dt = _run(e, mode)
                times[key][mode].append(dt)
                # a batch answers the same queries as the sequential run
                ref = (key[0], "seq" if mode == "batch" else mode)
                assert res == base.setdefault(ref, res), \
                    f"{mode} mismatch on {key}"
    out = {}
    for key, per_mode in times.items():
        label = f"{key[0]}sh/{key[1]}"
        out[label] = {
            f"{m}_ms": {"median": round(1e3 * statistics.median(ts), 1),
                        "min": round(1e3 * min(ts), 1),
                        "raw": [round(1e3 * t, 1) for t in ts]}
            for m, ts in per_mode.items()
        }
        print(f"{label:24s} " + "  ".join(
            f"{m}={out[label][f'{m}_ms']['median']}ms" for m in MODES))
    print(json.dumps({"n_pages": args.n_pages, "cores": cores,
                      "reps": args.reps, "tiers": out}))


if __name__ == "__main__":
    main()
