"""Serving workloads: a closed-loop client over ``SearchEngine``.

One client thread sends queries and waits for each reply before sending
the next, because the engine API is synchronous. The timed window is split
into phases (streams.PHASES): rounds over a fixed set of ``top_k`` and
``bm25_topk(k=10)`` queries, then closed loops of ``top_k_with_snippets``
and of ``top_k_many`` batches. Every operation is timed from the call to
the returned result.
"""

from __future__ import annotations

import os
import statistics
import time

from . import streams
from .common import (calibration_ms, median, peak_rss_mb, percentile,
                     steal_share, timed)
from .trace import Tracer

# (pages, shards, SearchEngine kwargs). serve_resident's index fits the
# engine's default driver_serve_bytes, so ranked and WAND operations run in
# the driver with zero Spark jobs; serve_distributed forces the one-job
# DIRECT tier (worker-resident images, per-task pyarrow payload reads).
CONFIGS = {
    "serve_resident": (2000, 2, {}),
    "serve_distributed": (3000, 16, {"driver_serve_bytes": 0}),
}
ENGINE_SETUPS = 3  # engine constructions per run; setup_s uses the median
MIN_ROUNDS = 3  # rounds over the round set per timed (or traced) window
SAMPLE_EVERY = 3  # check every third snippet or batch operation ...
SAMPLE_MAX = {"snippet": 2, "batch": 2}  # ... up to
WARMUP = ("search engine", "NOT quartz")
BUILD_PHASES = ("extract", "doc_text", "assign_ids", "pagerank", "doc_map",
                "postings", "positions", "term_dict", "counters")


def _call(engine, op: str, query):
    if op == "ranked":
        return engine.top_k(query)
    if op == "wand":
        return engine.bm25_topk(query, k=10)
    if op == "snippet":
        return engine.top_k_with_snippets(query)
    return engine.top_k_many(query)


def _warm_up(engine) -> None:
    for q in WARMUP:
        engine.top_k(q)
        engine.bm25_topk(q, k=10)
    engine.top_k_with_snippets(WARMUP[0])


def _close_engine(engine) -> None:
    for df in (engine.shard_images, engine.postings, engine.positions,
               engine.term_dict):
        df.unpersist()


def _timed_call(engine, op: str, query, tracer):
    """(result, wall seconds, driver-thread CPU seconds) of one operation,
    recorded as a traced operation when ``tracer`` is given."""
    c0 = time.thread_time()
    if tracer is None:
        res, dt = timed(_call, engine, op, query)
    else:
        with tracer.op(op):
            res, dt = timed(_call, engine, op, query)
    return res, dt, time.thread_time() - c0


def _run_rounds(engine, seed: int, seconds: float, tracer=None):
    """Rounds over ``streams.round_set(seed)`` for ``seconds`` (at least
    MIN_ROUNDS). Returns (items, latencies and driver-thread CPU seconds per
    item, (op, query, result) of each item's first answer, failures); an
    answer that differs from the item's first one counts as a failure."""
    items = streams.round_set(seed)
    lat = [[] for _ in items]
    cpu = [[] for _ in items]
    first: dict[int, object] = {}
    failed = rounds = 0
    end = time.perf_counter() + seconds
    while rounds < MIN_ROUNDS or time.perf_counter() < end:
        for i, (op, _shape, query) in enumerate(items):
            try:
                res, dt, c = _timed_call(engine, op, query, tracer)
            except Exception as exc:  # a failed operation is counted
                failed += 1
                print(f"# {op} {query!r} raised {exc!r}", flush=True)
                continue
            if first.setdefault(i, res) != res:
                failed += 1
                print(f"# UNSTABLE {op} {query!r}", flush=True)
                continue
            lat[i].append(dt)
            cpu[i].append(c)
        rounds += 1
    samples = [(items[i][0], items[i][2], res) for i, res in first.items()]
    return items, lat, cpu, samples, failed


def _kind_ms(items, values, kind: str, stat=min) -> float:
    """Mean (ms) over one kind's items of ``stat`` of each item's samples
    (by default its fastest round)."""
    per_item = [stat(v) for (op, _s, _q), v in zip(items, values)
                if op == kind and v]
    return 1e3 * statistics.fmean(per_item) if per_item else 0.0


def _kind_samples(items, values, kind: str) -> list[float]:
    """Every sample (seconds) of one kind's items."""
    return [x for (op, _s, _q), v in zip(items, values) if op == kind
            for x in v]


def _run_phase(engine, op: str, seed: int, seconds: float, tracer=None):
    """Closed loop of one operation kind for ``seconds`` (at least one
    operation); returns (latencies, sampled (op, query, result),
    failures)."""
    lat, samples, failed = [], [], 0
    end = time.perf_counter() + seconds
    for _shape, query in streams.op_stream(seed, op):
        if (lat or failed) and time.perf_counter() >= end:
            break
        try:
            res, dt, _c = _timed_call(engine, op, query, tracer)
        except Exception as exc:  # a failed operation is counted, not fatal
            failed += 1
            print(f"# {op} {query!r} raised {exc!r}", flush=True)
            continue
        if len(lat) % SAMPLE_EVERY == 0 and len(samples) < SAMPLE_MAX[op]:
            samples.append((op, query, res))
        lat.append(dt)
    return lat, samples, failed


def _wand_oracle(oracle, query: str, k: int = 10):
    """Per-shard exhaustive BM25 over the oracle's shards, merged by
    (score desc, global doc asc) -- the engine WAND contract."""
    from mithril_spark.ranking import bm25_score
    from mithril_spark.text.normalize import BODY, normalize

    terms = {normalize(t.encode(), BODY).decode("latin-1")
             for t in query.split()} - {""}
    want = []
    for shard in oracle.shards:
        scores: dict[int, float] = {}
        for term in sorted(terms):
            entry = shard.postings.get(term)
            if not entry:
                continue
            docs, freqs = entry
            for d, f in zip(docs, freqs):
                scores[d] = scores.get(d, 0.0) + bm25_score(
                    shard.doc_count, shard.avg_body_length,
                    shard.doc_map[d].body_len, len(docs), f)
        want.extend((int(d) + shard.base_doc_id, s) for d, s in scores.items())
    want.sort(key=lambda t: (-t[1], t[0]))
    return want[:k]


def _check(oracle, samples) -> tuple[int, int]:
    """(results checked, mismatches) against the in-memory oracle."""
    checked = wrong = 0
    for op, query, res in samples:
        if op == "batch":
            pairs = [(oracle.top_k(q), got) for q, got in zip(query, res)]
        elif op == "ranked":
            pairs = [(oracle.top_k(query), res)]
        elif op == "wand":
            pairs = [(_wand_oracle(oracle, query), res)]
        else:
            pairs = [(oracle.top_k_with_snippets(query), res)]
        for want, got in pairs:
            checked += 1
            if got != want:
                wrong += 1
                print(f"# MISMATCH {op} {query!r}", flush=True)
    return checked, wrong


def _tier_probe(engine, sc, seed: int) -> dict:
    """Spark jobs per operation kind (tier evidence): one operation of each
    kind in its own job group, after the window."""
    tracer = Tracer(sc)
    for op in streams.OP_KINDS:
        with tracer.op(op):
            _call(engine, op, next(streams.op_stream(seed + 1, op))[1])
    return {o["kind"]: tracer.op_jobs(o)[0] for o in tracer.ops}


def _install_wrappers(tracer: Tracer) -> None:
    import mithril_spark.codec as codec
    import mithril_spark.engine as engine_mod
    import mithril_spark.query.wand as wand
    import mithril_spark.snippets as snippets
    from pyspark.sql.classic.dataframe import DataFrame

    def n_matches(t, res, _a, _k):
        t.count("query.eval", len(res))

    def n_payload(t, res, _a, _k):
        t.count("engine.payload", res[1])

    def wand_stats(t, _res, _a, kwargs):
        for key, v in (kwargs.get("stats") or {}).items():
            t.count(f"query.wand.{key}", v)

    def n_blocks(t, _res, _a, _k):
        t.count("codec.decode")

    tracer.wrap(engine_mod, "plan_terms", "query.plan")
    tracer.wrap(engine_mod, "evaluate_query", "query.eval", n_matches)
    tracer.wrap(engine_mod, "handle_ranking", "query.rank")
    tracer.wrap(engine_mod, "merge_shard_topk", "query.merge")
    tracer.wrap(engine_mod, "_build_shard", "engine.build_shard")
    tracer.wrap(engine_mod.SearchEngine, "_payload_from_store",
                "engine.payload", n_payload)
    tracer.wrap(engine_mod.SearchEngine, "_fetch_doc_rows", "snippets.fetch")
    tracer.wrap(wand, "bm25_wand_topk", "query.wand", wand_stats)
    tracer.wrap(snippets, "generate_snippet", "snippets.generate")
    for owner in (codec, wand):
        tracer.wrap(owner, "decode_posting_block", "codec.decode", n_blocks)
    tracer.wrap(codec, "decode_position_block", "codec.decode", n_blocks)
    for action in ("collect", "toPandas", "count"):
        tracer.wrap(DataFrame, action, "spark.action")


def _layer_metrics(tracer: Tracer) -> dict:
    """Per-layer numbers of the traced phases. A layer's ``_ms`` is its self
    time per operation that entered the layer, and its counts are per such
    operation too; job counts and the unattributed remainder (operation
    wall time minus its top-level layer spans) are per operation."""
    self_t, ops_in = tracer.layer_totals()
    c = tracer.counts
    jobs: dict[str, list[int]] = {}
    n_jobs = n_tasks = 0
    for o in tracer.ops:
        j, t = tracer.op_jobs(o)
        jobs.setdefault(o["kind"], []).append(j)
        n_jobs += j
        n_tasks += t
    n = max(len(tracer.ops), 1)

    def ms(name):
        return 1e3 * self_t.get(name, 0.0) / max(ops_in.get(name, 0), 1)

    def per_op(key, layer):
        return c.get(key, 0) / max(ops_in.get(layer, 0), 1)

    blocks_total = c.get("query.wand.blocks_total", 0)
    op_self = 1e3 * sum(v for k, v in self_t.items() if k.startswith("op.")) / n
    return {
        "engine.spark_jobs_per_op": n_jobs / n,
        **{f"engine.spark_jobs_per_{k}_op": statistics.fmean(jobs.get(k, [0]))
           for k in ("ranked", "wand", "snippet")},
        "engine.spark_tasks_per_op": n_tasks / n,
        "engine.job_ms": ms("spark.action"),
        "engine.build_shard_ms": ms("engine.build_shard"),
        "engine.payload_ms": ms("engine.payload"),
        "engine.payload_rows_per_op": per_op("engine.payload", "engine.payload"),
        "query.plan_ms": ms("query.plan"),
        "query.eval_ms": ms("query.eval"),
        "query.matches_per_op": per_op("query.eval", "query.eval"),
        "query.rank_ms": ms("query.rank"),
        "query.merge_ms": ms("query.merge"),
        "query.wand_ms": ms("query.wand"),
        "query.wand_blocks_total_per_op": per_op("query.wand.blocks_total",
                                                 "query.wand"),
        "query.wand_skip_frac": (
            c.get("query.wand.blocks_skipped", 0) / blocks_total
            if blocks_total else 0.0),
        "query.wand_docs_scored_per_op": per_op("query.wand.docs_scored",
                                                "query.wand"),
        "codec.decode_ms": ms("codec.decode"),
        "codec.blocks_decoded_per_op": per_op("codec.decode", "codec.decode"),
        "snippets.fetch_ms": ms("snippets.fetch"),
        "snippets.generate_ms": ms("snippets.generate"),
        "trace.unattributed_ms": op_self,
    }


def _timed_window(engine, ctx):
    """Every phase for its share of the window; returns (round set,
    latencies and CPU seconds per round-set item, closed-loop latencies by
    kind, samples, failures)."""
    share = dict(streams.PHASES)
    items, lat, cpu, samples, failed = _run_rounds(
        engine, ctx.seed, ctx.seconds * share["rounds"])
    loops = {}
    for op in ("snippet", "batch"):
        loops[op], s, f = _run_phase(engine, op, ctx.seed,
                                     ctx.seconds * share[op])
        samples += s
        failed += f
    return items, lat, cpu, loops, samples, failed


def _traced_window(engine, ctx, workload: str):
    """Rounds untraced, then rounds and the snippet loop traced, each for
    half its share; returns (layer metrics, round set, latencies and CPU
    seconds per item of the traced rounds, snippet latencies, samples,
    failures)."""
    share = dict(streams.PHASES)
    items, lat_u, _cpu, samples, failed = _run_rounds(
        engine, ctx.seed, ctx.seconds * share["rounds"] / 2)
    tracer = Tracer(ctx.spark.sparkContext)
    _install_wrappers(tracer)
    try:
        _i, lat, cpu, s, f = _run_rounds(
            engine, ctx.seed, ctx.seconds * share["rounds"] / 2, tracer)
        samples += s
        failed += f
        snip, s, f = _run_phase(engine, "snippet", ctx.seed,
                                ctx.seconds * share["snippet"] / 2, tracer)
        samples += s
        failed += f
    finally:
        tracer.unwrap_all()
    tracer.dump(os.path.join(ctx.out_dir, f"trace-{workload}-{ctx.seed}.json"))
    layers = _layer_metrics(tracer)
    layers["trace.overhead_ms"] = (_kind_ms(items, lat, "ranked", median)
                                   - _kind_ms(items, lat_u, "ranked", median))
    return layers, items, lat, cpu, {"snippet": snip}, samples, failed


def run(ctx, workload: str) -> dict:
    from mithril_spark.engine import SearchEngine
    from mithril_spark.fixtures import generate_pages, pages_to_df
    from mithril_spark.indexer import build_index
    from mithril_spark.oracle import OracleIndex

    n_pages, n_shards, engine_kwargs = CONFIGS[workload]
    spark = ctx.spark
    pages, gen_s = timed(generate_pages, n_pages, seed=ctx.seed)
    idx_dir = os.path.join(ctx.tmp, "index")
    build, build_s = timed(build_index, pages_to_df(spark, pages), idx_dir,
                           num_shards=n_shards, pagerank=True)
    init_s, engine = [], None
    for _ in range(ENGINE_SETUPS):
        if engine is not None:
            _close_engine(engine)
        engine, s = timed(SearchEngine, spark, idx_dir, **engine_kwargs)
        init_s.append(s)
    _, warm_s = timed(_warm_up, engine)
    setup_s = ctx.session_s + gen_s + build_s + median(init_s) + warm_s

    layers: dict = {}
    steal, cal0, cal1 = 0.0, 0.0, 0.0
    if ctx.trace:
        layers, items, lat, cpu, loops, samples, failed = _traced_window(
            engine, ctx, workload)
    else:
        st0, cal0 = steal_share(), calibration_ms()
        items, lat, cpu, loops, samples, failed = _timed_window(engine, ctx)
        st1, cal1 = steal_share(), calibration_ms()
        steal = (st1[0] - st0[0]) / max(st1[1] - st0[1], 1)
    rss_mb = peak_rss_mb()  # before the oracle adds its own memory
    tiers, probe_s = timed(_tier_probe, engine, spark.sparkContext, ctx.seed)
    t0 = time.perf_counter()
    oracle = OracleIndex.build(
        [(r["url"].encode(), r["html"]) for r in pages], num_shards=n_shards)
    checked, wrong = _check(oracle, samples)
    check_s = time.perf_counter() - t0

    extract = next(p for p in build["phases"] if p["phase"] == "extract")
    layers.update({
        "engine.init_s": median(init_s),
        "text.extract_docs_per_s": n_pages / max(
            extract["finished"] - extract["started"], 1e-9),
    })
    for p in build["phases"]:
        if p["phase"] in BUILD_PHASES:
            layers[f"indexer.build.{p['phase']}_s"] = (
                p.get("finished", p["started"]) - p["started"])

    kinds = [k for k, _n in streams.ROUND_SET]
    n_round_ops = sum(len(v) for v in lat)
    snips, batches = loops.get("snippet", []), loops.get("batch", [])
    n_batch_q = len(batches) * streams.BATCH_SIZE

    ranked = _kind_samples(items, lat, "ranked")
    wand = _kind_samples(items, lat, "wand")

    return {
        "attempted": (n_round_ops + sum(len(v) for v in loops.values())
                      + failed),
        "failed": failed + wrong,
        "metrics": {
            "setup_s": (setup_s, "s", ENGINE_SETUPS),
            "driver_rss_mb": (rss_mb, "MB", 1),
        },
        "extra": {
            "op_min_ms": (
                statistics.fmean(_kind_ms(items, lat, k) for k in kinds),
                "ms", n_round_ops),
            "op_cpu_min_ms": (
                statistics.fmean(_kind_ms(items, cpu, k) for k in kinds),
                "ms", n_round_ops),
            "ranked_min_ms": (_kind_ms(items, lat, "ranked"), "ms",
                              len(ranked)),
            "ranked_ms": (_kind_ms(items, lat, "ranked", median), "ms",
                          len(ranked)),
            "ranked_p50_ms": (1e3 * median(ranked), "ms", len(ranked)),
            "ranked_p90_ms": (1e3 * percentile(ranked, 90), "ms", len(ranked)),
            "wand_min_ms": (_kind_ms(items, lat, "wand"), "ms", len(wand)),
            "wand_p50_ms": (1e3 * median(wand), "ms", len(wand)),
            "snippet_p50_ms": (1e3 * median(snips), "ms", len(snips)),
            "batch_qps": (n_batch_q / sum(batches) if batches else 0.0,
                          "1/s", n_batch_q),
            "build_docs_per_s": (n_pages / build_s, "docs/s", 1),
            "checked_results": (checked, "count", checked),
        },
        "layers": layers,
        "info": {"pages": n_pages, "shards": n_shards,
                 "engine_kwargs": engine_kwargs,
                 "spark_jobs_per_op": tiers,
                 "rounds": min(len(v) for v in lat),
                 "steal_share": steal,
                 "host_calibration_ms": [cal0, cal1],
                 "phase_s": {"session": ctx.session_s, "generate": gen_s,
                             "build": build_s, "engine_inits": init_s,
                             "warm_up": warm_s, "tier_probe": probe_s,
                             "check": check_s}},
    }
