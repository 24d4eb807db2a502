"""The benchmark's own tests: seeded inputs, the BENCHMARK.json contract,
start-up failure outside a checkout, and the serving-tier evidence.

    python -m pytest perfbench -q

The tier tests start Spark and run a short workload each (about two
minutes apiece on 4 vCPUs).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

from perfbench import run, streams

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_stream_same_seed_is_byte_identical():
    assert streams.stream_bytes(7, 300) == streams.stream_bytes(7, 300)


def test_stream_seeds_differ():
    assert streams.stream_bytes(7, 100) != streams.stream_bytes(8, 100)


def test_stream_covers_every_shape_and_operation():
    assert set(streams.OP_KINDS) == {"ranked", "wand", "snippet", "batch"}
    assert abs(sum(share for _op, share in streams.PHASES) - 1) < 1e-9
    ranked = streams.op_stream(3, "ranked")
    prefix = [next(ranked) for _ in range(13 * 20)]
    # shapes are dealt from a deck: every 13 queries hold each shape once
    for i in range(0, len(prefix), 13):
        assert ({shape for shape, _q in prefix[i:i + 13]}
                == {shape for shape, _fmt in streams.TEMPLATES})
    wand = streams.op_stream(3, "wand")
    assert {next(wand)[0] for _ in range(30)} == {"bag1", "bag2", "bag3"}
    words = {w for _s, q in prefix for w in re.findall(r"[\w]+", q)}
    for _name, pool, _share in streams.POOLS:
        assert words & set(pool)
    shape, batch = next(streams.op_stream(3, "batch"))
    assert shape == "batch" and len(batch) == streams.BATCH_SIZE


def test_stream_is_zipf_skewed():
    ranked = streams.op_stream(5, "ranked")
    counts: dict[str, int] = {}
    for _ in range(5000):
        _shape, q = next(ranked)
        for w in q.replace('"', " ").replace("'", " ").split():
            counts[w] = counts.get(w, 0) + 1
    head = streams.POOLS[0][1]
    assert counts.get(head[0], 0) > 5 * counts.get(head[-1], 1)


def test_round_set_holds_every_ranked_shape_and_bag_size():
    items = streams.round_set(9)
    assert items == streams.round_set(9) != streams.round_set(10)
    sizes = dict(streams.ROUND_SET)
    decks = sizes["ranked"] // len(streams.TEMPLATES)
    assert decks * len(streams.TEMPLATES) == sizes["ranked"]
    ranked = [shape for op, shape, _q in items if op == "ranked"]
    assert sorted(ranked) == sorted(decks * [s for s, _f in streams.TEMPLATES])
    wand = [shape for op, shape, _q in items if op == "wand"]
    assert sorted(wand) == sorted(sizes["wand"] // 3 * ["bag1", "bag2", "bag3"])


def test_benchmark_json_matches_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert bench["paths"] == ["perfbench"]
    assert 2 <= len(bench["workloads"]) <= 8
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
        assert w["name"] in run.WORKLOADS
    e2e = [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]]
    assert e2e == list(run.END_TO_END)
    for m in bench["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    layers = [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]]
    assert layers == list(run.PER_LAYER)
    names = [m["name"] for m in bench["workloads"]] + [n for n, _u, _b in
                                                      e2e + layers]
    assert len(names) == len(set(names))
    for name, unit, better in e2e + layers:
        assert NAME.match(name) and UNIT.match(unit), name
        assert better in ("lower", "higher")


def test_exits_nonzero_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve_resident",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "3", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    info = json.loads(lines[-2])["info"]
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0
    return info, result


def test_resident_tier_runs_ranked_and_wand_without_spark_jobs():
    info, result = _run("serve_resident", trace=1)
    jobs = info["spark_jobs_per_op"]
    assert jobs["ranked"] == 0 and jobs["wand"] == 0 and jobs["batch"] == 0
    assert jobs["snippet"] >= 1  # the doc_text fetch is a Spark scan
    m = result["metrics"]
    assert set(m) == {name for name, _u, _b in run.PER_LAYER}
    assert m["engine.spark_jobs_per_ranked_op"]["value"] == 0
    assert m["engine.spark_jobs_per_wand_op"]["value"] == 0
    assert m["codec.blocks_decoded_per_op"]["value"] > 0
    assert m["query.eval_ms"]["value"] > 0


def test_distributed_tier_submits_a_job_per_operation():
    info, _result = _run("serve_distributed", trace=0)
    jobs = info["spark_jobs_per_op"]
    assert all(jobs[k] >= 1 for k in ("ranked", "wand", "snippet", "batch"))
