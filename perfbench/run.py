#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one Spark session.

    python3 perfbench/run.py --workload serve_resident --seed 1 \
        --seconds 10 --trace 0

Run from the root of a source checkout. Spark runs as ``local[nproc]`` with
a driver heap well below physical RAM; Spark's local dirs, the index and
all scratch files live in a per-run directory under ``.perfbench_tmp/``,
removed when the run ends. Traced runs (``--trace 1``) leave their spans in
``.perfbench_out/``.

Output: one ``#``-prefixed line per metric (value, unit, sample count), a
JSON ``info`` line (hardware, versions, seed, tier evidence), and as the
last line the result object ``{"correct", "attempted", "failed",
"metrics"}`` holding the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``). Exit code 0 when every checked output
was correct, 1 when some were not, 2 when the run could not start.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("serve_resident", "serve_distributed", "dedup_corpus")

END_TO_END = (
    ("setup_s", "s", "lower"),
    ("driver_rss_mb", "MB", "lower"),
)

PER_LAYER = (
    ("session.start_s", "s", "lower"),
    ("engine.init_s", "s", "lower"),
    ("engine.spark_jobs_per_op", "count", "lower"),
    ("engine.spark_jobs_per_ranked_op", "count", "lower"),
    ("engine.spark_jobs_per_wand_op", "count", "lower"),
    ("engine.spark_jobs_per_snippet_op", "count", "lower"),
    ("engine.spark_tasks_per_op", "count", "lower"),
    ("engine.job_ms", "ms", "lower"),
    ("engine.build_shard_ms", "ms", "lower"),
    ("engine.payload_ms", "ms", "lower"),
    ("engine.payload_rows_per_op", "count", "lower"),
    ("query.plan_ms", "ms", "lower"),
    ("query.eval_ms", "ms", "lower"),
    ("query.matches_per_op", "count", "lower"),
    ("query.rank_ms", "ms", "lower"),
    ("query.merge_ms", "ms", "lower"),
    ("query.wand_ms", "ms", "lower"),
    ("query.wand_blocks_total_per_op", "count", "lower"),
    ("query.wand_skip_frac", "ratio", "higher"),
    ("query.wand_docs_scored_per_op", "count", "lower"),
    ("codec.decode_ms", "ms", "lower"),
    ("codec.blocks_decoded_per_op", "count", "lower"),
    ("snippets.fetch_ms", "ms", "lower"),
    ("snippets.generate_ms", "ms", "lower"),
    ("text.extract_docs_per_s", "docs/s", "higher"),
) + tuple(
    (f"indexer.build.{p}_s", "s", "lower")
    for p in ("extract", "doc_text", "assign_ids", "pagerank", "doc_map",
              "postings", "positions", "term_dict", "counters")
) + tuple(
    (f"relational.{q}_s", "s", "lower")
    for q in ("q_dedup_embedding", "q_doc_term_df")
) + (
    ("relational.plan_ms", "ms", "lower"),
    ("relational.job_ms", "ms", "lower"),
    ("relational.spark_jobs_per_query", "count", "lower"),
    ("relational.spark_tasks_per_query", "count", "lower"),
    ("trace.unattributed_ms", "ms", "lower"),
    ("trace.overhead_ms", "ms", "lower"),
)


@dataclass
class RunContext:
    spark: object
    seed: int
    seconds: float
    trace: bool
    tmp: str
    out_dir: str
    session_s: float
    cpu_pids: tuple  # the driver and the JVM it launched


def _ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def _driver_mem(ram_bytes: int) -> str:
    """Spark driver heap: a quarter of RAM, at most 4 GiB, at least 1 GiB."""
    return f"{max(1, min(4, ram_bytes // 4 // 2**30))}g"


def _start_spark(tmp: str, cores: int):
    from mithril_spark.session import get_spark

    local = os.path.join(tmp, "spark-local")
    os.makedirs(local)
    spark = get_spark(
        cores=cores, app_name="perfbench",
        extra_conf={
            "spark.local.dir": local,
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp} "
                "-XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        proc.stdin.close()  # the launcher JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    if not os.path.isdir(os.path.join(ROOT, "mithril_spark")):
        print(f"perfbench: no mithril_spark package under {ROOT}; run from "
              "the root of a source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import pyspark

    from perfbench import dedup, serve

    ram = _ram_bytes()
    host = {"nproc": len(os.sched_getaffinity(0)),
            "ram_gb": round(ram / 2**30, 1),
            "python": platform.python_version()}
    scratch = os.path.join(ROOT, ".perfbench_tmp")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(scratch, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-",
                           dir=scratch)
    # everything Spark and its Python workers write stays in the run dir
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "SPARK_DRIVER_MEM": _driver_mem(ram),
        "PYSPARK_PYTHON": sys.executable,
        # the launcher JVM would otherwise write /tmp/hsperfdata_<user>
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        spark = _start_spark(tmp, host["nproc"])
        session_s = time.perf_counter() - t_start
        ctx = RunContext(spark, args.seed, args.seconds, bool(args.trace),
                         tmp, out_dir, session_s,
                         (os.getpid(), spark.sparkContext._gateway.proc.pid))
        mod = dedup if args.workload == "dedup_corpus" else serve
        res = mod.run(ctx, args.workload)
        java = spark.sparkContext._jvm.System.getProperty("java.version")
    finally:
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    e2e = dict(res["metrics"])
    e2e["failed_frac"] = (res["failed"] / max(res["attempted"], 1), "ratio",
                          res["attempted"])
    print(f"# perfbench {args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace}")
    shown = {**res["extra"]} if args.trace else {**e2e, **res["extra"]}
    for name, (value, unit, n) in shown.items():
        print(f"# {name:<34} {value:14.4f} {unit:<7} n={n}")
    layers = {"session.start_s": session_s, **res["layers"]}
    if args.trace:
        for name, unit, _better in PER_LAYER:
            print(f"# {name:<34} {layers.get(name, 0.0):14.4f} {unit}")
    info = {**host, "pyspark": pyspark.__version__, "java": java,
            "driver_mem": os.environ["SPARK_DRIVER_MEM"],
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, **res["info"]}
    print(json.dumps({"info": info}))
    if args.trace:
        metrics = {name: {"value": float(layers.get(name, 0.0)), "unit": unit}
                   for name, unit, _better in PER_LAYER}
    else:
        metrics = {name: {"value": float(e2e[name][0]), "unit": unit}
                   for name, unit, _better in END_TO_END}
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}),
          flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
