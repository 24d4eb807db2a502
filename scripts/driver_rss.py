"""Driver memory per setup step of a resident serving engine.

Prints the Python driver's VmRSS and VmHWM (MiB) after each step of the
setup the ``serve_resident`` benchmark workload runs: Spark session start,
page generation, ``build_index``, each ``SearchEngine(...)`` construction
and the warm-up queries. The benchmark reports only the final peak
(``driver_rss_mb``); this attributes it to steps.

Usage: python scripts/driver_rss.py [--pages 2000] [--shards 2] [--seed 1]

Spark runs as ``local[nproc]``; the index and Spark's local dirs live in a
temporary directory removed at exit.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

ENGINES = 3  # constructions, as in the benchmark's setup
WARMUP = ("search engine", "NOT quartz")


def _mem_mb() -> tuple[float, float]:
    """(VmRSS, VmHWM) of this process in MiB."""
    vals = {}
    with open("/proc/self/status") as f:
        for line in f:
            key = line.split(":")[0]
            if key in ("VmRSS", "VmHWM"):
                vals[key] = int(line.split()[1]) / 1024
    return vals["VmRSS"], vals["VmHWM"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--pages", type=int, default=2000)
    ap.add_argument("--shards", type=int, default=2)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    prev = [0.0]

    def report(step: str) -> None:
        rss, hwm = _mem_mb()
        print(f"{step:<16} VmRSS {rss:8.1f} MB  (+{rss - prev[0]:6.1f})  "
              f"VmHWM {hwm:8.1f} MB", flush=True)
        prev[0] = rss

    report("start")
    tmp = tempfile.mkdtemp(prefix="driver_rss-")
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ.setdefault("SPARK_DRIVER_MEM",
                          f"{max(1, min(4, int(ram_gb // 4)))}g")
    spark = None
    try:
        from mithril_spark.session import get_spark

        spark = get_spark(
            cores=len(os.sched_getaffinity(0)), app_name="driver_rss",
            extra_conf={"spark.local.dir": os.path.join(tmp, "spark-local"),
                        "spark.ui.showConsoleProgress": "false"})
        spark.sparkContext.setLogLevel("ERROR")
        report("session")

        from mithril_spark.engine import SearchEngine
        from mithril_spark.fixtures import generate_pages, pages_to_df
        from mithril_spark.indexer import build_index

        pages = generate_pages(args.pages, seed=args.seed)
        report("generate_pages")
        idx = os.path.join(tmp, "index")
        build_index(pages_to_df(spark, pages), idx,
                    num_shards=args.shards, pagerank=True)
        report("build_index")
        engine = None
        for i in range(ENGINES):
            if engine is not None:
                for df in (engine.shard_images, engine.postings,
                           engine.positions, engine.term_dict):
                    df.unpersist()
            engine = SearchEngine(spark, idx)
            report(f"SearchEngine #{i + 1}")
        for q in WARMUP:
            engine.top_k(q)
            engine.bm25_topk(q, k=10)
        engine.top_k_with_snippets(WARMUP[0])
        report("warm-up")
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
