"""spark-submit entry point: fold new/re-crawled pages into a live index.

The freshness loop's operational step (the reference's builder is
batch-only; this is the "crawler keeps writing" continuation —
mithril_spark/indexer.py merge_index_delta): extraction runs for the
delta only, derived tables append O(delta) posting/position segments
(re-crawled urls become serve-time-filtered tombstones), and periodic
``--compact`` folds the segments back to the canonical dense layout
byte-identical to a full rebuild.

Cluster usage:
  zip -r mithril_spark.zip mithril_spark
  spark-submit --py-files mithril_spark.zip jobs/merge_job.py \
      --index <index root> --pages <delta pages parquet>
  spark-submit --py-files mithril_spark.zip jobs/merge_job.py \
      --index <index root> --extracted <streaming extraction sink>
  spark-submit --py-files mithril_spark.zip jobs/merge_job.py \
      --index <index root> --compact

Local/sandbox:
  python jobs/merge_job.py --index /tmp/idx --pages /tmp/delta.parquet --cores 8
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True, help="existing index root")
    ap.add_argument("--pages", help="parquet path of delta pages (raw html)")
    ap.add_argument("--extracted",
                    help="parquet path of already-extracted delta rows "
                         "(EXTRACT_SCHEMA, e.g. the streaming sink)")
    ap.add_argument("--compact", action="store_true",
                    help="fold segments/tombstones back to the dense "
                         "layout instead of merging a delta")
    ap.add_argument("--pagerank", action="store_true",
                    help="refresh PageRank after the merge (writes the "
                         "slim sidecar — no table rewrite)")
    ap.add_argument("--cores", type=int, default=None,
                    help="local[] cores; omit under spark-submit on a cluster")
    args = ap.parse_args()

    from mithril_spark.session import get_spark

    if args.cores is not None:
        spark = get_spark(cores=args.cores, app_name="mithril-merge")
    else:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.appName("mithril-merge").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from mithril_spark.indexer import compact_index, merge_index_delta

    t0 = time.time()
    if args.compact:
        if args.pages or args.extracted:
            ap.error("--compact takes no delta input")
        # a pagerank-bearing index recomputes it into the fresh doc_map
        # with or without the flag
        res = compact_index(spark, args.index, pagerank=args.pagerank)
    elif (args.pages is None) == (args.extracted is None):
        ap.error("need exactly one of --pages / --extracted (or --compact)")
        return
    else:
        kind, path = (("new_pages", args.pages) if args.pages
                      else ("extracted", args.extracted))
        res = merge_index_delta(args.index, pagerank=args.pagerank,
                                **{kind: spark.read.parquet(path)})
    dt = time.time() - t0
    phases = {p["phase"]: round(p.get("finished", 0.0) - p["started"], 2)
              for p in res["phases"]}
    out = {"mode": res["mode"], "seconds": round(dt, 2),
           "total_docs": res["meta"]["total_docs"], "phases": phases}
    if res.get("compacted"):
        out["compacted"] = True
    if res.get("pagerank_refresh"):
        out["pagerank_refresh_s"] = round(
            res["pagerank_refresh"]["wall_s"], 2)
    tomb = next((p.get("replaced_docs") for p in res["phases"]
                 if p["phase"] == "tombstones"), None)
    if tomb is not None:
        out["replaced_docs"] = tomb
    print(json.dumps(out))


if __name__ == "__main__":
    sys.exit(main())
