#!/usr/bin/env python
"""spark-submit entrypoint: versioned-store maintenance (the scheduled
pass a production deployment runs OUT of the ingest hot path — Iceberg's
expire_snapshots + rewrite_data_files, on this repo's plain-parquet
snapshot chain).

    spark-submit --py-files cspirit_spark.zip jobs/store_maintenance_job.py \
        --store /data/triple_store [--compact 64] [--expire-keep 2] \
        [--retract-docs DOC:000003,DOC:000017 --evidence /data/triples]

Run it between ingest runs. Each action commits a new version above
every committed one, and the stream's next micro-batch builds on it (the
store protocol is stated once, in streaming/pipeline.py). A micro-batch
replayed after a crash rebuilds its own commit from that commit's
parent while no later commit exists, and commits nothing once a
maintenance commit builds on it.

Actions (all optional; retraction runs first — the takedown must land
before layout maintenance — then compaction, so expiry can reclaim the
pre-compaction layout on the NEXT run; the current pointer's version
and parent are never expired):
  --retract-docs IDS  takedown pass: re-aggregate only the 7-tuple keys
                   the removed docs evidenced (relations.dedup_retract
                   over --evidence) and commit the result as a new
                   version
  --compact N      rewrite the current snapshot into N files as a new
                   committed version (rows identical; pointer flips)
  --expire-keep K  delete all committed versions except the K most
                   recent (and never the pointer's version or parent)

Prints one JSON line: {"history": [...], "compacted": {...}|null,
"expired": [...], "retracted": {...}|null}. With no action flags this is a read-only snapshot-log
report.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import SparkSession

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from cspirit_ontology_information_extraction_opus4plan_spark.session import (  # noqa: E402
    get_spark,
)
from cspirit_ontology_information_extraction_opus4plan_spark.streaming.pipeline import (  # noqa: E402
    compact_store_version,
    expire_store_versions,
    retract_store_version,
    store_history,
)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--store", required=True,
                   help="versioned triple-store directory "
                        "(stream_merge_triples output)")
    p.add_argument("--compact", type=int, default=None, metavar="N",
                   help="rewrite the current snapshot into N files as a "
                        "new committed version")
    p.add_argument("--expire-keep", type=int, default=None, metavar="K",
                   help="expire all but the K most recent committed "
                        "versions (pointer + parent always kept)")
    p.add_argument("--retract-docs", default=None, metavar="IDS",
                   help="comma-separated doc ids to retract (takedown "
                        "pass); requires --evidence")
    p.add_argument("--evidence", default=None, metavar="DIR",
                   help="per-doc triple evidence table "
                        "(kg_construct_job output) the retraction "
                        "re-aggregates from")
    p.add_argument("--master", default=None,
                   help="Spark master override (see kg_construct_job)")
    args = p.parse_args(argv)

    if args.master:
        spark = get_spark("store_maintenance", master=args.master)
    else:
        try:
            spark = (SparkSession.builder
                     .appName("store_maintenance").getOrCreate())
        except Exception:  # not under spark-submit
            spark = get_spark("store_maintenance")
    try:
        out = {"compacted": None, "expired": [], "retracted": None}
        if args.retract_docs is not None:
            if not args.evidence:
                p.error("--retract-docs requires --evidence")
            out["retracted"] = retract_store_version(
                spark, args.store, args.evidence,
                [d for d in args.retract_docs.split(",") if d])
        if args.compact is not None:
            out["compacted"] = compact_store_version(
                spark, args.store, target_files=args.compact)
        if args.expire_keep is not None:
            out["expired"] = expire_store_versions(
                spark, args.store, keep_last=args.expire_keep)
        out["history"] = store_history(spark, args.store)
        print(json.dumps(out))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
