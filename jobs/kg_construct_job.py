#!/usr/bin/env python
"""spark-submit entrypoint: end-to-end KG construction with resumable,
checkpointed output.

Runs the flagship pipeline (interleaved corpus -> NER -> linking ->
relation extraction -> 7-tuple dedup; api.py) and materializes the
triples through plans/checkpointing.materialize_triples — partitioned by
pmod(xxhash64(doc_id), n_parts) with a lineage+metrics marker per
completed partition. Re-running the same command resumes: completed
partitions are pruned before the scan, pending ones are rewritten
idempotently (dynamic partition overwrite).

Cluster usage (the local default mirrors this):
    spark-submit --py-files cspirit_spark.zip jobs/kg_construct_job.py \
        --sf-dir /data/sfN --out /data/triples --parts 4096

On a real cluster, size --parts so each partition holds a few hundred MB
of output (the resume granularity AND the retry blast radius). The
corpus-level 7-tuple dedup and the connected-components canonical
rewrite remain downstream views over this table (api.q_triples_dedup,
api.q_canonical_triples). --publish and --entail read the table just
written (relations.dedup_triples over --out), so neither reruns span
synthesis, NER, linking or relation extraction, and after a resume both
cover every partition, not only the ones this run wrote.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import SparkSession

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from cspirit_ontology_information_extraction_opus4plan_spark import api  # noqa: E402
from cspirit_ontology_information_extraction_opus4plan_spark.operators.graphops import (  # noqa: E402
    kg_entailment,
)
from cspirit_ontology_information_extraction_opus4plan_spark.operators.relations import (  # noqa: E402
    dedup_triples,
)
from cspirit_ontology_information_extraction_opus4plan_spark.plans.checkpointing import (  # noqa: E402
    materialize_triples,
    publish_graph_layout,
)
from cspirit_ontology_information_extraction_opus4plan_spark.session import (  # noqa: E402
    get_spark,
)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                   help="input directory holding documents.parquet etc.")
    p.add_argument("--out", required=True,
                   help="output directory for the partitioned triple table")
    p.add_argument("--parts", type=int, default=16,
                   help="number of pmod(xxhash64(doc_id)) output partitions")
    p.add_argument("--publish", default=None, metavar="DIR",
                   help="optionally also publish the deduplicated graph "
                        "in its SERVING layout (predicate-partitioned, "
                        "subject-bucketed + sorted; "
                        "checkpointing.publish_graph_layout)")
    p.add_argument("--entail", default=None, metavar="DIR",
                   help="optionally materialize the OWL/RDFS entailment "
                        "saturation (graphops.kg_entailment: inverse + "
                        "transitive closure with rule provenance) as a "
                        "second parquet table next to the asserted store")
    p.add_argument("--master", default=None,
                   help="Spark master override; when omitted, a "
                        "spark-submit-provided master is respected and "
                        "plain-python runs fall back to the tuned "
                        "local[$SPARK_GRAFT_CPUS] session")
    args = p.parse_args(argv)

    if args.master:
        spark = get_spark("kg_construct_job", master=args.master)
    else:
        # under spark-submit, --master/spark-defaults populate the conf
        # and an app-side .master() call would silently override it
        # (running the whole build single-node on the driver); only
        # fall back to the tuned local session when no master is
        # configured at all (plain `python jobs/kg_construct_job.py`)
        try:
            spark = (SparkSession.builder
                     .appName("kg_construct_job").getOrCreate())
        except Exception:  # "master must be set": not under spark-submit
            spark = get_spark("kg_construct_job")
    try:
        # per-document triples (doc_id retained: it is the partitioner
        # key and the provenance column; the 7-tuple corpus-level dedup
        # is a downstream view over this table, api.q_triples_dedup)
        summary = materialize_triples(
            spark, api.triples_df(spark, args.sf_dir), args.out,
            sf_dir=args.sf_dir, n_parts=args.parts)
        if args.publish or args.entail:
            store = dedup_triples(spark.read.parquet(args.out))
        if args.publish:
            summary["publish"] = publish_graph_layout(store, args.publish)
        if args.entail:
            inferred = kg_entailment(store)
            # predicate-partitioned like the serving layout: entailment
            # consumers (SPARQL patterns) filter on predicate
            (inferred.repartition("predicate")
             .write.mode("overwrite").partitionBy("predicate")
             .parquet(args.entail))
            summary["entail"] = {
                "path": args.entail,
                "n_inferred": spark.read.parquet(args.entail).count(),
            }
        print(json.dumps(summary))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
