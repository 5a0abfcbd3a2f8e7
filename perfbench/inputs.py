"""Per-(corpus, seed) input directories with their oracle answers.

Each directory holds the generated ``documents.parquet`` (the only thing
the program is given), plus the repository's own DuckDB oracle results
over it, computed once when the directory is created and reused by
every later run with the same seed:

* ``oracle_dedup.parquet``  — ``oracle_sql()["triples_dedup"]``
* ``oracle_entail.parquet`` — ``oracle_sql()["kg_entailment"]`` (graph)
* ``oracle_canon.parquet``  — ``oracle_sql()["canonical_triples"]`` (graph)

and ``store.parquet``, the deduplicated triple store the graph pass reads:
the oracle's ``triples_dedup`` rows in the schema ``dedup_triples``
produces, so no Spark job runs before a run's first set-up.

A directory is built under a temporary name and renamed into place, so
an interrupted run never leaves a half-written input behind.
"""

from __future__ import annotations

import json
import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import gen

# corpus key -> (shape, rng stream, oracle queries)
CORPORA = {
    "long": (gen.Shape(400, 2700, 3300, 0.10), 1, ("triples_dedup",)),
    "graph": (gen.Shape(1_000, 30, 60, 0.0), 3,
              ("triples_dedup", "kg_entailment", "canonical_triples")),
}
N_FILES = 8

ORACLE_FILE = {"triples_dedup": "oracle_dedup.parquet",
               "kg_entailment": "oracle_entail.parquet",
               "canonical_triples": "oracle_canon.parquet"}


def docs_path(d: str) -> str:
    return os.path.join(d, "documents.parquet")


def store_path(d: str) -> str:
    return os.path.join(d, "store.parquet")


def _run_oracles(d: str, queries: tuple[str, ...]) -> None:
    from cspirit_ontology_information_extraction_opus4plan_spark.oracle_sqls import (  # noqa: E501
        oracle_sql,
    )
    sqls = oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET memory_limit = '2GB'")
        con.execute("SET threads = 2")
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{docs_path(d)}/*.parquet')")
        for q in queries:
            pq.write_table(con.execute(sqls[q]).arrow(),
                           os.path.join(d, ORACLE_FILE[q]))
    finally:
        con.close()


def _write_store(d: str) -> None:
    t = oracle(d, "triples_dedup")
    conf = t.schema.get_field_index("confidence")
    t = t.set_column(conf, "confidence", t.column(conf).cast(pa.float64()))
    pq.write_table(t, store_path(d))


def ensure(work: str, corpus: str, seed: int) -> str:
    """The input directory for (corpus, seed), creating it if absent."""
    final = os.path.join(work, "inputs", f"{corpus}-{seed}")
    if os.path.isdir(final):
        return final
    from cspirit_ontology_information_extraction_opus4plan_spark import (
        ontology_data as OD,
    )
    shape, stream, queries = CORPORA[corpus]
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    filler, surf = gen.vocabularies(
        OD.surfaces(), [p for p, _ in OD.PREDICATE_PHRASES])
    table = gen.documents(shape, [seed, stream], filler, surf)
    gen.write_documents(table, docs_path(tmp), N_FILES)
    _run_oracles(tmp, queries)
    _write_store(tmp)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump({"n_docs": table.num_rows}, f)
    os.rename(tmp, final)
    return final


def meta(d: str) -> dict:
    with open(os.path.join(d, "meta.json")) as f:
        return json.load(f)


def oracle(d: str, query: str) -> pa.Table:
    return pq.read_table(os.path.join(d, ORACLE_FILE[query]))
