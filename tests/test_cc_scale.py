"""Connected-components at non-ontology scale: a 50k-leaf star (the
hub-skew shape the salted aggregation exists for) plus a 2,000-node
chain (diameter >> the old per-round hop distance — only converges
within max_iter because of the pointer-jumping shortcut), with bigint
ids, on both kernel paths (conftest.kernel_paths)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cspirit_ontology_information_extraction_opus4plan_spark.operators.canonicalize import (
    connected_components,
)

from .conftest import kernel_paths

STAR_N = 50_000
CHAIN_BASE = 1_000_000
CHAIN_N = 2_000


def test_star_edges_give_same_components_as_pairwise(spark):
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.canonicalize import (
        connected_components as cc,
        equivalence_edges,
        equivalence_star_edges,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.gazetteer import (
        terms_df,
    )

    terms = terms_df(spark)
    nodes = terms.select("id")
    for _path in kernel_paths():
        a = cc(nodes, equivalence_edges(terms)).toPandas() \
            .sort_values("id").reset_index(drop=True)
        b = cc(nodes, equivalence_star_edges(terms)).toPandas() \
            .sort_values("id").reset_index(drop=True)
        assert a.equals(b)


def test_cc_star_and_long_chain(spark):
    star_edges = spark.range(1, STAR_N).select(
        F.lit(0).alias("src"), F.col("id").alias("dst"))
    chain_edges = spark.range(CHAIN_BASE, CHAIN_BASE + CHAIN_N - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    edges = star_edges.unionByName(chain_edges)
    nodes = (spark.range(0, STAR_N)
             .unionByName(spark.range(CHAIN_BASE, CHAIN_BASE + CHAIN_N))
             .select("id"))

    for _path in kernel_paths():
        comp = connected_components(nodes, edges, max_iter=25)
        assert dict(comp.dtypes) == {"id": "bigint",
                                     "canonical_id": "bigint"}
        agg = (comp.groupBy("canonical_id")
               .agg(F.count("*").alias("n"))
               .collect())
        got = {r["canonical_id"]: r["n"] for r in agg}
        assert got == {0: STAR_N, CHAIN_BASE: CHAIN_N}
