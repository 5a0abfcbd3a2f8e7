"""Entity canonicalization — connected components over the equivalence graph.

The reference has no CC operator (closest analog: transitive closure,
ontology_trimmer.py:586-628); BASELINE.json's north_star mandates
"canonicalization via connected-components (GraphFrames-style iterative
DataFrame joins with salted keys for hub-entity skew)". This module is
that operator, pure DataFrame API.

Equivalence-edge semantics (each derivable from the reference's own data
model, and re-derived independently by the DuckDB oracle):
  * obsolete term -> its `replaced_by` target (Term.replaced_by,
    models.py:246; deprecated-term redirection);
  * two live terms sharing a normalized gazetteer surface (name or
    synonym) — the 1:N synonym index join (_synonym_index, models.py:2886);
  * two terms sharing an xref (Term.xrefs, models.py:249 — shared
    cross-references identify the same external entity).

Algorithm: min-label propagation to fixpoint — labels(v) starts at v;
each round every vertex takes the min label among itself and its
neighbors. Rounds = O(max component diameter). Per round:

    prop    = edges_sym JOIN labels ON src          (label flows to dst)
    partial = prop GROUP BY (dst, salt) MIN(label)  (map-side, salted)
    mins    = partial GROUP BY dst MIN(label)       (final, tiny)
    labels  = labels LEFT JOIN mins -> least(old, new)

The two-phase min with `salt = pmod(xxhash64(label), S)` bounds any
single reduce key: a hub vertex with 10^7 incoming labels at 10^12-doc
scale splits into S partial groups before the final combine — AQE's
skew-join split helps the join but not the aggregation, so the salt is
explicit (SURVEY §4.1). Lineage is truncated with an eager
localCheckpoint every round (the checkpointed frame also serves the
convergence count), else the loop's plan doubles per iteration.

Size check: an ontology-sized graph is solved in the driver from one
bounded collection (localgraph.collect) and returned as a local
relation: one Spark job, not two localCheckpoints and a count per
round. canonical_mapping collects the node ids, the surface and xref
keys (k, id) and the replaced_by edges of _keyed_nodes as one tagged
table; localgraph.components joins every id that carries a key, which
connects exactly the ids the star edges connect, so no edge is built,
and keys of different sources never merge. Above the bound,
canonical_mapping runs the loop above over equivalence_star_edges, so
the failed collection is its only added work; connected_components
does the same over its edges. The loop stays because it is the only
path for a cluster-size graph that does not fit in one process. All
paths give the same mapping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import localgraph

__all__ = ["equivalence_edges", "equivalence_star_edges",
           "connected_components", "canonical_mapping", "canonical_triples",
           "component_size_distribution"]


def _pairs(keyed: DataFrame) -> DataFrame:
    """keyed(key, id) -> distinct undirected pairs (src < dst) sharing key.
    Self-join on the key; dimension-scale here, and at corpus scale the
    same shape is a shuffle equi-join on the shared key."""
    a = keyed.toDF("k", "src")
    b = keyed.toDF("k", "dst")
    return (a.join(b, "k")
            .filter(F.col("src") < F.col("dst"))
            .select("src", "dst").distinct())


# The three equivalence sources as SQL text over a terms frame. Surface
# keys: coalesce(synonyms, []) because a NULL synonym array would null
# the whole array_union and silently drop the term's NAME key too; blank
# keys are filtered so unrelated no-name terms don't fuse on k=''.
_SURFACE_KEY = ("explode(array_union(array(lower(trim(name))), transform("
                "coalesce(synonyms, CAST(array() AS ARRAY<STRING>)), "
                "s -> lower(trim(s))))) AS k")
_XREF_KEY = "explode(xrefs) AS k"
_KEY_OK = "k IS NOT NULL AND k != ''"
_REPLACED = "is_obsolete AND replaced_by IS NOT NULL"
_REPLACED_EDGE = ("least(id, replaced_by) AS src",
                  "greatest(id, replaced_by) AS dst")


def _keyed_nodes(terms: DataFrame) -> tuple[DataFrame, DataFrame,
                                            DataFrame]:
    """The three equivalence sources: surface keys (k, id) of live
    terms, xref keys (k, id), and replaced_by edges (src, dst)."""
    surf = (terms.filter("NOT is_obsolete").selectExpr(_SURFACE_KEY, "id")
            .filter(_KEY_OK))
    xref = terms.selectExpr(_XREF_KEY, "id").filter(_KEY_OK)
    repl = terms.filter(_REPLACED).selectExpr(*_REPLACED_EDGE)
    return surf, xref, repl


def equivalence_edges(terms: DataFrame) -> DataFrame:
    """terms (TERMS_SCHEMA) -> undirected equivalence edges (src, dst) —
    the full pairwise view (the reference's 1:N synonym-index semantics,
    models.py:2886). For CC input use equivalence_star_edges: a key
    shared by K terms makes K^2 pairs here but only K-1 star edges
    there, with identical components."""
    surf, xref, repl = _keyed_nodes(terms)
    return (_pairs(surf)
            .unionByName(_pairs(xref))
            .unionByName(repl)
            .distinct())


def _star(keyed: DataFrame) -> DataFrame:
    """keyed(key, id) -> star edges (min id per key <-> other ids).
    Same connected components as the K^2 pairwise clique, O(K) edges —
    a hub surface shared by 10^5 entities at corpus scale must not
    materialize 10^10 pairs before CC even starts."""
    hub = keyed.groupBy("k").agg(F.min("id").alias("src"))
    return (keyed.join(hub, "k")
            .filter(F.col("id") != F.col("src"))
            .select("src", F.col("id").alias("dst")).distinct())


def equivalence_star_edges(terms: DataFrame) -> DataFrame:
    """Component-equivalent O(K)-per-key edge set feeding CC."""
    surf, xref, repl = _keyed_nodes(terms)
    return (_star(surf)
            .unionByName(_star(xref))
            .unionByName(repl)
            .distinct())


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    salt_buckets: int = 8,
    max_iter: int = 25,
) -> DataFrame:
    """nodes(id) x edges(src,dst) -> (id, component) where component is the
    min node id reachable. Deterministic; converges in O(log diameter)
    rounds. Endpoints are compared as the node id type. A graph with at
    most localgraph.ROW_BOUND nodes and edges in all is solved in the
    driver; a larger one runs the distributed loop (_propagate)."""
    id_type = nodes.schema["id"].dataType
    edges = edges.select(F.col("src").cast(id_type),
                         F.col("dst").cast(id_type))
    solved = localgraph.components(nodes, edges)
    if solved is not None:
        return solved
    return _propagate(nodes, edges, salt_buckets, max_iter)


def _propagate(nodes: DataFrame, edges: DataFrame, salt_buckets: int = 8,
               max_iter: int = 25) -> DataFrame:
    """The distributed min-label loop of the module docstring over
    edges of the node id type."""
    sym = (edges.select("src", "dst")
           .unionByName(edges.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst"))))
    sym = sym.repartition("src").persist()

    # labels per distinct id: a duplicated node id must not multiply
    # rows through the joins below; node rows get their label at the end
    labels = (nodes.select(F.col("id"), F.col("id").alias("comp"))
              .distinct().localCheckpoint(eager=True))

    converged = False
    # max_iter + 1: a run whose labels reach the fixpoint exactly on
    # round max_iter needs one extra verification round to observe
    # changed == 0 — without it, complete results would be rejected
    for it in range(max_iter + 1):
        prop = (sym.join(labels.withColumnRenamed("id", "src"), "src")
                .select(F.col("dst").alias("id"), "comp"))
        partial = (prop
                   .groupBy("id", F.pmod(F.xxhash64("comp"),
                                         F.lit(salt_buckets)).alias("_s"))
                   .agg(F.min("comp").alias("comp")))
        mins = partial.groupBy("id").agg(F.min("comp").alias("ncomp"))
        # carry the old label through, so convergence is a filter+count on
        # the checkpointed frame — no extra old-vs-new join per round
        half = (labels.join(mins, "id", "left")
                .select("id", F.col("comp").alias("old"),
                        F.least("comp", F.coalesce("ncomp", "comp"))
                        .alias("comp"))
                .persist())  # both sides of the jump self-join read this
        # pointer-jumping shortcut: comp <- label(comp). Plain neighbor
        # propagation moves labels one hop per round (O(diameter) rounds
        # — silently wrong on a >max_iter-diameter chain); composing the
        # label map with itself each round makes the hop distance double,
        # O(log diameter) total (the PRAM shortcutting step GraphFrames'
        # large/small-star achieves; one extra self-join per round).
        jump = half.select(F.col("id").alias("jid"),
                           F.col("comp").alias("jcomp"))
        stepped = (half.join(jump, half.comp == jump.jid, "left")
                   .select("id", "old",
                           F.least("comp", F.coalesce("jcomp", "comp"))
                           .alias("comp"))
                   .localCheckpoint(eager=True))
        half.unpersist()
        changed = stepped.filter(F.col("comp") != F.col("old")).count()
        labels = stepped.select("id", "comp")
        if changed == 0:
            converged = True
            break

    sym.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iter="
            f"{max_iter} productive rounds plus one verification round "
            f"({max_iter + 1} total) — raise max_iter (labels move >= 2x "
            f"per round, so this graph's component diameter exceeds "
            f"~2^{max_iter})")
    return nodes.select("id").join(labels, "id", "left") \
        .select("id", F.col("comp").alias("canonical_id"))


def canonical_mapping(terms: DataFrame) -> DataFrame:
    """(id, canonical_id) for every term row in the ontology (see Size
    check in the module docstring)."""
    nodes = terms.select("id")
    surf, xref, repl = _keyed_nodes(terms)
    solved = localgraph.components(nodes, repl, surf, xref)
    if solved is not None:
        return solved
    return _propagate(nodes, equivalence_star_edges(terms))


def decremental_components(old_mapping: DataFrame,
                           terms: DataFrame,
                           removed_ids: DataFrame,
                           **cc_kwargs) -> DataFrame:
    """Deletion maintenance of the canonical mapping — the decrement
    counterpart of incremental_components (and the canonical-family
    analog of relations.dedup_retract): terms are retracted (obsoleted
    / withdrawn ids), and only the components that CONTAINED a removed
    id are re-solved; every other mapping row passes through untouched.

    Deleting a node can SPLIT a component (unlike additions, which only
    merge), so the affected subgraph must be re-solved from its
    surviving terms' equivalence keys — but equivalence keys never
    span components (they are what created them), so restricting the
    re-solve to members of affected components is closed: CC over that
    subgraph reproduces exactly what a full recompute would assign
    there, including re-rooted labels when the removed id was the
    component's min. Work is proportional to the affected components
    (delta-sized under bounded component size — the same giant-
    component caveat component_size_distribution monitors), never the
    corpus. Oracle recomputes the full mapping on surviving terms —
    parity proves decremental == full."""
    rm = removed_ids.select("id")
    affected = (old_mapping.join(rm, "id", "left_semi")
                .select("canonical_id").distinct())
    keep = old_mapping.join(F.broadcast(affected), "canonical_id",
                            "left_anti")
    member_ids = (old_mapping
                  .join(F.broadcast(affected), "canonical_id",
                        "left_semi")
                  .select("id"))
    sub_terms = (terms.join(rm, "id", "left_anti")
                 .join(member_ids, "id", "left_semi"))
    sub_map = connected_components(
        sub_terms.select("id"), equivalence_star_edges(sub_terms),
        **cc_kwargs)
    return (keep.select("id", "canonical_id")
            .unionByName(sub_map.toDF("id", "canonical_id")))


def canonical_triples(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite triple endpoints to canonical ids, re-dedup on the 7-tuple
    identity (RDFTriple.__hash__ models.py:4408), drop self-loops created
    by the merge (validate_circular_relationship models.py:1083).
    Mapping is dimension-sized -> broadcast joins, no fact-table shuffle
    for the rewrite itself."""
    s_map = mapping.toDF("subject", "s_canon")
    o_map = mapping.toDF("object", "o_canon")
    rewritten = (triples
                 .join(F.broadcast(s_map), "subject", "left")
                 .join(F.broadcast(o_map), "object", "left")
                 .select(
                     F.coalesce("s_canon", "subject").alias("subject"),
                     "predicate",
                     F.coalesce("o_canon", "object").alias("object"),
                     "subject_type", "object_type", "object_datatype",
                     "object_language", "confidence", "support")
                 .filter(F.col("subject") != F.col("object")))
    key = ["subject", "predicate", "object", "subject_type", "object_type",
           "object_datatype", "object_language"]
    return (rewritten.groupBy(*key)
            .agg(F.max("confidence").alias("confidence"),
                 F.sum("support").alias("support")))


def component_size_distribution(mapping: DataFrame) -> DataFrame:
    """(id, canonical_id) mapping -> (component_size, n_components):
    how many equivalence classes have each size. The canonicalization
    health probe — a sudden giant component means an over-eager
    equivalence edge fused unrelated entities (the classic CC failure
    mode), and the singleton count tracks how much of the vocabulary
    the alias graph actually touches. Two map-side-combinable
    aggregates, output bounded by the number of distinct sizes."""
    sizes = (mapping.groupBy("canonical_id")
             .agg(F.count("*").alias("component_size")))
    return (sizes.groupBy("component_size")
            .agg(F.count("*").cast("bigint").alias("n_components")))


def incremental_components(old_mapping: DataFrame,
                           new_ids: DataFrame,
                           new_edges: DataFrame,
                           **cc_kwargs) -> DataFrame:
    """Semi-naive maintenance of the canonical mapping under a delta —
    the CC counterpart to textops.minhash_delta_pairs: returns the
    FULL updated (id, canonical_id) for CC(old graph + delta) without
    re-running components over the full graph.

    Inputs: `old_mapping` is the previous run's published mapping (at
    scale: the mapping table on disk — old edges are never needed,
    because the mapping IS their connectivity, contracted);
    `new_ids` the node ids the delta introduces; `new_edges` the delta
    edges (any mix of old-old / old-new / new-new endpoints).

    Algorithm: contract delta edges through the old labels (an
    endpoint's old component stands in for it; unmapped endpoints are
    new nodes standing for themselves), drop the now-internal edges,
    and run connected_components on the CONTRACTED label graph — at
    most 2|delta| nodes regardless of corpus size. Because each old
    label is already the MIN id of its component, the contracted CC's
    min-label is the merged component's global min, so relabeling
    old_mapping through the (old label -> new label) map — a
    delta-sized broadcast against the dimension-sized mapping —
    reproduces the full recomputation exactly. Untouched components
    never enter a shuffle wider than that map join."""
    ms = old_mapping.toDF("src", "cs")
    md = old_mapping.toDF("dst", "cd")
    ce = (new_edges
          .join(ms, "src", "left").join(md, "dst", "left")
          .select(F.coalesce("cs", F.col("src")).alias("src"),
                  F.coalesce("cd", F.col("dst")).alias("dst"))
          .filter(F.col("src") != F.col("dst"))
          .distinct())
    fresh_ids = (new_ids.select("id")
                 .join(old_mapping.select("id"), "id", "left_anti"))
    lnodes = (ce.select(F.col("src").alias("id"))
              .unionByName(ce.select(F.col("dst").alias("id")))
              .unionByName(fresh_ids)
              .distinct())
    sub = connected_components(lnodes, ce, **cc_kwargs)
    relabel = sub.toDF("canonical_id", "new_canon")
    updated = (old_mapping
               .join(F.broadcast(relabel), "canonical_id", "left")
               .select("id", F.coalesce("new_canon", "canonical_id")
                       .alias("canonical_id")))
    fresh = (fresh_ids
             .join(F.broadcast(sub.toDF("id", "nc")), "id", "left")
             .select("id", F.coalesce("nc", F.col("id"))
                     .alias("canonical_id")))
    return updated.unionByName(fresh)
