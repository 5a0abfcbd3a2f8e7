from __future__ import annotations

from cspirit_ontology_information_extraction_opus4plan_spark.operators import (
    graphops,
)

from .conftest import kernel_paths


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in pairs], "src string, dst string"
    ).distinct()


def _triples(spark, pairs):
    return spark.createDataFrame(
        [(s, "rel", o, "uri", "uri", None, None, 1.0, 1) for s, o in pairs],
        "subject string, predicate string, object string, "
        "subject_type string, object_type string, object_datatype string, "
        "object_language string, confidence double, support bigint")


def test_triangle_stats_known_graph(spark):
    # K3 (a,b,c) + pendant d on a: a has deg 3, 1 triangle,
    # clustering 2*1/(3*2) = 1/3; b,c deg 2 clustering 1; d deg 1 -> 0
    e = _edges(spark, [("a", "b"), ("b", "c"), ("a", "c"), ("a", "d")])
    rows = {r["node"]: r for r in graphops.triangle_stats(e).collect()}
    assert rows["a"]["degree"] == 3 and rows["a"]["n_triangles"] == 1
    assert abs(rows["a"]["clustering"] - round(1 / 3, 6)) < 1e-9
    assert rows["b"]["n_triangles"] == 1 and rows["b"]["clustering"] == 1.0
    assert rows["c"]["n_triangles"] == 1 and rows["c"]["clustering"] == 1.0
    assert rows["d"]["degree"] == 1 and rows["d"]["n_triangles"] == 0
    assert rows["d"]["clustering"] == 0.0


def test_triangle_stats_counts_k4(spark):
    # K4: every node in C(3,2)=3 triangles, clustering 1; 4 triangles total
    nodes = ["a", "b", "c", "d"]
    e = _edges(spark, [(x, y) for x in nodes for y in nodes if x < y])
    rows = graphops.triangle_stats(e).collect()
    assert all(r["n_triangles"] == 3 and r["degree"] == 3 for r in rows)
    assert sum(r["n_triangles"] for r in rows) == 12  # 4 triangles x 3


def test_two_hop_counts_path(spark):
    # path a-b-c-d-e: c reaches {b,d} at 1 hop, {a,b,d,e} within 2
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")])
    rows = {r["node"]: r for r in graphops.two_hop_counts(e).collect()}
    assert rows["c"]["n_1hop"] == 2 and rows["c"]["n_2hop"] == 4
    assert rows["a"]["n_1hop"] == 1 and rows["a"]["n_2hop"] == 2
    assert rows["b"]["n_1hop"] == 2 and rows["b"]["n_2hop"] == 3


def test_pagerank_fixed_star(spark):
    # star: x,y,z -> hub. hub is a sink (dangling; its mass leaks).
    t = _triples(spark, [("x", "hub"), ("y", "hub"), ("z", "hub")])
    rows = {r["node"]: r["pagerank"]
            for r in graphops.pagerank_fixed(t, n_iter=2).collect()}
    n, d = 4, graphops.PR_DAMPING
    leaf0 = 1 / n
    leaf1 = (1 - d) / n                      # no in-edges
    hub1 = (1 - d) / n + d * 3 * leaf0       # all three leaves' mass
    hub2 = (1 - d) / n + d * 3 * leaf1
    assert abs(rows["x"] - round(leaf1, 6)) < 1e-9
    assert rows["x"] == rows["y"] == rows["z"]
    assert abs(rows["hub"] - round(hub2, 6)) < 1e-9
    # hub outranks leaves, and total mass <= 1 (dangling leak)
    assert rows["hub"] > rows["x"]
    assert sum(rows.values()) <= 1.0 + 1e-6


def test_pagerank_cycle_is_uniform(spark):
    # a->b->c->a: symmetric, pagerank stays uniform at 1/3 every iteration
    t = _triples(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    rows = graphops.pagerank_fixed(t).collect()
    assert all(abs(r["pagerank"] - round(1 / 3, 6)) < 1e-9 for r in rows)


def test_undirected_entity_edges_filters(spark):
    t = _triples(spark, [("a", "b"), ("b", "a"), ("c", "c")])
    lit = spark.createDataFrame(
        [("a", "p", "5", "uri", "literal", "xsd:int", None, 1.0, 1)],
        _triples(spark, []).schema)
    e = graphops.undirected_entity_edges(t.unionByName(lit)).collect()
    # (a,b) and (b,a) collapse to one undirected edge; self-loop and
    # literal-object rows are dropped
    assert [(r["src"], r["dst"]) for r in e] == [("a", "b")]


def test_triangle_plan_no_nested_loop(spark, sf_dir):
    from cspirit_ontology_information_extraction_opus4plan_spark import api

    plan = api.q_kg_triangles(spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_predicate_path_stats_tiny(spark):
    from pyspark.sql import functions as F

    rows = spark.createDataFrame(
        [("a", "p", "b"), ("b", "q", "c"), ("c", "q", "a"), ("a", "p", "c")],
        "subject string, predicate string, object string") \
        .withColumn("subject_type", F.lit("uri")) \
        .withColumn("object_type", F.lit("uri"))
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.graphops import (  # noqa: E501
        predicate_path_stats,
    )
    got = {(r["p1"], r["p2"]): (r["n_paths"], r["n_endpoint_pairs"],
                                r["n_mids"])
           for r in predicate_path_stats(rows).collect()}
    # cyclic closures (start == end) are excluded
    assert got == {("p", "q"): (1, 1, 1),
                   ("q", "q"): (1, 1, 1),
                   ("q", "p"): (1, 1, 1)}


def test_label_embedding_stats_tiny(spark):
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.similarity import (  # noqa: E501
        label_embedding_stats,
    )

    rows = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 0),   # orthogonal pair
         (3, [2.0, 0.0], 1), (4, [4.0, 0.0], 1)],  # colinear pair
        "vec_id bigint, embedding array<float>, label int")
    got = {r["label"]: r for r in label_embedding_stats(rows).collect()}
    # label 0: centroid (.5,.5) norm sqrt(.5); cos(member, centroid) =
    # .5/(1*sqrt(.5)) = sqrt(.5) for both members
    import math
    assert got[0]["n_vecs"] == 2
    assert abs(got[0]["centroid_norm"] - round(math.sqrt(0.5), 6)) < 1e-9
    assert abs(got[0]["mean_cos"] - round(math.sqrt(0.5), 6)) < 1e-9
    # label 1: colinear -> centroid (3,0), every cosine exactly 1
    assert got[1]["n_vecs"] == 2
    assert got[1]["centroid_norm"] == 3.0
    assert got[1]["mean_cos"] == 1.0


def test_gazetteer_ambiguity_flags_rank_ties(spark):
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.gazetteer import (  # noqa: E501
        GAZ_SCHEMA,
        gazetteer_ambiguity,
    )

    gaz = spark.createDataFrame(
        [("glucose", "T1", "name", "chem", "O1", 1),
         ("glucose", "T2", "synonym", "chem", "O1", 2),   # lower-ranked
         ("acid", "T3", "name", "chem", "O1", 1),
         ("acid", "T4", "name", "proc", "O2", 1),          # rank tie!
         ("unique", "T5", "name", "chem", "O1", 1)],
        GAZ_SCHEMA)
    rows = {r["surface"]: r for r in gazetteer_ambiguity(gaz).collect()}
    assert set(rows) == {"glucose", "acid"}   # unique surface excluded
    g = rows["glucose"]
    assert g["n_terms"] == 2 and g["n_best"] == 1 and not g["ambiguous"]
    a = rows["acid"]
    assert (a["n_terms"], a["n_namespaces"], a["n_best"]) == (2, 2, 2)
    assert a["ambiguous"]


def test_provenance_rollup_counts(spark):
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.relations import (  # noqa: E501
        provenance_rollup,
    )

    trips = spark.createDataFrame(
        [("DOC:000001", "is_a"), ("DOC:000001", "is_a"),
         ("DOC:000002", "is_a"), ("DOC:000003", "part_of")],
        "doc_id string, predicate string")
    docs = spark.createDataFrame(
        [(1, "srcA"), (2, "srcA"), (3, "srcB")],
        "doc_id bigint, source string")
    got = {(r["source"], r["predicate"]): (r["n_triples"], r["n_docs"])
           for r in provenance_rollup(trips, docs).collect()}
    assert got == {("srcA", "is_a"): (3, 2), ("srcB", "part_of"): (1, 1)}


def test_degree_histogram_buckets(spark):
    # star: hub degree 4 (bucket 2), leaves degree 1 (bucket 0)
    e = _edges(spark, [("hub", "a"), ("hub", "b"), ("hub", "c"),
                       ("hub", "d")])
    rows = {r["bucket"]: r for r in
            graphops.degree_histogram(e).collect()}
    assert rows[0]["n_nodes"] == 4
    assert rows[0]["min_degree"] == rows[0]["max_degree"] == 1
    assert rows[2]["n_nodes"] == 1
    assert rows[2]["min_degree"] == rows[2]["max_degree"] == 4
    assert set(rows) == {0, 2}


def test_kcore_peel_pendant_chain(spark):
    # K3 (a,b,c) + chain c-x-y: y (deg 1) peels in round 1, x (deg 1
    # once y is gone) in round 2, the triangle survives with degree 2
    e = _edges(spark, [("a", "b"), ("b", "c"), ("a", "c"),
                       ("c", "x"), ("x", "y")])
    rows = {r["node"]: r for r in graphops.kcore_peel(e).collect()}
    assert rows["y"]["peel_round"] == 1 and rows["y"]["core_degree"] == 0
    assert rows["x"]["peel_round"] == 2 and rows["x"]["core_degree"] == 0
    for n in ("a", "b", "c"):
        assert rows[n]["peel_round"] == 0 and rows[n]["core_degree"] == 2


def test_kcore_peel_fixed_rounds_not_converged(spark):
    # a path of 8 nodes strips 2 endpoints per round; after the fixed 3
    # rounds the middle pair is still standing (fixed-round contract,
    # NOT converged-to-empty)
    names = [f"n{i}" for i in range(8)]
    e = _edges(spark, list(zip(names, names[1:])))
    rows = {r["node"]: r for r in graphops.kcore_peel(e).collect()}
    assert rows["n0"]["peel_round"] == 1 and rows["n7"]["peel_round"] == 1
    assert rows["n1"]["peel_round"] == 2 and rows["n6"]["peel_round"] == 2
    assert rows["n2"]["peel_round"] == 3 and rows["n5"]["peel_round"] == 3
    assert rows["n3"]["peel_round"] == 0 and rows["n3"]["core_degree"] == 1
    assert rows["n4"]["peel_round"] == 0 and rows["n4"]["core_degree"] == 1


def test_label_propagation_disjoint_triangles(spark):
    # two disjoint triangles each collapse to their min node id by the
    # second synchronous round (count-then-min-label tie break)
    e = _edges(spark, [("a", "b"), ("b", "c"), ("a", "c"),
                       ("x", "y"), ("y", "z"), ("x", "z")])
    rows = {r["node"]: r["community"]
            for r in graphops.label_propagation(e).collect()}
    assert rows == {"a": "a", "b": "a", "c": "a",
                    "x": "x", "y": "x", "z": "x"}


def test_label_propagation_majority_wins(spark):
    # hub h bonded to clique {a,b}: after round 1 a,b,h all carry 'a'
    # (majority/min); pendant p keeps flipping with h's label
    e = _edges(spark, [("a", "b"), ("a", "h"), ("b", "h")])
    rows = {r["node"]: r["community"]
            for r in graphops.label_propagation(e, n_iter=2).collect()}
    assert rows["a"] == "a" and rows["b"] == "a" and rows["h"] == "a"


def test_neighbor_jaccard_square(spark):
    # 4-cycle a-b-c-d-a: opposite corners share BOTH neighbors
    # (structural equivalence, no direct edge): jaccard 1.0
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")])
    rows = sorted((r["a"], r["b"], r["n_shared"], r["n_union"], r["jaccard"])
                  for r in graphops.neighbor_jaccard(e).collect())
    assert rows == [("a", "c", 2, 2, 1.0), ("b", "d", 2, 2, 1.0)]


def test_neighbor_jaccard_mid_cap_drops_hub(spark):
    # star: 4 leaves share only the hub; with the hub's degree over the
    # df cap no pairs are generated at all (stop-word prefix filter)
    e = _edges(spark, [("h", f"l{i}") for i in range(4)])
    full = graphops.neighbor_jaccard(e, min_shared=1).collect()
    assert len(full) == 6  # C(4,2) leaf pairs through the hub
    capped = graphops.neighbor_jaccard(e, min_shared=1, mid_cap=3).collect()
    assert capped == []


def _pt(spark, rows):
    return spark.createDataFrame(
        rows, "subject string, predicate string, object string")


def test_bgp_optional_bindings(spark):
    # x1 matches the optional, x2 keeps a NULL binding, x3 is
    # excluded by FILTER NOT EXISTS
    t = _pt(spark, [
        ("x1", "located_in", "y1"), ("x1", "catalyzes", "z1"),
        ("x2", "located_in", "y2"),
        ("x3", "located_in", "y3"), ("x3", "part_of", "w1"),
    ])
    rows = {(r.x, r.y, r.z) for r in graphops.bgp_optional(t).collect()}
    assert rows == {("x1", "y1", "z1"), ("x2", "y2", None)}


def test_kg_entailment_joint_fixpoint(spark):
    # (a part_of b), (c has_part b) => canonical chain a->b->c:
    # transitive (a part_of c) AND its flip (c has_part a); plus the
    # one-step inverses (b has_part a) and (b part_of c)
    t = _pt(spark, [("a", "part_of", "b"), ("c", "has_part", "b")])
    for _path in kernel_paths():
        out = {(r.subject, r.predicate, r.object, r.rule)
               for r in graphops.kg_entailment(t).collect()}
        assert ("a", "part_of", "c", "transitive") in out
        assert ("c", "has_part", "a", "transitive") in out
        assert ("b", "has_part", "a", "inverse") in out
        assert ("b", "part_of", "c", "inverse") in out


def test_kg_entailment_suppresses_asserted_and_tolerates_cycles(spark):
    # mutually-asserted inverse pair emits nothing new; an is_a
    # 2-cycle closes (including self-loops) without diverging
    t = _pt(spark, [
        ("p", "regulates", "q"), ("q", "regulated_by", "p"),
        ("u", "is_a", "v"), ("v", "is_a", "u"),
    ])
    for _path in kernel_paths():
        out = {(r.subject, r.predicate, r.object, r.rule)
               for r in graphops.kg_entailment(t).collect()}
        assert not any(s in ("p", "q") for (s, _, _, _) in out)
        assert ("u", "is_a", "u", "transitive") in out
        assert ("v", "is_a", "v", "transitive") in out


def test_kg_entailment_node_bound_is_per_family(monkeypatch, spark):
    """A family over localgraph.NODE_BOUND nodes falls back to the
    distributed loop while a smaller one stays in the driver; the mixed
    run equals both single-path runs."""
    from cspirit_ontology_information_extraction_opus4plan_spark.operators import (  # noqa: E501
        localgraph,
    )

    t = _pt(spark, [("a", "is_a", "b"), ("b", "is_a", "c"),
                    ("c", "is_a", "d"), ("d", "is_a", "b"),
                    ("x", "part_of", "y"), ("z", "has_part", "y")])

    def run():
        return {tuple(r) for r in graphops.kg_entailment(t).collect()}

    want = [run() for _path in kernel_paths()]
    monkeypatch.setattr(localgraph, "NODE_BOUND", 3)
    assert run() == want[0] == want[1]
    assert ("b", "is_a", "b", "transitive") in want[0]
    assert ("x", "part_of", "z", "transitive") in want[0]


_HOSTILE = [
    ("a", "part_of", "b"), ("a", "part_of", "b"),    # duplicates
    ("c", "has_part", "b"), ("b", "has_part", "a"),  # inverse side
    ("u", "is_a", "v"), ("v", "is_a", "w"), ("w", "is_a", "u"),
    ("n", "is_a", None), (None, "is_a", "u"),        # null endpoints
    (None, "part_of", None), (None, "part_of", None),
    ("x", None, "y"), (None, None, None),            # null predicate
    ("p", "regulates", "q"), ("q", "regulated_by", "p"),
    ("r", "catalyzes", None),
]


def test_kg_entailment_hostile_store_on_both_paths(spark):
    """Duplicate rows, null endpoints, a null predicate, an is_a cycle
    and both inverse directions: the driver solve and the distributed
    path give the same rows (nulls included) and the same schema, with
    rule NOT NULL."""
    from collections import Counter

    t = _pt(spark, _HOSTILE)
    got = {}
    for path in kernel_paths():
        df = graphops.kg_entailment(t)
        got[path] = (Counter(tuple(r) for r in df.collect()), df.schema)
    assert got["driver"] == got["distributed"]
    rows, schema = got["driver"]
    assert [f.nullable for f in schema] == [True, True, True, False]
    assert all(n == 1 for n in rows.values())
    assert ("u", "is_a", "u", "transitive") in rows
    assert ("n", "is_a", None, "transitive") in rows
    assert (None, "has_part", None, "inverse") in rows
    assert (None, "catalyzed_by", "r", "inverse") in rows
    assert not any(p is None for _, p, _, _ in rows)
    assert ("b", "has_part", "a", "inverse") not in rows  # asserted


def _maintained(spark, store, removed):
    """(got, want) Counters for both maintenance contracts, store H and
    removed rows R (compared with None == None): retract(H, R) against
    kg_entailment(H - R), and delta(H - R, R) against kg_entailment(H)
    minus kg_entailment(H - R) minus the rows asserted in H."""
    from collections import Counter

    def rows(df):
        return Counter(tuple(r) for r in df.collect())

    kept = [t for t in store if t not in removed]
    full, rest = (rows(graphops.kg_entailment(_pt(spark, s)))
                  for s in (store, kept))
    delta_want = Counter({r: n for r, n in (full - rest).items()
                          if r[:3] not in set(store)})
    retract = rows(graphops.kg_entailment_retract(
        _pt(spark, store), _pt(spark, removed), max_iter=6))
    delta = rows(graphops.kg_entailment_delta(
        _pt(spark, kept), _pt(spark, removed), max_iter=6))
    return (retract, delta), (rest, delta_want)


def test_entailment_maintenance_with_null_endpoints(spark):
    """A null-subject edge into an is_a cycle, and one into a chain:
    kg_entailment_delta and kg_entailment_retract converge and meet
    their contracts on both kernel paths. Each case is (store,
    removed); delta adds the removed rows back to the rest. A null
    endpoint composes nothing: (NULL is_a u), (u is_a w) entail no
    (NULL is_a w)."""
    cycle = [("u", "is_a", "v"), ("v", "is_a", "u"), (None, "is_a", "u")]
    cases = [(cycle + [("v", "is_a", "w")], [("v", "is_a", "w")]),
             (cycle, [("v", "is_a", "u")]),
             ([(None, "is_a", "u"), ("u", "is_a", "w")],
              [("u", "is_a", "w")])]
    for _path in kernel_paths():
        assert len(graphops.kg_entailment(_pt(spark, cycle)).collect()) == 3
        for store, removed in cases:
            got, want = _maintained(spark, store, removed)
            assert got == want, (store, removed)


def test_entailment_retract_of_null_endpoint_rows(spark):
    """Removed rows match the store with None == None: retracting a row
    with a null endpoint (subject or object, plain or through an inverse
    predicate) gives kg_entailment of the store without it, on both
    kernel paths, and a null-endpoint row that stays is kept."""
    from collections import Counter

    cases = [
        ([(None, "is_a", "u"), ("u", "is_a", "w")], [(None, "is_a", "u")]),
        ([("u", "is_a", None), ("w", "is_a", "u")], [("u", "is_a", None)]),
        ([(None, "has_part", "u"), ("u", "part_of", "w")],
         [(None, "has_part", "u")]),
        ([(None, "is_a", "u"), ("u", "is_a", "w"), ("u", "is_a", "x")],
         [("u", "is_a", "x")]),
    ]
    for _path in kernel_paths():
        for store, removed in cases:
            kept = [t for t in store if t not in removed]
            want = Counter(tuple(r) for r in graphops.kg_entailment(
                _pt(spark, kept)).collect())
            got = Counter(tuple(r) for r in graphops.kg_entailment_retract(
                _pt(spark, store), _pt(spark, removed), max_iter=6)
                .collect())
            assert got == want, (_path, store, removed)


def test_entailment_maintenance_on_hostile_store(spark):
    """On the hostile store (duplicates, null endpoints and predicate,
    an is_a cycle, both inverse directions), removing (v is_a w) and
    (a part_of b): retract equals the full recompute and delta emits
    exactly the difference, on both kernel paths."""
    removed = [("v", "is_a", "w"), ("a", "part_of", "b")]
    for _path in kernel_paths():
        (retract, delta), (rest, delta_want) = _maintained(
            spark, _HOSTILE, removed)
        assert retract == rest and sum(rest.values()) == 13
        assert delta == delta_want and sum(delta_want.values()) == 5


def test_entailment_delta_emits_only_delta_consequences(spark):
    old = _pt(spark, [("a", "part_of", "b")])
    delta = _pt(spark, [("b", "part_of", "c")])
    for _path in kernel_paths():
        out = {(r.subject, r.predicate, r.object, r.rule)
               for r in graphops.kg_entailment_delta(old, delta).collect()}
        assert out == {
            ("c", "has_part", "b", "inverse"),
            # the 1-step flip is ALSO derivable transitively (the closure
            # contains its base edge, re-emitted reversed) — one row per
            # rule, same as kg_entailment's provenance contract
            ("c", "has_part", "b", "transitive"),
            ("a", "part_of", "c", "transitive"),
            ("c", "has_part", "a", "transitive"),
        }  # (b has_part a) is an OLD consequence and must not reappear


def test_entailment_delta_composes_multiple_delta_segments(spark):
    # old b->c; delta a->b and c->d: the a->d path crosses TWO delta
    # edges with an old run between them — the semi-naive frontier
    # must compose delta-seeded segments, not just extend once
    old = _pt(spark, [("b", "part_of", "c")])
    delta = _pt(spark, [("a", "part_of", "b"), ("c", "part_of", "d")])
    for _path in kernel_paths():
        out = {(r.subject, r.predicate, r.object, r.rule)
               for r in graphops.kg_entailment_delta(old, delta).collect()}
        assert ("a", "part_of", "d", "transitive") in out
        assert ("a", "part_of", "c", "transitive") in out
        assert ("b", "part_of", "d", "transitive") in out
        assert ("d", "has_part", "a", "transitive") in out


def test_construct_colocated_shared_object_pairs(spark):
    t = _pt(spark, [
        ("a", "located_in", "y"), ("b", "located_in", "y"),
        ("c", "located_in", "y"), ("d", "located_in", "other"),
        ("a", "part_of", "y"),     # wrong predicate: ignored
    ])
    out = {(r.subject, r.predicate, r.object)
           for r in graphops.construct_colocated(t).collect()}
    assert out == {("a", "co_located_with", "b"),
                   ("a", "co_located_with", "c"),
                   ("b", "co_located_with", "c")}


def test_degree_assortativity_star_is_negative(spark):
    # star: hub h with 4 leaves — every edge pairs deg 4 with deg 1,
    # so endpoint degrees are perfectly anticorrelated (r = -1)
    e = _edges(spark, [("h", f"l{i}") for i in range(4)])
    row = graphops.degree_assortativity(e).collect()[0]
    assert row["n_stubs"] == 8
    assert row["assortativity"] == -1.0


def test_random_walks_are_real_paths_and_deterministic(spark):
    # chain a->b->c->d->e plus branch b->x: every emitted hop must be a
    # real edge, steps are contiguous from 0, and two runs are identical
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("b", "x")]
    t = _triples(spark, pairs)
    out = graphops.random_walks(t, n_steps=3).collect()
    edges = set(pairs)
    by_walk: dict[str, dict[int, str]] = {}
    for r in out:
        by_walk.setdefault(r["start"], {})[r["step"]] = r["node"]
    for start, steps in by_walk.items():
        assert steps[0] == start
        assert sorted(steps) == list(range(len(steps)))  # contiguous
        for k in range(1, len(steps)):
            assert (steps[k - 1], steps[k]) in edges
    # 'a' has out-edges for 3 hops whichever way the seed sends it --
    # unless it reaches x (a sink) at step 2 via b->x
    assert len(by_walk["a"]) >= 3
    # sinks emit only their step-0 row via other walks, never start one
    assert "e" not in by_walk and "x" not in by_walk
    again = graphops.random_walks(t, n_steps=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_random_walks_decorrelate_by_start_and_step(spark):
    # star hub h with leaves l1..l6 and back-edges: walks from different
    # starts that pass through h must NOT all pick the same neighbor
    # (the seed includes start), which would collapse the corpus
    leaves = [f"l{i}" for i in range(1, 7)]
    pairs = [("h", leaf) for leaf in leaves] + [(leaf, "h") for leaf in leaves]
    out = graphops.random_walks(_triples(spark, pairs), n_steps=2).collect()
    hop_from_h = {r["start"]: r["node"] for r in out
                  if r["step"] == 2 and r["start"] != "h"}
    # all six leaf-walks sit at h after step 1; step 2 choices must vary
    assert len(hop_from_h) == 6
    assert len(set(hop_from_h.values())) > 1


def test_walk_skipgrams_window_and_counts(spark):
    # hand-built two walks; window 2 pairs counted exactly, both
    # directions, never across walks
    walks = spark.createDataFrame(
        [("w1", 0, "a"), ("w1", 1, "b"), ("w1", 2, "c"), ("w1", 3, "a"),
         ("w2", 0, "x"), ("w2", 1, "y")],
        "start string, step int, node string")
    rows = {(r["center"], r["context"]): r["n_pairs"]
            for r in graphops.walk_skipgrams(walks, window=2).collect()}
    assert rows[("a", "b")] == 2          # a0<->b1 (d1), a3<->b1 (d2)
    assert rows[("b", "a")] == 2
    assert rows[("a", "c")] == 2          # a0<->c2 (d2), a3<->c2 (d1)
    assert rows[("c", "a")] == 2
    assert rows[("b", "c")] == 1 and rows[("c", "b")] == 1
    assert ("a", "a") not in rows         # a0-a3 is d3, outside window
    assert rows[("x", "y")] == 1 and rows[("y", "x")] == 1
    assert ("a", "x") not in rows         # never across walks
    assert sum(rows.values()) == 12


def test_multi_walks_decorrelate_by_walk_id(spark):
    # W=3 walks per start over a branching graph: same schema plus
    # walk_id, each walk a valid path, and at least one start's walks
    # diverge (the seed salt works); W=1 output is unchanged in shape
    pairs = [("a", "b"), ("a", "c"), ("b", "d"), ("b", "e"),
             ("c", "d"), ("c", "e"), ("d", "a"), ("e", "a")]
    t = _triples(spark, pairs)
    out = graphops.random_walks(t, n_steps=3, n_walks=3).collect()
    edges = set(pairs)
    by_walk: dict[tuple, dict[int, str]] = {}
    for r in out:
        by_walk.setdefault((r["start"], r["walk_id"]), {})[r["step"]] \
            = r["node"]
    assert {w for _, w in by_walk} == {0, 1, 2}
    diverged = False
    for (start, wid), steps in by_walk.items():
        assert steps[0] == start
        for k in range(1, len(steps)):
            assert (steps[k - 1], steps[k]) in edges
        if wid > 0 and steps != by_walk[(start, 0)]:
            diverged = True
    assert diverged
    # W=1 keeps the original 3-column schema (no walk_id)
    single = graphops.random_walks(t, n_steps=2)
    assert single.columns == ["start", "step", "node"]


def test_entailment_retract_rederives_surviving_paths(spark):
    # is_a diamond: a->b->c and a->d->c. Retracting (b, c) overdeletes
    # (b,c) and the suspect (a,c); (a,c) must be REDERIVED via a->d->c
    def t(s, o):
        return (s, "is_a", o, "uri", "uri", None, None, 1.0, 1)
    old = spark.createDataFrame(
        [t("a", "b"), t("b", "c"), t("a", "d"), t("d", "c")],
        _triples(spark, []).schema)
    removed = spark.createDataFrame([t("b", "c")], old.schema)
    surviving = old.where("NOT (subject = 'b' AND object = 'c')")
    for _path in kernel_paths():
        got = {(r["subject"], r["predicate"], r["object"], r["rule"])
               for r in graphops.kg_entailment_retract(old, removed)
               .collect()}
        assert ("a", "is_a", "c", "transitive") in got   # rederived
        assert all(s != "b" or o != "c" for s, _, o, _ in got)  # gone
        # exact parity with the full recompute over surviving edges
        want = {(r["subject"], r["predicate"], r["object"], r["rule"])
                for r in graphops.kg_entailment(surviving).collect()}
        assert got == want


def test_node2vec_walks_replay_pure_python(spark):
    # independent replay of the p/q-biased Efraimidis-Spirakis choice
    # (hashlib md5 + IEEE multiply/sqrt) must reproduce every hop
    import hashlib
    import math

    pairs = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
             ("b", "x"), ("c", "y"), ("x", "a"), ("y", "b"),
             ("a", "c")]
    out = graphops.node2vec_walks(_triples(spark, pairs), n_steps=3)
    got = {(r["start"], r["step"]): r["node"] for r in out.collect()}

    ed = set(pairs)
    succ: dict[str, list[str]] = {}
    for s, o in pairs:
        succ.setdefault(s, []).append(o)

    def u_of(start, k, node, x):
        h = hashlib.md5(f"{start}:{k}:{node}:{x}".encode()).hexdigest()
        return int(h[:12], 16) / float(16 ** 12)

    want = {}
    for start in sorted(succ):
        prev, node = start, start
        want[(start, 0)] = start
        for k in range(1, 4):
            cands = succ.get(node)
            if not cands:
                break

            def score(x):
                u = u_of(start, k, node, x)
                if x == prev:
                    return u * u
                if (prev, x) in ed:
                    return u
                return math.sqrt(u)

            nxt = max(cands, key=lambda x: (score(x), x))
            want[(start, k)] = nxt
            prev, node = node, nxt
    assert got == want
    # the bias must actually bite somewhere: at least one hop differs
    # from the UNBIASED (first-order) walk over the same graph
    plain = {(r["start"], r["step"]): r["node"]
             for r in graphops.random_walks(
                 _triples(spark, pairs), n_steps=3).collect()}
    assert any(plain.get(key) != got.get(key) for key in got)


def test_scc_labels_planted_knots(spark):
    """Two planted SCCs (a 3-cycle and a 2-knot) inside an acyclic
    tail: members share the least-id label, the rest are singletons."""
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.graphops import (
        scc_labels,
    )
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"),       # SCC {a,b,c}
         ("c", "d"), ("d", "e"),                   # acyclic tail
         ("x", "y"), ("y", "x"),                   # SCC {x,y}
         ("e", "x")],                              # bridge into the knot
        "src string, dst string")
    out = {r["node"]: (r["scc_id"], r["scc_size"])
           for r in scc_labels(edges).collect()}
    assert out["a"] == out["b"] == out["c"] == ("a", 3)
    assert out["x"] == out["y"] == ("x", 2)
    assert out["d"] == ("d", 1) and out["e"] == ("e", 1)
    assert len(out) == 7


def test_scc_labels_nested_pivot_rounds(spark):
    """An SCC whose min label is NOT the color pivot of round 1:
    z1<->z2 both reach the smaller 'a' cycle, so round 1 colors them
    'a' without marking them — the outer loop must claim them in a
    later pivot round."""
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.graphops import (
        scc_labels,
    )
    edges = spark.createDataFrame(
        [("z1", "z2"), ("z2", "z1"), ("z1", "a"),
         ("a", "b"), ("b", "a")],
        "src string, dst string")
    out = {r["node"]: (r["scc_id"], r["scc_size"])
           for r in scc_labels(edges).collect()}
    assert out["a"] == out["b"] == ("a", 2)
    assert out["z1"] == out["z2"] == ("z1", 2)


def test_topo_layers_longest_path_not_min_depth(spark):
    """Diamond with a long arm: layer must be the LONGEST root path
    (d sits at layer 3 via the long arm even though a 1-hop path
    exists), and a planted cycle must raise instead of converging."""
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.graphops import (
        topo_longest_path_layers,
    )
    # edges are (child, parent): r is the root
    edges = spark.createDataFrame(
        [("a", "r"), ("b", "a"), ("c", "b"),   # long arm r<-a<-b<-c
         ("c", "r")],                          # shortcut r<-c
        "src string, dst string")
    out = {r["node"]: r["layer"]
           for r in topo_longest_path_layers(edges).collect()}
    assert out == {"r": 0, "a": 1, "b": 2, "c": 3}

    import pytest as _pytest
    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string")
    with _pytest.raises(RuntimeError, match="cycle"):
        topo_longest_path_layers(cyc, max_rounds=6)


def test_condensation_is_acyclic_and_contracts(spark):
    """Condensing a graph with knots yields a DAG (topo layering
    converges) whose vertices are SCC labels."""
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.graphops import (
        condensation_edges, scc_labels, topo_longest_path_layers,
    )
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"),   # SCC {a,b,c}
         ("c", "d"), ("d", "e"), ("e", "d"),   # SCC {d,e} downstream
         ("e", "f")],
        "src string, dst string")
    labels = scc_labels(edges)
    cond = condensation_edges(edges, labels).collect()
    got = {(r["c_src"], r["c_dst"]): r["n_edges"] for r in cond}
    assert got == {("a", "d"): 1, ("d", "f"): 1}
    # provably acyclic: the layering fixpoint exists; with edges read
    # as (child, parent), f is the root: a -> d -> f
    layers = {r["node"]: r["layer"] for r in topo_longest_path_layers(
        spark.createDataFrame(
            [(s, d) for (s, d) in got], "src string, dst string")
    ).collect()}
    assert layers == {"f": 0, "d": 1, "a": 2}


def test_bisimulation_splits_on_structure(spark):
    """Nodes with identical labeled out-neighborhood signatures share
    a block; structurally different nodes in the same namespace
    split; blocks refine namespaces."""
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.graphops import (
        bisimulation_blocks,
    )
    def t(s, p, o):
        return (s, p, o, "uri", "uri")
    tr = spark.createDataFrame(
        [t("A:1", "is_a", "B:9"), t("A:2", "is_a", "B:8"),  # bisimilar
         t("A:3", "part_of", "B:9"),                        # different label
         t("C:1", "is_a", "B:9")],                          # different ns
        "subject string, predicate string, object string, "
        "subject_type string, object_type string")
    out = {r["node"]: r for r in bisimulation_blocks(tr).collect()}
    assert out["A:1"]["block"] == out["A:2"]["block"]
    assert out["A:1"]["block_size"] == 2
    assert out["A:3"]["block"] != out["A:1"]["block"]
    assert out["C:1"]["block"] != out["A:1"]["block"]
    # sinks B:8/B:9 share the B-namespace empty-signature block
    assert out["B:8"]["block"] == out["B:9"]["block"]


def test_explain_paths_witness_semantics(spark):
    """Witness path must be the round-greedy (dist, path)-min, use
    ^inverse labels for backward hops, and respect hop minimality."""
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.graphops import (
        explain_paths,
    )
    def t(s, p, o):
        return (s, p, o, "uri", "uri")
    tr = spark.createDataFrame(
        [t("S:1", "is_a", "M:1"), t("M:1", "part_of", "T:1"),
         t("T:2", "regulates", "S:1"),       # reachable only backward
         t("S:1", "affects", "T:1")],        # 1-hop shortcut to T:1
        "subject string, predicate string, object string, "
        "subject_type string, object_type string")
    out = {r["node"]: r for r in explain_paths(tr, src="S:1").collect()}
    assert out["T:1"]["dist"] == 1                 # shortcut wins
    assert out["T:1"]["path"] == "S:1 -affects-> T:1"
    assert out["M:1"]["path"] == "S:1 -is_a-> M:1"
    assert out["T:2"]["path"] == "S:1 -^regulates-> T:2"
