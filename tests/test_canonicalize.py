"""Connected-components canonicalization invariants (north_star: CC with
salted keys; reference analogs cited in operators/canonicalize.py)."""

from __future__ import annotations

from collections import Counter

import pytest

from cspirit_ontology_information_extraction_opus4plan_spark.operators.canonicalize import (
    canonical_mapping,
    connected_components,
    equivalence_edges,
    equivalence_star_edges,
)
from cspirit_ontology_information_extraction_opus4plan_spark.operators.gazetteer import (
    terms_df,
)

from .conftest import kernel_paths


@pytest.fixture(scope="module")
def mappings(spark):
    """The ontology's canonical mapping, computed on each kernel path."""
    return {path: {r["id"]: r["canonical_id"]
                   for r in canonical_mapping(terms_df(spark)).collect()}
            for path in kernel_paths()}


def test_mapping_total_and_idempotent(spark, mappings):
    """Every term maps; canonical ids are fixpoints (comp(comp(x))==comp(x));
    canonical id is the min of its own component (deterministic); both
    kernel paths give the same mapping."""
    n_terms = terms_df(spark).count()
    assert mappings["driver"] == mappings["distributed"]
    mapping = mappings["driver"]
    assert len(mapping) == n_terms
    for tid, comp in mapping.items():
        assert mapping[comp] == comp
        assert comp <= tid


def test_shared_synonym_merges(mappings):
    """glucose (CHEBI:10001) and fructose share synonym 'hexose sugar'
    (ontology_data._SYNONYMS) -> same component (1:N synonym index,
    reference models.py:2886)."""
    from cspirit_ontology_information_extraction_opus4plan_spark import (
        ontology_data as OD,
    )
    by_name = {t["name"]: t["id"] for t in OD.terms()}
    for mapping in mappings.values():
        assert mapping[by_name["glucose"]] == mapping[by_name["fructose"]]


def test_replaced_by_merges(mappings):
    """Obsolete terms join their replacement's component
    (Term.replaced_by, models.py:246)."""
    from cspirit_ontology_information_extraction_opus4plan_spark import (
        ontology_data as OD,
    )
    obs = [t for t in OD.terms() if t["is_obsolete"]]
    assert obs, "fixture must contain obsolete terms"
    for mapping in mappings.values():
        for t in obs:
            assert mapping[t["id"]] == mapping[t["replaced_by"]]


def test_cc_on_path_graph(spark):
    """Label propagation reaches the far end of a path (diameter 5) and a
    disjoint singleton keeps its own id; salt buckets don't affect the
    result (semantic invariance of the two-phase min)."""
    nodes = spark.createDataFrame([(f"N:{i}",) for i in range(7)], "id string")
    edges = spark.createDataFrame(
        [(f"N:{i}", f"N:{i+1}") for i in range(5)], "src string, dst string")
    for _path in kernel_paths():
        for salt in (1, 4):
            got = {r["id"]: r["canonical_id"]
                   for r in connected_components(
                       nodes, edges, salt_buckets=salt).collect()}
            assert got == {**{f"N:{i}": "N:0" for i in range(6)},
                           "N:6": "N:6"}


def test_cc_cycle_isolated_nulls_and_outside_endpoints(spark):
    """A cycle whose min id is not where the edges start, an isolated
    node, an edge to a node outside ``nodes`` (it must not bridge two
    components through that outsider), null endpoints and a null node
    id: both kernel paths give the same answer."""
    nodes = spark.createDataFrame(
        [("c3",), ("c1",), ("c2",), ("iso",), ("x1",), ("x2",), (None,)],
        "id string")
    edges = spark.createDataFrame(
        [("c3", "c2"), ("c2", "c1"), ("c1", "c3"),
         ("x1", "ghost"), ("ghost", "x2"),
         ("iso", None), (None, "c1"), (None, None)],
        "src string, dst string")
    want = {("c1", "c1"), ("c2", "c1"), ("c3", "c1"), ("iso", "iso"),
            ("x1", "x1"), ("x2", "x2"), (None, None)}
    for _path in kernel_paths():
        rows = connected_components(nodes, edges).collect()
        assert len(rows) == len(want)
        assert {(r["id"], r["canonical_id"]) for r in rows} == want


def test_cc_kernel_path_switch(spark):
    """As shipped, an ontology-sized graph is solved in the driver and
    comes back as a local relation; with the bounds at 0 the distributed
    loop runs instead."""
    nodes = spark.createDataFrame([("a",), ("b",)], "id string")
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    plans = {}
    for path in kernel_paths():
        cc = connected_components(nodes, edges)
        plans[path] = cc._jdf.queryExecution().executedPlan().toString()
        assert {tuple(r) for r in cc.collect()} == {("a", "a"), ("b", "a")}
    assert plans["driver"].strip().startswith("LocalTableScan")
    assert "LocalTableScan" not in plans["distributed"]


def test_edges_are_ordered_unique(spark):
    df = equivalence_edges(terms_df(spark))
    rows = df.collect()
    assert len(rows) == len({(r["src"], r["dst"]) for r in rows})
    assert all(r["src"] < r["dst"] for r in rows)


def test_incremental_components_merges_and_passthrough(spark):
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.canonicalize import (  # noqa: E501
        incremental_components,
    )

    # old state: components {B,C} (label B), {D,E} (label D), {Z}
    old = spark.createDataFrame(
        [("B", "B"), ("C", "B"), ("D", "D"), ("E", "D"), ("Z", "Z")],
        "id string, canonical_id string")
    # delta: new nodes A (bridges into B-comp) and Q (isolated);
    # plus an old-old edge B-E merging the two old components
    new_ids = spark.createDataFrame([("A",), ("Q",)], "id string")
    new_edges = spark.createDataFrame(
        [("A", "C"), ("B", "E")], "src string, dst string")
    for _path in kernel_paths():
        got = {r["id"]: r["canonical_id"]
               for r in incremental_components(old, new_ids,
                                               new_edges).collect()}
        assert got == {"A": "A", "B": "A", "C": "A", "D": "A", "E": "A",
                       "Z": "Z", "Q": "Q"}


def test_decremental_components_resolves_splits(spark):
    """Removing the bridging term must SPLIT its component (deletion is
    not a relabel); untouched components pass through identically."""
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.canonicalize import (  # noqa: E501
        decremental_components,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.gazetteer import (  # noqa: E501
        TERMS_SCHEMA,
    )

    def term(tid, name, syns):
        return (tid, name, "", syns, "ns", False, "", [], [], [], "O1")

    terms = spark.createDataFrame(
        [  # chain: T1 -s1- T2 -s2- T3 (T2 is the bridge)
         term("T1", "alpha", ["s1"]),
         term("T2", "beta", ["s1", "s2"]),
         term("T3", "gamma", ["s2"]),
         # untouched pair
         term("T8", "delta", ["s9"]),
         term("T9", "epsilon", ["s9"])],
        TERMS_SCHEMA)
    removed = spark.createDataFrame([("T2",)], "id string")
    for _path in kernel_paths():
        old = canonical_mapping(terms)
        assert {r["canonical_id"] for r in old.collect()} == {"T1", "T8"}
        got = {r["id"]: r["canonical_id"]
               for r in decremental_components(old, terms,
                                               removed).collect()}
        # T2 gone; the chain split: T1 and T3 now own separate components
        assert set(got) == {"T1", "T3", "T8", "T9"}
        assert got["T1"] == "T1" and got["T3"] == "T3"
        assert got["T8"] == "T8" and got["T9"] == "T8"
        # parity with the full recompute over surviving terms
        want = {r["id"]: r["canonical_id"]
                for r in canonical_mapping(
                    terms.filter(terms["id"] != "T2")).collect()}
        assert got == want


def _hostile_terms(spark):
    """Terms that stress the key normalisation and the id handling."""
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.gazetteer import (  # noqa: E501
        TERMS_SCHEMA,
    )

    def term(tid, name, syns=(), xrefs=(), obsolete=False, repl=None):
        return (tid, name, "", None if syns is None else list(syns), "ns",
                obsolete, repl, [], list(xrefs), [], "O1")

    return spark.createDataFrame([
        term("T1", "Alpha", ["shared"], ["X:1"]),
        term("T2", " alpha "),               # same surface after trim
        term(None, "orphan", ["shared"]),    # null id: joins nothing
        term("T3", "gamma", ["g1"]),         # duplicate id, two rows
        term("T3", "gamma", ["link4"]),
        term("T4", "delta", ["link4"]),
        term("T5", "epsilon", None, ["X:5"]),  # null synonyms array
        term("T6", "EPSILON"),
        term("T7", ""),                      # blank names never fuse
        term("T8", "   "),
        term("T0", "", [" "]),
        term("T9", "X:9"),                   # surface 'x:9' ...
        term("TA", "kappa", xrefs=["x:9"]),  # ... is not xref 'x:9'
        term("TB", "obs1", obsolete=True, repl="GHOST"),  # outside terms
        term("TC", "obs2", obsolete=True, repl="TD"),     # a chain
        term("TD", "obs3", obsolete=True, repl="TE"),
        term("TE", "live"),
        term("TF", "lambda", xrefs=["X:1"]),  # shares T1's xref
    ], TERMS_SCHEMA)


def test_canonical_mapping_hostile_terms_on_both_paths(spark):
    """On hostile terms the driver solve (components over shared keys),
    the distributed loop, and equivalence_star_edges + CC all agree, row
    for row and in schema; a surface never merges with an equal xref."""
    terms = _hostile_terms(spark)
    answers = {}
    for path in kernel_paths():
        for how, df in (
                ("mapping", canonical_mapping(terms)),
                ("star", connected_components(
                    terms.select("id"), equivalence_star_edges(terms)))):
            answers[path, how] = (
                Counter(tuple(r) for r in df.collect()), df.schema)
    got = answers["driver", "mapping"]
    assert all(a == got for a in answers.values()), answers
    m = got[0]
    assert m == Counter({
        ("T1", "T1"): 1, ("T2", "T1"): 1, ("TF", "T1"): 1,
        ("T3", "T3"): 2, ("T4", "T3"): 1, (None, None): 1,
        ("T5", "T5"): 1, ("T6", "T5"): 1,
        ("T7", "T7"): 1, ("T8", "T8"): 1, ("T0", "T0"): 1,
        ("T9", "T9"): 1, ("TA", "TA"): 1,
        ("TB", "TB"): 1, ("TC", "TC"): 1, ("TD", "TC"): 1,
        ("TE", "TC"): 1})


def test_cc_bigint_ids_on_both_paths(spark):
    """Bigint ids (negative, past 2^31, duplicated, null) keep their type
    and their numeric min on both kernel paths."""
    big = 2 ** 40
    nodes = spark.createDataFrame(
        [(-5,), (3,), (big,), (big,), (7,), (None,), (2 ** 31 + 1,)],
        "id bigint")
    edges = spark.createDataFrame(
        [(big, -5), (7, 3), (7, 99), (None, 3)], "src bigint, dst bigint")
    want = {(-5, -5): 1, (big, -5): 2, (3, 3): 1, (7, 3): 1,
            (None, None): 1, (2 ** 31 + 1, 2 ** 31 + 1): 1}
    for _path in kernel_paths():
        cc = connected_components(nodes, edges)
        assert dict(cc.dtypes) == {"id": "bigint", "canonical_id": "bigint"}
        assert Counter(tuple(r) for r in cc.collect()) == want
