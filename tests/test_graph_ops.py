"""General cycle detection: exact chains for planted variable-length
cycles; canonical-rotation uniqueness."""

from __future__ import annotations

import pytest

from cspirit_ontology_information_extraction_opus4plan_spark.operators import (
    ontology_algebra as OA,
)


def test_cycle_chains_finds_planted_cycles_once(spark):
    edges = spark.createDataFrame(OA.PLANTED_CYCLE + OA.PLANTED_CHAINS,
                                  "src string, dst string")
    rows = OA.cycle_chains(edges).collect()
    chains = sorted((r["chain"], r["cycle_len"]) for r in rows)
    assert chains == [
        ("CYC:1->CYC:2->CYC:3", 3),
        ("CYD:1->CYD:2", 2),
        ("CYE:1->CYE:2->CYE:3->CYE:4", 4),
        ("CYF:1->CYF:2->CYF:3->CYF:4->CYF:5", 5),
    ]


def test_cycle_chains_ignores_acyclic_edges(spark):
    edges = spark.createDataFrame(
        [("A:1", "A:2"), ("A:2", "A:3"), ("A:1", "A:3")],
        "src string, dst string")
    assert OA.cycle_chains(edges).count() == 0


def test_has_directed_cycle_raises_when_peeling_runs_out(spark):
    """An acyclic chain longer than max_iter cannot be peeled in time:
    that must raise, not report a cycle. With enough rounds the chain is
    acyclic, and closing it into a ring makes it cyclic."""
    import pytest

    n = 40
    chain = [(f"K:{i}", f"K:{i + 1}") for i in range(n)]
    rels = spark.createDataFrame(chain, "subject string, object string")
    with pytest.raises(RuntimeError, match="max_iter=32"):
        OA._has_directed_cycle(rels)
    assert OA._has_directed_cycle(rels, max_iter=64).first()[0] == 0
    ring = spark.createDataFrame(chain + [(f"K:{n}", "K:0")],
                                 "subject string, object string")
    assert OA._has_directed_cycle(ring).first()[0] == 1


@pytest.mark.parametrize("op", ["dependency_closure", "ancestor_closure",
                                "bfs_depths"])
def test_fixpoint_verification_round_boundary(spark, op):
    """fixpoint runs max_iter productive rounds plus one verification
    round: with max_iter=3 a 3-edge is_a chain closes completely, and a
    4-edge chain raises, naming the operator and max_iter."""
    def run(n):
        ids = [f"C:{i}" for i in range(n + 1)]
        terms = spark.createDataFrame([(i, i, "C") for i in ids],
                                      "id string, name string, "
                                      "ontology_id string")
        rels = spark.createDataFrame(
            [(ids[i], "is_a", ids[i + 1]) for i in range(n)],
            "subject string, predicate string, object string")
        if op == "dependency_closure":
            seeds = spark.createDataFrame([("C:0",)], "id string")
            return ({r.id for r in OA.dependency_closure(
                terms, rels, seeds, max_iter=3).collect()}, set(ids))
        if op == "ancestor_closure":
            return ({tuple(r) for r in OA.ancestor_closure(
                terms, rels, max_iter=3).collect()},
                {(a, b) for i, a in enumerate(ids) for b in ids[i:]})
        return ({tuple(r) for r in OA.bfs_depths(
            terms, rels, max_iter=3).collect()},
            {(x, n - i) for i, x in enumerate(ids)})

    got, want = run(3)
    assert got == want
    with pytest.raises(RuntimeError, match=rf"{op} .*max_iter=3 "):
        run(4)


# --- triple-store maintenance ops (round 3) ---------------------------------


def test_merge_upsert_actions(spark):
    """Hand-checkable MERGE: null-safe keys, max-merge of evidence."""
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.relations import (  # noqa: E501
        merge_triples_incremental,
    )

    schema = ("subject string, predicate string, object string, "
              "subject_type string, object_type string, "
              "object_datatype string, object_language string, "
              "confidence double, support long")
    # note row A carries NULL datatype/language — must match null-safely
    existing = spark.createDataFrame([
        ("A", "is_a", "B", "uri", "uri", None, None, 0.9, 1),
        ("C", "is_a", "D", "uri", "uri", None, None, 1.0, 2),
        ("E", "is_a", "F", "uri", "uri", None, None, 1.0, 1),
    ], schema)
    incoming = spark.createDataFrame([
        ("A", "is_a", "B", "uri", "uri", None, None, 1.0, 1),   # conf up
        ("C", "is_a", "D", "uri", "uri", None, None, 1.0, 2),   # same
        ("G", "is_a", "H", "uri", "uri", None, None, 0.9, 1),   # new
    ], schema)
    got = {(r["subject"]): (r["action"], r["confidence"], r["support"])
           for r in merge_triples_incremental(existing, incoming)
           .collect()}
    assert got == {
        "A": ("update", 1.0, 1),
        "C": ("unchanged", 1.0, 2),
        "E": ("unchanged", 1.0, 1),   # re-crawl does not delete
        "G": ("insert", 0.9, 1),
    }


def test_negative_samples_contract(spark, sf_dir):
    from cspirit_ontology_information_extraction_opus4plan_spark import (
        api,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.relations import (  # noqa: E501
        NEG_SAMPLES_K,
    )

    neg = api.q_kg_negative_samples(spark, sf_dir)
    rows = neg.collect()
    assert rows
    true = {(r["subject"], r["predicate"], r["object"])
            for r in api.q_triples_dedup(spark, sf_dir)
            .select("subject", "predicate", "object").collect()}
    seen = {}
    for r in rows:
        # never an accidental positive, never a self-loop
        assert (r["subject"], r["predicate"], r["neg_object"]) not in true
        assert r["neg_object"] != r["subject"]
        assert r["neg_object"] != r["object"]
        assert 0 <= r["sample_idx"] < NEG_SAMPLES_K
        key = (r["subject"], r["predicate"], r["object"], r["sample_idx"])
        assert key not in seen   # at most one candidate per slot
        seen[key] = r["neg_object"]
    # deterministic across runs
    again = {(r["subject"], r["predicate"], r["object"], r["sample_idx"]):
             r["neg_object"] for r in neg.collect()}
    assert again == seen


def test_hard_negatives_type_consistent(spark, sf_dir):
    """Every hard negative stays in the true object's namespace, never
    reproduces a real triple, and the assignment is deterministic."""
    from cspirit_ontology_information_extraction_opus4plan_spark import api

    rows = api.q_kg_hard_negatives(spark, sf_dir).collect()
    assert rows
    true = {(r["subject"], r["predicate"], r["object"])
            for r in api.q_triples_dedup(spark, sf_dir)
            .select("subject", "predicate", "object").collect()}
    for r in rows:
        assert r["neg_object"].split(":")[0] == r["object"].split(":")[0]
        assert (r["subject"], r["predicate"], r["neg_object"]) not in true
        assert r["neg_object"] not in (r["subject"], r["object"])


def test_media_content_dedup_refcounts(spark, sf_dir):
    """Refcounts partition the media rows exactly, and the keeper is
    the minimum ref of its group."""
    from cspirit_ontology_information_extraction_opus4plan_spark import api
    from cspirit_ontology_information_extraction_opus4plan_spark.api import (
        spans_exploded,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.multimodal import (  # noqa: E501
        media_spans,
    )

    out = api.q_media_content_dedup(spark, sf_dir)
    total = media_spans(spans_exploded(spark, sf_dir)).count()
    got = out.agg({"n_refs": "sum"}).first()[0]
    assert got == total


def test_bm25_rank_order(spark, sf_dir):
    """Ranks are 1..k dense in (score desc, doc_id asc) order."""
    from cspirit_ontology_information_extraction_opus4plan_spark import api

    rows = api.q_doc_bm25_search(spark, sf_dir).collect()
    assert rows
    rows.sort(key=lambda r: r["rank"])
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    keys = [(-r["score"], r["doc_id"]) for r in rows]
    assert keys == sorted(keys)


# --- hierarchy QC + similarity (round 3) -------------------------------------


def test_transitive_reduction_flags_planted_shortcuts(spark):
    """Hand-built chain a->b->c->d plus shortcuts a->c (2-step) and
    a->d (3-step): exactly the shortcuts are redundant."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("a", "d")],
        "src string, dst string")
    got = {(r["src"], r["dst"]): r["redundant"]
           for r in OA.transitive_reduction(edges).collect()}
    assert got == {("a", "b"): False, ("b", "c"): False, ("c", "d"): False,
                   ("a", "c"): True, ("a", "d"): True}


def test_transitive_reduction_terminates_on_cycle(spark):
    """Cyclic input must converge (finite pair set): every edge of a
    3-cycle is implied by going the long way around."""
    edges = spark.createDataFrame(
        [("x", "y"), ("y", "z"), ("z", "x")], "src string, dst string")
    rows = OA.transitive_reduction(edges).collect()
    assert len(rows) == 3 and all(r["redundant"] for r in rows)


def test_wu_palmer_hand_values(spark):
    """Two-level tree: root r; a,b under r; c under a. Depths r=0,
    a=b=1, c=2. sim(a,b)=2*1/4=0.5; sim(c,b)=2*1/5=0.4; sim(c,c)=1."""
    terms = spark.createDataFrame(
        [(t, t, "T") for t in ("r", "a", "b", "c")],
        "id string, name string, ontology_id string")
    rels = spark.createDataFrame(
        [("a", "is_a", "r"), ("b", "is_a", "r"), ("c", "is_a", "a")],
        "subject string, predicate string, object string")
    pairs = spark.createDataFrame(
        [("a", "b"), ("c", "b"), ("c", "c")], "a string, b string")
    got = {(r["a"], r["b"]): (r["lca_depth"], round(r["similarity"], 6))
           for r in OA.wu_palmer_similarity(terms, rels, pairs).collect()}
    assert got == {("a", "b"): (0, 0.5),
                   ("c", "b"): (0, 0.4),
                   ("c", "c"): (2, 1.0)}
