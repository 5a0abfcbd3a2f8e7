"""Invariants of the deterministic mini-ontology (the properties that make
Spark / pandas-oracle / DuckDB matching semantics provably identical)."""

import re

from cspirit_ontology_information_extraction_opus4plan_spark import (
    ontology_data as OD,
)

ID_RE = re.compile(r"^[A-Za-z]+:\d+$")  # reference models.py:298/:977


def test_term_ids_valid_and_unique():
    ts = OD.terms()
    ids = [t["id"] for t in ts]
    assert len(ids) == len(set(ids))
    assert all(ID_RE.match(i) for i in ids)
    assert len(ts) >= 400


def test_relationship_invariants():
    ts = {t["id"] for t in OD.terms()}
    rels = OD.relationships()
    assert all(ID_RE.match(r["id"]) for r in rels)
    assert all(0.0 <= r["confidence"] <= 1.0 for r in rels)
    # no self-loops (models.py:1083)
    assert all(r["subject"] != r["object"] for r in rels)
    assert all(r["predicate"] in OD.PREDICATES for r in rels)
    # deliberate dangling refs exist (validators target)
    dangling = [r for r in rels if r["object"] not in ts]
    assert len(dangling) >= 2
    # deliberate exact duplicate exists
    spo = [(r["subject"], r["predicate"], r["object"]) for r in rels]
    assert len(spo) != len(set(spo))


def test_inverse_map_is_involution():
    for k, v in OD.INVERSE_PREDICATES.items():
        assert OD.INVERSE_PREDICATES[v] == k
        assert k in OD.PREDICATES and v in OD.PREDICATES
    assert "is_a" not in OD.INVERSE_PREDICATES


def test_surfaces_regex_safe():
    for s in OD.surfaces():
        assert re.fullmatch(r"[a-z0-9 ]+", s), s
        assert s == s.strip()


def test_surfaces_token_substring_free():
    """No surface's token sequence is a contiguous subsequence of another's.
    This makes leftmost-longest matching == word-boundary containment, so
    the Arrow NER stage, Python re, and DuckDB RE2 agree exactly."""
    toks = {s: tuple(s.split()) for s in OD.surfaces()}
    surfs = list(toks)
    for a in surfs:
        ta = toks[a]
        for b in surfs:
            if a == b:
                continue
            tb = toks[b]
            if len(ta) > len(tb):
                continue
            for i in range(len(tb) - len(ta) + 1):
                assert tb[i:i + len(ta)] != ta, (
                    f"surface {a!r} is a token-substring of {b!r}")


def test_surfaces_never_straddle_a_phrase():
    """relations.ENDPOINTS scans the text before and after the predicate
    phrase apart; that finds the whole text's mentions only if no
    surface match can overlap a phrase occurrence. So no token suffix
    of a surface is a token prefix of a phrase or the reverse, and
    neither contains the other's tokens ('provitamin a' shares the
    token 'a' with 'is a' but cannot straddle it)."""
    def contains(a: tuple, b: tuple) -> bool:
        return any(a[i:i + len(b)] == b for i in range(len(a) - len(b) + 1))

    for s in OD.surfaces():
        ts = tuple(s.split())
        for ph, _ in OD.PREDICATE_PHRASES:
            tp = tuple(ph.split())
            for k in range(1, min(len(ts), len(tp)) + 1):
                assert ts[-k:] != tp[:k], (s, ph)
                assert tp[-k:] != ts[:k], (s, ph)
            assert not contains(ts, tp) and not contains(tp, ts), (s, ph)


def test_shared_synonym_is_ambiguous():
    gaz = OD.gazetteer()
    owners = {g["term_id"] for g in gaz if g["surface"] == "hexose sugar"}
    assert len(owners) == 2  # exercises the 1:N synonym join


def test_gazetteer_excludes_obsolete():
    obsolete = {t["id"] for t in OD.terms() if t["is_obsolete"]}
    assert obsolete  # some exist
    assert not obsolete & {g["term_id"] for g in OD.gazetteer()}


# --- triple-validation rule tables ------------------------------------------

# the reference's validate_domain_constraints control flow
# (models.py:1317-1452): three per-subject-prefix dicts checked first,
# fall-through to a cross-domain dict, default True. Transcribed here as
# DATA so the flattened DOMAIN_RULES can be proven lookup-equivalent.
_REF_CHEM = {
    "is_a": ["CHEBI"], "derives_from": ["CHEBI"], "regulates": ["GO"],
    "upregulates": ["GO"], "downregulates": ["GO"],
    "participates_in": ["GO"], "located_in": ["GO", "PO"],
    "accumulates_in": ["GO", "PO"], "affects": ["GO"], "has_role": ["GO"],
    "involved_in": ["GO"], "made_via": ["GO"],
}
_REF_PLANT = {
    "is_a": ["PO"], "part_of": ["PO"], "has_part": ["PO"],
    "derives_from": ["PO"], "derives_to": ["PO"], "develops_from": ["PO"],
    "contains": ["CHEBI"], "accumulates": ["CHEBI"],
}
_REF_GO = {
    "is_a": ["GO"], "part_of": ["GO"], "has_part": ["GO"],
    "regulates": ["GO"], "regulated_by": ["GO", "CHEBI"],
    "positively_regulates": ["GO"], "negatively_regulates": ["GO"],
    "upregulated_by": ["GO", "CHEBI"], "downregulated_by": ["GO", "CHEBI"],
    "catalyzed_by": ["GO"], "occurs_in": ["GO", "PO"],
    "contains": ["CHEBI", "GO"],
}
_REF_CROSS = {
    "located_in": {"CHEBI": ["GO", "PO"]},
    "contains": {"GO": ["CHEBI"], "PO": ["CHEBI"]},
    "accumulates_in": {"CHEBI": ["GO", "PO"]},
    "accumulates": {"GO": ["CHEBI"], "PO": ["CHEBI"]},
    "occurs_in": {"GO": ["GO", "PO"]},
}


def _ref_domain_ok(sp: str, pred: str, op: str) -> bool:
    if sp == "CHEBI" and pred in _REF_CHEM:
        return op in _REF_CHEM[pred]
    if sp == "PO" and pred in _REF_PLANT:
        return op in _REF_PLANT[pred]
    if sp == "GO":
        if pred in _REF_GO:
            return op in _REF_GO[pred]
        if pred == "catalyzes":  # special case, models.py:1421
            return op == "GO"
    if pred in _REF_CROSS and sp in _REF_CROSS[pred]:
        return op in _REF_CROSS[pred][sp]
    return True


_GRID_PREFIXES = ["CHEBI", "GO", "PO", "NCIT", "TAXON"]
_GRID_PREDICATES = sorted(
    set(OD.PREDICATES) | {p for _, p in OD.DOMAIN_RULES}
    | {"develops_from", "positively_regulates", "negatively_regulates",
       "frobnicates"})


def test_domain_rules_flattening_equivalent_to_reference_control_flow():
    """DOMAIN_RULES (flat key->membership, absent->True) must agree with
    the reference's nested first-match control flow on the full
    prefix x predicate x prefix grid."""
    for sp in _GRID_PREFIXES:
        for pred in _GRID_PREDICATES:
            for op in _GRID_PREFIXES:
                flat = (op in OD.DOMAIN_RULES[(sp, pred)]
                        if (sp, pred) in OD.DOMAIN_RULES else True)
                assert flat == _ref_domain_ok(sp, pred, op), \
                    (sp, pred, op)


def test_semantic_rules_cover_every_predicate():
    """All 23 closed-vocabulary predicates carry explicit semantic
    combos (models.py:1142-1310 defines rules for the whole set), and
    every combo uses known namespace prefixes."""
    assert set(OD.SEMANTIC_RULES) == set(OD.PREDICATES)
    known = {"CHEBI", "GO", "PO", "NCIT"}
    for pairs in OD.SEMANTIC_RULES.values():
        for s, o in pairs:
            assert s in known and o in known


def test_triple_semantics_expression_matches_rule_grid(spark):
    """The compiled IN-list expressions reproduce the rule-table
    verdicts on the full grid, including empty-prefix ids (no colon)
    and empty fields."""
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.ontology_algebra import (  # noqa: E501
        triple_semantics_check,
    )
    rows = []
    for sp in _GRID_PREFIXES + ["noprefix"]:
        for pred in _GRID_PREDICATES + [""]:
            for op in _GRID_PREFIXES + ["noprefix"]:
                subj = f"{sp}:1" if sp != "noprefix" else "bare"
                obj = f"{op}:2" if op != "noprefix" else "bare"
                rows.append(("D1", subj, pred, obj))
    df = spark.createDataFrame(
        rows, "doc_id string, subject string, predicate string, "
              "object string")
    got = {(r.subject, r.predicate, r.object):
           (r.semantic_ok, r.domain_ok)
           for r in triple_semantics_check(df).collect()}
    for (_, subj, pred, obj), (sem, dom) in (
            ((r, got[(r[1], r[2], r[3])]) for r in rows)):
        sp = subj.split(":")[0] if ":" in subj else ""
        op = obj.split(":")[0] if ":" in obj else ""
        if not pred or not subj or not obj:
            want_sem, want_dom = 0, 0
        else:
            if pred in OD.SEMANTIC_RULES:
                want_sem = int((sp, op) in {
                    (s, o) for s, o in OD.SEMANTIC_RULES[pred]})
            else:
                want_sem = int(bool(sp and op))
            want_dom = int(_ref_domain_ok(sp, pred, op))
        assert (sem, dom) == (want_sem, want_dom), (subj, pred, obj)
