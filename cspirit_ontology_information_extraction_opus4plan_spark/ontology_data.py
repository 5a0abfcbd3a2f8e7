"""Deterministic synthetic mini-ontologies (the broadcast dimension).

Mirrors the reference data model field-for-field:
  Term            -> /root/reference/aim2_project/aim2_ontology/models.py:163 (fields 239-253)
  Relationship    -> models.py:811 (fields 902-920)
  predicate vocab -> models.py:1002-1026 (closed set of 23)
  inverse map     -> models.py:1597-1614 (16 entries inside get_inverse)
  id format       -> ^[A-Za-z]+:\\d+$ (models.py:298, :977)

Everything here is a pure function of integer indexes (no RNG), so the
Spark pipeline, the single-process pandas oracle, and the DuckDB oracle
SQL all reconstruct identical data.

Gazetteer-surface invariant: no surface's token sequence (split on
whitespace) is a contiguous subsequence of another surface's tokens, and
surfaces contain only [a-z0-9 ] — this makes word-boundary regex matching,
leftmost-longest Aho-Corasick-style matching, and SQL `regexp_matches`
containment all agree exactly (asserted in tests/test_ontology_data.py).
"""

from __future__ import annotations

from functools import lru_cache

# --- closed predicate vocabulary (reference models.py:1002-1026) ---
PREDICATES = [
    "is_a", "part_of", "has_part", "has_role", "participates_in",
    "located_in", "derives_from", "derives_to", "regulates", "regulated_by",
    "catalyzes", "catalyzed_by", "accumulates_in", "accumulates", "affects",
    "involved_in", "upregulates", "upregulated_by", "downregulates",
    "downregulated_by", "made_via", "occurs_in", "contains",
]

# inverse-predicate map (reference models.py:1597-1614); is_a has no inverse
INVERSE_PREDICATES = {
    "part_of": "has_part", "has_part": "part_of",
    "regulates": "regulated_by", "regulated_by": "regulates",
    "upregulates": "upregulated_by", "upregulated_by": "upregulates",
    "downregulates": "downregulated_by", "downregulated_by": "downregulates",
    "catalyzes": "catalyzed_by", "catalyzed_by": "catalyzes",
    "derives_from": "derives_to", "derives_to": "derives_from",
    "located_in": "contains", "contains": "located_in",
    "accumulates_in": "accumulates", "accumulates": "accumulates_in",
}

# --- base vocabularies (disjoint across namespaces; no TPC-H word-soup
# tokens, so surfaces never occur accidentally in the driver corpus) ---
_CHEM_BASE = [
    "glucose", "sucrose", "fructose", "maltose", "trehalose", "raffinose",
    "quercetin", "kaempferol", "anthocyanin", "catechin", "resveratrol",
    "caffeine", "theobromine", "citrate", "malate", "pyruvate",
    "oxaloacetate", "serine", "glycine", "proline", "alanine", "valine",
    "leucine", "cellulose", "lignin", "pectin", "amylose", "chlorophyll",
    "carotene", "xanthophyll", "tocopherol", "ascorbate", "glutathione",
    "auxin", "cytokinin", "gibberellin", "jasmonate", "salicylate",
    "abscisate", "zeatin",
]
_CHEM_PREFIX = ["methyl", "ethyl", "hydroxy", "acetyl", "phospho"]

_PROC_BASE = [
    "photosynthesis", "glycolysis", "respiration", "transpiration",
    "germination", "flowering", "senescence", "fermentation", "budding",
    "ripening", "abscission", "dormancy", "nodulation", "pollination",
    "tillering", "lignification", "vernalization", "photorespiration",
    "nitrification", "denitrification",
]
_PROC_PREFIX = ["micro", "macro", "pre", "post", "co"]

_ANAT_BASE = [
    "leaf", "root", "stem", "flower", "seed", "fruit", "xylem", "phloem",
    "epidermis", "mesophyll", "stomata", "cuticle", "pericarp", "endosperm",
    "embryo", "cotyledon", "petiole", "sepal", "stamen", "pistil",
    "trichome", "cortex", "pith", "cambium", "rhizome",
]
_ANAT_PREFIX = ["proto", "meta", "inter", "intra", "peri"]

_TAXON_BASE = [
    "arabidopsis", "oryza", "zea", "solanum", "triticum", "hordeum",
    "medicago", "populus", "vitis", "nicotiana", "physcomitrella",
    "chlamydomonas", "selaginella", "brachypodium", "setaria", "sorghum",
    "manihot", "cucumis", "citrullus", "fragaria", "malus", "prunus",
    "rosa", "helianthus", "lactuca",
]

# curated synonyms (reference-style: glucose/dextrose, models.py:49-142);
# "hexose sugar" is deliberately shared by glucose+fructose to exercise the
# 1:N synonym index join (reference find_terms_by_synonym models.py:2886)
_SYNONYMS = {
    "glucose": ["dextrose", "grape sugar", "hexose sugar"],
    "fructose": ["levulose", "hexose sugar"],
    "sucrose": ["cane sugar"],
    "ascorbate": ["vitamin c"],
    "caffeine": ["guaranine"],
    "carotene": ["provitamin a"],
    "auxin": ["growth hormone"],
    "leaf": ["foliage organ"],
    "flowering": ["anthesis"],
    "arabidopsis": ["thale cress"],
}

_NAMESPACE_SPECS = [
    # (ontology_id, id_prefix, id_base, namespace, base, prefixes, n_total)
    ("CHEBI", "CHEBI", 10000, "chemical", _CHEM_BASE, _CHEM_PREFIX, 150),
    ("GO", "GO", 20000, "biological_process", _PROC_BASE, _PROC_PREFIX, 120),
    ("PO", "PO", 30000, "anatomy", _ANAT_BASE, _ANAT_PREFIX, 125),
    ("TAXON", "TAXON", 40000, "organism", _TAXON_BASE, [], 25),
]


def _gen_names(base: list[str], prefixes: list[str], n: int) -> list[str]:
    names = list(base)
    # merged (no internal word boundary) so word-boundary regexes for the
    # base name never fire inside the combo; prefix-major order so all
    # (prefix, base) pairs are distinct
    for p in prefixes:
        for b in base:
            if len(names) >= n:
                return names
            cand = p + b
            if cand not in names:
                names.append(cand)
    if len(names) < n:
        raise ValueError(f"vocabulary too small: {len(names)} < {n}")
    return names[:n]


@lru_cache(maxsize=1)
def terms() -> list[dict]:
    """All ontology terms as dicts matching the Term schema (SURVEY §1.1)."""
    out = []
    for ont_id, pfx, base_id, ns, base, prefixes, n in _NAMESPACE_SPECS:
        names = _gen_names(base, prefixes, n)
        for i, name in enumerate(names):
            tid = f"{pfx}:{base_id + i + 1}"
            obsolete = (i % 20 == 7) and i > 0
            out.append({
                "id": tid,
                "name": name,
                "definition": f"synthetic {ns} term {name}",
                "synonyms": list(_SYNONYMS.get(name, [])),
                "namespace": ns,
                "is_obsolete": obsolete,
                "replaced_by": f"{pfx}:{base_id + i}" if obsolete else None,
                "alt_ids": [f"ALT:{base_id + i + 1}"] if i % 9 == 0 else [],
                "xrefs": [f"EXT:{(base_id + i) % 97}"] if i % 11 == 0 else [],
                "parents": [f"{pfx}:{base_id + (i // 3) + 1}"] if i > 0 else [],
                "ontology_id": ont_id,
            })
    return out


@lru_cache(maxsize=1)
def relationships() -> list[dict]:
    """Ontology edges matching the Relationship schema (SURVEY §1.1).

    Includes: is_a backbone (reference extract_relationships keeps only
    subClassOf->is_a, parsers/__init__.py:3686), part_of pairs for the
    inverse map, regulates/catalyzes/accumulates_in sprinkles, sub-threshold
    confidence rows (trimmer min_confidence, ontology_trimmer.py:651),
    a deliberate 2-cycle (validators.py:253), dangling refs and exact
    duplicates (models.py:2568/2592).
    """
    ts = terms()
    by_ont: dict[str, list[dict]] = {}
    for t in ts:
        by_ont.setdefault(t["ontology_id"], []).append(t)
    rows = []
    rid = [0]

    def add(subj, pred, obj, conf, source="synthetic", ont="MIXED"):
        rid[0] += 1
        rows.append({
            "id": f"REL:{rid[0]:06d}",
            "subject": subj, "predicate": pred, "object": obj,
            "confidence": round(conf, 2), "evidence": None,
            "source": source, "ontology_id": ont,
        })

    # is_a backbone from parents
    for t in ts:
        for p in t["parents"]:
            add(t["id"], "is_a", p, 1.0, ont=t["ontology_id"])
    # part_of in anatomy (every 4th, non-root)
    po = by_ont["PO"]
    for i, t in enumerate(po):
        if i > 0 and i % 4 == 1:
            add(t["id"], "part_of", po[i // 4]["id"], 0.95, ont="PO")
    # chem regulates process
    ch, go = by_ont["CHEBI"], by_ont["GO"]
    for i, t in enumerate(ch):
        if i % 10 == 0:
            add(t["id"], "regulates", go[i % len(go)]["id"], 0.9)
        if i % 7 == 0:
            add(t["id"], "accumulates_in", po[i % len(po)]["id"], 0.85)
        if i % 13 == 0:
            add(t["id"], "catalyzes", go[(i + 5) % len(go)]["id"], 0.8)
        if i % 25 == 0:
            # sub-threshold rows for the min_confidence filter
            add(t["id"], "affects", go[(i + 9) % len(go)]["id"], 0.3)
    # deliberate 2-cycle among non-is_a edges (cycle detection target)
    add(go[5]["id"], "regulates", go[6]["id"], 0.9)
    add(go[6]["id"], "regulates", go[5]["id"], 0.9)
    # dangling references (object term does not exist)
    add(ch[0]["id"], "affects", "CHEBI:99999", 0.7)
    add(go[0]["id"], "affects", "GO:99999", 0.7)
    # exact duplicate (same s,p,o twice, different ids)
    add(ch[1]["id"], "regulates", go[1]["id"], 0.9)
    add(ch[1]["id"], "regulates", go[1]["id"], 0.9)
    return rows


@lru_cache(maxsize=1)
def gazetteer() -> list[dict]:
    """Exploded match-key table (surface -> term), the broadcast side of the
    mention-linking join. Mirrors the reference's _name_index/_synonym_index
    (models.py:3196-3242): keys are lower/trimmed; obsolete terms excluded
    (include_deprecated default false, configs/default_config.yaml:75)."""
    rows = []
    for t in terms():
        if t["is_obsolete"]:
            continue
        rows.append({"surface": t["name"], "term_id": t["id"],
                     "match_kind": "name", "namespace": t["namespace"],
                     "ontology_id": t["ontology_id"]})
        for s in t["synonyms"]:
            rows.append({"surface": s, "term_id": t["id"],
                         "match_kind": "synonym", "namespace": t["namespace"],
                         "ontology_id": t["ontology_id"]})
    return rows


@lru_cache(maxsize=1)
def surfaces() -> list[str]:
    """Unique match surfaces, sorted — the injection alphabet for the
    synthetic corpus and the alternation alphabet for the NER automaton."""
    return sorted({g["surface"] for g in gazetteer()})


# seed ids for the dependency-closure query (deep leaves; shared between
# the Spark frontier loop and the DuckDB recursive-CTE oracle)
CLOSURE_SEEDS = ["CHEBI:10100", "GO:20100", "PO:30100"]

# probe pairs for Wu-Palmer term similarity: siblings, parent-child,
# deep leaves, a self-pair, and one cross-ontology pair (no common
# root-reachable ancestor -> contributes no row). Shared Spark/oracle.
SIM_PAIRS = [
    ("CHEBI:10004", "CHEBI:10005"),   # siblings under CHEBI:10002
    ("CHEBI:10010", "CHEBI:10004"),   # child-parent
    ("CHEBI:10010", "CHEBI:10011"),   # deep siblings
    ("CHEBI:10010", "CHEBI:10100"),   # deep cousins
    ("GO:20004", "GO:20005"),         # siblings under GO:20002
    ("CHEBI:10002", "CHEBI:10002"),   # self (similarity 1)
    ("CHEBI:10004", "GO:20004"),      # cross-ontology: drops
]

# match-kind priority for entity-linking disambiguation (name beats synonym,
# mirroring the reference's exact-name-first lookup order models.py:2812-2918);
# ties broken by min term_id. Single place both engines encode the rule.
MATCH_KIND_RANK = {"name": 3, "synonym": 2, "alt_id": 1}


@lru_cache(maxsize=1)
def gazetteer_winners() -> dict[str, tuple[str, str, int]]:
    """surface -> (term_id, match_kind, rank) of its linking winner,
    argmax rank, tie -> min term_id (gazetteer.winners over a frame)."""
    best: dict[str, tuple[int, str, str]] = {}
    for g in gazetteer():
        cand = (-MATCH_KIND_RANK[g["match_kind"]], g["term_id"],
                g["match_kind"])
        best[g["surface"]] = min(best.get(g["surface"], cand), cand)
    return {s: (tid, mk, -nr) for s, (nr, tid, mk) in best.items()}

# the 7 predicate phrases the synthetic corpus embeds, phrase -> predicate.
# Relation extraction (stage 2) detects these between two mentions.
PREDICATE_PHRASES = [
    ("is located in", "located_in"),
    ("accumulates in", "accumulates_in"),
    ("is part of", "part_of"),
    ("catalyzes", "catalyzes"),
    ("regulates", "regulates"),
    ("affects", "affects"),
    ("is a", "is_a"),
]


# --- triple-validation rule tables (closed semantic sets, reproduced
# with citation like PREDICATES/INVERSE_PREDICATES above) ---

# predicate -> allowed (subject_prefix, object_prefix) combinations
# (Relationship.validate_predicate_semantics, reference
# models.py:1142-1310). Predicates absent from the map accept any pair
# of NON-EMPTY prefixes; listed predicates accept exactly these combos.
SEMANTIC_RULES: dict[str, list[tuple[str, str]]] = {
    "is_a": [("CHEBI", "CHEBI"), ("GO", "GO"), ("PO", "PO"),
             ("NCIT", "NCIT")],
    "part_of": [("GO", "GO"), ("PO", "PO"), ("CHEBI", "CHEBI")],
    "has_part": [("GO", "GO"), ("PO", "PO"), ("CHEBI", "CHEBI")],
    "located_in": [("CHEBI", "GO"), ("CHEBI", "PO"), ("GO", "GO")],
    "regulates": [("CHEBI", "GO"), ("GO", "GO")],
    "regulated_by": [("GO", "CHEBI"), ("GO", "GO")],
    "catalyzes": [("GO", "GO")],
    "accumulates_in": [("CHEBI", "GO"), ("CHEBI", "PO")],
    "participates_in": [("CHEBI", "GO"), ("GO", "GO")],
    "derives_from": [("CHEBI", "CHEBI"), ("PO", "PO")],
    "upregulates": [("CHEBI", "GO"), ("GO", "GO")],
    "downregulates": [("CHEBI", "GO"), ("GO", "GO")],
    "occurs_in": [("GO", "GO"), ("GO", "PO")],
    "made_via": [("CHEBI", "GO")],
    "affects": [("CHEBI", "GO"), ("GO", "GO")],
    "has_role": [("CHEBI", "GO")],
    "involved_in": [("CHEBI", "GO"), ("GO", "GO")],
    "catalyzed_by": [("GO", "GO")],
    "upregulated_by": [("GO", "CHEBI"), ("GO", "GO")],
    "downregulated_by": [("GO", "CHEBI"), ("GO", "GO")],
    "derives_to": [("CHEBI", "CHEBI"), ("PO", "PO")],
    "contains": [("GO", "CHEBI"), ("PO", "CHEBI"), ("GO", "GO")],
    "accumulates": [("GO", "CHEBI"), ("PO", "CHEBI")],
}

# (subject_prefix, predicate) -> allowed object prefixes
# (Relationship.validate_domain_constraints, models.py:1317-1452).
# The reference checks three per-subject-prefix dicts first and falls
# through to a cross-domain dict, then defaults True; every cross-domain
# entry except (accumulates, GO) is shadowed by a per-prefix entry, so
# this FLATTENED map (per-prefix rows + the GO/catalyzes special case at
# models.py:1421 + the one reachable cross-domain row) is lookup-for-
# lookup equivalent: key present -> membership test, absent -> True.
DOMAIN_RULES: dict[tuple[str, str], list[str]] = {
    ("CHEBI", "is_a"): ["CHEBI"],
    ("CHEBI", "derives_from"): ["CHEBI"],
    ("CHEBI", "regulates"): ["GO"],
    ("CHEBI", "upregulates"): ["GO"],
    ("CHEBI", "downregulates"): ["GO"],
    ("CHEBI", "participates_in"): ["GO"],
    ("CHEBI", "located_in"): ["GO", "PO"],
    ("CHEBI", "accumulates_in"): ["GO", "PO"],
    ("CHEBI", "affects"): ["GO"],
    ("CHEBI", "has_role"): ["GO"],
    ("CHEBI", "involved_in"): ["GO"],
    ("CHEBI", "made_via"): ["GO"],
    ("PO", "is_a"): ["PO"],
    ("PO", "part_of"): ["PO"],
    ("PO", "has_part"): ["PO"],
    ("PO", "derives_from"): ["PO"],
    ("PO", "derives_to"): ["PO"],
    ("PO", "develops_from"): ["PO"],
    ("PO", "contains"): ["CHEBI"],
    ("PO", "accumulates"): ["CHEBI"],
    ("GO", "is_a"): ["GO"],
    ("GO", "part_of"): ["GO"],
    ("GO", "has_part"): ["GO"],
    ("GO", "regulates"): ["GO"],
    ("GO", "regulated_by"): ["GO", "CHEBI"],
    ("GO", "positively_regulates"): ["GO"],
    ("GO", "negatively_regulates"): ["GO"],
    ("GO", "upregulated_by"): ["GO", "CHEBI"],
    ("GO", "downregulated_by"): ["GO", "CHEBI"],
    ("GO", "catalyzed_by"): ["GO"],
    ("GO", "occurs_in"): ["GO", "PO"],
    ("GO", "contains"): ["CHEBI", "GO"],
    ("GO", "catalyzes"): ["GO"],
    ("GO", "accumulates"): ["CHEBI"],
}


# --- SHACL-style shape spec (repo-original, W3C SHACL core semantics:
# per-focus-node sh:minCount / sh:maxCount / sh:nodeKind on an sh:path;
# the reference validates per-row semantics only — models.py:1142 — so
# cardinality shapes are the aggregate-level QC it cannot express) ---

# predicate (sh:path) -> (sh:minCount, sh:maxCount, sh:nodeKind of the
# object). minCount applies to EVERY focus node (any subject in the
# store); maxCount/nodeKind to focus nodes holding the path.
SHACL_SHAPES: dict[str, tuple[int, int, str]] = {
    "is_a":           (1, 3, "uri"),
    "part_of":        (0, 8, "uri"),
    "located_in":     (0, 8, "uri"),
    "regulates":      (0, 8, "uri"),
    "catalyzes":      (0, 8, "uri"),
    "affects":        (0, 10, "uri"),
    "accumulates_in": (0, 10, "uri"),
}


def alternation(words: list[str]) -> str:
    """Shared regex-alternation builder: longest-first so leftmost-first
    engines (Python re, RE2) behave leftmost-longest. Used verbatim by the
    Spark NER stage, the pandas oracle, and the DuckDB oracle SQL."""
    return "|".join(sorted(words, key=lambda w: (-len(w), w)))
