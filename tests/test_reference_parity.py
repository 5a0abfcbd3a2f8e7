"""In-process parity vs the ACTUAL reference code (round-4 priority 1).

Every other correctness claim in this repo is vs the builder-authored
DuckDB oracle; these tests close the loop by importing the reference's
own modules from /root/reference and diffing behavior directly:

  * models.RDFTriple — the 7-tuple identity (models.py:4408
    __hash__/__eq__ over subject/predicate/object/subject_type/
    object_type/object_datatype/object_language) vs this engine's
    7-column dropDuplicates.
  * parsers.OWLParser.extract_relationships (parsers/__init__.py:3686)
    — subClassOf -> is_a rewrite + URI #fragment stripping — vs
    rdf_full.to_model_relationships, on the same fixture.
  * parsers.OWLParser.extract_terms (:3626 rdf-graph fallback) —
    owl:Class + rdfs:label -> Term(id=#fragment, name=label) — vs a
    DataFrame derivation over parse_turtle_full output.
  * OWLParser.detect_format (:2655, pure Python) vs
    textmeta.detect_formats under the fixed label mapping.

rdflib/owlready2 are not installed in this container, so the rdflib
GRAPH is duck-typed (a list of plain-string triples + the two lookup
methods the reference calls); everything downstream of the graph —
the loops, rewrites, stripping, model construction, validation — is
the genuine reference code, untouched. The reference package imports
watchdog at package-init time (config_manager); a no-op module stub
satisfies that without modifying /root/reference.
"""

from __future__ import annotations

import os
import sys
import types

import pytest

from pyspark.sql import functions as F

REF = "/root/reference"

pytestmark = pytest.mark.skipif(not os.path.isdir(REF),
                                reason="reference tree not present")


@pytest.fixture(scope="module")
def ref():
    """Import the reference package with the watchdog dependency
    stubbed (it is only used by its config file-watcher)."""
    if REF not in sys.path:
        sys.path.insert(0, REF)
    for name in ("watchdog", "watchdog.observers", "watchdog.events"):
        sys.modules.setdefault(name, types.ModuleType(name))
    sys.modules["watchdog.observers"].Observer = object
    sys.modules["watchdog.events"].FileSystemEventHandler = type(
        "FileSystemEventHandler", (), {})
    from aim2_project.aim2_ontology import models
    from aim2_project.aim2_ontology.parsers import OWLParser
    return types.SimpleNamespace(models=models, OWLParser=OWLParser)


# --- duck-typed rdflib surface (only what the reference touches) ----------

class _NS:
    def __init__(self, base: str):
        self._base = base

    def __getattr__(self, name: str) -> str:
        return self._base + name


class _FakeRdflib:
    Namespace = _NS

    class RDF:
        type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


class _FakeGraph:
    """list-of-string-triples graph exposing the two rdflib lookups
    the reference's extract_terms/extract_relationships call."""

    def __init__(self, triples):
        self._t = list(triples)

    def __iter__(self):
        return iter(self._t)

    def subjects(self, pred, obj):
        return [s for s, p, o in self._t if p == pred and o == obj]

    def objects(self, subj, pred):
        return [o for s, p, o in self._t if s == subj and p == pred]


def _owl_parser(ref):
    p = ref.OWLParser()
    p._rdflib = _FakeRdflib
    p._rdflib_available = True
    return p


def _pr(got: set, want: set) -> tuple:
    tp = len(got & want)
    precision = tp / len(got) if got else 1.0
    recall = tp / len(want) if want else 1.0
    return precision, recall


# --- 7-tuple identity ------------------------------------------------------

_ID_FIXTURE = """\
@prefix ont: <urn:graft#> .
@prefix obo: <urn:obo#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
ont:A obo:p "x"@en .
ont:A obo:p "x"@fr .
ont:A obo:p "x" .
ont:A obo:p "x"^^xsd:integer .
ont:A obo:p "x" .
ont:A obo:p ont:B .
ont:A obo:p ont:B .
ont:A obo:q ont:B .
_:b obo:p "x" .
"""


def test_7tuple_identity_parity(ref, spark):
    """The engine's 7-column dropDuplicates must dedup exactly like a
    set of reference RDFTriple objects (models.py:4408): triples
    differing ONLY in language tag or datatype are distinct; exact
    repeats collapse."""
    from cspirit_ontology_information_extraction_opus4plan_spark.operators import (  # noqa: E501
        rdf_full as RF,
    )
    docs = spark.createDataFrame([("D1", _ID_FIXTURE)],
                                 "src_id string, payload string")
    parsed = RF.parse_turtle_full(docs)
    seven = ["subject", "predicate", "object", "subject_type",
             "object_type", "object_datatype", "object_language"]
    rows = parsed.select(*seven).collect()
    assert len(rows) == 9

    ref_set = {ref.models.RDFTriple(**{k: r[k] for k in seven})
               for r in rows}
    spark_distinct = parsed.select(*seven).dropDuplicates(seven)
    assert spark_distinct.count() == len(ref_set) == 7

    # and the surviving identities agree member-for-member
    got = {tuple(r[k] for k in seven) for r in spark_distinct.collect()}
    want = {(t.subject, t.predicate, t.object, t.subject_type,
             t.object_type, t.object_datatype, t.object_language)
            for t in ref_set}
    assert got == want
    assert all(t.is_valid() for t in ref_set)


# --- extract_relationships: subClassOf -> is_a + fragment strip -----------

def test_extract_relationships_parity(ref, spark):
    """Same term dimension through both stacks: reference
    extract_relationships (genuine code over a duck-typed graph built
    straight from the dimension) vs the Spark path
    turtle_full_docs -> parse_turtle_full -> to_model_relationships.
    P/R must be 1.0."""
    from cspirit_ontology_information_extraction_opus4plan_spark import (
        ontology_data as OD,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.operators import (  # noqa: E501
        gazetteer as GZ,
        rdf_full as RF,
    )
    sub_class_of = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
    graph = _FakeGraph(
        (f"urn:graft#{t['id'].replace(':', '_')}", sub_class_of,
         f"urn:graft#{t['parents'][0].replace(':', '_')}")
        for t in OD.terms() if t["parents"])
    rels = _owl_parser(ref).extract_relationships({"rdf_graph": graph})
    assert rels, "reference produced no relationships"
    assert all(r.predicate == "is_a" for r in rels)
    assert all(r.confidence == 1.0 for r in rels)
    want = {(r.subject, r.predicate, r.object) for r in rels}
    assert all("#" not in s and "#" not in o for s, _, o in want)

    mine = RF.to_model_relationships(
        RF.parse_turtle_full(RF.turtle_full_docs(GZ.terms_df(spark))))
    got = {(r["subject"], r["predicate"], r["object"])
           for r in mine.collect()}
    precision, recall = _pr(got, want)
    assert (precision, recall) == (1.0, 1.0), (precision, recall)


# --- extract_terms: owl:Class + rdfs:label -> Term ------------------------

_TERMS_FIXTURE_IDS = ["CHEBI:10001", "CHEBI:10002", "GO:20001"]

_TERMS_FIXTURE = """\
@prefix ont: <urn:graft#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix owl: <http://www.w3.org/2002/07/owl#> .
ont:CHEBI:10001 a owl:Class ; rdfs:label "glucose" .
ont:CHEBI:10002 a owl:Class ; rdfs:label "fructose" .
ont:GO:20001 a owl:Class ; rdfs:label "budding" .
ont:GO:20002 a owl:Thing ; rdfs:label "not a class" .
ont:GO:20003 a owl:Class .
"""


def test_extract_terms_parity(ref, spark):
    """Identical Turtle content through both stacks. The reference's
    rdf-graph fallback builds Term(id=#fragment, name=first label,
    name=id when unlabeled) — parsers/__init__.py:3656-3683; Term's
    ctor itself validates the id format (colon form), which is why the
    fixture uses colon PN_LOCALs. The Spark leg derives the same pairs
    from parse_turtle_full output with column ops."""
    from cspirit_ontology_information_extraction_opus4plan_spark.operators import (  # noqa: E501
        rdf_full as RF,
    )
    rdf_type = _FakeRdflib.RDF.type
    owl_class = "http://www.w3.org/2002/07/owl#Class"
    rdfs_label = "http://www.w3.org/2000/01/rdf-schema#label"

    raw = RF.parse_turtle_text("D1", _TERMS_FIXTURE)
    graph = _FakeGraph((r[1], r[2], r[3]) for r in raw)
    terms = _owl_parser(ref).extract_terms({"rdf_graph": graph})
    want = {(t.id, t.name) for t in terms}
    assert want == {("CHEBI:10001", "glucose"), ("CHEBI:10002",
                    "fructose"), ("GO:20001", "budding"),
                    ("GO:20003", "GO:20003")}

    docs = spark.createDataFrame([("D1", _TERMS_FIXTURE)],
                                 "src_id string, payload string")
    parsed = RF.parse_turtle_full(docs)
    frag = F.substring_index("subject", "#", -1)
    classes = (parsed
               .filter((F.col("predicate") == rdf_type)
                       & (F.col("object") == owl_class))
               .select(frag.alias("id"), "subject"))
    labels = (parsed.filter(F.col("predicate") == rdfs_label)
              .select("subject", F.col("object").alias("label")))
    mine = (classes.join(labels, "subject", "left")
            .select("id", F.coalesce("label", "id").alias("name")))
    got = {(r["id"], r["name"]) for r in mine.collect()}
    precision, recall = _pr(got, want)
    assert (precision, recall) == (1.0, 1.0), (precision, recall)


# --- detect_format --------------------------------------------------------

# (payload, reference label, this engine's textmeta label)
_SNIFF_BATTERY = [
    ('{"@context": {"ont": "urn:graft#"}, "@id": "x"}',
     "json-ld", "json-ld"),
    ('<?xml version="1.0"?><rdf:RDF><owl:Ontology rdf:about=""/>'
     "</rdf:RDF>", "owl", "owl"),
    ('<?xml version="1.0"?><rdf:RDF><rdf:Description rdf:about="#x"/>'
     "</rdf:RDF>", "rdf", "rdf-xml"),
    ("@prefix ont: <urn:graft#> .\nont:a ont:b ont:c .",
     "ttl", "turtle"),
    ("<urn:a> <urn:b> <urn:c> .\n<urn:d> <urn:e> <urn:f> .",
     "nt", "ntriples"),
]


def test_detect_format_parity(ref, spark):
    """OWLParser.detect_format (pure Python, runs as-is) and
    textmeta.detect_formats agree on the battery modulo the fixed
    label mapping (owl/rdf->rdf-xml/ttl->turtle/nt->ntriples)."""
    from cspirit_ontology_information_extraction_opus4plan_spark.operators import (  # noqa: E501
        textmeta as TM,
    )
    p = ref.OWLParser()
    for payload, want_ref, _ in _SNIFF_BATTERY:
        assert p.detect_format(payload) == want_ref, payload[:40]
    docs = spark.createDataFrame(
        [(str(i), payload) for i, (payload, _, _)
         in enumerate(_SNIFF_BATTERY)],
        "doc_id string, content string")
    got = {r["doc_id"]: r["fmt"] for r in TM.detect_formats(docs).collect()}
    for i, (_, _, want_mine) in enumerate(_SNIFF_BATTERY):
        assert got[str(i)] == want_mine


# --- citation parsing: subsystem #2 of the parity loop --------------------

def test_citation_field_parity(ref, spark, sf_dir):
    """Field-level parity vs the reference's ACTUAL citation parser
    (reference_parser.ReferenceParser.parse_reference) on the shared
    synthesized APA/IEEE/MLA citations: wherever the reference
    extracts year / pages / volume / issue, this engine's
    parse_citation_fields must agree. Field level is the honest
    surface: the reference's FORMAT labels are self-inconsistent
    (probed in-process: detect_citation_format says ('Unknown', 0.4)
    on a lowercase APA string that parse_reference then routes as
    'MLA'), so format-label parity would be parity with noise; the
    extracted field VALUES are stable and comparable."""
    from aim2_project.aim2_ontology.parsers.reference_parser import (
        ReferenceParser,
    )
    import __spark_entry__ as E
    rows = (E.queries()["citation_fields_by_format"](spark, sf_dir)
            .collect())
    assert len(rows) > 100
    # rebuild the citation strings the same way the query's input does
    from cspirit_ontology_information_extraction_opus4plan_spark import (
        decorations as DE,
    )
    cits = {r["doc_id"]: r["citation"] for r in DE.citation_samples(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")).collect()}
    p = ReferenceParser()
    n_year = n_pages = n_vol = 0
    for r in rows[:300]:
        m = p.parse_reference(cits[r["doc_id"]]).metadata
        if m.year is not None:
            assert r["year"] == m.year, (r["doc_id"], r["year"], m.year)
            n_year += 1
        if m.pages and r["page_start"] is not None:
            assert f"{r['page_start']}-{r['page_end']}" == m.pages
            n_pages += 1
        if m.volume and r["volume"] is not None:
            assert str(r["volume"]) == str(m.volume)
            n_vol += 1
    assert n_year > 200 and n_pages > 200 and n_vol > 50


# --- JATS/PMC XML parsing: subsystem #3 of the parity loop ----------------

def test_jats_parity(ref, spark, sf_dir):
    """Schema detection + title/abstract extraction vs the reference's
    ACTUAL XMLParser (xml_parser.py:496 parse, :698 _detect_xml_schema,
    extract_metadata) on the shared synthesized PMC/JATS documents:
    both stacks must agree on the schema label and the extracted title
    and abstract text for every sampled document."""
    from aim2_project.aim2_ontology.parsers.xml_parser import XMLParser
    from cspirit_ontology_information_extraction_opus4plan_spark import (
        decorations as DE,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.operators import (  # noqa: E501
        xmlsource as XS,
    )
    from pyspark.sql import functions as F

    docs = DE.jats_docs(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text", "n_chars")).limit(50)
    rows = docs.collect()
    parsed = XS.parse_jats(docs).collect()
    sniffed = {r["doc_id"]: r["sch"] for r in docs.select(
        "doc_id", XS.detect_xml_schema(F.col("xml")).alias("sch"))
        .collect()}
    mine = {}
    for r in parsed:
        mine.setdefault(r["doc_id"], {})[r["elem"]] = r
    p = XMLParser()
    n_ok = n_bad = 0
    for r in rows:
        m = mine[r["doc_id"]]
        try:
            res = p.parse(r["xml"])
        except Exception:
            # the corpus plants malformed docs: BOTH stacks must
            # refuse them — mine as a parse_error quarantine row
            assert "parse_error" in m, r["doc_id"]
            n_bad += 1
            continue
        schema = res["schema_info"]["schema"]
        md = p.extract_metadata(res)
        # schema label agreement (column sniff vs reference detector)
        assert sniffed[r["doc_id"]] == schema, r["doc_id"]
        assert m["title"]["xml_schema"] == schema
        if md.get("title"):
            assert m["title"]["content"] == md["title"]
        if md.get("abstract"):
            assert m["abstract"]["content"] == md["abstract"]
        n_ok += 1
    assert n_ok >= 40 and n_bad >= 1 and n_ok + n_bad == 50


# --- find_terms lookup trio: the north-star index semantics ---------------

@pytest.fixture(scope="module")
def ref_ontology(ref):
    """The full terms dimension loaded into a genuine reference
    Ontology (its real _name/_synonym/_alt_id indexes)."""
    from cspirit_ontology_information_extraction_opus4plan_spark import (
        ontology_data as OD,
    )
    ont = ref.models.Ontology(id="ONT:0001", name="graft parity")
    for t in OD.terms():
        ont.add_term(ref.models.Term(
            id=t["id"], name=t["name"], definition=t["definition"],
            synonyms=list(t["synonyms"]), namespace=t["namespace"],
            is_obsolete=t["is_obsolete"], alt_ids=list(t["alt_ids"])))
    return ont


def test_find_terms_substring_parity(ref_ontology, spark):
    """term_search must return exactly the reference's find_terms id
    set (substring over name/definition/synonyms, models.py:2812) for
    a battery of queries."""
    from cspirit_ontology_information_extraction_opus4plan_spark.operators import (  # noqa: E501
        gazetteer as GZ,
        ontology_algebra as OA,
    )
    terms = GZ.terms_df(spark)
    for q in ("glucose", "ose", "budding", "synthetic process",
              "dextrose", "zzz-no-match"):
        want = {t.id for t in ref_ontology.find_terms(q)}
        got = {r["id"] for r in OA.term_search(terms, q).collect()}
        assert got == want, (q, got ^ want)


def test_gazetteer_index_parity(ref_ontology, spark):
    """The gazetteer's name/synonym rows must agree with the
    reference's real _name_index/_synonym_index lookups
    (find_terms_by_name/:2889 find_terms_by_synonym) for every
    surface; the ONLY divergence is the documented deliberate one —
    obsolete terms, which the reference indexes (:3164 has no filter)
    and the linking gazetteer excludes."""
    from cspirit_ontology_information_extraction_opus4plan_spark import (
        ontology_data as OD,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.operators import (  # noqa: E501
        gazetteer as GZ,
    )
    gaz = GZ.gazetteer_from_terms(GZ.terms_df(spark)).collect()
    mine_name = {r["surface"]: r["term_id"] for r in gaz
                 if r["match_kind"] == "name"}
    mine_syn = {}
    for r in gaz:
        if r["match_kind"] == "synonym":
            mine_syn.setdefault(r["surface"], set()).add(r["term_id"])

    obsolete = {t["id"] for t in OD.terms() if t["is_obsolete"]}
    # every gazetteer row round-trips through the reference index
    for surface, tid in mine_name.items():
        found = ref_ontology.find_terms_by_name(surface)
        assert found is not None and found.id == tid, surface
    for surface, tids in mine_syn.items():
        got = {t.id for t in ref_ontology.find_terms_by_synonym(surface)}
        assert tids <= got, surface
        assert got - tids <= obsolete, (surface, got - tids)
    # the reference-side surplus is EXACTLY the obsolete set
    ref_names = {t["name"].lower().strip(): t["id"] for t in OD.terms()}
    missing = {s for s in ref_names if s not in mine_name}
    assert missing == {t["name"].lower().strip() for t in OD.terms()
                       if t["is_obsolete"]
                       # an obsolete name can be shadowed by a live
                       # term sharing it (dict overwrite in :3168)
                       and t["name"].lower().strip() not in mine_name}

    # alt-id index parity (find_term_by_alt_id, models.py:2954)
    alt = {r["alt_id"]: r["term_id"]
           for r in GZ.alt_id_index(GZ.terms_df(spark)).collect()}
    for a, tid in alt.items():
        found = ref_ontology.find_term_by_alt_id(a)
        assert found is not None and found.id == tid, a


# --- media type classification: subsystem #5 of the parity loop -----------

def test_media_type_classification_parity(ref, spark, sf_dir):
    """classify_media_types_ref vs the reference's ACTUAL
    ContentExtractor (metadata_framework.py:346/:357) on every battery
    caption — including the precedence trap where 'line graph' lands
    in CHART because its \\bgraph\\b pattern runs before the GRAPH
    bucket."""
    from aim2_project.aim2_ontology.parsers.metadata_framework import (
        ContentExtractor,
    )
    import __spark_entry__ as E
    ce = ContentExtractor()
    rows = E.queries()["media_type_classify"](spark, sf_dir).collect()
    assert rows
    seen = set()
    for r in rows:
        if r["kind"] == "figure":
            want = ce.classify_figure_type(r["caption"]).value
        else:
            want = ce.classify_table_type(r["caption"]).value
        assert r["media_type"] == want, (r["caption"], r["media_type"],
                                         want)
        seen.add((r["kind"], r["media_type"]))
    # the battery exercises every bucket incl. unknown and the trap
    assert ("figure", "chart") in seen and ("figure", "unknown") in seen
    assert ("table", "unknown") in seen
    assert len({t for k, t in seen if k == "figure"}) >= 6
    assert len({t for k, t in seen if k == "table"}) >= 5


# --- statistics: subsystem #4 of the parity loop --------------------------

def test_statistics_parity(ref, spark, sf_dir):
    """Distribution summary + IQR/z-score outlier sets vs the
    reference's ACTUAL StatisticalAnalyzer (content_utils.py:125
    analyze_distribution, :160 detect_outliers) on the same per-type
    event values at sf0.001."""
    from aim2_project.aim2_ontology.parsers.content_utils import (
        StatisticalAnalyzer,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.operators import (  # noqa: E501
        content_stats as CS,
    )
    events = CS.load_events(spark, sf_dir)
    vals = {}
    for r in events.select("event_type", "event_id", "value").collect():
        vals.setdefault(r["event_type"], []).append(
            (r["event_id"], r["value"]))
    sa = StatisticalAnalyzer()

    dist = {r["event_type"]: r
            for r in CS.value_distribution(events).collect()}
    for et, pairs in vals.items():
        want = sa.analyze_distribution([v for _, v in pairs])
        got = dist[et]
        assert got["n"] == want["count"]
        for mine_k, ref_k in (("mean_v", "mean"), ("min_v", "min"),
                              ("max_v", "max"), ("median_v", "median"),
                              ("stddev_v", "std_dev"), ("q1", "q1"),
                              ("q3", "q3")):
            assert abs(got[mine_k] - want[ref_k]) < 1e-5, (
                et, mine_k, got[mine_k], want[ref_k])

    got_iqr = {(r["event_type"], r["event_id"])
               for r in CS.iqr_outliers(events).collect()}
    got_z = {(r["event_type"], r["event_id"])
             for r in CS.zscore_outliers(events).collect()}
    want_iqr, want_z = set(), set()
    for et, pairs in vals.items():
        series = [v for _, v in pairs]
        for i in sa.detect_outliers(series):
            want_iqr.add((et, pairs[i][0]))
        for i in sa.detect_outliers(series, method="zscore"):
            want_z.add((et, pairs[i][0]))
    assert got_iqr == want_iqr
    assert got_z == want_z
    assert want_iqr, "fixture should contain IQR outliers"

    # Pearson correlation (correlation_analysis content_utils.py:191)
    import json as _json
    xy = {}
    for r in events.select("event_type", "value", "props").collect():
        k = _json.loads(r["props"]).get("k")
        if k is not None:
            xy.setdefault(r["event_type"], []).append(
                (r["value"], float(k)))
    got_corr = {r["event_type"]: r["pearson_r"]
                for r in CS.value_prop_correlation(events).collect()}
    n_checked = 0
    for et, pairs in xy.items():
        want = sa.correlation_analysis([x for x, _ in pairs],
                                       [y for _, y in pairs])
        if not want or got_corr.get(et) is None:
            continue
        assert abs(got_corr[et]
                   - want["correlation_coefficient"]) < 1e-5, et
        n_checked += 1
    assert n_checked >= 3


# --- text complexity: subsystem #6 of the parity loop ---------------------

def test_text_complexity_parity(ref, spark, sf_dir):
    """doc_text_complexity vs the reference's ACTUAL
    TextAnalyzer.analyze_text_complexity (content_utils.py:94) on the
    same decorated documents — every field, including the reference's
    own avg-sentence denominator (split count WITH the empty tail)."""
    from aim2_project.aim2_ontology.parsers.content_utils import (
        TextAnalyzer,
    )
    import __spark_entry__ as E
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.textmeta import (  # noqa: E501
        SCI_DECORATION,
    )
    ta = TextAnalyzer()
    rows = E.queries()["doc_text_complexity"](spark, sf_dir).collect()
    texts = {r["doc_id"]: r["text"] + SCI_DECORATION
             for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
             .select("doc_id", "text").collect()}
    assert rows
    for r in rows[:200]:
        want = ta.analyze_text_complexity(texts[r["doc_id"]])
        assert r["word_count"] == want["word_count"]
        assert r["sentence_count"] == want["sentence_count"]
        assert r["unique_words"] == want["unique_words"]
        assert r["scientific_terms"] == want["scientific_terms"]
        for mine_k, ref_k in (
                ("avg_word_length", "average_word_length"),
                ("avg_sentence_length", "average_sentence_length"),
                ("lexical_diversity", "lexical_diversity"),
                ("scientific_density", "scientific_density")):
            assert abs(r[mine_k] - want[ref_k]) < 1e-5, (
                r["doc_id"], mine_k, r[mine_k], want[ref_k])
        assert r["scientific_terms"] > 0  # the decoration fires


# --- flagship pipeline triples are valid reference models -----------------

def test_pipeline_triples_are_valid_reference_models(ref, spark, sf_dir):
    """Every triple the flagship pipeline emits at sf0.001 round-trips
    into a genuine reference Relationship (the model whose shape the
    triple table carries: CURIE ids + the closed snake_case predicate
    vocabulary — Relationship.__post_init__ REJECTS predicates outside
    it, models.py:940) and passes is_valid(); and the reference's
    RDFTriple set-dedup (7-tuple identity) agrees with the pipeline's
    own dedup count. (RDFTriple.is_valid itself demands full-URI
    predicates — the raw-graph shape parse_turtle_full emits — so the
    identity check constructs RDFTriples without the validation
    gate.)"""
    import __spark_entry__ as E
    rows = E.queries()["triples"](spark, sf_dir).collect()
    assert rows
    rels = [ref.models.Relationship(
        id=f"REL:{i:06d}", subject=r["subject"],
        predicate=r["predicate"], object=r["object"],
        confidence=r["confidence"])
        for i, r in enumerate(rows)]
    assert all(r.is_valid() for r in rels)
    triples = [ref.models.RDFTriple(
        subject=r["subject"], predicate=r["predicate"],
        object=r["object"], subject_type=r["subject_type"],
        object_type=r["object_type"], confidence=r["confidence"])
        for r in rows]
    dedup = E.queries()["triples_dedup"](spark, sf_dir).count()
    assert len(set(triples)) == dedup


# --- property-based grammar fuzz (round-5 priority 7) ----------------------
#
# The reference's OWLParser.parse cannot run here (it is hard-gated on
# rdflib/owlready2, neither installed — parsers/__init__.py:2816/2858),
# so the fuzz pins (a) operators/rdf_full.py against GENERATOR ground
# truth over randomly-built graphs serialized through an INDEPENDENT
# test-local Turtle/RDF-XML writer (nested bnode property lists,
# collections, numeric/boolean shorthand, lang/datatype literals,
# escape-heavy strings), and (b) the genuine reference 7-tuple identity
# (models.RDFTriple __hash__/__eq__) on every parsed document — the
# same achievable reference surface the round-4 harness established.

try:
    from hypothesis import given, settings
    from hypothesis import strategies as hst
    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

_FZ = "urn:fz#"
_XSD = "http://www.w3.org/2001/XMLSchema#"
_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_URI_POOL = [f"{_FZ}t{i}" for i in range(5)]
_PRED_POOL = [f"{_FZ}p{i}" for i in range(4)]
_BNODES = ["b0", "b1", "b2"]
_DT_POOL = [f"{_XSD}token", f"{_XSD}anyURI", f"{_FZ}custom"]
_LANGS = ["en", "en-GB", "de", "es-419"]
_LIT_ALPHA = 'ab z09.:#<>&\'"\\\n\t\u00e9'

_lit_text = hst.text(alphabet=_LIT_ALPHA, max_size=12)
_plain = hst.tuples(hst.just("lit"), _lit_text, hst.just(None),
                    hst.just(None))
_langed = hst.tuples(hst.just("lit"), _lit_text,
                     hst.sampled_from(_LANGS), hst.just(None))
_typed = hst.tuples(hst.just("lit"), _lit_text, hst.just(None),
                    hst.sampled_from(_DT_POOL))
_num = hst.one_of(
    hst.integers(-999, 999).map(
        lambda n: ("num", str(n), None, f"{_XSD}integer")),
    hst.sampled_from(["2.5", "-0.75", "100.0"]).map(
        lambda s: ("num", s, None, f"{_XSD}decimal")),
    hst.sampled_from(["true", "false"]).map(
        lambda s: ("num", s, None, f"{_XSD}boolean")))
_uri_t = hst.sampled_from(_URI_POOL).map(lambda u: ("uri", u))
_bnode_t = hst.sampled_from(_BNODES).map(lambda b: ("bnode", b))
_subj = hst.one_of(_uri_t, _bnode_t)
_obj_ttl = hst.one_of(_uri_t, _bnode_t, _plain, _langed, _typed, _num)
_obj_xml = hst.one_of(_uri_t, _bnode_t, _plain, _langed, _typed)
_pred = hst.sampled_from(_PRED_POOL)

_triples_ttl = hst.lists(hst.tuples(_subj, _pred, _obj_ttl), min_size=1,
                         max_size=7)
_triples_xml = hst.lists(hst.tuples(_subj, _pred, _obj_xml), min_size=1,
                         max_size=7)
_coll = hst.lists(hst.one_of(_uri_t, _num), min_size=0, max_size=3)
_plist = hst.lists(hst.tuples(_pred, hst.one_of(_uri_t, _plain)),
                   min_size=1, max_size=3)


def _ttl_escape(s: str) -> str:
    return (s.replace("\\", "\\\\").replace('"', '\\"')
            .replace("\n", "\\n").replace("\t", "\\t"))


def _ttl_pred(p, rnd) -> str:
    return (f"ex:{p[len(_FZ):]}" if rnd.random() < 0.5 else f"<{p}>")


def _ttl_term(t, rnd) -> str:
    kind = t[0]
    if kind == "uri":
        return (f"ex:{t[1][len(_FZ):]}" if rnd.random() < 0.5
                else f"<{t[1]}>")
    if kind == "bnode":
        return f"_:{t[1]}"
    if kind == "num":
        return t[1]
    _, text, lang, dt = t
    if rnd.random() < 0.3:
        body = ('"""' + text.replace("\\", "\\\\").replace('"', '\\"')
                + '"""')
    else:
        body = '"' + _ttl_escape(text) + '"'
    if lang:
        return f"{body}@{lang}"
    if dt:
        return (f"{body}^^xsd:{dt[len(_XSD):]}"
                if dt.startswith(_XSD) and rnd.random() < 0.5
                else f"{body}^^<{dt}>")
    return body


def _expected(t, src="D1"):
    kind = t[0]
    if kind == "uri":
        return (t[1], "uri", None, None)
    if kind == "bnode":
        return (f"_:{src}.{t[1]}", "bnode", None, None)
    if kind == "fresh":
        return (t[1], "fresh", None, None)
    _, text, lang, dt = t
    # the parser canonicalizes language tags to lowercase (BCP 47
    # case-insensitivity, the same normalization round 4 pinned)
    return (text, "literal", dt, lang.lower() if lang else None)


def _ttl_serialize(triples, colls, plists, seed):
    import random
    rnd = random.Random(seed)
    lines = ["@prefix ex: <urn:fz#> .",
             "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> ."]
    want = []
    fresh = [0]

    def new_fresh():
        fresh[0] += 1
        return ("fresh", f"F{fresh[0]}")

    for s, p, o in triples:
        lines.append(f"{_ttl_term(s, rnd)} {_ttl_pred(p, rnd)} "
                     f"{_ttl_term(o, rnd)} .")
        want.append((s, p, o))
    for s, p, items in colls:
        toks = " ".join(_ttl_term(i, rnd) for i in items)
        lines.append(f"{_ttl_term(s, rnd)} {_ttl_pred(p, rnd)} "
                     f"( {toks} ) .")
        if not items:
            want.append((s, p, ("uri", f"{_RDF_NS}nil")))
            continue
        nodes = [new_fresh() for _ in items]
        want.append((s, p, nodes[0]))
        for i, (n, item) in enumerate(zip(nodes, items)):
            want.append((n, ("uri", f"{_RDF_NS}first"), item))
            nxt = (nodes[i + 1] if i + 1 < len(nodes)
                   else ("uri", f"{_RDF_NS}nil"))
            want.append((n, ("uri", f"{_RDF_NS}rest"), nxt))
    for s, p, pairs in plists:
        inner = " ; ".join(f"{_ttl_pred(ip, rnd)} {_ttl_term(io, rnd)}"
                           for ip, io in pairs)
        lines.append(f"{_ttl_term(s, rnd)} {_ttl_pred(p, rnd)} "
                     f"[ {inner} ] .")
        node = new_fresh()
        want.append((s, p, node))
        for ip, io in pairs:
            want.append((node, ip, io))
    return "\n".join(lines) + "\n", want


def _xml_escape(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;"))


def _xml_serialize(triples):
    by_subj = {}
    for s, p, o in triples:
        by_subj.setdefault(s, []).append((p, o))
    out = ['<?xml version="1.0"?>',
           f'<rdf:RDF xmlns:rdf="{_RDF_NS}" xmlns:ex="{_FZ}">']
    for s, pos_ in by_subj.items():
        attr = (f'rdf:about="{s[1]}"' if s[0] == "uri"
                else f'rdf:nodeID="{s[1]}"')
        out.append(f" <rdf:Description {attr}>")
        for p, o in pos_:
            tag = f"ex:{p[len(_FZ):]}"
            if o[0] == "uri":
                out.append(f'  <{tag} rdf:resource="{o[1]}"/>')
            elif o[0] == "bnode":
                out.append(f'  <{tag} rdf:nodeID="{o[1]}"/>')
            else:
                _, text, lang, dt = o
                a = ""
                if lang:
                    a = f' xml:lang="{lang}"'
                elif dt:
                    a = f' rdf:datatype="{dt}"'
                out.append(f"  <{tag}{a}>{_xml_escape(text)}</{tag}>")
        out.append(" </rdf:Description>")
    out.append("</rdf:RDF>")
    return "\n".join(out), [(s, p, o) for s, p, o in triples]


def _diff_modulo_fresh(got_rows, want_abstract):
    """Set-compare parsed 7-tuples against abstract expectation, trying
    every bijection of generator-fresh bnodes onto parser-generated
    names (labeled bnodes map deterministically)."""
    import itertools
    want = set()
    fresh_names = set()
    for s, p, o in want_abstract:
        se = _expected(s)
        oe = _expected(o)
        pe = p[1] if isinstance(p, tuple) else p
        for e in (se, oe):
            if e[1] == "fresh":
                fresh_names.add(e[0])
        want.add((se[0], se[1], pe, oe[0], oe[1], oe[2], oe[3]))
    got = {(r[1], r[4], r[2], r[3], r[5], r[6], r[7]) for r in got_rows}
    gen_names = {v for row in got
                 for v, k in ((row[0], row[1]), (row[3], row[4]))
                 if k == "bnode" and ".g" in v}
    if len(fresh_names) != len(gen_names):
        return False, (fresh_names, gen_names, got, want)
    fl = sorted(fresh_names)
    for perm in itertools.permutations(sorted(gen_names)):
        m = dict(zip(fl, perm))

        def sub(row):
            s, st_, p, o, ot, dt, lg = row
            if st_ == "fresh":
                s, st_ = m[s], "bnode"
            if ot == "fresh":
                o, ot = m[o], "bnode"
            return (s, st_, p, o, ot, dt, lg)

        if {sub(r) for r in want} == got:
            return True, None
    return False, (fresh_names, gen_names, got, want)


def _reference_identity_check(ref, rows):
    """Genuine models.RDFTriple set-dedup on every fuzzed document.
    Documented reference quirk the fuzz surfaced: RDFTriple's
    __post_init__ RECLASSIFIES types from the term text (models.py:
    3841-3869 — a literal whose text parses as a URI or starts "_:"
    becomes uri/bnode; a uri that fails URI validation becomes a
    literal), so the reference identity is the engine tuple AFTER that
    normalization. The check constructs one genuine triple per parsed
    row, reads the normalized identity back, and pins (a) set-dedup
    consistency under the reference's own __hash__/__eq__ and (b) that
    the reference can only COARSEN the engine's source-true distinct
    (normalization is a function of the tuple)."""
    seven = [(r[1], r[2], r[3], r[4], r[5], r[6], r[7]) for r in rows]
    per_row = [ref.models.RDFTriple(
        subject=s, predicate=p, object=o, subject_type=st_,
        object_type=ot, object_datatype=dt, object_language=lg)
        for s, p, o, st_, ot, dt, lg in seven]
    norm = [(t.subject, t.predicate, t.object, t.subject_type,
             t.object_type, t.object_datatype, t.object_language)
            for t in per_row]
    triples = set(per_row)
    assert len(triples) == len(set(norm))
    back = {(t.subject, t.predicate, t.object, t.subject_type,
             t.object_type, t.object_datatype, t.object_language)
            for t in triples}
    assert back == set(norm)
    assert len(set(seven)) >= len(set(norm))


if _HYP:
    @settings(max_examples=140, deadline=None, derandomize=True)
    @given(triples=_triples_ttl,
           colls=hst.lists(hst.tuples(_uri_t, _pred, _coll),
                           max_size=1),
           plists=hst.lists(hst.tuples(_uri_t, _pred, _plist),
                            max_size=1),
           seed=hst.integers(0, 2**31 - 1))
    def test_turtle_grammar_fuzz(ref, triples, colls, plists, seed):
        from cspirit_ontology_information_extraction_opus4plan_spark.operators import (  # noqa: E501
            rdf_full as RF,
        )
        text, want = _ttl_serialize(triples, colls, plists, seed)
        rows = RF.parse_turtle_text("D1", text)
        ok, why = _diff_modulo_fresh(rows, want)
        assert ok, (text, why)
        _reference_identity_check(ref, rows)

    @settings(max_examples=80, deadline=None, derandomize=True)
    @given(triples=_triples_xml)
    def test_rdfxml_grammar_fuzz(ref, triples):
        from cspirit_ontology_information_extraction_opus4plan_spark.operators import (  # noqa: E501
            rdf_full as RF,
        )
        text, want = _xml_serialize(triples)
        rows = RF.parse_rdfxml_text("D1", text)
        ok, why = _diff_modulo_fresh(rows, want)
        assert ok, (text, why)
        _reference_identity_check(ref, rows)


def _nq_escape(s: str) -> str:
    return (s.replace("\\", "\\\\").replace('"', '\\"')
            .replace("\n", "\\n").replace("\t", "\\t"))


def _quad_term_nq(t) -> str:
    if t[0] == "uri":
        return f"<{t[1]}>"
    if t[0] == "bnode":
        return f"_:{t[1]}"
    _, text, lang, dt = t
    body = '"' + _nq_escape(text) + '"'
    if lang:
        return f"{body}@{lang}"
    if dt:
        return f"{body}^^<{dt}>"
    return body


def _quad_expected(rows):
    return {(r[1], r[4], r[2], r[3], r[5], r[6], r[7], r[8])
            for r in rows}


_graph_label = hst.one_of(
    hst.just(None),
    hst.sampled_from([f"{_FZ}q{i}" for i in range(3)]).map(
        lambda u: ("uri", u)),
    hst.sampled_from(["qb0", "qb1"]).map(lambda b: ("bnode", b)))
_quads = hst.lists(hst.tuples(_subj, _pred, _obj_xml, _graph_label),
                   min_size=1, max_size=7)

if _HYP:
    @settings(max_examples=60, deadline=None, derandomize=True)
    @given(quads=_quads)
    def test_nquads_grammar_fuzz(ref, quads):
        """N-Quads: escape-heavy literals, bnode subjects, optional
        uri/bnode graph terms — parsed 9-tuples must equal generator
        ground truth exactly (labeled bnodes skolemize
        deterministically, lang tags lowercase)."""
        from cspirit_ontology_information_extraction_opus4plan_spark.operators import (  # noqa: E501
            rdf_full as RF,
        )
        lines = []
        want = set()
        for s, p, o, g in quads:
            parts = [_quad_term_nq(s), f"<{p}>", _quad_term_nq(o)]
            if g is not None:
                parts.append(_quad_term_nq(g))
            lines.append(" ".join(parts) + " .")
            ge = None if g is None else _expected(g)[0]
            se, oe = _expected(s), _expected(o)
            want.add((se[0], se[1], p, oe[0], oe[1], oe[2], oe[3], ge))
        rows = RF.parse_nquads_text("D1", "\n".join(lines) + "\n")
        assert _quad_expected(rows) == want
        _reference_identity_check(ref, rows)

    @settings(max_examples=60, deadline=None, derandomize=True)
    @given(default=_triples_xml,
           blocks=hst.lists(
               hst.tuples(_graph_label.filter(lambda g: g is not None),
                          _triples_xml),
               min_size=1, max_size=2),
           seed=hst.integers(0, 2**31 - 1))
    def test_trig_grammar_fuzz(ref, default, blocks, seed):
        """TriG: default-graph statements + labeled/bnode graph blocks
        (brace and GRAPH-keyword forms) over the full Turtle term
        grammar; the graph column must track block membership."""
        import random

        from cspirit_ontology_information_extraction_opus4plan_spark.operators import (  # noqa: E501
            rdf_full as RF,
        )
        rnd = random.Random(seed)
        lines = ["@prefix ex: <urn:fz#> .",
                 "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> ."]
        want = set()

        def add(s, p, o, ge):
            se, oe = _expected(s), _expected(o)
            want.add((se[0], se[1], p, oe[0], oe[1], oe[2], oe[3], ge))

        for s, p, o in default:
            lines.append(f"{_ttl_term(s, rnd)} {_ttl_pred(p, rnd)} "
                         f"{_ttl_term(o, rnd)} .")
            add(s, p, o, None)
        for g, triples in blocks:
            glabel = (f"<{g[1]}>" if g[0] == "uri" else f"_:{g[1]}")
            kw = "GRAPH " if rnd.random() < 0.5 else ""
            lines.append(f"{kw}{glabel} {{")
            for s, p, o in triples:
                lines.append(f"  {_ttl_term(s, rnd)} "
                             f"{_ttl_pred(p, rnd)} "
                             f"{_ttl_term(o, rnd)} .")
                add(s, p, o, _expected(g)[0])
            lines.append("}")
        rows = RF.parse_trig_text("D1", "\n".join(lines) + "\n")
        assert _quad_expected(rows) == want
        _reference_identity_check(ref, rows)
