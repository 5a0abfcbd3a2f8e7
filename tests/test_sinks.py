"""Serialization sinks: escaping branches, literal suffixes, CSV/JSON
round-trips (reference to_ntriples models.py:4185, CSV export
ontology_manager.py:1213)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cspirit_ontology_information_extraction_opus4plan_spark.operators.gazetteer import (
    relationships_df,
    terms_df,
)
from cspirit_ontology_information_extraction_opus4plan_spark.operators.sinks import (
    terms_json,
    to_ntriples,
    to_turtle,
    write_ontology_csv,
)

TRIPLE_SCHEMA = ("subject string, predicate string, object string, "
                 "subject_type string, object_type string, "
                 "object_datatype string, object_language string")


def _lines(df):
    return [r["line"] for r in df.collect()]


def test_ntriples_literal_escaping_and_suffixes(spark):
    rows = [
        ("CHEBI:1", "is_a", "CHEBI:2", "uri", "uri", None, None),
        ("CHEBI:1", "has_role", 'say "hi"\n\\x', "uri", "literal",
         None, None),
        ("CHEBI:1", "has_role", "42", "uri", "literal",
         "http://www.w3.org/2001/XMLSchema#integer", None),
        ("CHEBI:1", "has_role", "bonjour", "uri", "literal", None, "fr"),
        ("_b0", "is_a", "CHEBI:2", "bnode", "uri", None, None),
    ]
    got = _lines(to_ntriples(spark.createDataFrame(rows, TRIPLE_SCHEMA)))
    assert got[0] == "<urn:ont:CHEBI:1> <urn:pred:is_a> <urn:ont:CHEBI:2> ."
    assert got[1] == ('<urn:ont:CHEBI:1> <urn:pred:has_role> '
                      '"say \\"hi\\"\\n\\\\x" .')
    assert got[2].endswith(
        '"42"^^<http://www.w3.org/2001/XMLSchema#integer> .')
    # language tag wins over datatype position (models.py:4219-4224)
    assert got[3].endswith('"bonjour"@fr .')
    assert got[4].startswith("_:_b0 ")


def test_turtle_prefixed_names(spark):
    rows = [("CHEBI:1", "is_a", "CHEBI:2", "uri", "uri", None, None)]
    got = _lines(to_turtle(spark.createDataFrame(rows, TRIPLE_SCHEMA)))
    assert got == ["ont:CHEBI_1 pred:is_a ont:CHEBI_2 ."]


def test_csv_and_json_round_trip(spark, tmp_path):
    out = str(tmp_path / "csv")
    write_ontology_csv(terms_df(spark), relationships_df(spark), out)
    terms_back = (spark.read.option("header", "true").csv(f"{out}/terms"))
    assert terms_back.count() == terms_df(spark).count()
    assert ";" in (terms_back.filter(F.col("id") == "CHEBI:10001")
                   .first()["synonyms"])

    docs = terms_json(terms_df(spark))
    parsed = docs.select(F.get_json_object("doc", "$.id").alias("id"))
    assert parsed.filter(F.col("id").isNull()).count() == 0


def test_export_ontology_combined(spark, tmp_path):
    """One-call multi-format export (ontology_manager.py:1196/:1213/
    :1270): every requested format lands on disk and the line formats
    round-trip through their own parsers."""
    import pytest

    from cspirit_ontology_information_extraction_opus4plan_spark.operators.serde import (
        parse_ntriples,
        parse_rdfxml,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.sinks import (
        export_ontology,
    )

    triples = spark.createDataFrame(
        [("CHEBI:1", "is_a", "CHEBI:2", "uri", "uri", None, None)],
        TRIPLE_SCHEMA)
    out = str(tmp_path / "export")
    paths = export_ontology(terms_df(spark), relationships_df(spark),
                            triples, out)
    assert set(paths) == {"csv", "json", "ntriples", "turtle", "rdfxml",
                          "owl"}

    nt_back = parse_ntriples(
        spark.read.text(paths["ntriples"]).withColumnRenamed("value", "line"))
    assert nt_back.collect()[0]["subject"] == "CHEBI:1"
    xml_back = parse_rdfxml(
        spark.read.text(paths["rdfxml"]).withColumnRenamed("value", "xml"))
    n_terms = terms_df(spark).count()
    assert xml_back.filter(F.col("predicate") == "label").count() == n_terms
    assert spark.read.text(paths["json"]).count() == n_terms

    with pytest.raises(ValueError, match="unknown export format"):
        export_ontology(terms_df(spark), relationships_df(spark), triples,
                        out, formats=("parquetish",))


def test_owl_export_document_is_wellformed_xml(spark):
    """Joining the ordered sink blocks must reproduce a well-formed
    OWL/RDF-XML document with one owl:Class per term and one
    owl:ObjectProperty per relationship (the reference's exact
    document shape, ontology_manager.py:1270)."""
    import xml.etree.ElementTree as ET

    from cspirit_ontology_information_extraction_opus4plan_spark.operators.gazetteer import (
        relationships_df,
        terms_df,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.sinks import (
        to_owl_rdfxml,
    )

    terms, rels = terms_df(spark), relationships_df(spark)
    blocks = (to_owl_rdfxml(terms, rels, "ONT", "test ontology")
              .orderBy("sect", "part_key").collect())
    doc = "\n\n".join(r["block"] for r in blocks)
    root = ET.fromstring(doc)
    owl = "{http://www.w3.org/2002/07/owl#}"
    assert len(root.findall(owl + "Class")) == terms.count()
    assert len(root.findall(owl + "ObjectProperty")) == rels.count()
    assert len(root.findall(owl + "Ontology")) == 1


def test_obo_roundtrip_hostile_values(spark):
    """OBO escaping (round 5): names/definitions/synonyms containing
    quotes, backslashes, literal newlines, and adversarial sequences
    like a literal backslash-n (which must NOT collapse into a newline
    on the way back) survive sink -> parse -> pivot unchanged."""
    from pyspark.sql import functions as F

    from cspirit_ontology_information_extraction_opus4plan_spark.operators import (  # noqa: E501
        gazetteer as GZ,
        obo as OBO,
    )
    hostile = [
        ('X:0001', 'quote " inside', 'def with "quoted" part'),
        ('X:0002', 'back\\slash', 'ends with backslash \\'),
        ('X:0003', 'multi\nline name', 'def\nwith\nnewlines'),
        ('X:0004', 'literal \\n not newline', 'mix \\" and \\\\n'),
        ('X:0005', 'tag: colon value', '[Term] lookalike line'),
        ('X:0006', 'plain', 'is_a: X:0001 lookalike'),
    ]
    rows = [(tid, name, dfn, [f'syn "{tid}"', 'a\\b\nc'],
             'chemical', False, None, [], [], [], 'X')
            for tid, name, dfn in hostile]
    terms = spark.createDataFrame(rows, GZ.TERMS_SCHEMA)
    back = {r['term_id']: r for r in OBO.obo_terms(
        OBO.parse_obo(OBO.to_obo(terms))).collect()}
    assert set(back) == {t[0] for t in hostile}
    for tid, name, dfn in hostile:
        assert back[tid]['name'] == name, tid
        assert back[tid]['definition'] == dfn, tid
        assert back[tid]['n_synonyms'] == 2, tid


def test_line_parsers_accept_digit_lang_subtags(spark):
    """BCP 47 subtags may be digits (es-419, de-1996): the literal branch
    of the per-line N-Triples and Turtle parsers keeps such objects."""
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.serde import (  # noqa: E501
        parse_ntriples,
        parse_turtle,
    )

    nt = spark.createDataFrame(
        [('<urn:ont:A_1> <urn:pred:label> "hola"@es-419 .',),
         ('<urn:ont:A_1> <urn:pred:label> "Farbe"@de-1996 .',)], "line string")
    ttl = spark.createDataFrame(
        [('ont:A_1 pred:label "hola"@es-419 .',),
         ('ont:A_1 pred:label "Farbe"@de-1996 .',)], "line string")
    for parse, lines in ((parse_ntriples, nt), (parse_turtle, ttl)):
        got = {(r["object"], r["object_type"])
               for r in parse(lines).collect()}
        assert got == {("hola", "literal"), ("Farbe", "literal")}
