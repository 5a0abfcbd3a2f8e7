"""The BASELINE.json correctness gates, against the single-process oracle:

  * per-row span-sequence equality on (kind, text, media_ref, order)
  * NER mention equality (exact, including offsets)
  * triple P/R >= 0.95 on the 7-tuple identity (here: exact equality)
"""

from __future__ import annotations

import pandas as pd
import pytest

from cspirit_ontology_information_extraction_opus4plan_spark import api
from cspirit_ontology_information_extraction_opus4plan_spark.corpus import (
    documents_interleaved,
    spans_exploded,
)
from cspirit_ontology_information_extraction_opus4plan_spark.operators.gazetteer import (
    gazetteer_df,
)
from cspirit_ontology_information_extraction_opus4plan_spark.operators.ner import (
    detect_mentions,
)

from . import oracle


@pytest.fixture(scope="module")
def flat(sf_dir):
    return pd.read_parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def expected_span_rows(flat):
    return oracle.expected_spans(flat)


def test_span_sequence_invariant(spark, sf_dir, expected_span_rows):
    """Exact per-row (kind, text, media_ref, order) equality, driven from
    the nested table (the shape the engine actually consumes)."""
    nested = documents_interleaved(spark, sf_dir).collect()
    got = {}
    for row in nested:
        got[row.doc_id] = [
            (i, s.kind, s.text, s.media_ref) for i, s in enumerate(row.spans)]
    want = {}
    for r in expected_span_rows:
        want.setdefault(r["doc_id"], []).append(
            (r["pos"], r["kind"], r["text"], r["media_ref"]))
    assert got.keys() == want.keys()
    for doc in want:
        assert got[doc] == want[doc], f"span sequence mismatch in {doc}"


def test_offsets_strictly_increasing(spark, sf_dir):
    bad = (spans_exploded(spark, sf_dir)
           .groupBy("doc_id")
           .agg({"offset": "collect_list"}))
    from pyspark.sql import functions as F
    sp = spans_exploded(spark, sf_dir)
    w = sp.selectExpr("doc_id", "pos", "offset")
    j = (w.alias("a").join(w.alias("b"),
                           (F.col("a.doc_id") == F.col("b.doc_id"))
                           & (F.col("b.pos") == F.col("a.pos") + 1))
         .filter(F.col("b.offset") <= F.col("a.offset")))
    assert j.count() == 0
    _ = bad  # silence lint


def test_ner_mentions_exact(spark, sf_dir, expected_span_rows):
    got = detect_mentions(spans_exploded(spark, sf_dir)).collect()
    got_set = {(r.doc_id, r.pos, r.kind, r.m_off, r.surface) for r in got}
    want = {(m["doc_id"], m["pos"], m["kind"], m["m_off"], m["surface"])
            for m in oracle.expected_mentions(expected_span_rows)}
    assert got_set == want


def test_linking_deterministic_argmax(spark, sf_dir):
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.linking import (
        link_mentions,
    )
    linked = link_mentions(
        detect_mentions(spans_exploded(spark, sf_dir)), gazetteer_df(spark))
    best = oracle._best_candidate()
    rows = linked.select("surface", "term_id", "match_kind").distinct().collect()
    for r in rows:
        assert best[r.surface] == (r.term_id, r.match_kind)


def test_winner_table_keys_are_the_ner_alphabet(spark):
    """Picking the subject and object before linking them is exact only
    if every mention links: the NER alphabet is the winner table's key
    set, one row per surface."""
    from cspirit_ontology_information_extraction_opus4plan_spark import (
        ontology_data as OD,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.gazetteer import (  # noqa: E501
        winners_df,
    )
    keys = [r.surface for r in winners_df(spark).collect()]
    assert len(keys) == len(set(keys))
    assert set(keys) == set(OD.surfaces())


def test_winner_table_equals_dataframe_rule_and_oracle(spark):
    """The constant winner table (decided in the driver) equals the
    DataFrame form of the rule over the gazetteer and the oracle's
    best candidate per surface."""
    from cspirit_ontology_information_extraction_opus4plan_spark import (
        ontology_data as OD,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.gazetteer import (  # noqa: E501
        winners,
        winners_df,
    )
    arrow = sorted(tuple(r) for r in winners_df(spark).collect())
    frame = sorted(tuple(r) for r in winners(gazetteer_df(spark)).collect())
    assert arrow == frame
    assert {s: (t, k) for s, t, k, _ in arrow} == oracle._best_candidate()
    assert all(rank == OD.MATCH_KIND_RANK[k] for _, _, k, rank in arrow)


def test_triple_precision_recall(spark, sf_dir, expected_span_rows):
    got_rows = [r.asDict() for r in api.triples_df(spark, sf_dir).collect()]
    want_rows = oracle.expected_triples(expected_span_rows)
    got = oracle.triple_keys(got_rows)
    want = oracle.triple_keys(want_rows)
    tp = len(got & want)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(want) if want else 0.0
    assert precision >= 0.95, f"precision {precision}"
    assert recall >= 0.95, f"recall {recall}"
    # and in fact the engine should be exact on this corpus
    assert got == want
    # per-doc multiplicity equality too (not just the distinct key set)
    got_full = sorted((r["doc_id"], r["subject"], r["predicate"], r["object"])
                      for r in got_rows)
    want_full = sorted((r["doc_id"], r["subject"], r["predicate"], r["object"])
                       for r in want_rows)
    assert got_full == want_full


def test_no_self_loops_and_closed_vocabulary(spark, sf_dir):
    from cspirit_ontology_information_extraction_opus4plan_spark import (
        ontology_data as OD,
    )
    rows = api.triples_df(spark, sf_dir).collect()
    assert all(r.subject != r.object for r in rows)
    assert all(r.predicate in OD.PREDICATES for r in rows)
    assert all(r.triple_id.startswith("TRP:") for r in rows)


def test_doc_ids_of_seven_digits_stay_distinct(spark):
    """lpad truncates: padding 1000017 to six characters gave 100001, the
    id of another document. Ids of six or more digits are left unpadded,
    in the Spark span synthesis and in its DuckDB twin (corpus_ctes)."""
    import duckdb

    from cspirit_ontology_information_extraction_opus4plan_spark.corpus import (  # noqa: E501
        corpus_ctes,
        interleave_docs,
    )
    flat = pd.DataFrame({"doc_id": [1_000_017, 100_001, 7],
                         "text": ["a", "b", "c"], "n_chars": [1, 1, 1]})
    want = {"DOC:1000017", "DOC:100001", "DOC:000007"}
    got = {r.doc_id for r in interleave_docs(
        spark.createDataFrame(flat)).collect()}
    assert got == want
    assert {r["doc_id"] for r in oracle.expected_spans(flat)} == want
    con = duckdb.connect()
    con.register("documents", flat)
    duck = {d for (d,) in con.execute(
        f"WITH {corpus_ctes()} SELECT DISTINCT doc_id FROM spans").fetchall()}
    con.close()
    assert duck == want


# hostile documents: ids at the padding edges, a negative id, one above
# 2**31, two of magnitude 2**62 (seven times either overflows a bigint);
# null, empty and astral-only text; phrases in upper case; two documents
# that share the id 5
HOSTILE = pd.DataFrame({
    "doc_id": [0, 999_999, 1_000_000, -7, -12, 2**31 + 5, 5, 5, 2**62,
               -(2**62)],
    "text": ["abscisate ACCUMULATES IN abscission here", None, "",
             "\U0001F600\U0001F600\U0001F600",
             "abscisate accumulates in abscission",
             "glucose Regulates abscission",
             "abscisate accumulates in abscission",
             "xx glucose regulates abscisate",
             "glucose affects abscisate", ""],
    "n_chars": [40, 0, 0, 3, 35, 28, 35, 30, 25, 0],
})


_TRIPLE_COLS = ["doc_id", "pos", "subject", "predicate", "object",
                "confidence", "evidence"]


def _spans_three_ways(spark, flat: pd.DataFrame) -> tuple[list, list, list]:
    """Sorted span rows of `flat` from Spark, from its DuckDB twin
    (corpus_ctes) and from the pandas oracle."""
    import duckdb

    from cspirit_ontology_information_extraction_opus4plan_spark.corpus import (  # noqa: E501
        corpus_ctes,
        explode_spans,
        interleave_docs,
    )
    cols = ["doc_id", "pos", "kind", "text", "media_ref", "offset"]
    got = sorted(tuple(r) for r in explode_spans(interleave_docs(
        spark.createDataFrame(flat))).select(*cols).collect())
    con = duckdb.connect()
    con.register("documents", flat)
    quoted = ", ".join(f'"{c}"' for c in cols)
    duck = sorted(con.execute(
        f"WITH {corpus_ctes()} SELECT {quoted} FROM spans").fetchall())
    con.close()
    want = sorted(tuple(r[c] for c in cols)
                  for r in oracle.expected_spans(flat))
    return got, duck, want


def _triples(spark, flat: pd.DataFrame) -> list:
    from cspirit_ontology_information_extraction_opus4plan_spark.extraction import (  # noqa: E501
        triples_from_docs,
    )
    return sorted(tuple(r) for r in triples_from_docs(
        spark.createDataFrame(flat)).select(*_TRIPLE_COLS).collect())


def _oracle_triples(flat: pd.DataFrame) -> list:
    return sorted(tuple(r[c] for c in _TRIPLE_COLS) for r in
                  oracle.expected_triples(oracle.expected_spans(flat)))


def test_hostile_docs_match_duckdb_and_oracle(spark):
    """Span synthesis on hostile documents equals its DuckDB twin
    (corpus_ctes) and the pandas oracle, and triples_from_docs equals
    the oracle's triples: no document is dropped or renamed by one
    engine alone."""
    got, duck, want = _spans_three_ways(spark, HOSTILE)
    assert got == duck
    assert got == want
    assert {r[0] for r in got} == {f"DOC:{d:06d}" for d in HOSTILE.doc_id}

    got_t = _triples(spark, HOSTILE)
    assert got_t == _oracle_triples(HOSTILE)
    # both upper-case phrases, the negative id and each document with id
    # 5 yield their base triple
    assert {(d, p) for d, pos, _, p, _, _, _ in got_t if pos == 0} == {
        ("DOC:000000", "accumulates_in"), ("DOC:-00012", "accumulates_in"),
        (f"DOC:{2**31 + 5}", "regulates"), ("DOC:000005", "accumulates_in"),
        ("DOC:000005", "regulates"), (f"DOC:{2**62}", "affects")}
    # two rows that share an id yield the multiset union of each alone:
    # no mention of one document reaches the other's relation span
    dup = HOSTILE[HOSTILE.doc_id == 5]
    assert [t for t in got_t if t[0] == "DOC:000005"] == sorted(
        t for i in range(len(dup)) for t in _triples(spark, dup.iloc[[i]]))


def _text_rows(spark, docs) -> tuple[list, list]:
    """(text_spans(docs), the kind='text' rows of the full span table),
    both as sorted (doc_id, pos, kind, text) tuples."""
    from cspirit_ontology_information_extraction_opus4plan_spark.corpus import (  # noqa: E501
        explode_spans,
        interleave_docs,
        text_spans,
    )
    cols = ["doc_id", "pos", "kind", "text"]
    full = explode_spans(interleave_docs(docs)).filter("kind = 'text'")
    return tuple(sorted(tuple(r) for r in df.select(*cols).collect())
                 for df in (text_spans(docs), full))


def test_text_spans_are_the_text_rows_of_the_span_table(spark):
    """The triples path reads text_spans alone: it must equal the
    kind='text' rows of explode_spans(interleave_docs(docs)), on hostile
    documents and on sf0.01."""
    import os

    from cspirit_ontology_information_extraction_opus4plan_spark.corpus import (  # noqa: E501
        read_documents,
    )
    from .conftest import SF_DIR

    got, want = _text_rows(spark, spark.createDataFrame(HOSTILE))
    assert got == want
    assert len(got) == 2 * len(HOSTILE)
    got, want = _text_rows(spark, read_documents(
        spark, os.path.join(os.path.dirname(SF_DIR), "sf0.01")))
    assert got == want and len(got) > 0


def test_document_of_several_mb_matches_duckdb_and_oracle(spark):
    """A 4 MB document with one predicate phrase deep inside and
    gazetteer words all through it: its spans equal DuckDB's corpus_ctes
    and the oracle's, and its triples (base text and injected sentence)
    the oracle's."""
    filler = "abscisate and glucose near abscission in sample 7. " * 40_000
    text = filler + "glucose regulates abscisate. " + filler
    assert len(text) > 4_000_000
    flat = pd.DataFrame({"doc_id": [12], "text": [text],
                         "n_chars": [len(text)]})
    got, duck, want = _spans_three_ways(spark, flat)
    assert got == duck
    assert got == want
    assert [r[1:3] for r in got] == [(0, "text"), (1, "text"),
                                     (2, "figure"), (3, "table")]
    got_t = _triples(spark, flat)
    assert got_t == _oracle_triples(flat)
    assert (0, "regulates") in {(t[1], t[3]) for t in got_t}


def test_spark_sql_str_round_trips(spark):
    """spark_sql_str(s) read back by Spark SQL is s: backslashes (the
    \\b of every word-bounded pattern), quotes and astral characters
    survive."""
    from cspirit_ontology_information_extraction_opus4plan_spark import (
        ontology_data as OD,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.corpus import (  # noqa: E501
        spark_sql_str,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.ner import (  # noqa: E501
        ner_pattern,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.relations import (  # noqa: E501
        NER_PATTERN,
        PHRASE_PATTERN,
    )
    strings = ([PHRASE_PATTERN, ner_pattern(), NER_PATTERN, "it's", "a\\b", "\\\\b",
                "a\\", "\\'", "''", "\U0001F600 \U00010348 \u00e9"]
               + [ph for ph, _ in OD.PREDICATE_PHRASES]
               + [pred for _, pred in OD.PREDICATE_PHRASES] + OD.surfaces())
    row = spark.sql("SELECT " + ", ".join(
        f"{spark_sql_str(s)} AS c{i}" for i, s in enumerate(strings))).first()
    assert list(row) == strings


# texts for the relation-span rule: base text is span 0 of each document
RULE_TEXTS = [
    # astral prefix: two UTF-16 units per emoji, one code point each
    "😀😀 abscisate accumulates in abscission here",
    "abscisate accumulates in abscission here",
    # an emoji between the subject and the phrase and before the object
    "abscisate 😀 accumulates in 😀😀 abscission",
    # upper-case phrase: matched on the lower-cased text
    "abscisate Accumulates In abscission here",
    # two phrases: not a relation span
    "abscisate accumulates in abscission and glucose regulates abscission",
    # no phrase
    "abscisate and abscission",
    # the subject is the last mention before the phrase, the object the
    # first after it
    "abscisate, glucose regulates abscission, abscisate",
    # word boundaries are Python's: '²' is a word character, so neither
    # the phrase nor the subject is bounded here
    "glucose regulates\u00b2 abscisate",
    "glucose\u00b2 regulates abscisate",
    # a combining mark is not a word character: glucose is bounded
    "glucose\u0301 regulates abscisate",
    # a letter outside the BMP (two UTF-16 units) is a word character,
    # an emoji is not
    "glucose \U00010348regulates abscisate",
    "\U00010348glucose regulates abscisate",
    "glucose regulates \U00010348abscisate",
    "\U0001F600glucose regulates abscisate\U0001F600",
]


def test_relation_span_rule_matches_oracle(spark):
    """triples_from_docs against the pandas oracle on spans with an astral
    prefix, an upper-case phrase and two phrases: the relation-span filter
    in front of NER keeps exactly the spans the oracle extracts from, and
    mention and phrase offsets share one unit."""
    from cspirit_ontology_information_extraction_opus4plan_spark.extraction import (  # noqa: E501
        triples_from_docs,
    )
    flat = pd.DataFrame({"doc_id": range(1, len(RULE_TEXTS) + 1),
                         "text": RULE_TEXTS,
                         "n_chars": [len(t) for t in RULE_TEXTS]})
    cols = ["doc_id", "pos", "subject", "predicate", "object",
            "confidence", "evidence"]
    triples = triples_from_docs(spark.createDataFrame(flat))
    got = sorted(tuple(r) for r in triples.select(*cols).collect())
    want = sorted(tuple(r[c] for c in cols) for r in
                  oracle.expected_triples(oracle.expected_spans(flat)))
    assert got == want
    # pos is a span position, never NULL, also after the stack
    assert not triples.schema["pos"].nullable
    base = {(d, s, p, o) for d, pos, s, p, o, _, _ in got if pos == 0}
    edge = ("CHEBI:10039", "accumulates_in", "GO:20011")
    assert {t for t in base if t[2] == "accumulates_in"} == {
        (f"DOC:{d:06d}",) + edge for d in (1, 2, 3, 4)}
    assert sorted(t[0] for t in base if t[2] == "regulates") == [
        f"DOC:{d:06d}" for d in (7, 10, 14)]
