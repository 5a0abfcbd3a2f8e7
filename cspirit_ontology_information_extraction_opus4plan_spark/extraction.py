"""The one triples composition over a flat documents frame:
span synthesis -> relation spans -> NER -> linking -> relation extraction.

`api.triples_df` (and through it `jobs/kg_construct_job.py`) and every
streaming micro-batch call `triples_from_docs`. Only relation spans
(`relations.relation_spans`) cross into Python, because extract_triples
inner-joins mentions to those same spans on (doc_id, pos); mention
queries call `detect_mentions` on the full span table instead.

The plan is built anew on every call, so once per pass and once per
micro-batch. Span synthesis, linking and relation extraction therefore
compose it from Spark SQL expression text held as module constants: a
few driver->JVM calls per step instead of one per expression node
(about 450 calls per build, down from about 3,700).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .corpus import explode_spans, interleave_docs
from .operators.gazetteer import gazetteer_df
from .operators.linking import link_mentions
from .operators.ner import detect_mentions
from .operators.relations import extract_triples, relation_spans


def triples_from_docs(docs: DataFrame) -> DataFrame:
    """Flat documents (doc_id, text, n_chars, ...) -> per-span triples.
    The span table is built once and feeds both sides of the join."""
    spans = explode_spans(interleave_docs(docs))
    linked = link_mentions(detect_mentions(relation_spans(spans)),
                           gazetteer_df(docs.sparkSession))
    return extract_triples(spans, linked)
