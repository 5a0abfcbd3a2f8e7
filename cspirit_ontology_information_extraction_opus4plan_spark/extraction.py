"""The one triples composition over a flat documents frame, called by
`api.triples_df` (so by `jobs/kg_construct_job.py`) and by every
streaming micro-batch. It reads the documents once and never shuffles.
Only the text spans are synthesized (`corpus.text_spans`: two rows per
document from one surface lookup, with no span array, no caption and no
offset, so the scan reads doc_id and text alone). Relation spans among
them get their phrase offsets, NER returns each of them with its
mentions as an array (the text and offsets pass through Python), the
subject/object pick is a JVM array expression, and linking is two
broadcast lookups in the constant winner table. Picking before linking
is exact because the NER alphabet is the winner table's key set. A
span's mentions never leave its row, which also keeps documents that
share a doc_id apart (see `corpus`). The steps are Spark SQL text held
as module constants: the plan is rebuilt on every call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .corpus import text_spans
from .operators.gazetteer import winners_df
from .operators.linking import link_endpoints
from .operators.ner import span_mentions
from .operators.relations import PICK, relation_phrases, triple_rows


def triples_from_docs(docs: DataFrame) -> DataFrame:
    """Flat documents (doc_id, text, ...) -> per-span triples."""
    picked = span_mentions(relation_phrases(text_spans(docs))).selectExpr(
        "doc_id", "pos", "text", "phrase", *PICK)
    return triple_rows(link_endpoints(picked,
                                      winners_df(docs.sparkSession)))
