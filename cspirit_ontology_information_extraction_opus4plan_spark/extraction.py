"""The one triples composition over a flat documents frame, called by
`api.triples_df` (so by `jobs/kg_construct_job.py`) and by every
streaming micro-batch. It reads doc_id and text once, never shuffles
and runs no Python. Only the two text spans per document are built
(`corpus.text_spans`); relation spans among them get their phrase
offsets, their subject and object are JVM regex matches on either side
of the phrase (`relations.ENDPOINTS`), and linking is two broadcast
lookups in the constant winner table (exact, as the NER alphabet is its
key set). A span's endpoints never leave its row, so documents that
share a doc_id stay apart. The steps are Spark SQL text held as module
constants: the plan is rebuilt on every call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .corpus import text_spans
from .operators.gazetteer import winners_df
from .operators.linking import link_endpoints
from .operators.relations import ENDPOINTS, relation_phrases, triple_rows


def triples_from_docs(docs: DataFrame) -> DataFrame:
    """Flat documents (doc_id, text, ...) -> per-span triples."""
    picked = relation_phrases(text_spans(docs)).selectExpr(
        "doc_id", "pos", "text", "phrase", *ENDPOINTS)
    return triple_rows(link_endpoints(picked,
                                      winners_df(docs.sparkSession)))
