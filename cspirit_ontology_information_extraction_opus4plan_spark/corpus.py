"""Deterministic interleaved text+media corpus synthesis.

BASELINE.json's input_hint mandates the engine's input table shape:

    documents(doc_id string,
              spans array<struct<kind:string, text:string,
                                 media_ref:string, offset:int>>)

The sandbox's driver corpus (/root/testdata/sf*/documents.parquet) is flat
(doc_id, text, lang, source, n_chars), so this module derives the
interleaved table from it **deterministically** — a pure function of
(doc_id, text, n_chars) — implemented twice from the same spec:

  * :func:`documents_interleaved` — Spark SQL expression text held as
    module constants (JVM-only, whole-stage codegen, zero Python on the
    path). Text, not a tree of `F.*` calls: the plan is built on every
    call and every streaming micro-batch, and each `F.*` node is a
    driver->JVM round trip;
  * :func:`corpus_ctes` — the equivalent DuckDB SQL CTE prefix, so the
    driver's oracle can rebuild the identical table.

Per-doc recipe (mirrors FIXTURES.md §1; reference analogs cited inline):
  span 0: kind='text'  — the original document text, offset 0
  span 1: kind='text'  — an injected scientific sentence
          "<subj> <predicate-phrase> <obj>."  with surfaces drawn from the
          gazetteer (ground truth for NER/relation extraction; mirrors the
          Relationship fixture sentence, reference models.py:94). Hub skew:
          docs with doc_id%5==0 use 'glucose' as subject (~20% of docs),
          exercising salted connected-components (BASELINE north_rule).
  span 2: kind='figure' (doc_id%3==0) — caption in reference style
          (tests/fixtures/test_data.py:42), opaque media_ref
  span 3: kind='table'  (doc_id%4==0) — caption (test_data.py:50)
  span 4: kind='reference' (doc_id%5==1) — citation string with DOI matching
          the reference's citation regexes (parsers/__init__.py:1844-1874)

Surfaces come from one lookup. Every surface index is a function of
r = pmod(doc_id, N_SURF): subject r, object (7r+3) % N, figure (r+1) % N,
table (r+2) % N, reference (r+4) % N. So the driver builds one constant
table (r, s_subj, s_obj, s_fig, s_tab, s_ref) and each document joins it
once (a broadcast hash join on a plain projected key); no index is ever
computed from doc_id times a constant, so no id overflows.

The text spans are always pos 0 and 1: only the spans after them are
conditional. :func:`text_spans` therefore emits those two rows per
document with `stack`, from the same expression constants as
:func:`interleave_docs` but with no span array and no caption; the
triples path reads nothing else. `tests/test_pipeline_oracle.py::
test_text_spans_are_the_text_rows_of_the_span_table` holds the two
equal.

Offsets are cumulative character positions (strictly increasing); array
order == document order — the per-row invariant is span-sequence equality
on (kind, text, media_ref, order) (reference preserves document order in
text reconstruction, parsers/xml_parser.py:1263-1347).

Identity is per input row: each row is one document, and nothing derived
from it is matched with another row's, so two rows that share a doc_id
yield the multiset union of what each yields alone (no join on doc_id).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ontology_data import PREDICATE_PHRASES, surfaces
from .session import local_df

__all__ = ["read_documents", "documents_interleaved", "interleave_docs",
           "text_spans", "spans_exploded", "explode_spans", "corpus_ctes",
           "spark_sql_str", "N_SURF"]

N_SURF = len(surfaces())

# the flat documents table; reading with it skips a schema-inference job
DOCS_SCHEMA = ("doc_id bigint, text string, lang string, source string, "
               "n_chars bigint")


def spark_sql_str(s: str) -> str:
    """`s` as a Spark SQL string literal. Spark reads backslash escapes
    inside literals ('\\b' is a backspace), so backslashes are doubled
    and quotes escaped; sql_quote below is the DuckDB form and would
    corrupt a regex such as relations.PHRASE_PATTERN."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


# Span synthesis as Spark SQL expression text, built once at import.
# interleave_docs runs on every call and on every streaming micro-batch;
# from text, its plan costs a few driver->JVM calls instead of one per
# expression node. Moduli are pmod (floor, as Python's %), so a negative
# doc id still picks its surfaces like the pandas oracle.
_DOC_KEYS = (
    "doc_id AS d",
    # DOC:<id> zero-padded to six digits, longer ids left whole; the IF
    # keeps the column nullable, as the table's schema has it
    "IF(doc_id IS NULL, NULL, format_string('DOC:%06d', doc_id)) AS doc_id",
    "text",
    "CAST(n_chars AS INT) AS nc",
    f"CAST(pmod(doc_id, {N_SURF}) AS INT) AS r",
)


def _span(kind: str, text: str, media: str, off: str,
          when: str | None = None) -> str:
    span = (f"named_struct('kind', '{kind}', 'text', {text}, "
            f"'media_ref', {media}, 'offset', CAST({off} AS INT))")
    return span if when is None else f"CASE WHEN {when} THEN {span} END"


# (kind, text, media_ref, offset) of the unconditional spans, pos 0 and 1
_TEXT_SPANS = (("text", "text", "''", "0"), ("text", "sentence", "''", "off1"))
_MEDIA = "concat('media/DOC', CAST(d AS STRING), '/{}')"
_SPANS = ", ".join((
    *(_span(*span) for span in _TEXT_SPANS),
    _span("figure", "figcap", _MEDIA.format("fig1.png"), "off2",
          "pmod(d, 3) = 0"),
    _span("table", "tabcap", _MEDIA.format("tab1.parquet"), "off3",
          "pmod(d, 4) = 0"),
    _span("reference", "refcit", "''", "off4", "pmod(d, 5) = 1"),
))
_TEXT_STACK = "stack({}, {}) AS (pos, kind, text)".format(
    len(_TEXT_SPANS), ", ".join(f"{pos}, '{span[0]}', {span[1]}"
                                for pos, span in enumerate(_TEXT_SPANS)))

# One select in dependency order: each alias may use the ones before it
# (lateral column aliases), so every generated text and offset is
# computed once. The text part is all that text_spans reads; the media
# part adds the captions, the offsets and the span array.
_TEXT_EXPRS = (
    "doc_id",
    "text",
    "CASE WHEN pmod(d, 5) = 0 THEN 'glucose' ELSE s_subj END AS subj",
    "CASE pmod(d, 7) " + " ".join(
        f"WHEN {i} THEN {spark_sql_str(ph)}"
        for i, (ph, _) in enumerate(PREDICATE_PHRASES)) + " END AS phrase",
    "concat(subj, ' ', phrase, ' ', s_obj, '.') AS sentence",
)
_MEDIA_EXPRS = (
    "concat('figure 1. microscopy of ', s_fig, ' distribution in sample ', "
    "CAST(d AS STRING), '.') AS figcap",
    "concat('table 1. quantification of ', s_tab, ' levels across ', "
    "CAST(pmod(d, 7) + 2 AS STRING), ' conditions.') AS tabcap",
    "concat('smith j, doe a (', CAST(pmod(d, 30) + 1990 AS STRING), "
    "'). studies on ', s_ref, '. journal of synthetic data, ', "
    "CAST(pmod(d, 50) + 1 AS STRING), '(2), 100-110. doi:10.1234/jsd.', "
    "CAST(d AS STRING)) AS refcit",
    "nc + 1 AS off1",
    "off1 + length(sentence) + 1 AS off2",
    "off2 + CASE WHEN pmod(d, 3) = 0 THEN length(figcap) + 1 ELSE 0 END "
    "AS off3",
    "off3 + CASE WHEN pmod(d, 4) = 0 THEN length(tabcap) + 1 ELSE 0 END "
    "AS off4",
    f"filter(array({_SPANS}), x -> x IS NOT NULL) AS spans",
)


@lru_cache(maxsize=8)
def _surf_df(spark: SparkSession) -> DataFrame:
    """The one surface lookup: every surface a document uses, keyed by
    r = pmod(doc_id, N_SURF); built once per session (8 kept)."""
    s, n = surfaces(), N_SURF
    return local_df(spark, [(r, s[r], s[(7 * r + 3) % n], s[(r + 1) % n],
                             s[(r + 2) % n], s[(r + 4) % n])
                            for r in range(n)],
                    "r int, s_subj string, s_obj string, s_fig string, "
                    "s_tab string, s_ref string")


def _with_surfaces(docs: DataFrame) -> DataFrame:
    return docs.selectExpr(*_DOC_KEYS).join(
        F.broadcast(_surf_df(docs.sparkSession)), "r")


def read_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flat documents table of `sf_dir`, read with DOCS_SCHEMA."""
    return spark.read.schema(DOCS_SCHEMA).parquet(
        f"{sf_dir}/documents.parquet")


def documents_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's canonical input table (nested spans), synthesized from
    the flat driver corpus. The surface lookup is one broadcast hash join
    against the tiny constant table keyed by r — the same shape a real
    deployment would use for any per-row dictionary substitution (never an
    800-literal in-plan array, which blows up the expression tree)."""
    return interleave_docs(read_documents(spark, sf_dir))


def interleave_docs(docs: DataFrame) -> DataFrame:
    """Span synthesis over an already-loaded flat documents DataFrame —
    the entry point the Structured Streaming path shares (foreachBatch
    hands us a batch DataFrame, not a directory)."""
    return _with_surfaces(docs).selectExpr(*_TEXT_EXPRS, *_MEDIA_EXPRS) \
        .select("doc_id", "spans")


def text_spans(docs: DataFrame) -> DataFrame:
    """The kind='text' rows of explode_spans(interleave_docs(docs)) as
    (doc_id, pos, kind, text), built without the span array: pos 0 is the
    document text, pos 1 the injected sentence; pos is NOT NULL."""
    return _with_surfaces(docs).selectExpr(*_TEXT_EXPRS) \
        .selectExpr("doc_id", _TEXT_STACK) \
        .selectExpr("doc_id", "ifnull(pos, 0) AS pos", "kind", "text")


def spans_exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded view (doc_id, pos, kind, text, media_ref, offset); pos is
    the array position — the 'order' leg of the span invariant."""
    return explode_spans(documents_interleaved(spark, sf_dir))


def explode_spans(nested: DataFrame) -> DataFrame:
    return nested.selectExpr("doc_id", "posexplode(spans) AS (pos, s)") \
        .selectExpr("doc_id", "pos", "s.kind", "s.text", "s.media_ref",
                    "s.`offset`")


# ---------------------------------------------------------------------------
# DuckDB-side reconstruction (oracle).  The driver pre-registers the flat
# `documents` view; these CTEs rebuild the identical exploded spans table.
# ---------------------------------------------------------------------------

def sql_values(rows, alias, cols) -> str:
    """VALUES-CTE builder shared with oracle_sqls (single SQL-escaping
    implementation — two copies drifting apart would make the corpus CTE
    and the oracle silently disagree)."""
    body = ",".join("(" + ",".join(vals) + ")" for vals in rows)
    return f"{alias}({','.join(cols)}) AS (SELECT * FROM (VALUES {body}))"


def sql_quote(s) -> str:
    if s is None:
        return "NULL"
    return "'" + str(s).replace("'", "''") + "'"


_values, _q = sql_values, sql_quote  # internal aliases


def _pmod(e: str, k: int) -> str:
    """Floor modulo (Spark's pmod, Python's %) in DuckDB, whose % keeps
    the sign of the dividend."""
    return f"(({e}) % {k} + {k}) % {k}"


def corpus_ctes() -> str:
    """SQL CTE prefix (no leading WITH) defining:
    surf(idx,s) -> aug (per-doc surfaces + generated texts) -> spans
    (doc_id,pos,kind,text,media_ref,offset). ANSI-ish; tested on DuckDB.
    Every surface index is derived from r = pmod(d, n), as in the Spark
    lookup table, so no id is multiplied."""
    surf = surfaces()
    n = len(surf)
    surf_values = _values(
        [(str(i), _q(s)) for i, s in enumerate(surf)], "surf", ["idx", "s"])
    phrase_case = " ".join(
        f"WHEN {i} THEN {_q(ph)}" for i, (ph, _) in enumerate(PREDICATE_PHRASES))
    # pos per row, in closed form: 1 per optional span before it
    fig = f"CAST({_pmod('d', 3)} = 0 AS INT)"
    tab = f"CAST({_pmod('d', 4)} = 0 AS INT)"
    return f"""
{surf_values},
d0 AS (
  SELECT doc_id AS d, printf('DOC:%06d', doc_id) AS doc,
         text, CAST(n_chars AS INT) AS nc, {_pmod('doc_id', n)} AS r
  FROM documents
),
aug AS (
  SELECT d0.*,
    CASE WHEN {_pmod('d', 5)} = 0 THEN 'glucose' ELSE ss.s END AS subj,
    so.s AS obj, sf_.s AS figterm, st.s AS tabterm, sr.s AS refterm,
    CASE CAST({_pmod('d', 7)} AS INT) {phrase_case} END AS phrase
  FROM d0
  JOIN surf ss  ON ss.idx  = r
  JOIN surf so  ON so.idx  = (r * 7 + 3) % {n}
  JOIN surf sf_ ON sf_.idx = (r + 1) % {n}
  JOIN surf st  ON st.idx  = (r + 2) % {n}
  JOIN surf sr  ON sr.idx  = (r + 4) % {n}
),
aug2 AS (
  SELECT aug.*,
    subj || ' ' || phrase || ' ' || obj || '.' AS sentence,
    'figure 1. microscopy of ' || figterm || ' distribution in sample '
      || CAST(d AS VARCHAR) || '.' AS figcap,
    'table 1. quantification of ' || tabterm || ' levels across '
      || CAST({_pmod('d', 7)} + 2 AS VARCHAR) || ' conditions.' AS tabcap,
    'smith j, doe a (' || CAST({_pmod('d', 30)} + 1990 AS VARCHAR)
      || '). studies on '
      || refterm || '. journal of synthetic data, '
      || CAST({_pmod('d', 50)} + 1 AS VARCHAR)
      || '(2), 100-110. doi:10.1234/jsd.' || CAST(d AS VARCHAR) AS refcit
  FROM aug
),
sp AS (
  SELECT doc, 0 AS pos, 'text' AS kind, text AS stext, '' AS media_ref,
         0 AS off FROM aug2
  UNION ALL
  SELECT doc, 1, 'text', sentence, '', nc + 1 FROM aug2
  UNION ALL
  SELECT doc, 2, 'figure', figcap,
         'media/DOC' || CAST(d AS VARCHAR) || '/fig1.png',
         nc + 1 + length(sentence) + 1
  FROM aug2 WHERE {_pmod('d', 3)} = 0
  UNION ALL
  SELECT doc, 2 + {fig}, 'table', tabcap,
         'media/DOC' || CAST(d AS VARCHAR) || '/tab1.parquet',
         nc + 1 + length(sentence) + 1
           + CASE WHEN {_pmod('d', 3)} = 0 THEN length(figcap) + 1 ELSE 0 END
  FROM aug2 WHERE {_pmod('d', 4)} = 0
  UNION ALL
  SELECT doc, 2 + {fig} + {tab}, 'reference', refcit, '',
         nc + 1 + length(sentence) + 1
           + CASE WHEN {_pmod('d', 3)} = 0 THEN length(figcap) + 1 ELSE 0 END
           + CASE WHEN {_pmod('d', 4)} = 0 THEN length(tabcap) + 1 ELSE 0 END
  FROM aug2 WHERE {_pmod('d', 5)} = 1
),
spans AS (
  SELECT doc AS doc_id, CAST(pos AS INT) AS pos, kind, stext AS text,
         media_ref, CAST(off AS INT) AS "offset"
  FROM sp
)""".strip()
