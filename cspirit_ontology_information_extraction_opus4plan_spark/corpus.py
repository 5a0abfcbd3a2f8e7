"""Deterministic interleaved text+media corpus synthesis.

BASELINE.json's input_hint mandates the engine's input table shape:

    documents(doc_id string,
              spans array<struct<kind:string, text:string,
                                 media_ref:string, offset:int>>)

The sandbox's driver corpus (/root/testdata/sf*/documents.parquet) is flat
(doc_id, text, lang, source, n_chars), so this module derives the
interleaved table from it **deterministically** — a pure function of
(doc_id, text, n_chars) — implemented twice from the same spec:

  * :func:`documents_interleaved` — Spark column expressions (JVM-only,
    whole-stage codegen, zero Python on the path);
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

Offsets are cumulative character positions (strictly increasing); array
order == document order — the per-row invariant is span-sequence equality
on (kind, text, media_ref, order) (reference preserves document order in
text reconstruction, parsers/xml_parser.py:1263-1347).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .ontology_data import PREDICATE_PHRASES, surfaces
from .session import local_df

__all__ = ["documents_interleaved", "interleave_docs", "spans_exploded",
           "explode_spans", "corpus_ctes", "N_SURF"]

N_SURF = len(surfaces())


def _doc_str(d: Column) -> Column:
    """DOC:<id>, zero-padded to six digits. lpad truncates longer
    strings, so ids of seven or more digits are left unpadded."""
    s = d.cast("string")
    return F.concat(F.lit("DOC:"),
                    F.when(F.length(s) < 6, F.lpad(s, 6, "0")).otherwise(s))


def _surf_df(spark: SparkSession) -> DataFrame:
    return local_df(spark, list(enumerate(surfaces())), "idx int, s string")


def documents_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's canonical input table (nested spans), synthesized from
    the flat driver corpus. The surface lookup is a broadcast hash join
    against the tiny (idx, surface) dimension — the same shape a real
    deployment would use for any per-row dictionary substitution (never an
    800-literal in-plan array, which blows up the expression tree)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return interleave_docs(docs)


def interleave_docs(docs: DataFrame) -> DataFrame:
    """Span synthesis over an already-loaded flat documents DataFrame —
    the entry point the Structured Streaming path shares (foreachBatch
    hands us a batch DataFrame, not a directory)."""
    spark = docs.sparkSession
    surf = _surf_df(spark)
    n = N_SURF
    d = F.col("doc_id")

    base = docs.select(
        d.alias("d"), _doc_str(d).alias("doc_id"), "text",
        F.col("n_chars").cast("int").alias("nc"),
        (d % n).cast("int").alias("i_subj"),
        ((d * 7 + 3) % n).cast("int").alias("i_obj"),
        ((d + 1) % n).cast("int").alias("i_fig"),
        ((d + 2) % n).cast("int").alias("i_tab"),
        ((d + 4) % n).cast("int").alias("i_ref"),
    )
    for key, out in [("i_subj", "s_subj"), ("i_obj", "s_obj"),
                     ("i_fig", "s_fig"), ("i_tab", "s_tab"),
                     ("i_ref", "s_ref")]:
        sd = surf.withColumnRenamed("idx", key + "_k").withColumnRenamed("s", out)
        base = base.join(F.broadcast(sd), base[key] == sd[key + "_k"], "inner") \
                   .drop(key, key + "_k")

    d = F.col("d")
    phrase = None
    for i, (ph, _) in enumerate(PREDICATE_PHRASES):
        phrase = (F.when(d % 7 == i, F.lit(ph)) if phrase is None
                  else phrase.when(d % 7 == i, F.lit(ph)))
    base = base.withColumn(
        "subj", F.when(d % 5 == 0, F.lit("glucose")).otherwise(F.col("s_subj"))
    ).withColumn("phrase", phrase)

    # generated texts, each materialized once as a named column
    base = base.withColumn(
        "sentence",
        F.concat("subj", F.lit(" "), "phrase", F.lit(" "), "s_obj", F.lit(".")))
    base = base.withColumn(
        "figcap",
        F.concat(F.lit("figure 1. microscopy of "), "s_fig",
                 F.lit(" distribution in sample "), d.cast("string"), F.lit("."))
    ).withColumn(
        "tabcap",
        F.concat(F.lit("table 1. quantification of "), "s_tab",
                 F.lit(" levels across "), (d % 7 + 2).cast("string"),
                 F.lit(" conditions."))
    ).withColumn(
        "refcit",
        F.concat(F.lit("smith j, doe a ("), (d % 30 + 1990).cast("string"),
                 F.lit("). studies on "), "s_ref",
                 F.lit(". journal of synthetic data, "),
                 (d % 50 + 1).cast("string"),
                 F.lit("(2), 100-110. doi:10.1234/jsd."), d.cast("string")))

    nc = F.col("nc")
    base = base.withColumn("off1", nc + F.lit(1))
    base = base.withColumn("off2", F.col("off1") + F.length("sentence") + 1)
    base = base.withColumn(
        "off3", F.col("off2")
        + F.when(d % 3 == 0, F.length("figcap") + 1).otherwise(0))
    base = base.withColumn(
        "off4", F.col("off3")
        + F.when(d % 4 == 0, F.length("tabcap") + 1).otherwise(0))

    def span(kind, text, media, off):
        return F.struct(
            F.lit(kind).alias("kind"), text.alias("text"),
            media.alias("media_ref"), off.cast("int").alias("offset"))

    empty = F.lit("")
    s0 = span("text", F.col("text"), empty, F.lit(0))
    s1 = span("text", F.col("sentence"), empty, F.col("off1"))
    s2 = F.when(d % 3 == 0, span(
        "figure", F.col("figcap"),
        F.concat(F.lit("media/DOC"), d.cast("string"), F.lit("/fig1.png")),
        F.col("off2")))
    s3 = F.when(d % 4 == 0, span(
        "table", F.col("tabcap"),
        F.concat(F.lit("media/DOC"), d.cast("string"), F.lit("/tab1.parquet")),
        F.col("off3")))
    s4 = F.when(d % 5 == 1, span("reference", F.col("refcit"), empty,
                                 F.col("off4")))

    spans = F.filter(F.array(s0, s1, s2, s3, s4), lambda x: x.isNotNull())
    return base.select("doc_id", spans.alias("spans"))


def spans_exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded view (doc_id, pos, kind, text, media_ref, offset); pos is
    the array position — the 'order' leg of the span invariant."""
    return explode_spans(documents_interleaved(spark, sf_dir))


def explode_spans(nested: DataFrame) -> DataFrame:
    return nested.select(
        "doc_id", F.posexplode("spans").alias("pos", "s")
    ).select("doc_id", "pos", "s.kind", "s.text", "s.media_ref", "s.offset")


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


def corpus_ctes() -> str:
    """SQL CTE prefix (no leading WITH) defining:
    surf(idx,s) -> aug (per-doc surfaces + generated texts) -> spans
    (doc_id,pos,kind,text,media_ref,offset). ANSI-ish; tested on DuckDB."""
    surf = surfaces()
    n = len(surf)
    surf_values = _values(
        [(str(i), _q(s)) for i, s in enumerate(surf)], "surf", ["idx", "s"])
    phrase_case = " ".join(
        f"WHEN {i} THEN {_q(ph)}" for i, (ph, _) in enumerate(PREDICATE_PHRASES))
    return f"""
{surf_values},
d0 AS (
  SELECT doc_id AS d,
         'DOC:' || CASE WHEN length(CAST(doc_id AS VARCHAR)) < 6
                        THEN lpad(CAST(doc_id AS VARCHAR), 6, '0')
                        ELSE CAST(doc_id AS VARCHAR) END AS doc,
         text, CAST(n_chars AS INT) AS nc
  FROM documents
),
aug AS (
  SELECT d0.*,
    CASE WHEN d % 5 = 0 THEN 'glucose' ELSE ss.s END AS subj,
    so.s AS obj, sf_.s AS figterm, st.s AS tabterm, sr.s AS refterm,
    CASE CAST(d % 7 AS INT) {phrase_case} END AS phrase
  FROM d0
  JOIN surf ss  ON ss.idx  = d % {n}
  JOIN surf so  ON so.idx  = (d * 7 + 3) % {n}
  JOIN surf sf_ ON sf_.idx = (d + 1) % {n}
  JOIN surf st  ON st.idx  = (d + 2) % {n}
  JOIN surf sr  ON sr.idx  = (d + 4) % {n}
),
aug2 AS (
  SELECT aug.*,
    subj || ' ' || phrase || ' ' || obj || '.' AS sentence,
    'figure 1. microscopy of ' || figterm || ' distribution in sample '
      || CAST(d AS VARCHAR) || '.' AS figcap,
    'table 1. quantification of ' || tabterm || ' levels across '
      || CAST(d % 7 + 2 AS VARCHAR) || ' conditions.' AS tabcap,
    'smith j, doe a (' || CAST(d % 30 + 1990 AS VARCHAR) || '). studies on '
      || refterm || '. journal of synthetic data, '
      || CAST(d % 50 + 1 AS VARCHAR)
      || '(2), 100-110. doi:10.1234/jsd.' || CAST(d AS VARCHAR) AS refcit
  FROM aug
),
sp AS (
  SELECT doc, d, 0 AS seq, 'text' AS kind, text AS stext, '' AS media_ref,
         0 AS off FROM aug2
  UNION ALL
  SELECT doc, d, 1, 'text', sentence, '', nc + 1 FROM aug2
  UNION ALL
  SELECT doc, d, 2, 'figure', figcap,
         'media/DOC' || CAST(d AS VARCHAR) || '/fig1.png',
         nc + 1 + length(sentence) + 1
  FROM aug2 WHERE d % 3 = 0
  UNION ALL
  SELECT doc, d, 3, 'table', tabcap,
         'media/DOC' || CAST(d AS VARCHAR) || '/tab1.parquet',
         nc + 1 + length(sentence) + 1
           + CASE WHEN d % 3 = 0 THEN length(figcap) + 1 ELSE 0 END
  FROM aug2 WHERE d % 4 = 0
  UNION ALL
  SELECT doc, d, 4, 'reference', refcit, '',
         nc + 1 + length(sentence) + 1
           + CASE WHEN d % 3 = 0 THEN length(figcap) + 1 ELSE 0 END
           + CASE WHEN d % 4 = 0 THEN length(tabcap) + 1 ELSE 0 END
  FROM aug2 WHERE d % 5 = 1
),
spans AS (
  SELECT doc AS doc_id,
         CAST(row_number() OVER (PARTITION BY doc ORDER BY seq) - 1 AS INT) AS pos,
         kind, stext AS text, media_ref, CAST(off AS INT) AS "offset"
  FROM sp
)""".strip()
