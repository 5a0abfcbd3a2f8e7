"""Gazetteer construction — the broadcast match-key dimension.

Reference semantics: the Ontology hash indexes `_name_index` /
`_synonym_index` / `_alt_id_index` (models.py:3134-3296, lookups
models.py:2849/2886/2954) are dict lookups that are broadcast hash joins
in disguise (SURVEY §2.3). Here the exploded (surface, term_id,
match_kind) table *is* the index; Spark broadcasts it under
autoBroadcastJoinThreshold and every mention->term lookup becomes a BHJ.

Keys are normalized lower/trim exactly as the reference index build does
(models.py:3196-3242); obsolete terms are excluded unless requested
(include_deprecated default false, configs/default_config.yaml:75).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import ontology_data as OD
from ..session import local_df

GAZ_SCHEMA = ("surface string, term_id string, match_kind string, "
              "namespace string, ontology_id string, rank int")

TERMS_SCHEMA = (
    "id string, name string, definition string, synonyms array<string>, "
    "namespace string, is_obsolete boolean, replaced_by string, "
    "alt_ids array<string>, xrefs array<string>, parents array<string>, "
    "ontology_id string")

RELS_SCHEMA = ("id string, subject string, predicate string, object string, "
               "confidence double, evidence string, source string, "
               "ontology_id string")


def terms_df(spark: SparkSession) -> DataFrame:
    rows = [tuple(t.values()) for t in OD.terms()]
    return local_df(spark, rows, TERMS_SCHEMA)


def relationships_df(spark: SparkSession) -> DataFrame:
    rows = [tuple(r.values()) for r in OD.relationships()]
    return local_df(spark, rows, RELS_SCHEMA)


def gazetteer_df(spark: SparkSession) -> DataFrame:
    """Exploded (surface -> term) match-key table with linking priority.

    Equivalent derivation from terms_df (what a production job does when
    the ontology arrives as a table rather than constants):
        terms.select(explode of name + synonyms) with lower(trim(key))
    Here the deterministic constants are materialized directly so the
    pandas oracle and DuckDB oracle share byte-identical data.
    """
    rows = [
        (g["surface"], g["term_id"], g["match_kind"], g["namespace"],
         g["ontology_id"], OD.MATCH_KIND_RANK[g["match_kind"]])
        for g in OD.gazetteer()
    ]
    return local_df(spark, rows, GAZ_SCHEMA)


@lru_cache(maxsize=8)
def winners_df(spark: SparkSession) -> DataFrame:
    """OD.gazetteer_winners as a LocalTableScan (no Python task; its
    broadcast is one small Spark job), built once per session (8 kept)."""
    rows = [(s, *w) for s, w in OD.gazetteer_winners().items()]
    return local_df(spark, rows, "surface string, term_id string, "
                    "match_kind string, rank int")


def winners(gaz: DataFrame) -> DataFrame:
    """The linking rule over a gazetteer frame that is not a constant
    (gazetteer_from_terms): per surface argmax rank, tie -> min term_id,
    as a struct-min over dimension rows."""
    return (gaz.groupBy("surface")
            .agg(F.expr("min(struct(-rank AS nr, term_id, match_kind)) AS b"))
            .selectExpr("surface", "b.term_id AS term_id",
                        "b.match_kind AS match_kind", "-b.nr AS rank"))


def gazetteer_from_terms(terms: DataFrame) -> DataFrame:
    """Derive the gazetteer from an arbitrary terms table (the scale path:
    ontology loaded from OBO/OWL/CSV into a table, exploded, broadcast).

    Mirrors _build_indexes (models.py:3134): name index + synonym
    index, lower/trimmed keys. One DELIBERATE divergence: the
    reference indexes obsolete terms too (no filter at :3164); this
    gazetteer excludes them because it feeds LINKING, where an
    obsolete-term match is a wrong answer (the reference applies its
    obsolete filter downstream, at trim time — ontology_trimmer). The
    in-process parity test pins the delta as exactly the obsolete
    set (tests/test_reference_parity.py)."""
    live = terms.filter(~F.col("is_obsolete"))
    names = live.select(
        F.lower(F.trim("name")).alias("surface"), F.col("id").alias("term_id"),
        F.lit("name").alias("match_kind"), "namespace", "ontology_id",
        F.lit(OD.MATCH_KIND_RANK["name"]).alias("rank"))
    syns = live.select(
        F.explode("synonyms").alias("syn"), F.col("id").alias("term_id"),
        "namespace", "ontology_id"
    ).select(
        F.lower(F.trim("syn")).alias("surface"), "term_id",
        F.lit("synonym").alias("match_kind"), "namespace", "ontology_id",
        F.lit(OD.MATCH_KIND_RANK["synonym"]).alias("rank"))
    return names.unionByName(syns)


def alt_id_index(terms: DataFrame) -> DataFrame:
    """alt_id -> term equi-join dimension (find_term_by_alt_id,
    models.py:2954)."""
    return terms.select(
        F.explode("alt_ids").alias("alt_id"), F.col("id").alias("term_id"))


def gazetteer_ambiguity(gaz: DataFrame) -> DataFrame:
    """Linking-QA probe over the match-key dimension: surfaces mapped
    to more than one term, with namespace spread and whether the BEST
    match-kind rank is tied across terms ('ambiguous' — the linking
    rule (winners) then breaks the tie deterministically by term_id,
    and these are exactly the surfaces where that tiebreak, not
    evidence, decides the link). Dimension-sized input -> two
    map-side-combinable aggregates + one self-join on the surface."""
    per = gaz.groupBy("surface").agg(
        F.countDistinct("term_id").alias("n_terms"),
        F.countDistinct("namespace").alias("n_namespaces"),
        F.min("rank").alias("best_rank"))
    ties = (gaz.join(per, "surface")
            .filter(F.col("rank") == F.col("best_rank"))
            .groupBy("surface")
            .agg(F.countDistinct("term_id").alias("n_best")))
    return (per.join(ties, "surface")
            .filter(F.col("n_terms") > 1)
            .select("surface", "n_terms", "n_namespaces",
                    "best_rank", "n_best",
                    (F.col("n_best") > 1).alias("ambiguous")))


def gazetteer_coverage(terms: DataFrame, linked: DataFrame) -> DataFrame:
    """Per-namespace ontology usage: (namespace, n_terms, n_used,
    coverage) — how much of each gazetteer namespace the corpus
    actually links. The acquisition-QC probe both directions: near-zero
    coverage says the crawl misses that domain (or the surfaces are
    stale); near-total coverage with a growing corpus says the
    gazetteer needs expanding before unlinked mentions silently drop.

    The used-term set is a map-side-combinable distinct on the linked
    mentions (corpus side, one shuffle); the terms table is the bounded
    ontology dimension, so the final join and aggregate are
    dimension-sized."""
    used = (linked.select("term_id").distinct()
            .withColumn("m", F.lit(1)))
    return (terms.select("id", "namespace").distinct()
            .join(used.toDF("id", "m"), "id", "left")
            .groupBy("namespace")
            .agg(F.count("*").cast("bigint").alias("n_terms"),
                 F.sum(F.coalesce("m", F.lit(0))).cast("bigint")
                 .alias("n_used"))
            .select("namespace", "n_terms", "n_used",
                    F.round(F.col("n_used")
                            / F.col("n_terms").cast("double"), 6)
                    .alias("coverage")))


def gazetteer_expansion(abbrevs: DataFrame, gaz: DataFrame) -> DataFrame:
    """Grow the linking vocabulary from the corpus itself: an accepted
    (abbr, long_form) definition pair whose long form IS an existing
    gazetteer surface donates lower(abbr) as a NEW synonym surface for
    that long form's winning term (argmax rank, min term_id — the
    shared disambiguation rule); surfaces the gazetteer already knows
    are dropped. This is the loop the reference's static gazetteer
    cannot close — papers define their own abbreviations, and the next
    linking pass should match them. Output: (surface, term_id,
    long_form, n_docs).

    Scale shape: the abbreviation dictionary is a rollup (vocabulary-
    sized), the gazetteer a dimension — winner election, the surface
    join, and the known-surface anti-join are all broadcast; nothing
    corpus-sized shuffles here beyond what abbreviation_pairs already
    paid."""
    w = winners(gaz).select("surface", "term_id")
    cand = (abbrevs
            .join(F.broadcast(w),
                  abbrevs["long_form"] == w["surface"])
            .select(F.lower("abbr").alias("surface"), "term_id",
                    "long_form", "n_docs"))
    return cand.join(F.broadcast(gaz.select("surface").distinct()),
                     "surface", "left_anti")


MINE_MIN_SUPPORT = 1   # demo corpus: anchors rarely repeat; production
                       # raises this to prune one-off anchor noise


def mine_anchor_candidates(edges: DataFrame, mentions: DataFrame,
                           gaz: DataFrame,
                           min_support: int = MINE_MIN_SUPPORT
                           ) -> DataFrame:
    """Anchor-text alt-label mining — the Wikipedia-anchor gazetteer
    grower, the web-graph complement of gazetteer_expansion's
    Schwartz-Hearst pairs: anchor phrases pointing at a page are
    candidate surface forms for that page's DOMINANT entity (the term
    its linked mentions name most often; ties break to the smaller
    term id). Candidates already known to the gazetteer for that term
    are anti-joined away. Emits (term_id, candidate_label, n_links,
    n_sources).

    Per-(target, anchor) counts and the per-doc dominance argmax are
    both map-side-combinable aggregates; the dominance argmax is a
    struct-ordered min_by, not a window; the gazetteer is a broadcast
    dimension. Nothing touches a corpus-sized window."""
    cnt = (mentions.select("doc_id", "term_id", "surface")
           .groupBy("doc_id", "term_id")
           .agg(F.countDistinct("surface").alias("n")))
    dom = cnt.groupBy("doc_id").agg(
        F.min_by("term_id",
                 F.struct((-F.col("n")).alias("nn"),
                          F.col("term_id").alias("t"))).alias("term_id"))
    anchors = (edges
               .withColumn("doc_id",
                           F.format_string("DOC:%06d", F.col("dst")))
               .groupBy("doc_id", "anchor")
               .agg(F.count("*").cast("bigint").alias("n_links"),
                    F.countDistinct("src").cast("bigint")
                    .alias("n_sources")))
    cand = (anchors.join(dom, "doc_id")
            .select("term_id", F.col("anchor").alias("candidate_label"),
                    "n_links", "n_sources")
            .filter(F.col("n_links") >= min_support))
    known = gaz.select(F.col("term_id"),
                       F.col("surface").alias("candidate_label"))
    return cand.join(F.broadcast(known),
                     ["term_id", "candidate_label"], "left_anti")
