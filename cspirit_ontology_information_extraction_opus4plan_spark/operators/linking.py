"""Entity linking — a lookup in the gazetteer's winner table.

Reference semantics: lookup order exact-name, then synonym (models.py:
2812-2918); candidate scoring is specified by BASELINE.json's north_star
(broadcast-join to candidate set + similarity scoring). Disambiguation
rule shared by the Spark plan, the pandas oracle, and the DuckDB oracle:

    best candidate per surface = argmax(match_kind rank), tie -> min term_id

The winner depends on the surface alone, so it is decided once per
gazetteer (gazetteer.winners_df for the constant one, gazetteer.winners
for any other) and a mention links by one broadcast hash join on its
surface: no corpus-side shuffle, aggregate or window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .gazetteer import winners, winners_df


def link_mentions(mentions: DataFrame, gaz: DataFrame | None = None
                  ) -> DataFrame:
    """mentions(doc_id, pos, kind, m_off, surface) + each one's winning
    candidate (term_id, match_kind, rank) in `gaz` (surface, term_id,
    match_kind, rank, ...), by default the constant gazetteer."""
    win = winners_df(mentions.sparkSession) if gaz is None else winners(gaz)
    return mentions.join(F.broadcast(win), "surface")


def link_endpoints(picked: DataFrame, win: DataFrame) -> DataFrame:
    """Rows with picked endpoint surfaces s, o + their winners from `win`
    as s_term, s_kind, o_term, o_kind: one broadcast join per endpoint,
    which drops a NULL endpoint (`win` has none). <=> infers no isnotnull
    filter, which would compute the endpoint a second time below."""
    for e in ("s", "o"):
        w = win.toDF(f"{e}_surface", f"{e}_term", f"{e}_kind", f"{e}_rank")
        picked = picked.join(F.broadcast(w), F.expr(f"{e} <=> {e}_surface"))
    return picked


def _coherence_scored(mentions: DataFrame, gaz: DataFrame,
                      rels: DataFrame) -> DataFrame:
    """Shared scoring stage of the collective disambiguator: every
    candidate of every AMBIGUOUS (doc, surface) pair with its
    edge_coh / type_coh coherence counts and lexical rank — the frame
    coherent_link_mentions argmaxes and linking_review_queue ranks.
    See coherent_link_mentions for semantics and scale shape."""
    g3 = gaz.select("surface", "term_id", "rank").distinct()
    surf = (g3.groupBy("surface")
            .agg(F.countDistinct("term_id").alias("n_cands")))
    docsurf = (mentions.select("doc_id", "surface").distinct()
               .localCheckpoint(eager=True))
    anchors = (docsurf
               .join(F.broadcast(surf.filter(F.col("n_cands") == 1)),
                     "surface")
               .join(F.broadcast(g3.select("surface", "term_id")),
                     "surface")
               .select("doc_id", F.col("term_id").alias("nb")).distinct())
    amb = (docsurf
           .join(F.broadcast(surf.filter(F.col("n_cands") > 1)), "surface")
           .join(F.broadcast(g3), "surface"))
    isa = rels.filter(F.col("predicate") == "is_a")
    siblings = (isa.select(F.col("subject").alias("a"),
                           F.col("object").alias("p"))
                .join(isa.select(F.col("subject").alias("b"),
                                 F.col("object").alias("p")), "p")
                .filter(F.col("a") != F.col("b"))
                .select("a", "b"))
    edges = (rels.select(F.col("subject").alias("a"),
                         F.col("object").alias("b"))
             .unionByName(rels.select(F.col("object").alias("a"),
                                      F.col("subject").alias("b")))
             .unionByName(siblings)
             .distinct())
    keys = ["doc_id", "surface", "term_id"]
    ecoh = (amb.join(F.broadcast(edges), F.col("term_id") == F.col("a"))
            .join(anchors.withColumnRenamed("nb", "b"), ["doc_id", "b"])
            .groupBy(*keys)
            .agg(F.countDistinct("b").alias("edge_coh")))
    pfx = F.split("term_id", ":").getItem(0)
    tcoh = (amb.withColumn("pfx", pfx)
            .join(anchors.withColumn("pfx",
                                     F.split("nb", ":").getItem(0)),
                  ["doc_id", "pfx"])
            .groupBy(*keys)
            .agg(F.countDistinct("nb").alias("type_coh")))
    zero = F.lit(0).cast("bigint")
    return (amb.join(ecoh, keys, "left").join(tcoh, keys, "left")
            .withColumn("edge_coh", F.coalesce("edge_coh", zero))
            .withColumn("type_coh", F.coalesce("type_coh", zero)))


def coherent_link_mentions(mentions: DataFrame, gaz: DataFrame,
                           rels: DataFrame) -> DataFrame:
    """Collective (coherence-based) entity disambiguation — the
    AIDA/TagMe pattern the per-surface rank argmax cannot express: for
    each AMBIGUOUS (doc, surface) pair, score each candidate term by

      edge_coh — distinct UNAMBIGUOUS doc entities (anchors) adjacent
        to the candidate in the ontology graph (symmetric relationship
        edges + is_a siblings, i.e. shared direct parent),
      type_coh — distinct anchors sharing the candidate's namespace
        prefix (entity-TYPE context coherence, the secondary signal
        real EL systems fall back on when the graph is sparse),

    winner = argmax(edge_coh, type_coh, lexical rank), tie -> min
    term_id. One row per ambiguous (doc_id, surface): (doc_id, surface,
    term_id, edge_coh, type_coh, n_cands). Extends the reference's
    lookup-order linking (models.py:2812-2918), which has no collective
    signal at all.

    Scale shape: the gazetteer (with its per-surface candidate counts)
    and the sibling-extended edge list are genuine broadcast dimensions
    (the sibling self-join runs on the dimension, never the corpus);
    the per-doc surface table is distinct-ed once and checkpointed
    (anchor and ambiguous branches both read it); both coherence counts
    join anchors on corpus-keyed equi-joins ((doc_id, neighbor) /
    (doc_id, prefix)) and aggregate map-side; the final argmax is a
    struct-min groupBy, no window, no corpus self-join."""
    scored = _coherence_scored(mentions, gaz, rels)
    return (scored
            .groupBy("doc_id", "surface", "n_cands")
            .agg(F.min(F.struct(
                (-F.col("edge_coh")).alias("ne"),
                (-F.col("type_coh")).alias("nt"),
                (-F.col("rank")).alias("nr"),
                F.col("term_id"))).alias("b"))
            .select("doc_id", "surface",
                    F.col("b.term_id").alias("term_id"),
                    (-F.col("b.ne")).cast("bigint").alias("edge_coh"),
                    (-F.col("b.nt")).cast("bigint").alias("type_coh"),
                    F.col("n_cands").cast("bigint").alias("n_cands")))


def relink_delta(mentions: DataFrame, terms_v1: DataFrame,
                 terms_v2: DataFrame) -> DataFrame:
    """Ontology release migration probe — which linked (doc, surface)
    pairs change when the gazetteer is rebuilt from the NEXT ontology
    release. ontology_release_diff says what changed in the ONTOLOGY;
    this says what changes in the CORPUS LINKS, which is what an
    operator actually needs before swapping releases under a live KG.
    One row per v1-linked (doc_id, surface): status = 'dropped' (no
    candidate under v2 — the term was removed/obsoleted, or its name
    surface renamed away with no synonym left), 'relinked' (the argmax
    winner changed), or 'stable'. Columns: (doc_id, surface, term_v1,
    term_v2, status).

    Scale shape: winning candidates are per-SURFACE properties, so
    both winner tables are computed on the gazetteer DIMENSION
    (gazetteer.winners) and broadcast back; corpus cost is one
    distinct on (doc_id, surface) plus two broadcast joins — no corpus
    shuffle beyond the distinct, no windows."""
    from .gazetteer import gazetteer_from_terms

    w1 = winners(gazetteer_from_terms(terms_v1)).selectExpr(
        "surface", "term_id AS term_v1")
    w2 = winners(gazetteer_from_terms(terms_v2)).selectExpr(
        "surface", "term_id AS term_v2")
    ds = mentions.select("doc_id", "surface").distinct()
    status = (F.when(F.col("term_v2").isNull(), F.lit("dropped"))
              .when(F.col("term_v2") != F.col("term_v1"),
                    F.lit("relinked"))
              .otherwise(F.lit("stable")))
    return (ds.join(F.broadcast(w1), "surface")
            .join(F.broadcast(w2), "surface", "left")
            .select("doc_id", "surface", "term_v1", "term_v2",
                    status.alias("status")))


COOC_MIN_SUPPORT = 2    # pairs seen in fewer docs are noise


def cooccurrence_edges(linked: DataFrame,
                       min_support: int = COOC_MIN_SUPPORT) -> DataFrame:
    """Document-level entity co-occurrence edges with PMI weights —
    the relation-discovery complement to the pattern-based triple
    extractor: pairs of linked ontology terms that appear in the same
    document more often than chance, scored by pointwise mutual
    information ln(n_ab * N / (n_a * n_b)).

    Scale shape: the per-doc distinct (doc_id, term_id) table
    self-joins on doc_id only — fan-out bounded by entities-per-doc
    (documents are bounded, the corpus is not), never a corpus cross
    join. Pair counting is a map-side-combinable groupBy on the
    (term_a, term_b) key; term marginals are a dimension-sized
    aggregate joined back broadcast; the doc total is a 1-row
    broadcast. Hub terms fan out in the pair groupBy, where AQE skew
    handling applies — not in the doc-keyed join."""
    d = linked.select("doc_id", "term_id").distinct()
    marg = d.groupBy("term_id").agg(F.count("*").alias("n_t"))
    tot = d.agg(F.countDistinct("doc_id").alias("n_docs"))
    a, b = d.alias("a"), d.alias("b")
    pairs = (a.join(b, (F.col("a.doc_id") == F.col("b.doc_id"))
                    & (F.col("a.term_id") < F.col("b.term_id")))
             .groupBy(F.col("a.term_id").alias("term_a"),
                      F.col("b.term_id").alias("term_b"))
             .agg(F.count("*").alias("n_ab"))
             .filter(F.col("n_ab") >= min_support))
    return (pairs
            .join(F.broadcast(marg.withColumnRenamed("n_t", "n_a")),
                  F.col("term_a") == F.col("term_id")).drop("term_id")
            .join(F.broadcast(marg.withColumnRenamed("n_t", "n_b")),
                  F.col("term_b") == F.col("term_id")).drop("term_id")
            .crossJoin(F.broadcast(tot))
            .select("term_a", "term_b", "n_ab", "n_a", "n_b",
                    F.round(F.log(F.col("n_ab") * F.col("n_docs")
                                  / (F.col("n_a") * F.col("n_b"))), 6)
                    .alias("pmi")))


DRIFT_SEED = "drift-v1"


def entity_drift(linked: DataFrame, seed: str = DRIFT_SEED) -> DataFrame:
    """Linked mentions (doc_id, term_id) -> per-entity distribution
    drift between two growth-stable md5 halves of the corpus:
    (term_id, n_a, n_b, log_odds) with add-1-smoothed log-odds
    ln((n_a+1)/(tot_a+1)) - ln((n_b+1)/(tot_b+1)). The
    distribution-shift monitor a continuously-crawled KG pipeline runs
    between ingests: an entity whose mention rate jumps between halves
    flags topical drift or an extraction change, BEFORE it skews
    linking priors or mixture weights.

    The halves come from the same hash-split family as
    train_val_test_split (md5(doc_id||seed) hex4 against the midpoint
    threshold — deterministic, no shuffle to assign). One
    groupBy(term_id) with two conditional map-side sums; the totals
    are a broadcast one-row frame; rounding to 6 absorbs ln noise."""
    h4 = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(seed))),
        1, 4)
    # doc-frequency drift (distinct doc-entity pairs), deliberately not
    # raw mention counts: insensitive to how many times one doc repeats
    # a surface, and the distinct is a map-side-combinable dedup
    tagged = (linked.select("doc_id", "term_id").distinct()
              .select("term_id", (h4 < "8000").alias("in_a")))
    per = (tagged.groupBy("term_id")
           .agg(F.sum(F.when(F.col("in_a"), 1).otherwise(0))
                .cast("bigint").alias("n_a"),
                F.sum(F.when(~F.col("in_a"), 1).otherwise(0))
                .cast("bigint").alias("n_b")))
    tot = per.agg(F.sum("n_a").cast("double").alias("ta"),
                  F.sum("n_b").cast("double").alias("tb"))
    return (per.crossJoin(F.broadcast(tot))
            .select("term_id", "n_a", "n_b",
                    F.round(F.log((F.col("n_a") + 1.0)
                                  / (F.col("ta") + 1.0))
                            - F.log((F.col("n_b") + 1.0)
                                    / (F.col("tb") + 1.0)), 6)
                    .alias("log_odds")))


def linking_review_queue(mentions: DataFrame, gaz: DataFrame,
                         rels: DataFrame) -> DataFrame:
    """Active-learning review queue for the collective disambiguator:
    per ambiguous (doc, surface), the winner AND runner-up with the
    coherence gaps between them — a mention whose top-2 candidates tie
    on BOTH coherence signals (edge_gap = type_gap = 0) was decided by
    lexical rank alone, the lowest-confidence decision the linker
    makes, and is exactly what a human-in-the-loop KG build routes to
    annotators first. Emits (doc_id, surface, n_cands, winner,
    runner_up, edge_gap, type_gap, needs_review).

    Same scored frame as coherent_link_mentions (_coherence_scored);
    the top-2 ranking windows over one mention's candidate set (size
    n_cands, a gazetteer property — never corpus-sized)."""
    scored = _coherence_scored(mentions, gaz, rels)
    w = Window.partitionBy("doc_id", "surface").orderBy(
        F.col("edge_coh").desc(), F.col("type_coh").desc(),
        F.col("rank").desc(), F.col("term_id").asc())
    ranked = scored.withColumn("rn", F.row_number().over(w))
    win = ranked.filter(F.col("rn") == 1).select(
        "doc_id", "surface", "n_cands",
        F.col("term_id").alias("winner"),
        F.col("edge_coh").alias("e1"), F.col("type_coh").alias("t1"))
    run = ranked.filter(F.col("rn") == 2).select(
        "doc_id", "surface",
        F.col("term_id").alias("runner_up"),
        F.col("edge_coh").alias("e2"), F.col("type_coh").alias("t2"))
    return (win.join(run, ["doc_id", "surface"])
            .select("doc_id", "surface",
                    F.col("n_cands").cast("bigint").alias("n_cands"),
                    "winner", "runner_up",
                    (F.col("e1") - F.col("e2")).cast("bigint")
                    .alias("edge_gap"),
                    (F.col("t1") - F.col("t2")).cast("bigint")
                    .alias("type_gap"),
                    ((F.col("e1") == F.col("e2"))
                     & (F.col("t1") == F.col("t2")))
                    .alias("needs_review")))
