"""Relation / triple extraction — predicate-pattern stage.

Reference semantics: relationships carry (subject, predicate, object,
confidence, evidence/sentence) (Relationship fields models.py:902-920);
the predicate vocabulary is the closed 23-set (models.py:1002-1026);
self-loops are rejected (validate_circular_relationship models.py:1083);
triple node types default to uri/uri for term-term edges (RDFTriple
__post_init__ models.py:3840-3880).

Extraction rule (JVM-side — regexp and higher-order array functions; the
phrase grammar is regular, so no Python of its own):

  for each text span containing exactly one predicate phrase:
    subject = the linked mention ending closest before the phrase
    object  = the linked mention starting closest after the phrase
    confidence = 1.0 if both matched by canonical name else 0.9
  drop subject.term_id == object.term_id (models.py:1083)

ENDPOINTS matches NER on each side of the phrase, in the span's row: no
join on (doc_id, pos), no shuffle, and documents sharing a doc_id never
mix; it equals a whole-text scan as no surface can straddle a phrase
(test_ontology_data.py::test_surfaces_never_straddle_a_phrase). PICK
applies the rule to mentions found apart (extract_triples).

Deterministic ids: content-addressed `TRP:<md5>` over the semantic key —
never monotonically_increasing_id (nondeterministic across retries; breaks
resume + P/R equality, SURVEY §2.5). The reference's iteration-order
`REL:%06d` counter (parsers/__init__.py:3723) is replaced by a key that is
stable under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..corpus import spark_sql_str
from ..ontology_data import PREDICATE_PHRASES, surfaces
from .ner import jvm_word_bounded

PHRASE_PATTERN = jvm_word_bounded([p for p, _ in PREDICATE_PHRASES])
NER_PATTERN = jvm_word_bounded(surfaces())  # ner.ner_pattern() for the JVM

# The extraction plan as Spark SQL expression text, built once at import:
# it is rebuilt on every call and every streaming micro-batch, and text
# costs a few driver->JVM calls where a tree of F.* calls costs one per
# node (see corpus.py).
_P = spark_sql_str(PHRASE_PATTERN)
RELATION_SPAN = f"kind = 'text' AND regexp_count(lower(text), {_P}) = 1"

# all matching is on lc = lower(text), as NER's (the phrases are
# lowercase), projected once for the phrase and endpoint expressions;
# offsets count code points, as m_off, length and substring do
# (regexp_instr counts UTF-16 units). p0 is the length of the text before
# the SAME word-bounded pattern (locate(phrase, text) would find 'is a'
# in 'axis aligns'). Later aliases use earlier ones (lateral aliases).
_PHRASE_EXPRS = (
    "doc_id", "pos", "text", "lower(text) AS lc",
    f"regexp_extract(lc, {_P}, 1) AS phrase",
    f"length(split(lc, {_P}, 2)[0]) AS p0",
    "length(phrase) AS plen",
)
# PICK's bounds: the last match before the phrase, the first after it
_N = spark_sql_str(NER_PATTERN)
ENDPOINTS = (f"try_element_at(regexp_extract_all(substring(lc, 1, p0), "
             f"{_N}, 1), -1) AS s",
             f"nullif(regexp_extract(substring(lc, p0 + plen + 2), "
             f"{_N}, 1), '') AS o")
# structs order by their first field, m_off (distinct within a span);
# no candidate gives NULL
PICK = (
    "array_max(filter(ms, x -> x.m_off + length(x.surface) <= p0)) AS s",
    "array_min(filter(ms, x -> x.m_off >= p0 + plen + 1)) AS o",
)
_PREDICATE = "map(" + ", ".join(
    f"{spark_sql_str(ph)}, {spark_sql_str(pred)}"
    for ph, pred in PREDICATE_PHRASES) + ")[phrase]"
_TRIPLE_EXPRS = (
    "doc_id", "pos", "s_term AS subject", f"{_PREDICATE} AS predicate",
    "o_term AS object", "'uri' AS subject_type", "'uri' AS object_type",
    "CAST(NULL AS STRING) AS object_datatype",
    "CAST(NULL AS STRING) AS object_language",
    "CASE WHEN s_kind = 'name' AND o_kind = 'name' THEN 1.0D "
    "ELSE 0.9D END AS confidence",
    "text AS evidence",
    "concat('TRP:', md5(concat_ws('|', doc_id, pos, subject, predicate, "
    "object))) AS triple_id",
)


def relation_phrases(spans: DataFrame) -> DataFrame:
    """The spans a triple can come from (kind 'text', exactly one
    predicate phrase in the lower-cased text) as (doc_id, pos, text,
    lc, phrase, p0, plen), lc being lower(text). A map-side JVM filter
    and projection."""
    return spans.filter(RELATION_SPAN).selectExpr(*_PHRASE_EXPRS)


def triple_rows(linked: DataFrame) -> DataFrame:
    """(doc_id, pos, text, phrase, s_term, s_kind, o_term, o_kind) ->
    triple rows; the filter also drops NULL endpoints."""
    return linked.selectExpr(*_TRIPLE_EXPRS).filter("subject != object")


def extract_triples(spans: DataFrame, linked_mentions: DataFrame) -> DataFrame:
    """spans (exploded) + mentions linked apart from them -> triple
    rows: the mentions are grouped into one array per (doc_id, pos) and
    joined back, then PICK applies. The join assumes unique doc ids."""
    ms = linked_mentions.groupBy("doc_id", "pos").agg(F.expr(
        "collect_list(struct(m_off, surface, term_id, match_kind)) AS ms"))
    return triple_rows(
        relation_phrases(spans).join(ms, ["doc_id", "pos"])
        .selectExpr("doc_id", "pos", "text", "phrase", *PICK)
        .selectExpr("*", "s.term_id AS s_term", "s.match_kind AS s_kind",
                    "o.term_id AS o_term", "o.match_kind AS o_kind"))


def dedup_triples(triples: DataFrame) -> DataFrame:
    """Canonical triple store rows: dedup on the reference's 7-tuple triple
    identity (RDFTriple.__hash__ models.py:4408-4418) keeping max confidence
    and a support count — groupBy, not dropDuplicates, so the aggregate is
    map-side combinable at scale."""
    key = ["subject", "predicate", "object", "subject_type", "object_type",
           "object_datatype", "object_language"]
    return (triples.groupBy(*key)
            .agg(F.max("confidence").alias("confidence"),
                 F.count("*").alias("support")))


TRIPLE_KEY = ["subject", "predicate", "object", "subject_type",
              "object_type", "object_datatype", "object_language"]


def merge_triples_incremental(existing: DataFrame,
                              incoming: DataFrame,
                              mode: str = "recrawl") -> DataFrame:
    """MERGE INTO for the canonical triple store — the re-crawl upsert:
    given the published table and a fresh extraction run (both in
    dedup_triples' (7-tuple key, confidence, support) shape), emit the
    merged table with an `action` tag per row: 'insert' (key only in
    incoming), 'update' (key in both and the evidence changed —
    support grew or a higher confidence arrived), 'unchanged'.
    Confidence merges by max. Support depends on `mode`:
      * 'recrawl' (default): max-of-counts — the incoming run
        re-extracts the whole corpus, so counts supersede;
      * 'append': sum-of-counts — the incoming batch holds only NEW
        documents (a streaming micro-batch), so its evidence adds, and
        any matched key is an 'update'.

    The Iceberg analog is `MERGE INTO graph USING incoming ON <7-tuple>
    WHEN MATCHED THEN UPDATE ... WHEN NOT MATCHED THEN INSERT ...`.
    Scale shape: one full-outer equi-join on the triple key — both
    sides hash-partition on the same key, no broadcast of the big
    table, no window; rows only in `existing` survive untagged as
    'unchanged' (a re-crawl does not delete: retractions are a
    downstream tombstone pass)."""
    e = existing.select(
        *TRIPLE_KEY,
        F.col("confidence").alias("conf_e"),
        F.col("support").alias("sup_e")).alias("e")
    i = incoming.select(
        *TRIPLE_KEY,
        F.col("confidence").alias("conf_i"),
        F.col("support").alias("sup_i")).alias("i")
    # null-safe key equality: object_datatype / object_language are NULL
    # for uri objects, and NULL = NULL must match (Iceberg MERGE ON
    # semantics use IS NOT DISTINCT FROM); <=> keys still plan as a
    # hash-partitioned equi-join
    cond = None
    for c in TRIPLE_KEY:
        p = F.col(f"e.{c}").eqNullSafe(F.col(f"i.{c}"))
        cond = p if cond is None else cond & p
    if mode not in ("recrawl", "append"):
        raise ValueError(f"unknown merge mode {mode!r}")
    j = e.join(i, cond, "full_outer")
    if mode == "recrawl":
        changed = (F.col("sup_i") != F.col("sup_e")) \
            | (F.col("conf_i") > F.col("conf_e"))
        support = F.greatest(F.coalesce("sup_e", F.lit(0)),
                             F.coalesce("sup_i", F.lit(0)))
    else:  # append: new evidence always changes a matched key
        changed = F.lit(True)
        support = (F.coalesce("sup_e", F.lit(0))
                   + F.coalesce("sup_i", F.lit(0)))
    return j.select(
        *[F.coalesce(F.col(f"e.{c}"), F.col(f"i.{c}")).alias(c)
          for c in TRIPLE_KEY],
        F.greatest(F.coalesce("conf_e", F.lit(0.0)),
                   F.coalesce("conf_i", F.lit(0.0))).alias("confidence"),
        support.alias("support"),
        F.when(F.col("sup_e").isNull(), F.lit("insert"))
        .when(F.col("sup_i").isNull(), F.lit("unchanged"))
        .when(changed, F.lit("update"))
        .otherwise(F.lit("unchanged")).alias("action"))


NEG_SAMPLES_K = 2
NEG_SEED = "negsample-v1"


def negative_samples(triples: DataFrame, terms: DataFrame,
                     k: int = NEG_SAMPLES_K,
                     seed: str = NEG_SEED) -> DataFrame:
    """Deterministic negative sampling for KG-embedding training:
    for every true (subject, predicate, object) emit k corrupted-tail
    candidates whose object is a pseudo-random ontology term — the
    standard contrastive recipe (TransE-style tail corruption), made
    reproducible by hashing instead of RNG: candidate i picks the term
    at index conv(md5(subject|predicate|object|i|seed)[:4], 16) mod
    n_terms in the id-ordered term vocabulary. Accidental positives
    (a corrupted triple that exists) and self-objects are dropped by
    a left_anti join against the true table.

    Scale shape: the term vocabulary is the bounded ontology dimension
    — its row_number index is a one-partition window over thousands of
    rows, never the corpus (documented dimension-side sort); corrupted
    rows join to it broadcast on the index, and the anti-join
    hash-partitions on the triple key. Everything else is per-row
    md5 + arithmetic."""
    from pyspark.sql import Window

    vocab = terms.select("id").distinct().withColumn(
        "term_seq",
        F.row_number().over(Window.orderBy("id")) - 1)
    n_terms = vocab.count()  # bounded dimension (ontology size)
    base = triples.select("subject", "predicate", "object").distinct()
    cand = base.select(
        "subject", "predicate", "object",
        F.explode(F.array(*[F.lit(i) for i in range(k)]))
        .alias("sample_idx"))
    pick = F.conv(F.substring(F.md5(F.concat_ws(
        "|", "subject", "predicate", "object",
        F.col("sample_idx").cast("string"), F.lit(seed))), 1, 4),
        16, 10).cast("long") % n_terms
    cand = cand.withColumn("pick_seq", pick)
    neg = (cand.join(F.broadcast(vocab),
                     cand.pick_seq == vocab.term_seq)
           .select("subject", "predicate", "object", "sample_idx",
                   F.col("id").alias("neg_object"))
           .filter(F.col("neg_object") != F.col("object"))
           .filter(F.col("neg_object") != F.col("subject")))
    true_keys = base.select(
        "subject", "predicate", F.col("object").alias("neg_object"))
    return (neg.join(true_keys, ["subject", "predicate", "neg_object"],
                     "left_anti")
            .select("subject", "predicate", "object", "sample_idx",
                    "neg_object"))


def provenance_rollup(triples: DataFrame, docs: DataFrame) -> DataFrame:
    """Per-(source, predicate) lineage rollup over the emitted triples:
    triple count and distinct contributing documents — the provenance
    answer ("which crawl/feed produced which relations") a KG serving
    layer keeps next to the graph. One equi-join on the numeric doc id
    (docs is the driver table; at 10^12 docs this is a plain shuffled
    equi-join, deliberately un-broadcast) + a two-level aggregate."""
    dnum = F.substring("doc_id", 5, 6).cast("bigint")
    src = docs.select(F.col("doc_id").alias("dnum"), "source")
    return (triples.withColumn("dnum", dnum)
            .join(src, "dnum")
            .groupBy("source", "predicate")
            .agg(F.count("*").alias("n_triples"),
                 F.countDistinct("dnum").alias("n_docs")))


KG_SPLIT_SEED = "kgsplit-v1"
KG_SPLIT_TEST_HEX = "199a"  # md5-hex4 < this ~ 10% of triples


SNAPSHOT_DAY = 15      # as-of day probed by the demo query
VALID_SPAN_BASE = 10   # validity = base + md5-nibble % span days
VALID_SPAN_MOD = 20


def temporal_snapshot(triples: DataFrame,
                      as_of_day: int = SNAPSHOT_DAY) -> DataFrame:
    """Bitemporal triple-store snapshot: every deduped triple gets a
    deterministic validity window (valid_from = md5-nibble % 30,
    valid_to = valid_from + 10 + nibble % 20; every 5th triple
    open-ended), and the query reconstructs the store AS OF a day —
    the time-travel read a KG serving layer offers alongside the
    delta/retract maintenance paths. Emits per predicate:
    (predicate, n_valid, n_expired, n_future, n_open).

    The window derives from the triple's own identity hash (pure
    per-row arithmetic shared with the oracle — no stored state
    needed for the demo; a production store keeps the two columns),
    and the status breakdown is ONE map-side-combinable conditional
    aggregate — the as-of predicate is exactly the partition-pruning
    filter an Iceberg time-travel read pushes down."""
    h = F.md5(F.concat_ws("|", "subject", "predicate", "object"))
    n1 = F.conv(F.substring(h, 1, 2), 16, 10).cast("bigint")
    n2 = F.conv(F.substring(h, 3, 2), 16, 10).cast("bigint")
    vf = (n1 % 30).alias("valid_from")
    open_ended = (n2 % 5 == 0)
    vt = F.when(~open_ended,
                n1 % 30 + VALID_SPAN_BASE + n2 % VALID_SPAN_MOD)
    t = (triples
         .select("subject", "predicate", "object").distinct()
         .select("predicate", vf, vt.alias("valid_to")))
    d = F.lit(as_of_day)
    return (t.groupBy("predicate")
            .agg(F.sum(F.when((F.col("valid_from") <= d)
                              & (F.col("valid_to").isNull()
                                 | (F.col("valid_to") > d)), 1)
                       .otherwise(0)).cast("bigint").alias("n_valid"),
                 F.sum(F.when(F.col("valid_to") <= d, 1).otherwise(0))
                 .cast("bigint").alias("n_expired"),
                 F.sum(F.when(F.col("valid_from") > d, 1).otherwise(0))
                 .cast("bigint").alias("n_future"),
                 F.sum(F.when(F.col("valid_to").isNull(), 1)
                       .otherwise(0)).cast("bigint").alias("n_open")))


def kg_eval_split(triples: DataFrame,
                  seed: str = KG_SPLIT_SEED) -> DataFrame:
    """Deduped triples -> the held-out KG-embedding EVAL set:
    (subject, predicate, object, transductive) for the ~10% of triples
    whose md5(s|p|o|seed) hex4 falls under the test threshold, flagged
    transductive when BOTH endpoints still appear in the remaining 90%
    train graph (an embedding model can only score entities it saw;
    non-transductive test triples must be dropped or routed to an
    inductive model — silently scoring them is the classic KG-eval
    leak-in-reverse).

    Same growth-stable hash-split family as train_val_test_split: a
    triple never migrates when other triples are added. The train
    entity vocabulary is corpus-sized, so membership is decided by two
    marker LEFT equi-joins (subject, object) — never a broadcast or a
    driver collect."""
    key = F.md5(F.concat_ws("|", "subject", "predicate", "object",
                            F.lit(seed)))
    tagged = (triples.select("subject", "predicate", "object")
              .distinct()
              .withColumn("h4", F.substring(key, 1, 4))
              .localCheckpoint(eager=True))
    test = tagged.filter(F.col("h4") < KG_SPLIT_TEST_HEX)
    train = tagged.filter(F.col("h4") >= KG_SPLIT_TEST_HEX)
    ents = (train.select(F.col("subject").alias("e"))
            .unionByName(train.select(F.col("object").alias("e")))
            .distinct()
            .withColumn("m", F.lit(1)))
    return (test
            .join(ents.toDF("subject", "ms"), "subject", "left")
            .join(ents.toDF("object", "mo"), "object", "left")
            .select("subject", "predicate", "object",
                    (F.col("ms").isNotNull()
                     & F.col("mo").isNotNull()).alias("transductive")))


def kg_ranking_eval(triples: DataFrame, terms: DataFrame) -> DataFrame:
    """Filtered link-prediction ranking evaluation (the standard KG-
    completion harness): for every TRANSDUCTIVE held-out triple
    (kg_eval_split hashing, both endpoints seen in train), rank the
    true tail against the full ontology vocabulary in the FILTERED
    setting (other known positives for (s, p) removed), score each
    candidate by the deterministic structural model |Γ_train(s) ∩
    Γ_train(c)| (shared train-graph neighbors — INTEGER, so ranks are
    float-parity-free; ties -> lower candidate id ranks first), and
    roll up per predicate: (predicate, n_eval, mrr, hits1, hits3,
    hits10). This is the harness that consumes kg_eval_split /
    kg_negative_samples; plugging a learned embedding scorer into the
    same frame is a one-column change.

    Scale shape: the candidate set is the ontology DIMENSION
    (broadcast crossJoin — at web-scale entity counts swap in the
    bounded corrupted-tail sample from negative_samples; the harness
    downstream is identical). Scoring is two keyed equi-joins through
    the train adjacency (inverted-index shared-neighbor count, the
    neighbor_jaccard shape), rank = 1 + count(strictly-better) via one
    keyed join + aggregate — no window over anything unbounded, no
    corpus self-join. The held-out and train frames come from one
    checkpointed hash-tagged scan."""
    base = triples.select("subject", "predicate", "object").distinct()
    key = F.md5(F.concat_ws("|", "subject", "predicate", "object",
                            F.lit(KG_SPLIT_SEED)))
    tagged = (base.withColumn("h4", F.substring(key, 1, 4))
              .localCheckpoint(eager=True))
    test = tagged.filter(F.col("h4") < KG_SPLIT_TEST_HEX).drop("h4")
    train = tagged.filter(F.col("h4") >= KG_SPLIT_TEST_HEX).drop("h4")
    ents = (train.select(F.col("subject").alias("e"))
            .unionByName(train.select(F.col("object").alias("e")))
            .distinct())
    test_t = (test
              .join(ents.toDF("subject"), "subject", "left_semi")
              .join(ents.toDF("object"), "object", "left_semi")
              .select("subject", "predicate", "object"))
    und = (train.filter(F.col("subject") != F.col("object"))
           .select(F.least("subject", "object").alias("src"),
                   F.greatest("subject", "object").alias("dst"))
           .distinct())
    sym = und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    vocab = terms.select(F.col("id").alias("cand")).distinct()
    keys = ["subject", "predicate", "object"]
    cands = (test_t.crossJoin(F.broadcast(vocab))
             .join(base.select("subject", "predicate",
                               F.col("object").alias("cand")),
                   ["subject", "predicate", "cand"], "left_anti")
             .unionByName(test_t.withColumn("cand", F.col("object")))
             .localCheckpoint(eager=True))
    cn = (cands
          .join(sym.toDF("subject", "n"), "subject")
          .join(sym.toDF("cand", "n"), ["cand", "n"])
          .groupBy(*keys, "cand")
          .agg(F.count("*").cast("bigint").alias("score")))
    zero = F.lit(0).cast("bigint")
    # checkpoint: the true-score branch and the rank aggregate both
    # read the scored frame — the shared-neighbor join must run once
    scored = (cands.join(cn, keys + ["cand"], "left")
              .withColumn("score", F.coalesce("score", zero))
              .localCheckpoint(eager=True))
    st = (scored.filter(F.col("cand") == F.col("object"))
          .select(*keys, F.col("score").alias("s_true")))
    ranked = (scored.join(st, keys)
              .groupBy(*keys)
              .agg((F.lit(1) + F.sum(F.when(
                  (F.col("score") > F.col("s_true"))
                  | ((F.col("score") == F.col("s_true"))
                     & (F.col("cand") < F.col("object"))), 1)
                  .otherwise(0))).cast("bigint").alias("rank")))
    return (ranked.groupBy("predicate")
            .agg(F.count("*").cast("bigint").alias("n_eval"),
                 F.round(F.avg(F.lit(1.0) / F.col("rank")), 6)
                 .alias("mrr"),
                 F.round(F.avg((F.col("rank") <= 1).cast("double")), 6)
                 .alias("hits1"),
                 F.round(F.avg((F.col("rank") <= 3).cast("double")), 6)
                 .alias("hits3"),
                 F.round(F.avg((F.col("rank") <= 10).cast("double")), 6)
                 .alias("hits10")))


HARD_NEG_SEED = "hardneg-v1"


def hard_negative_samples(triples: DataFrame, terms: DataFrame,
                          k: int = NEG_SAMPLES_K,
                          seed: str = HARD_NEG_SEED) -> DataFrame:
    """Type-consistent ("hard") tail corruption: like negative_samples
    but candidate i is drawn from the id-ordered vocabulary of the
    TRUE object's own namespace (CHEBI objects corrupt to other CHEBI
    ids, GO to GO, ...). Uniform corruption mostly produces
    type-violating triples a KG-embedding model learns to reject from
    the type alone; within-namespace corruption forces it to learn the
    actual relation structure — the standard hard-negative upgrade.

    Same deterministic md5-indexed recipe and scale shape as
    negative_samples (bounded ontology dimension broadcast; per-prefix
    row_number window partitioned BY NAMESPACE, so no one-partition
    sort grows past a namespace's term count); the modulus is the
    per-namespace vocabulary size joined in from a namespace-count
    dimension. Accidental positives and self-objects anti-joined away."""
    from pyspark.sql import Window

    vocab = (terms.select("id").distinct()
             .withColumn("ns", F.split_part(F.col("id"), F.lit(":"),
                                            F.lit(1)))
             .withColumn("ns_seq",
                         F.row_number().over(
                             Window.partitionBy("ns").orderBy("id")) - 1))
    ns_sizes = vocab.groupBy("ns").agg(
        F.count("*").cast("bigint").alias("ns_n"))
    base = (triples.select("subject", "predicate", "object").distinct()
            .withColumn("ns", F.split_part(F.col("object"), F.lit(":"),
                                           F.lit(1))))
    cand = (base.join(F.broadcast(ns_sizes), "ns")
            .select("ns", "ns_n", "subject", "predicate", "object",
                    F.explode(F.array(*[F.lit(i) for i in range(k)]))
                    .alias("sample_idx")))
    pick = F.conv(F.substring(F.md5(F.concat_ws(
        "|", "subject", "predicate", "object",
        F.col("sample_idx").cast("string"), F.lit(seed))), 1, 4),
        16, 10).cast("long") % F.col("ns_n")
    cand = cand.withColumn("pick_seq", pick)
    # both columns in the join key: the broadcast hash is on
    # (ns, seq), never an ns-wide fanout filtered after the fact
    neg = (cand.join(F.broadcast(vocab.withColumnRenamed("ns_seq",
                                                         "pick_seq")),
                     ["ns", "pick_seq"])
           .select("subject", "predicate", "object", "sample_idx",
                   F.col("id").alias("neg_object"))
           .filter(F.col("neg_object") != F.col("object"))
           .filter(F.col("neg_object") != F.col("subject")))
    true_keys = base.select(
        "subject", "predicate", F.col("object").alias("neg_object"))
    return (neg.join(true_keys, ["subject", "predicate", "neg_object"],
                     "left_anti")
            .select("subject", "predicate", "object", "sample_idx",
                    "neg_object"))


def extraction_yield(spans: DataFrame, triples: DataFrame) -> DataFrame:
    """Per-document extraction yield: (doc_id, n_tokens, n_triples,
    yield_per_kt) = triples per kilotoken of prose. The
    extraction-failure detector a construction pipeline runs per
    ingest: a document with plenty of prose and near-zero yield is
    where the matcher vocabulary, sentence splitter, or encoding went
    wrong — exactly the rows to route to quarantine review, long
    before corpus-level precision/recall would move.

    Token counts come from one map-side pass over text spans
    (size(split) — no explode); triple counts are a map-side-combinable
    groupBy on the pre-dedup frame (doc granularity is lost at dedup by
    design, relations.dedup_triples). Zero-triple docs survive the left
    join with yield 0."""
    from .textops import tokens_col

    toks = (spans.filter(F.col("kind") == "text")
            .select("doc_id", F.size(tokens_col("text")).alias("nt"))
            .groupBy("doc_id")
            .agg(F.sum("nt").cast("bigint").alias("n_tokens")))
    per = (triples.groupBy("doc_id")
           .agg(F.count("*").cast("bigint").alias("n_triples")))
    return (toks.join(per, "doc_id", "left")
            .select("doc_id", "n_tokens",
                    F.coalesce("n_triples", F.lit(0)).cast("bigint")
                    .alias("n_triples"),
                    F.round(F.when(F.col("n_tokens") > 0,
                                   F.coalesce("n_triples", F.lit(0))
                                   * 1000.0 / F.col("n_tokens"))
                            .otherwise(F.lit(0.0)), 6)
                    .alias("yield_per_kt")))


def confidence_profile(triples: DataFrame) -> DataFrame:
    """Deduped triple store -> per-predicate confidence calibration:
    (predicate, n_triples, n_full_conf, mean_conf, wmean_conf) where
    wmean_conf weights each triple's confidence by its support count —
    if the support-weighted mean sits far above the plain mean, the
    low-confidence tail is also the low-evidence tail (safe to trim);
    if they coincide, low confidence is structural to the predicate's
    phrasing and trimming it costs recall. One map-side-combinable
    aggregate over the predicate dimension."""
    return (triples.groupBy("predicate")
            .agg(F.count("*").cast("bigint").alias("n_triples"),
                 F.sum(F.when(F.col("confidence") >= 1.0, 1).otherwise(0))
                 .cast("bigint").alias("n_full_conf"),
                 F.round(F.avg("confidence"), 6).alias("mean_conf"),
                 F.round(F.sum(F.col("confidence") * F.col("support"))
                         / F.sum("support"), 6).alias("wmean_conf")))


def triple_fusion(triples: DataFrame) -> DataFrame:
    """Pre-dedup evidence stream -> one fused object per (subject,
    predicate): truth discovery over conflicting extractions. Each
    candidate object's evidence is rolled up as (summed mention
    confidence, distinct supporting docs, mention count); the winner
    maximizes (weight, n_docs) with a deterministic smallest-object
    tie-break, and n_alternatives reports how contested the slot was.

    Reference parity: the reference resolves conflicting assertions at
    ontology-merge time by source priority
    (aim2_ontology/models.py merge paths; SURVEY §2.6) — at corpus
    scale, where the same (s, p) is extracted from millions of pages,
    the evidence-weighted vote is the distributed analog.

    Scale shape: two map-side-combinable aggregates (evidence rollup,
    then struct-argmin for the winner) — never a window over the
    corpus; both shuffles key on (subject[, predicate]), the same
    partitioning, so AQE reuses the exchange."""
    ev = (triples.groupBy("subject", "predicate", "object")
          .agg(F.sum("confidence").alias("w"),
               F.countDistinct("doc_id").alias("n_docs"),
               F.count("*").alias("n_mentions")))
    best = (ev.groupBy("subject", "predicate")
            .agg(F.min_by(
                     F.struct("object", "w", "n_docs", "n_mentions"),
                     F.struct((-F.col("w")).alias("nw"),
                              (-F.col("n_docs")).alias("nd"),
                              F.col("object"))).alias("win"),
                 F.count("*").alias("n_alternatives")))
    return best.select(
        "subject", "predicate",
        F.col("win.object").alias("object"),
        F.round("win.w", 6).alias("evidence_weight"),
        F.col("win.n_docs").alias("n_docs"),
        F.col("win.n_mentions").alias("n_mentions"),
        "n_alternatives")


def dedup_retract(pre: DataFrame, removed_docs: DataFrame) -> DataFrame:
    """Deletion maintenance for the deduped triple store — the
    tombstone pass merge_triples_incremental's docstring defers to
    (takedown / GDPR / robots-revocation at web scale must not
    re-aggregate 10^12 docs): given the pre-dedup evidence stream and
    the retracted doc ids, re-aggregate ONLY the 7-tuple keys that had
    evidence in a removed doc. Unaffected store rows pass through via
    a null-safe left_anti on the affected-key set (delta-sized);
    affected keys re-aggregate from the surviving evidence; keys whose
    evidence vanished entirely disappear from the store.

    Key joins are null-safe (object_datatype / object_language are
    NULL for uri objects), the same IS NOT DISTINCT FROM semantics as
    the MERGE path. Oracle recomputes the full dedup over the filtered
    stream — parity proves retraction-maintenance == full recompute."""
    removed = removed_docs.select("doc_id")
    old = dedup_triples(pre)
    akeys = (pre.join(removed, "doc_id", "left_semi")
             .select(*TRIPLE_KEY).distinct())

    def _nscond(left: str):
        cond = None
        for c in TRIPLE_KEY:
            p = F.col(f"{left}.{c}").eqNullSafe(F.col(f"k.{c}"))
            cond = p if cond is None else cond & p
        return cond

    survive = pre.join(removed, "doc_id", "left_anti")
    re_agg = dedup_triples(
        survive.alias("s").join(akeys.alias("k"), _nscond("s"),
                                "left_semi"))
    kept = (old.alias("o").join(akeys.alias("k"), _nscond("o"),
                                "left_anti"))
    return kept.unionByName(re_agg)


TRANSE_DIMS = 8
PLAUS_SIGMA = 2.0
PLAUS_MIN_N = 4


def _hash_emb(x, c: int):
    """Deterministic pseudo-embedding component in [-1, 1): md5 of
    'value:dim' -> 8 hex chars -> integer -> scaled. The md5 idiom is
    the engine-portable hash both sides of the oracle replay; a
    production run swaps in trained vectors (a (node, array<float>)
    table) without changing the plan."""
    h = F.conv(F.substring(
        F.md5(F.concat(x, F.lit(f":{c}"))), 1, 8), 16, 10) \
        .cast("bigint")
    return (h % 2000) / 1000.0 - 1.0


def triple_plausibility(triples: DataFrame,
                        dims: int = TRANSE_DIMS) -> DataFrame:
    """Embedding-based triple plausibility audit — the TransE energy
    check (Bordes et al. 2013) used to flag suspect edges in an
    automatically-constructed KG: energy(h, r, t) = ||h + r - t||_1
    over per-node/per-predicate embeddings; triples whose energy sits
    more than PLAUS_SIGMA sample deviations from their predicate's
    mean are flagged implausible (extraction noise candidates for
    human review). Complements the symbolic checks (SHACL shapes,
    cardinality, inverse consistency) with a geometric one.

    Embeddings here are hash-derived (see _hash_emb) so the audit is
    self-contained and oracle-replayable; the energy is a pure per-row
    column expression (no join against an embedding table, no
    shuffle), and the per-predicate moments are a dimension-sized
    aggregate broadcast back — the zscore_outliers shape. Predicates
    with < PLAUS_MIN_N triples or zero spread emit nothing."""
    s, p, o = F.col("subject"), F.col("predicate"), F.col("object")
    energy = F.lit(0.0)
    for c in range(dims):
        energy = energy + F.abs(
            _hash_emb(s, c) + _hash_emb(p, c) - _hash_emb(o, c))
    scored = triples.select(
        "subject", "predicate", "object",
        F.round(energy, 6).alias("energy"))
    stats = (scored.groupBy("predicate")
             .agg(F.count("*").alias("n"),
                  F.avg("energy").alias("mean_e"),
                  F.stddev_samp("energy").alias("std_e"))
             .filter((F.col("n") >= PLAUS_MIN_N)
                     & (F.col("std_e") > 0)))
    z = F.round((F.col("energy") - F.col("mean_e")) / F.col("std_e"), 4)
    return (scored.join(
        F.broadcast(stats.select("predicate", "mean_e", "std_e")),
        "predicate")
        .withColumn("z", z)
        .select("subject", "predicate", "object", "energy", "z",
                (F.abs(F.col("z")) > PLAUS_SIGMA).alias("implausible")))


def distant_supervision_labels(mentions: DataFrame,
                               triples: DataFrame) -> DataFrame:
    """Distant-supervision training-set builder (Mintz et al. 2009):
    every ordered pair of distinct entities linked within one document
    becomes a relation-classifier example, labeled with the KB
    predicate(s) the deduped triple store holds for that pair — or
    NO_RELATION when the KB is silent (the negative class real DS
    corpora are mostly made of). Emits (doc_id, subject_term,
    object_term, label, in_kb); multi-predicate pairs emit one row per
    predicate, the standard multi-label DS convention.

    Per-doc entity sets bound the pair fan-out (k choose 2 within a
    doc, never cross-doc); the KB probe is one equi left join on the
    (subject, object) pair — shuffle-partitionable against a
    billion-edge store, no broadcast assumption on the KB side."""
    ents = mentions.select("doc_id", "term_id").distinct()
    a, b = ents.alias("a"), ents.alias("b")
    pairs = (a.join(b, "doc_id")
             .filter(F.col("a.term_id") != F.col("b.term_id"))
             .select("doc_id",
                     F.col("a.term_id").alias("subject_term"),
                     F.col("b.term_id").alias("object_term")))
    kb = triples.select(F.col("subject").alias("subject_term"),
                        F.col("object").alias("object_term"),
                        "predicate").distinct()
    return (pairs.join(kb, ["subject_term", "object_term"], "left")
            .select("doc_id", "subject_term", "object_term",
                    F.coalesce("predicate", F.lit("NO_RELATION"))
                    .alias("label"),
                    F.col("predicate").isNotNull().alias("in_kb")))


PATTERN_MAX_LEN = 40


def relation_pattern_mining(spans: DataFrame, links: DataFrame,
                            kb: DataFrame,
                            max_len: int = PATTERN_MAX_LEN) -> DataFrame:
    """Bootstrap pattern induction (DIPRE / Snowball): harvest the
    literal text BETWEEN co-occurring linked entities within a span,
    label each occurrence with the KB predicate for that entity pair
    (distant supervision), and rank candidate patterns by support —
    the miner that grows the closed PREDICATE_PHRASES table the
    extractor (extract_triples) matches against. Emits
    (between_phrase, label, n_pairs, n_docs).

    Occurrence positions are FIRST-occurrence instr() within the span
    (engine-portable; the automaton's all-occurrence offsets are not
    replayable in SQL) — a deliberate, documented narrowing that
    biases toward the common case of one mention per surface per
    span. Pair fan-out is per-span linked-surface pairs (bounded by a
    span's own entity count); everything else is equi joins + one
    map-side-combinable rollup."""
    lm = links.select("doc_id", "surface", "term_id").distinct()
    a = lm.alias("a")
    b = lm.alias("b")
    pairs = (a.join(b, "doc_id")
             .filter(F.col("a.surface") != F.col("b.surface"))
             .select("doc_id",
                     F.col("a.surface").alias("sa"),
                     F.col("a.term_id").alias("ta"),
                     F.col("b.surface").alias("sb"),
                     F.col("b.term_id").alias("tb")))
    sp = spans.select("doc_id", "pos", F.lower("text").alias("low"))
    j = pairs.join(sp, "doc_id")
    pa = F.instr(F.col("low"), F.col("sa"))
    pb = F.instr(F.col("low"), F.col("sb"))
    start = pa + F.length("sa")
    between = F.trim(F.substring(
        F.col("low"), start.cast("int"), (pb - start).cast("int")))
    occ = (j.filter((pa > 0) & (pb > 0) & (start < pb))
           .select("doc_id", "ta", "tb", between.alias("between_phrase"))
           .filter((F.col("between_phrase") != "")
                   & (F.length("between_phrase") <= max_len)))
    kbd = kb.select(F.col("subject").alias("ta"),
                    F.col("object").alias("tb"),
                    "predicate").distinct()
    return (occ.join(kbd, ["ta", "tb"], "left")
            .select("doc_id", "between_phrase",
                    F.coalesce("predicate", F.lit("NO_RELATION"))
                    .alias("label"))
            .groupBy("between_phrase", "label")
            .agg(F.count("*").cast("bigint").alias("n_pairs"),
                 F.countDistinct("doc_id").cast("bigint")
                 .alias("n_docs")))
