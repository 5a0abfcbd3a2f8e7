"""Training-data text operators over the `documents` corpus — dedup,
language-ID, quality scoring, token stats, fingerprinting.

These extend the reference's text-analysis surface
(analyze_text_complexity content_utils.py:94, identify_domain :67,
keyword extraction metadata_framework.py:370) with the operations a
large-scale training-data pipeline needs (exact + near dedup, lang-id,
quality filtering). Everything is JVM column expressions — zero Python
on these paths (one exception: heavy_hitters' bounded-state
Space-Saving candidate pass, an Arrow-batched mapInPandas whose inner
loop is per UNIQUE token per batch); the shared
tokenization/shingling/hashing rules are
mirrored 1:1 by the DuckDB oracles (md5 + lexicographic-min MinHash, so
both engines agree byte-for-byte).

Scale notes: every op is embarrassingly parallel per document except the
LSH bucket join (shuffle on band value — bounded by band cardinality,
hot buckets split by AQE skew join) and the dedup groupBys (map-side
combinable). No window over the full corpus, no driver collect.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# --- shared vocabulary (mirrored in oracle_sqls) ---------------------------

STOPWORDS_EN = ["the", "a", "of", "and", "in", "to", "is", "on", "for",
                "with"]

LANG_WORDLISTS = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "von",
           "zu"],
    "en": ["the", "and", "of", "to", "in", "is", "you", "that", "it", "for"],
    "es": ["el", "los", "de", "y", "que", "en", "un", "para", "con", "una"],
    "fr": ["le", "la", "les", "et", "des", "une", "est", "dans", "pour",
           "sur"],
}

MINHASH_K = 12          # signature length
MINHASH_BANDS = 4       # bands of r = K/BANDS rows (LSH)
SHINGLE_W = 3           # word shingle width for near-dup jaccard
FP_SHINGLE_W = 5        # fingerprint shingle width
NEAR_DUP_THRESHOLD = 0.5

# MinHash permutation family: one md5 per shingle, then K orderings of the
# hex string obtained by permuting the digit alphabet with `translate`
# (identical builtin in Spark and DuckDB — the oracle shares these
# constants via oracle_sqls). Hardcoded so the family is stable across
# runs/engines. 12 fixed permutations of '0123456789abcdef'.
HEX_DIGITS = "0123456789abcdef"
MINHASH_PERMS = [
    "97b46fe3c28da051", "d235860c9fb74a1e", "7a5836ebcd901f42",
    "3e7c09fa65d4b182", "b1f3a0de58c62947", "5c02e84b7f1d3a96",
    "ea415d09c3b872f6", "08d67c3fae49b215", "f42b91c7d8605e3a",
    "61a9e5023cf4d7b8", "c8503f6b21ae97d4", "2df7b8146e0ac935",
]
assert len(MINHASH_PERMS) == MINHASH_K
assert all(sorted(p) == sorted(HEX_DIGITS) for p in MINHASH_PERMS)


def tokens_col(text: str = "text") -> Column:
    """Lowercased whitespace tokens, empties dropped — the tokenization
    rule shared with every oracle."""
    return F.filter(F.split(F.lower(F.trim(text)), r"\s+"),
                    lambda t: t != "")


def _shingles(tokens: Column, w: int) -> Column:
    """Word w-grams joined by single spaces; whole text if shorter.

    O(n) construction: zip the token array with its own w-1 shifted
    slices. The naive `transform(sequence(1, n-w+1), i -> array_join(
    slice(tokens, i, w)))` form is a trap twice over — slice-per-element
    is O(n^2), and `tokens` (a regex split) sits INSIDE the lambda, so
    Spark's interpreted higher-order-function eval re-runs the split per
    element (measured 3-4x slower at sf0.1). Here `tokens` appears only
    at top level, once per shift."""
    n = F.size(tokens)
    zipped = tokens
    for k in range(1, w):
        zipped = F.zip_with(
            zipped, F.slice(tokens, k + 1, F.greatest(n - k, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b))
    return F.when(
        n >= w, F.slice(zipped, 1, n - w + 1)
    ).otherwise(F.array(F.array_join(tokens, " ")))


# (the planted-duplicate corpus these dedup ops are demoed on lives in
# decorations.augmented_docs — operators here are pure functions of
# whatever (doc_id, text) frame they are given)


# --- exact dedup -----------------------------------------------------------


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup: md5(text) groups with >1 doc; keeper =
    min doc_id (deterministic). Map-side combinable aggregate — the
    canonical web-scale exact-dedup shape."""
    return (docs
            .groupBy(F.md5("text").alias("text_hash"))
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("keep_doc_id"))
            .filter(F.col("n_docs") > 1))


# --- MinHash + LSH near-dup ------------------------------------------------


def _signatures_from_hashes(base: DataFrame) -> DataFrame:
    """(doc_id, h=md5(shingle)) -> (doc_id, mh0..mh{K-1}): min over K
    permuted-alphabet orderings of the hex string = a min-hash under
    that digit ordering. Map-side combine reduces each partition to one
    row per doc before the shuffle. The ONE signature family —
    minhash_signatures and minhash_lsh_pairs both build on it."""
    return base.groupBy("doc_id").agg(*[
        F.min(F.translate("h", HEX_DIGITS, MINHASH_PERMS[i]))
        .alias(f"mh{i}")
        for i in range(MINHASH_K)])


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh{K-1}) via ONE md5 per distinct shingle.

    Shape: explode distinct shingles -> base = md5(shingle) -> K permuted
    orderings via translate (_signatures_from_hashes). Duplicates can be
    dropped before hashing because min() ignores multiplicity. The
    explode+partial-agg shape is the scalable one, and the single-md5
    family replaced a K-md5 family that recomputed the whole
    tokenize->shingle pipeline per column (12x redundant work, measured
    6x slower end-to-end)."""
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(_shingles(tokens_col(), SHINGLE_W)))
        .alias("s"))
    return _signatures_from_hashes(
        sh.select("doc_id", F.md5("s").alias("h")))


def _minhash_tables(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared first half of the MinHash family: checkpointed shingle
    sets + the exploded (doc_id, band_idx, band_key) band table."""
    r = MINHASH_K // MINHASH_BANDS
    # localCheckpoint (NOT persist): sets_ feeds the signature branch
    # AND two verify probe joins — without materialization Catalyst
    # re-derives the tokenize -> zip_with-shingle -> distinct pipeline
    # once per branch (it used to run twice; deriving the signature
    # from the checkpointed sets makes it exactly once per corpus).
    # Dataset.persist would pin a CacheManager entry this function can
    # never safely unpersist (the returned plan is lazy), leaking cache
    # across a long session; localCheckpoint blocks are RDD-level and
    # reclaimed by the ContextCleaner once the result is gc'd.
    sets_ = docs.select(
        "doc_id",
        F.array_distinct(_shingles(tokens_col(), SHINGLE_W)).alias("sh")
    ).localCheckpoint(eager=True)
    sig = _signatures_from_hashes(
        sets_.select("doc_id", F.explode("sh").alias("s"))
        .select("doc_id", F.md5("s").alias("h")))
    # band_key folds the band INDEX into the hash, so band_key alone is
    # a complete join key: two docs share a band_key iff they share the
    # same band slot AND the same mh block. The delta-store path joins
    # on the single column (its bucket key — Spark's co-partition check
    # requires ALL join keys to match the bucket layout, so a
    # (band_idx, band_key) join would re-shuffle the store); the
    # in-memory paths keep both columns in the join, which is the same
    # candidate set either way.
    bands = sig.select(
        "doc_id",
        F.posexplode(F.array(*[
            F.md5(F.concat(F.lit(f"{b}|"),
                           *[F.col(f"mh{b * r + j}") for j in range(r)]))
            for b in range(MINHASH_BANDS)
        ])).alias("band_idx", "band_key")).localCheckpoint(eager=True)
    return sets_, bands


def _verify_pairs(cand: DataFrame, sets_: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of (a, b) candidates against the
    checkpointed shingle sets — shared by the full and delta paths so
    parity between them is structural, not coincidental."""
    return (cand
            .join(sets_.toDF("a", "sh_a"), "a")
            .join(sets_.toDF("b", "sh_b"), "b")
            .withColumn(
                "jaccard",
                F.round(F.size(F.array_intersect("sh_a", "sh_b"))
                        / F.size(F.array_union("sh_a", "sh_b")), 6))
            .filter(F.col("jaccard") >= NEAR_DUP_THRESHOLD)
            .select("a", "b", "jaccard"))


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """Banded-LSH candidate pairs verified by true shingle Jaccard.

    shingle sets (ONE tokenize+shingle pass, checkpointed) -> signature
    -> band keys (md5 of r concatenated rows) -> explode -> self-join
    per (band_idx, band_key) -> distinct pairs -> verify with exact
    |A∩B|/|A∪B| >= threshold against the SAME checkpointed sets (band
    join moves 2 longs + 32B hash, not document bodies; the verify
    probes reread RDD blocks, not the corpus)."""
    sets_, bands = _minhash_tables(docs)
    a = bands.toDF("a", "band_idx", "band_key")
    b = bands.toDF("b", "band_idx", "band_key")
    cand = (a.join(b, ["band_idx", "band_key"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b").distinct())
    return _verify_pairs(cand, sets_)


def minhash_delta_pairs(docs: DataFrame, delta_ids: DataFrame) -> DataFrame:
    """Semi-naive near-dup maintenance under a re-crawl delta — the
    dedup member of the incremental family (canonicalize.
    incremental_components): emit exactly
    the near-dup pairs the delta ADDS — (old, new) and (new, new) —
    without ever joining old bands against old bands.

    The band join is delta x corpus on (band_idx, band_key): the
    old-vs-old quadratic never forms, so maintenance cost scales with
    the delta, not the corpus. At 100 TB the corpus-side band table is
    the materialized signature store published by the previous run
    (bucketed by band_key); here it is recomputed because the sandbox
    holds no store between queries — the JOIN SHAPE is what carries.
    Pairs are normalized with least/greatest (at least one side is
    new, so (delta x corpus) covers each added pair exactly once per
    orientation) and verified by the same exact-Jaccard probe as the
    full path. Parity contract: output == minhash_lsh_pairs(docs)
    restricted to pairs touching a delta doc (the oracle runs the FULL
    recompute and filters, so incremental == full is what the gate
    proves)."""
    sets_, bands = _minhash_tables(docs)
    dbands = bands.join(delta_ids.select("doc_id"), "doc_id", "left_semi")
    d = dbands.toDF("d", "band_idx", "band_key")
    allb = bands.toDF("x", "band_idx", "band_key")
    cand = (d.join(allb, ["band_idx", "band_key"])
            .filter(F.col("d") != F.col("x"))
            .select(F.least("d", "x").alias("a"),
                    F.greatest("d", "x").alias("b"))
            .distinct())
    return _verify_pairs(cand, sets_)


MINHASH_STORE_BUCKETS = 16


def publish_minhash_store(docs: DataFrame,
                          prefix: str = "minhash_store",
                          n_buckets: int = MINHASH_STORE_BUCKETS) -> None:
    """Materialize the signature store a dedup run publishes for the
    NEXT run's delta maintenance — the 100-TB wiring the
    minhash_delta_pairs docstring promises: `<prefix>_bands` hash-
    bucketed AND sorted by band_key (so the next delta's corpus-side
    band join reads bucket-local with no Exchange) and `<prefix>_sets`
    bucketed by doc_id (the exact-Jaccard verify side). One shuffle at
    publish time buys every subsequent delta run's corpus-side join.
    mode=overwrite keeps re-publication idempotent."""
    from ..plans.bucketing import write_bucketed
    spark = docs.sparkSession
    for t in (f"{prefix}_bands", f"{prefix}_sets"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        # a warehouse dir orphaned by a PREVIOUS session is invisible
        # to this session's catalog, and saveAsTable refuses to reuse
        # the location — clear it so publication stays idempotent
        # across sessions, not just within one
        import shutil
        from urllib.parse import urlparse
        wh = urlparse(spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse")).path
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    sets_, bands = _minhash_tables(docs)
    write_bucketed(bands, f"{prefix}_bands", n_buckets, key="band_key")
    write_bucketed(sets_, f"{prefix}_sets", n_buckets, key="doc_id")


def minhash_delta_pairs_from_store(spark, delta_docs: DataFrame,
                                   prefix: str = "minhash_store"
                                   ) -> DataFrame:
    """Store-backed incremental near-dup: the corpus side of the band
    join is the PUBLISHED bucketed signature store, not a recompute —
    only the (small) delta is tokenized/shingled/hashed this run.

    Join shape: delta_bands JOIN store_bands ON band_key — the single
    complete join key (the band index is folded into the hash) and the
    store's bucket column, so the store side scans bucket-local with NO
    shuffle Exchange (tests/test_bucketing.py::
    test_minhash_store_band_join_is_exchange_free asserts it on the
    executed plan; Spark's co-partition check needs ALL join keys to
    match the bucket layout, which is why the key must be complete);
    only the delta side shuffles, so maintenance IO scales with the
    delta. new x new pairs come from a delta-only self-join; old x old
    never forms anywhere. Verification reuses the store's shingle sets
    for old docs and the fresh delta sets for new ones — document
    bodies of unchanged docs are never re-read.

    Parity contract (same as minhash_delta_pairs): output == the full
    recompute restricted to delta-touching pairs; the oracle proves
    incremental == full."""
    d_sets, d_bands = _minhash_tables(delta_docs)
    delta_ids = delta_docs.select("doc_id")
    # a re-crawl UPDATE supersedes the store's stale rows for that doc:
    # broadcast anti-joins (delta ids are small by definition) drop them
    # without disturbing the store scan's bucket partitioning
    s_bands = (spark.table(f"{prefix}_bands")
               .join(F.broadcast(delta_ids), "doc_id", "left_anti"))
    s_sets = (spark.table(f"{prefix}_sets")
              .join(F.broadcast(delta_ids), "doc_id", "left_anti"))
    d = d_bands.select(F.col("doc_id").alias("d"), "band_key")
    old = s_bands.select(F.col("doc_id").alias("x"), "band_key")
    dd = d_bands.select(F.col("doc_id").alias("x"), "band_key")
    cand_old = d.join(old, "band_key")
    cand_new = d.join(dd, "band_key").filter(F.col("d") != F.col("x"))
    cand = (cand_old.unionByName(cand_new)
            .select(F.least("d", "x").alias("a"),
                    F.greatest("d", "x").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct())
    return _verify_pairs(cand, s_sets.unionByName(d_sets))


# --- exact n-gram Jaccard (inverted-index join) ----------------------------

# shingles appearing in more docs than this are dropped from CANDIDATE
# GENERATION only (verification always uses full sets)
NGRAM_DF_CAP = 50


def ngram_jaccard_pairs(docs: DataFrame,
                        threshold: float = NEAR_DUP_THRESHOLD,
                        df_cap: int = NGRAM_DF_CAP) -> DataFrame:
    """Exact n-gram Jaccard near-dup — the non-approximate sibling of
    minhash_lsh_pairs: candidates from an inverted-index equi-join on
    shared shingles, verified with exact |A∩B|/|A∪B| over the FULL
    shingle sets.

    Scale shape: the candidate join is equi on the shingle value, so
    there is never an all-pairs product; the document-frequency cap
    (the prefix-filtering idea from set-similarity joins) drops
    ubiquitous shingles from candidate generation — a shingle shared by
    thousands of docs generates a quadratic candidate block while
    contributing almost nothing to any single pair's similarity. The
    cap is part of the operator's declared semantics (a pair similar
    ONLY through super-cap shingles is not reported), mirrored exactly
    by the oracle. Verification re-joins the full set arrays, as in
    minhash_lsh_pairs (band join moves ids, not documents).

    Count-filter prune (the PPJoin counting-filter idea): the pair join
    aggregates the number of SHARED sub-cap shingles c per candidate
    (groupBy count — same shuffle the old distinct paid, plus map-side
    combine). The true intersection is at most c + min(super_a, super_b)
    where super_x = full-set size minus sub-cap size of doc x, so
    jaccard <= (c+m)/(|A|+|B|-(c+m)) with m = min(super_a, super_b) —
    pairs whose UPPER BOUND misses the threshold are dropped before the
    full-array verification join. Exact: only pairs that cannot pass
    are pruned. Measured at sf0.1: 1.53M candidates -> 1.2k verified
    (the array join was 17 s of a 23 s query; now it runs on the 1.2k).
    The per-doc size frame is corpus-cardinality (3 ints per doc), so it
    carries NO broadcast hint — at sandbox scale AQE broadcasts it from
    its measured size, at 10^8 docs it is too big to force onto the
    driver and the join correctly degrades to a shuffle."""
    sets_ = docs.select(
        "doc_id",
        F.array_distinct(_shingles(tokens_col(), SHINGLE_W)).alias("sh")
    ).localCheckpoint(eager=True)
    inv = sets_.select("doc_id", F.explode("sh").alias("s"))
    rare = (inv.groupBy("s").agg(F.count("*").alias("df"))
            .filter(F.col("df") <= df_cap).select("s"))
    capped = inv.join(rare, "s", "left_semi")
    sizes = (sets_.select("doc_id", F.size("sh").alias("n_full"))
             .join(capped.groupBy("doc_id").agg(
                 F.count("*").alias("n_cap")), "doc_id", "left")
             .select("doc_id", "n_full",
                     (F.col("n_full") - F.coalesce("n_cap", F.lit(0)))
                     .alias("n_sup")))
    a = capped.toDF("s", "a")
    b = capped.toDF("s", "b")
    cand = (a.join(b, "s").filter(F.col("a") < F.col("b"))
            .groupBy("a", "b").agg(F.count("*").alias("c")))
    ub_i = F.col("c") + F.least("ns_a", "ns_b")
    pruned = (cand
              .join(sizes.toDF("a", "nf_a", "ns_a"), "a")
              .join(sizes.toDF("b", "nf_b", "ns_b"), "b")
              .filter(ub_i / (F.col("nf_a") + F.col("nf_b") - ub_i)
                      >= threshold)
              .select("a", "b"))
    return (pruned
            .join(sets_.toDF("a", "sh_a"), "a")
            .join(sets_.toDF("b", "sh_b"), "b")
            .withColumn(
                "jaccard",
                F.round(F.size(F.array_intersect("sh_a", "sh_b"))
                        / F.size(F.array_union("sh_a", "sh_b")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("a", "b", "jaccard"))


# shingle-containment threshold: C(A->B) = |A∩B|/|A| (asymmetric)
CONTAINMENT_THRESHOLD = 0.8


def ngram_containment_pairs(docs: DataFrame,
                            threshold: float = CONTAINMENT_THRESHOLD,
                            df_cap: int = NGRAM_DF_CAP) -> DataFrame:
    """Exact n-gram CONTAINMENT near-dup — the asymmetric sibling of
    ngram_jaccard_pairs: C(A->B) = |A∩B|/|A| flags quote/aggregator
    duplication (a snippet fully contained in a much larger page) that
    Jaccard structurally misses — when |B| >> |A|, J = |A∩B|/|A∪B| ~
    |A|/|B| -> 0 even though every shingle of A is in B. Emits pairs
    where EITHER direction's containment >= threshold, with both
    directional scores and a direction verdict.

    Scale shape: identical to ngram_jaccard_pairs — inverted-index
    equi-join on sub-df_cap shingles (a pair sharing ONLY super-cap
    shingles is outside the declared semantics, mirrored by the
    oracle), PPJoin-style count prune, exact verify over the full
    distinct-shingle arrays. The prune bound: true intersection i <=
    c + min(sup_a, sup_b), so max directional containment <=
    ub / min(|A|, |B|) — only pairs that cannot pass are dropped
    before the array join."""
    sets_ = docs.select(
        "doc_id",
        F.array_distinct(_shingles(tokens_col(), SHINGLE_W)).alias("sh")
    ).localCheckpoint(eager=True)
    inv = sets_.select("doc_id", F.explode("sh").alias("s"))
    rare = (inv.groupBy("s").agg(F.count("*").alias("df"))
            .filter(F.col("df") <= df_cap).select("s"))
    capped = inv.join(rare, "s", "left_semi")
    sizes = (sets_.select("doc_id", F.size("sh").alias("n_full"))
             .join(capped.groupBy("doc_id").agg(
                 F.count("*").alias("n_cap")), "doc_id", "left")
             .select("doc_id", "n_full",
                     (F.col("n_full") - F.coalesce("n_cap", F.lit(0)))
                     .alias("n_sup")))
    a = capped.toDF("s", "a")
    b = capped.toDF("s", "b")
    cand = (a.join(b, "s").filter(F.col("a") < F.col("b"))
            .groupBy("a", "b").agg(F.count("*").alias("c")))
    ub_i = F.col("c") + F.least("ns_a", "ns_b")
    pruned = (cand
              .join(sizes.toDF("a", "nf_a", "ns_a"), "a")
              .join(sizes.toDF("b", "nf_b", "ns_b"), "b")
              .filter(ub_i / F.least("nf_a", "nf_b") >= threshold)
              .select("a", "b"))
    i = F.size(F.array_intersect("sh_a", "sh_b"))
    c_ab = i / F.size("sh_a")
    c_ba = i / F.size("sh_b")
    return (pruned
            .join(sets_.toDF("a", "sh_a"), "a")
            .join(sets_.toDF("b", "sh_b"), "b")
            .withColumn("cont_ab", c_ab)
            .withColumn("cont_ba", c_ba)
            .filter(F.greatest("cont_ab", "cont_ba") >= threshold)
            .select(
                "a", "b",
                F.round("cont_ab", 6).alias("cont_ab"),
                F.round("cont_ba", 6).alias("cont_ba"),
                F.when((F.col("cont_ab") >= threshold)
                       & (F.col("cont_ba") >= threshold), "both")
                .when(F.col("cont_ab") >= threshold, "a_in_b")
                .otherwise("b_in_a").alias("direction")))


# --- SimHash ---------------------------------------------------------------


def simhash_clusters(docs: DataFrame) -> DataFrame:
    """Documents sharing a 16-bit SimHash (exact-duplicate recall demo;
    hamming-banded pair generation is the minhash path's job).

    Per distinct token, hex digit k of md5(token) contributes +1/-1 to
    bit k by its high bit (>= '8'); simhash = sum of 2^k over positive
    bit-sums. Shape: explode distinct tokens -> ONE md5 per token -> 16
    signed contributions -> groupBy(doc_id).sum (map-side combinable)
    -> bits. The single-projection `aggregate(toks, ...)` form computed
    16 interpreted array-folds x one md5 each per row — this computes
    one md5 per token total and keeps the agg JVM-codegen'd."""
    tok = docs.select(
        "doc_id",
        F.explode_outer(F.array_distinct(tokens_col())).alias("t"))
    h = tok.select("doc_id", F.md5("t").alias("h"))
    contribs = h.groupBy("doc_id").agg(*[
        F.sum(F.when(F.col("h").isNull(), 0)
              .when(F.substring("h", k + 1, 1) >= "8", 1)
              .otherwise(-1)).alias(f"c{k}")
        for k in range(16)])
    simhash = contribs.select(
        "doc_id",
        sum([F.when(F.col(f"c{k}") > 0, F.lit(1 << k)).otherwise(0)
             for k in range(1, 16)],
            F.when(F.col("c0") > 0, F.lit(1)).otherwise(0))
        .alias("simhash"))
    return (simhash
            .groupBy("simhash")
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("min_doc"))
            .filter(F.col("n_docs") > 1))


# --- 64-bit SimHash with banded hamming join (the scale path) ---------------

SIMHASH64_BANDS = 4      # 4 x 16-bit bands; candidates share >=1 band
HAMMING_MAX = 3          # classic 64-bit simhash near-dup radius


def _bit_test(h: Column, k: int) -> Column:
    """Bit k (0..63) of the 64-bit token hash, read as 2 bits per md5 hex
    digit: digit i = k//2; even k -> the digit's high bit (>= '8'),
    odd k -> its second bit (in 4-7 / c-f). One md5 per token, no conv()."""
    d = F.substring(h, k // 2 + 1, 1)
    if k % 2 == 0:
        return d >= "8"
    return d.isin("4", "5", "6", "7", "c", "d", "e", "f")


def simhash64_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band0..band3) — 64-bit SimHash split into 4 x 16-bit band
    values. Same explode->one-md5->map-side-combinable-sum shape as
    simhash_clusters, widened to 64 bit positions; band ints stay
    non-negative (bit 15 is the band's top bit), so no sign traps."""
    tok = docs.select(
        "doc_id",
        F.explode_outer(F.array_distinct(tokens_col())).alias("t"))
    h = tok.select("doc_id", F.md5("t").alias("h"))
    contribs = h.groupBy("doc_id").agg(*[
        F.sum(F.when(F.col("h").isNull(), 0)
              .when(_bit_test(F.col("h"), k), 1)
              .otherwise(-1)).alias(f"c{k}")
        for k in range(64)])

    def band(b: int) -> Column:
        acc = F.when(F.col(f"c{b * 16}") > 0, F.lit(1)).otherwise(0)
        for j in range(1, 16):
            acc = acc + F.when(F.col(f"c{b * 16 + j}") > 0,
                               F.lit(1 << j)).otherwise(0)
        return acc.cast("int")

    return contribs.select(
        "doc_id", *[band(b).alias(f"band{b}")
                    for b in range(SIMHASH64_BANDS)])


def simhash_neardup_pairs(docs: DataFrame,
                          max_hamming: int = HAMMING_MAX) -> DataFrame:
    """SimHash near-duplicate pairs at scale: 64-bit signature, candidate
    pairs from a banded equi-join (a pair within hamming distance
    <= SIMHASH64_BANDS - 1 shares at least one intact 16-bit band, by
    pigeonhole), verified with the true hamming distance over all 64
    bits (bit_count of per-band xor). Replaces the 16-bit
    exact-equality demo (simhash_clusters) whose 65,536-bucket space
    saturates beyond ~1e5 docs: band values here range over 2^16 EACH
    and candidates need full equality on one band, so bucket occupancy
    stays bounded as the corpus grows (add bands/bits to grow the key
    space further, exactly like minhash_lsh_pairs).

    Reference analog: near-dup detection is the training-data extension
    surface (no reference op); the banded-join shape mirrors
    _merge_and_deduplicate semantics done at corpus scale."""
    bands = simhash64_bands(docs).localCheckpoint(eager=True)
    bx = bands.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"band{b}")
                               for b in range(SIMHASH64_BANDS)]))
        .alias("band_idx", "band_val"))
    a = bx.toDF("a", "band_idx", "band_val")
    b = bx.toDF("b", "band_idx", "band_val")
    cand = (a.join(b, ["band_idx", "band_val"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b").distinct())
    ba = bands.toDF("a", *[f"a{i}" for i in range(SIMHASH64_BANDS)])
    bb = bands.toDF("b", *[f"b{i}" for i in range(SIMHASH64_BANDS)])
    hamming = F.bit_count(F.col("a0").bitwiseXOR(F.col("b0")))
    for i in range(1, SIMHASH64_BANDS):
        hamming = hamming + F.bit_count(
            F.col(f"a{i}").bitwiseXOR(F.col(f"b{i}")))
    return (cand.join(ba, "a").join(bb, "b")
            .withColumn("hamming", hamming.cast("int"))
            .filter(F.col("hamming") <= max_hamming)
            .select("a", "b", "hamming"))


# --- text analysis ---------------------------------------------------------


def token_stats(docs: DataFrame) -> DataFrame:
    # try_divide everywhere a denominator can be 0 (empty/whitespace-only
    # doc): Spark 4 runs ANSI mode by default, where x/0 THROWS and one
    # degenerate row in 10^12 would kill the stage; NULL is the right
    # per-row answer
    toks = tokens_col()
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.round(F.try_divide(
            F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)),
            F.size(toks)), 6).alias("avg_token_len"))


BPE_ISH_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def bpe_token_counts(docs: DataFrame) -> DataFrame:
    """Sub-word-ish token counting next to whitespace word counts: the
    BPE-style pre-tokenizer regex (letter runs | digit runs | single
    punctuation) applied with regexp_extract_all — the training-data
    token-budget estimator."""
    words = tokens_col()
    sub = F.regexp_extract_all(F.lower("text"), F.lit(BPE_ISH_PATTERN), 0)
    return docs.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.size(sub).alias("n_subtokens"),
        F.round(F.try_divide(F.size(sub), F.size(words)), 6)
        .alias("subtoken_ratio"))  # try_divide: empty doc, ANSI mode


def quality_score_col(text: str = "text") -> Column:
    """The combined quality score as a reusable per-row Column (single
    source of truth shared by quality_scores and the curation funnel)."""
    toks = tokens_col(text)
    n_tok = F.size(toks)
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS_EN)))
    return F.round(
        0.4 * F.least(n_tok / F.lit(100.0), F.lit(1.0))
        + 0.3 * (1 - F.try_divide(punct, F.length(text)))
        + 0.3 * F.try_divide(stop_hits, n_tok), 6)


def quality_scores(docs: DataFrame) -> DataFrame:
    """Quality heuristics (reference analog: text-complexity metrics
    content_utils.py:94): length, punctuation density, stopword ratio,
    combined score."""
    toks = tokens_col()
    n_tok = F.size(toks)
    punct = F.length(F.regexp_replace("text", r"[^.,;:!?]", ""))
    stop_hits = F.size(F.filter(
        toks, lambda t: t.isin(*STOPWORDS_EN)))
    # try_divide: empty/punctuation-only docs have length 0 or 0 tokens,
    # and ANSI-mode division would abort the stage on one bad row
    punct_ratio = F.round(F.try_divide(punct, F.length("text")), 6)
    stop_ratio = F.round(F.try_divide(stop_hits, n_tok), 6)
    return docs.select(
        "doc_id", n_tok.alias("n_tokens"),
        punct_ratio.alias("punct_ratio"), stop_ratio.alias("stop_ratio"),
        quality_score_col().alias("quality_score"))


# --- model-based quality filtering (hashed bag-of-words linear model) ------
# The FineWeb/CCNet-style stage AFTER quality_scores' heuristics: a
# linear classifier over hashed token features. Weights here are a
# deterministic pseudo-random stub (production swaps in trained weights
# via the same (bucket -> weight) expression or a broadcast table; the
# plan shape is identical). Weights are DYADIC rationals (k/1024, |k| <=
# 1024) and counts are capped small integers, so every per-feature term
# and every partial sum is EXACT in float64 — the doc margin is
# order-independent, hash-stable across engines with no rounding slack.
N_HASH_FEATURES = 64
HASH_WEIGHT_MULT = 2654435761   # Knuth multiplicative-hash constant
FEATURE_COUNT_CAP = 15


def quality_classifier(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, n_tokens, margin, keep): hashed-BoW
    linear score. bucket = int(md5(token)[:8], 16) % N_HASH_FEATURES;
    weight(b) = ((b * KNUTH) % 2048 - 1024) / 1024; margin = sum over
    buckets of weight * min(count, cap); keep = margin >= 0. Docs with
    zero tokens emit no row (no features to score).

    Scale shape: explode -> two map-side-combinable groupBys (per-(doc,
    bucket) count, then per-doc sum) — both shuffles carry at most
    N_HASH_FEATURES rows per doc. All JVM codegen: no UDF, no window,
    no join. Sigmoid is deliberately NOT applied: exp() is not
    correctly-rounded and differs across libm implementations; the raw
    margin is exact and monotone-equivalent for thresholding."""
    ex = docs.select("doc_id", F.explode(tokens_col()).alias("tok"))
    bucket = (F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10)
              .cast("bigint") % N_HASH_FEATURES)
    counted = (ex.select("doc_id", bucket.alias("b"))
               .groupBy("doc_id", "b").agg(F.count("*").alias("cnt")))
    w = ((F.col("b") * F.lit(HASH_WEIGHT_MULT)) % 2048 - 1024) / 1024.0
    term = w * F.least(F.col("cnt"), F.lit(FEATURE_COUNT_CAP))
    return (counted
            .select("doc_id", term.alias("term"), "cnt")
            .groupBy("doc_id")
            .agg(F.sum("cnt").cast("bigint").alias("n_tokens"),
                 F.sum("term").alias("margin"))
            .select("doc_id", "n_tokens",
                    F.round("margin", 6).alias("margin"),
                    (F.col("margin") >= 0).alias("keep")))


def _lang_hits(text: str = "text") -> dict[str, Column]:
    """Per-language wordlist hit counts (insertion order = sorted)."""
    toks = tokens_col(text)
    return {la: F.size(F.filter(
        toks, lambda t: t.isin(*LANG_WORDLISTS[la])))
        for la in sorted(LANG_WORDLISTS)}


def _lang_pred(hit_cols: dict[str, Column]) -> Column:
    """>= 2 hits required, argmax hits, alphabetical tie-break, else
    'und' — the ONE prediction rule (lang_id and the curation funnel
    must never diverge on it)."""
    langs = sorted(hit_cols)
    best = F.greatest(*[hit_cols[la] for la in langs])
    pred = F.when(best < 2, "und")
    for la in langs:
        pred = pred.when(hit_cols[la] == best, la)
    return pred


def lang_pred_col(text: str = "text") -> Column:
    """Predicted language as a reusable per-row Column."""
    return _lang_pred(_lang_hits(text))


def lang_id(docs: DataFrame) -> DataFrame:
    """Wordlist-hit language ID: >= 2 hits required (the reference's
    domain-keyword rule, identify_domain content_utils.py:67), argmax
    hits, alphabetical tie-break, else 'und'. Same rule as
    lang_pred_col, applied over the materialized hit columns."""
    langs = sorted(LANG_WORDLISTS)
    d = docs.select("doc_id", *[c.alias(f"h_{la}") for la, c in
                                _lang_hits().items()])
    pred = _lang_pred({la: F.col(f"h_{la}") for la in langs})
    return d.select("doc_id", pred.alias("lang_pred"),
                    *[F.col(f"h_{la}") for la in langs])


def fingerprints(docs: DataFrame) -> DataFrame:
    """Document fingerprint: lexicographic-min md5 over word 5-gram
    shingles (winnowing-style content signature; whole-text fallback for
    short docs)."""
    sh = _shingles(tokens_col(), FP_SHINGLE_W)
    return docs.select(
        "doc_id",
        F.array_min(F.transform(sh, F.md5)).alias("fingerprint"))


READ_EASY = 90.0       # Flesch bucket boundaries (on the ROUNDED score,
READ_STANDARD = 60.0   # so the bucket can never disagree with the
READ_DIFFICULT = 30.0  # emitted score across engines)


def reading_ease(docs: DataFrame) -> DataFrame:
    """Flesch reading-ease per document — the readability axis of
    quality filtering (a corpus skewed to score<30 legalese or >100
    listicle fragments both need rebalancing): 206.835 - 1.015 *
    words/sentences - 84.6 * syllables/words, with sentences counted
    as [.!?]+ runs (min 1) and syllables approximated by [aeiouy]+
    vowel groups (whitespace already breaks groups across words, so
    one whole-text regexp_count replaces a per-word loop). Emits
    (doc_id, n_words, n_sentences, n_syllables, ease, bucket) — the
    bucket thresholds compare the ROUNDED score, so bucket and score
    can never disagree between engines. Pure per-row codegen."""
    words = F.size(tokens_col("text")).cast("bigint")
    sents = F.greatest(
        F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1)) \
        .cast("bigint")
    syll = F.regexp_count(F.lower("text"), F.lit("[aeiouy]+")) \
        .cast("bigint")
    ease = F.round(
        F.lit(206.835)
        - F.lit(1.015) * F.try_divide(words.cast("double"), sents)
        - F.lit(84.6) * F.try_divide(syll.cast("double"), words), 6)
    return docs.select(
        "doc_id", words.alias("n_words"), sents.alias("n_sentences"),
        syll.alias("n_syllables"), ease.alias("ease"),
        F.when(ease >= READ_EASY, "easy")
        .when(ease >= READ_STANDARD, "standard")
        .when(ease >= READ_DIFFICULT, "difficult")
        .otherwise("very_difficult").alias("bucket"))


def dedup_recall_eval(pred_pairs: DataFrame,
                      docs: DataFrame) -> DataFrame:
    """Dedup-detector evaluation against the PLANTED ground truth: the
    decoration's closed form names every planted duplicate pair (exact
    copy s -> s+1000000 at s%17==0, near copy s -> s+2000000 at
    s%10==5), so recall on that set is exact — the harness a pipeline
    runs when tuning LSH bands/threshold before a production sweep.
    Emits ONE row: (n_planted, n_pred, n_overlap, planted_recall,
    pred_planted_frac). pred_planted_frac is NOT precision — an
    unplanted predicted pair may be a real organic near-dup; it
    measures how much of the detector's output the plant explains.

    Shape: truth derives from the base corpus by arithmetic (no text
    touched), the overlap is a pair-keyed equi-join of two bounded
    pair sets, and the output is three one-row aggregates cross-joined
    — the detector's own cost dominates."""
    base = docs.filter(F.col("doc_id") < 1000000).select("doc_id")
    truth = (base.filter(F.col("doc_id") % 17 == 0)
             .select(F.col("doc_id").alias("a"),
                     (F.col("doc_id") + 1000000).alias("b"))
             .unionByName(
                 base.filter(F.col("doc_id") % 10 == 5)
                 .select(F.col("doc_id").alias("a"),
                         (F.col("doc_id") + 2000000).alias("b"))))
    pred = pred_pairs.select("a", "b")
    n_t = truth.agg(F.count("*").cast("bigint").alias("n_planted"))
    n_p = pred.agg(F.count("*").cast("bigint").alias("n_pred"))
    n_o = (truth.join(pred, ["a", "b"])
           .agg(F.count("*").cast("bigint").alias("n_overlap")))
    return (n_t.crossJoin(n_p).crossJoin(n_o)
            .select("n_planted", "n_pred", "n_overlap",
                    F.round(F.try_divide(
                        F.col("n_overlap").cast("double"),
                        F.col("n_planted")), 6).alias("planted_recall"),
                    F.round(F.try_divide(
                        F.col("n_overlap").cast("double"),
                        F.col("n_pred")), 6).alias("pred_planted_frac")))


CDC_W = 3          # rolling window (tokens) for boundary hashing
CDC_MASK = 15      # boundary when gram-hash % (MASK+1) == 0 (~16-gram
                   # expected chunk length)


def cdc_chunk_dedup(docs: DataFrame, w: int = CDC_W,
                    mask: int = CDC_MASK) -> DataFrame:
    """Content-defined chunking + cross-doc chunk dedup (the
    rsync/LBFS/backup-dedup principle applied to text): a chunk
    boundary falls AFTER token position p when the hash of the w-gram
    ending there has its low bits zero, so boundaries — and therefore
    chunk identities — survive insertions that shift absolute
    positions, which fixed-stride chunking (doc_chunking) does not.
    Chunks are hashed and counted corpus-wide; emits one row per doc:
    (doc_id, n_chunks, n_shared_chunks, shared_frac) where a shared
    chunk's content hash appears in >1 document.

    Shape: one positional shingle pass; the boundary predicate is a
    per-row hash test; chunk ids come from a running SUM of boundary
    flags over the doc-partitioned position window (state = one doc's
    grams, the sequence unit); chunk hashes group map-side; the
    share test is one df count + doc-keyed aggregate. No collects."""
    from pyspark.sql import Window

    sh = docs.select(
        "doc_id", F.posexplode(_shingles(tokens_col("text"), w))
        .alias("pos", "gram"))
    h = F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("bigint")
    marked = sh.select(
        "doc_id", "pos", "gram",
        F.when(h % (mask + 1) == 0, 1).otherwise(0).alias("brk"))
    wdoc = Window.partitionBy("doc_id").orderBy("pos") \
        .rowsBetween(Window.unboundedPreceding, -1)
    cid = F.coalesce(F.sum("brk").over(wdoc), F.lit(0))
    chunks = (marked
              .select("doc_id", cid.alias("chunk_id"), "pos", "gram")
              .groupBy("doc_id", "chunk_id")
              .agg(F.md5(F.concat_ws(
                  " ", F.transform(
                      F.sort_array(F.collect_list(
                          F.struct("pos", "gram"))),
                      lambda s: s["gram"]))).alias("chash")))
    dfq = chunks.groupBy("chash").agg(
        F.countDistinct("doc_id").alias("cdf"))
    return (chunks.join(dfq, "chash")
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_chunks"),
                 F.sum(F.when(F.col("cdf") > 1, 1).otherwise(0))
                 .cast("bigint").alias("n_shared_chunks"))
            .withColumn("shared_frac", F.round(F.try_divide(
                F.col("n_shared_chunks").cast("double"),
                F.col("n_chunks")), 6)))


PREFIX_KS = (8, 16, 32)  # prefix lengths probed for cache sharing


def prefix_cache_stats(docs: DataFrame,
                       ks: tuple[int, ...] = PREFIX_KS) -> DataFrame:
    """KV prefix-cache sizing probe — the serving-side question a
    training/inference pipeline asks of its corpus (vLLM-style
    automatic prefix caching pays off exactly when requests share
    prefixes): for each probe length k, group docs with >= k tokens by
    their first-k-token hash and report one row (k, n_docs,
    n_prefixes, n_shared_docs, shared_frac, est_saved_tokens) where
    est_saved_tokens = sum over groups of (size-1)*k — the tokens a
    perfect prefix cache would not recompute.

    One tokenize pass reused across the k probes; each probe is a
    map-side-combinable count on a constant-width hash key and a
    one-row aggregate — no joins, no windows."""
    tok = docs.select("doc_id", tokens_col("text").alias("toks"))
    tok = tok.localCheckpoint(eager=True)  # read once per probe k
    out = None
    for k in ks:
        g = (tok.filter(F.size("toks") >= k)
             .groupBy(F.md5(F.concat_ws(
                 " ", F.slice("toks", 1, k))).alias("p"))
             .agg(F.count("*").alias("cnt")))
        row = g.agg(
            F.lit(k).cast("int").alias("k"),
            F.sum("cnt").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_prefixes"),
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt"))
                  .otherwise(0)).cast("bigint").alias("n_shared_docs"),
            F.round(F.try_divide(
                F.sum(F.when(F.col("cnt") > 1, F.col("cnt"))
                      .otherwise(0)).cast("double"),
                F.sum("cnt")), 6).alias("shared_frac"),
            (F.sum(F.col("cnt") - 1) * k).cast("bigint")
            .alias("est_saved_tokens"))
        out = row if out is None else out.unionByName(row)
    return out


LICENSE_RULES = (  # priority-ordered: first match wins
    ("cc-by-sa", "cc by-sa"),
    ("cc-by", "cc by"),
    ("mit", "mit license"),
    ("apache-2.0", "apache license"),
)
COPYLEFT = ("cc-by-sa",)


def license_detect(docs: DataFrame) -> DataFrame:
    """License-mention classification — the rights-filtering stage of a
    training-data pipeline (keep permissive, flag copyleft, route
    unknown to review): priority-ordered substring rules over the
    lowercased text, first match wins (cc-by-sa before cc-by, the
    classic prefix-shadowing pair). Emits (doc_id, license, copyleft)
    per document. Pure codegen, zero joins; a
    production rule set compiles to one Aho-Corasick automaton
    (operators/automaton.py) exactly like the NER gazetteer."""
    low = F.lower("text")
    lic = F.lit("none")
    for name, pat in reversed(LICENSE_RULES):
        lic = F.when(low.contains(pat), F.lit(name)).otherwise(lic)
    return docs.select(
        "doc_id", lic.alias("license"),
        lic.isin(*COPYLEFT).alias("copyleft"))


NOVELTY_W = 5   # shingle width for novelty scoring


def ngram_novelty(docs: DataFrame, w: int = NOVELTY_W) -> DataFrame:
    """(doc_id, text) -> (doc_id, n_grams, n_unique, novelty): how much
    of each document's distinct w-gram shingle set appears in NO other
    document — the per-doc originality score curation pipelines use to
    separate fresh prose (novelty ~1) from mirrored/templated content
    (novelty ~0); the per-document complement of the corpus-level
    dup_span/containment family (those locate duplication, this prices
    it per doc).

    Scale shape: one shingle pass, per-doc distinct before the explode
    (array_distinct, no extra shuffle), df from a map-side-combinable
    count over rows already unique per (doc, shingle), ridden back by
    a shingle-keyed equi-join (corpus-sized — deliberately NOT
    broadcast), one final per-doc aggregate. No window, no collect."""
    sh = docs.select("doc_id", F.explode(F.array_distinct(
        _shingles(tokens_col("text"), w))).alias("s"))
    dfq = sh.groupBy("s").agg(F.count("*").alias("df"))
    return (sh.join(dfq, "s")
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_grams"),
                 F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
                 .cast("bigint").alias("n_unique"))
            .withColumn("novelty", F.round(
                F.try_divide(F.col("n_unique").cast("double"),
                             F.col("n_grams")), 6)))


WINNOW_K = 3          # tokens per k-gram
WINNOW_W = 4          # winnowing window (k-grams per window)
WINNOW_MIN_SHARED = 2
WINNOW_DF_CAP = 50    # drop fingerprints held by more docs (boilerplate)


def winnowing_pairs(docs: DataFrame, k: int = WINNOW_K,
                    w: int = WINNOW_W,
                    min_shared: int = WINNOW_MIN_SHARED,
                    df_cap: int = WINNOW_DF_CAP) -> DataFrame:
    """(doc_id, text) -> (a, b, n_shared): doc pairs sharing >=
    min_shared winnowing fingerprints (Schleimer/Wilkerson/Aiken
    SIGMOD'03, the MOSS selection rule): hash every k-token gram,
    slide a w-gram window, keep each window's MINIMUM hash (rightmost
    position on ties). Any shared token run of length >= w + k - 1 is
    guaranteed a shared fingerprint and expected density is 2/(w+1) —
    the position-robust sampler that fixed-stride or min-of-whole-doc
    signatures (`fingerprints` above) are not.

    Scale shape: one shingle pass (the O(n) zip construction), w-way
    window fan-out on constant-width integer rows, then a map-side-
    combinable struct-min per (doc, window) — no per-doc windows, no
    sort. Pair generation is the inverted-index equi-join on the
    fingerprint hash with a document-frequency cap (df_cap) that drops
    boilerplate fingerprints before the join, the same PPJoin-style
    prune as ngram_jaccard — a hash held by B docs would emit B^2/2
    rows; capped, the worst fan-out is df_cap^2 per hash. Dropped
    hashes only lower n_shared for boilerplate overlap (documented
    recall trade, not a correctness hole)."""
    sh = docs.select("doc_id",
                     _shingles(tokens_col("text"), k).alias("sh"))
    g = sh.select("doc_id", F.size("sh").alias("ng"),
                  F.posexplode("sh").alias("pos", "gram"))
    h = g.select(
        "doc_id", "ng", "pos",
        F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10)
        .cast("bigint").alias("h"))
    # gram at pos covers window starts s in
    # [max(pos-w+1, 0), min(pos, max(ng-w, 0))]; lo <= hi always
    # (pos <= ng-1), so the sequence never reverses direction
    wins = h.select("doc_id", "pos", "h", F.explode(F.sequence(
        F.greatest(F.col("pos") - (w - 1), F.lit(0)),
        F.least(F.col("pos"), F.greatest(F.col("ng") - w, F.lit(0)))
    )).alias("s"))
    sel = (wins.groupBy("doc_id", "s")
           .agg(F.min(F.struct(F.col("h"),
                               (-F.col("pos")).alias("np"))).alias("m"))
           .select("doc_id", F.col("m.h").alias("h")))
    fps = sel.distinct()
    hot = (fps.groupBy("h").agg(F.count("*").alias("df"))
           .filter(F.col("df") > df_cap))
    kept = fps.join(hot, "h", "left_anti").select("h", "doc_id")
    return (kept.toDF("h", "a").join(kept.toDF("h", "b"), "h")
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count("*").cast("bigint").alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared))


# --- sequence packing (token-budget context windows) -----------------------

PACK_BUDGET = 512       # tokens per pack (context window)
PACK_BUCKETS = 8        # independent packing streams


def token_pack_assignments(docs: DataFrame, budget: int = PACK_BUDGET,
                           n_buckets: int = PACK_BUCKETS) -> DataFrame:
    """Sequence packing for LLM pretraining: documents are concatenated
    in deterministic order and split into fixed token-budget packs; a
    document belongs to the pack where its first token lands (next-fit
    with boundary overflow — no doc is split, a doc straddling the
    boundary stays in the pack it starts in).

    Beyond-the-reference training-pipeline operator (no counterpart in
    aim2_project): packing is what turns a filtered corpus into
    fixed-length training sequences.

    Scale shape: docs are sharded into n_buckets independent packing
    streams (doc_id mod), so the only window sort is PER BUCKET — there
    is no global sort, and n_buckets scales with the cluster (one
    running-sum window per bucket partition). Output is one row per doc:
    (doc_id, n_tokens, bucket, start_offset, pack_id)."""
    from pyspark.sql import Window
    n = F.size(tokens_col("text"))
    w = (Window.partitionBy("bucket").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    return (docs
            .select("doc_id", n.alias("n_tokens"),
                    (F.col("doc_id") % n_buckets).cast("int")
                    .alias("bucket"))
            .withColumn("start_offset",
                        F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
                        .cast("bigint"))
            .withColumn("pack_id",
                        F.floor(F.col("start_offset") / budget)
                        .cast("int")))


def pack_fill_stats(docs: DataFrame, budget: int = PACK_BUDGET,
                    n_buckets: int = PACK_BUCKETS) -> DataFrame:
    """Per-pack packing efficiency: doc count, token total, fill ratio
    (can exceed 1.0 — boundary-straddling docs overflow their pack)."""
    return (token_pack_assignments(docs, budget, n_buckets)
            .groupBy("bucket", "pack_id")
            .agg(F.count("*").cast("int").alias("n_docs"),
                 F.sum("n_tokens").cast("bigint").alias("pack_tokens"))
            .withColumn("fill_ratio",
                        F.round(F.col("pack_tokens") / budget, 6)))


MEDIA_TOKEN_COST = 64   # vision-encoder tokens budgeted per media span


def interleaved_pack_assignments(spans: DataFrame,
                                 budget: int = PACK_BUDGET,
                                 n_buckets: int = PACK_BUCKETS,
                                 media_cost: int = MEDIA_TOKEN_COST
                                 ) -> DataFrame:
    """Sequence packing for INTERLEAVED text+media training — the
    multimodal form of token_pack_assignments: a document's
    context-window cost is the whitespace-token count of every span's
    text (body, captions, citations — the model sees them all as text)
    plus a fixed vision-token budget per media span (figure/table),
    the way interleaved trainers account image patches. Packing rule is
    identical to the text path: next-fit per bucket, a doc stays in the
    pack where its first token lands.

    Scale shape: one explode-free aggregate over the spans view
    (map-side combinable groupBy(doc_id)), then the per-bucket running
    sum — the only window sort is inside each of n_buckets independent
    streams, no global sort. Output one row per doc: (doc_id,
    n_text_tokens, n_media, cost, bucket, start_offset, pack_id)."""
    from pyspark.sql import Window
    per = (spans
           .select("doc_id",
                   F.size(tokens_col()).alias("nt"),
                   F.col("kind").isin("figure", "table").cast("int")
                   .alias("m"))
           .groupBy("doc_id")
           .agg(F.sum("nt").cast("bigint").alias("n_text_tokens"),
                F.sum("m").cast("int").alias("n_media")))
    cost = (F.col("n_text_tokens")
            + F.lit(media_cost) * F.col("n_media")).cast("bigint")
    w = (Window.partitionBy("bucket").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    return (per
            .withColumn("cost", cost)
            .withColumn("bucket",
                        (F.substring("doc_id", 5, 16).cast("bigint")
                         % n_buckets).cast("int"))
            .withColumn("start_offset",
                        F.coalesce(F.sum("cost").over(w), F.lit(0))
                        .cast("bigint"))
            .withColumn("pack_id",
                        F.floor(F.col("start_offset") / budget)
                        .cast("int")))


# --- deterministic hash-stratified sampling --------------------------------

SAMPLE_SEED = "corpus-v1"
# per-language keep rates: the usual corpus rebalance (upweight the
# target language, downsample the rest)
SAMPLE_RATES = {"en": 0.9, "de": 0.5, "fr": 0.5, "es": 0.5, "zh": 0.25}


def _rate_to_hex(rate: float) -> str:
    """Keep-threshold as a 4-hex-digit string: a row survives when the
    first 4 md5 hex digits of its key compare below it (lexicographic
    == numeric for fixed-width lowercase hex)."""
    return format(min(int(rate * 16 ** 4), 16 ** 4 - 1), "04x")


def hash_stratified_sample(docs: DataFrame,
                           rates: dict[str, float] | None = None,
                           seed: str = SAMPLE_SEED) -> DataFrame:
    """Deterministic stratified sampling by content hash — the
    reproducible form of corpus downsampling (same row set on every
    run, on any cluster, under any partitioning; no RNG state). A row
    is kept when md5(doc_id || seed) falls under its stratum's
    threshold; changing the seed draws an independent sample.

    Beyond-the-reference training-pipeline operator. The rates table
    joins as a broadcast dimension (stratum cardinality), the hash is
    one JVM md5 per row, and unknown strata drop (inner join) — the
    keep decision never shuffles the corpus."""
    spark = docs.sparkSession
    rates = SAMPLE_RATES if rates is None else rates
    rdf = spark.createDataFrame(
        sorted((la, _rate_to_hex(r)) for la, r in rates.items()),
        "lang string, thr_hex string")
    h = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(seed))), 1, 4)
    return (docs.select("doc_id", "lang", h.alias("h4"))
            .join(F.broadcast(rdf), "lang")
            .filter(F.col("h4") < F.col("thr_hex"))
            .select("doc_id", "lang", "h4"))


# --- boilerplate stripping ---------------------------------------------------

# a segment appearing in more docs than this is boilerplate
BOILER_DF_CAP = 3
BOILER_SEP = " | "


def strip_boilerplate(docs: DataFrame,
                      df_cap: int = BOILER_DF_CAP) -> DataFrame:
    """C4-style line-level boilerplate removal: split each doc into
    BOILER_SEP-delimited segments, drop every segment that occurs in
    more than df_cap documents (nav bars, cookie banners, license
    footers repeat across a site; body text does not), reassemble the
    survivors in original order.

    Returns (doc_id, clean_text, n_kept, n_stripped). Scale shape: the
    document-frequency pass is a map-side-combinable groupBy on the
    segment; the frequent set joins back as a PLAIN left_anti equi-join
    on the segment — no broadcast hint, because at web scale the set of
    segments repeated across >df_cap documents is itself huge (billions
    of distinct nav/footer lines across a crawl) and forcing it onto
    every executor OOMs. AQE still picks a broadcast strategy at
    runtime whenever the set really is small. One groupBy(doc_id)
    rebuilds the text with sort_array(struct(pos, seg)) — order-exact
    without a window."""
    segs = docs.select(
        "doc_id", F.split("text", r" \| ").alias("segs"))
    exploded = segs.select(
        "doc_id", F.posexplode("segs").alias("pos", "seg"))
    frequent = (exploded.select("doc_id", "seg").distinct()
                .groupBy("seg").agg(F.count("*").alias("df"))
                .filter(F.col("df") > df_cap)
                .select("seg"))
    kept = exploded.join(frequent, "seg", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "seg"))),
                lambda x: x["seg"]),
            BOILER_SEP).alias("clean_text"),
        F.count("*").cast("int").alias("n_kept"))
    totals = segs.select("doc_id", F.size("segs").alias("n_segs"))
    return (totals.join(rebuilt, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    (F.col("n_segs") - F.coalesce("n_kept", F.lit(0)))
                    .cast("int").alias("n_stripped")))


# --- repetition quality (Gopher-style rules) --------------------------------

# Thresholds in the spirit of the Gopher corpus rules (Rae et al. 2021,
# "Scaling Language Models", table A1): documents dominated by repeated
# words / n-grams are template spam, not prose. Values tuned so the
# synthetic corpus populates both verdicts.
REP_DUP_WORD_MAX = 0.80     # fraction of non-distinct word occurrences
REP_DUP_3GRAM_MAX = 0.30    # fraction of non-distinct 3-gram occurrences
REP_TOP_2GRAM_MAX = 0.08    # share of the single most frequent 2-gram


def repetition_metrics(docs: DataFrame) -> DataFrame:
    """Per-document repetition statistics + keep/drop verdict — the
    Gopher-style repetition family of quality filters a training-data
    pipeline runs before near-dedup.

    Columns: (doc_id, n_words, dup_word_frac, dup_3gram_frac,
    top_2gram, top_2gram_share, verdict).

    Scale shape: dup_word_frac and dup_3gram_frac are pure per-row
    column expressions (array_distinct over the token / shingle arrays
    built once at top level — no lambda-recompute trap). The
    top-2-gram mode cannot be a per-row expression without an O(n^2)
    nested higher-order scan, so it runs as the canonical distributed
    argmax: explode 2-grams -> map-side-combinable count keyed
    (doc_id, gram) -> struct-max per doc. Both branches then join on
    doc_id; everything is keyed by document, so no global state and no
    window over the corpus."""
    toks = tokens_col()
    per_row = docs.select(
        "doc_id",
        F.size(toks).alias("n_words"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        _shingles(toks, 3).alias("g3"),
    ).select(
        "doc_id", "n_words",
        F.round(1 - F.col("n_distinct") / F.greatest("n_words", F.lit(1)),
                6).alias("dup_word_frac"),
        F.round(1 - F.size(F.array_distinct("g3"))
                / F.greatest(F.size("g3"), F.lit(1)),
                6).alias("dup_3gram_frac"))
    ex2 = docs.select(
        "doc_id", F.explode(_shingles(tokens_col(), 2)).alias("g2"))
    top = (ex2.groupBy("doc_id", "g2").agg(F.count("*").alias("c"))
           .groupBy("doc_id")
           .agg(F.max(F.struct(F.col("c"), F.col("g2"))).alias("b"),
                F.sum("c").alias("n_2grams"))
           .select("doc_id",
                   F.col("b.g2").alias("top_2gram"),
                   F.round(F.col("b.c") / F.col("n_2grams"), 6)
                   .alias("top_2gram_share")))
    out = per_row.join(top, "doc_id")
    keep = ((F.col("dup_word_frac") <= REP_DUP_WORD_MAX)
            & (F.col("dup_3gram_frac") <= REP_DUP_3GRAM_MAX)
            & (F.col("top_2gram_share") <= REP_TOP_2GRAM_MAX))
    return out.select(
        "doc_id", "n_words", "dup_word_frac", "dup_3gram_frac",
        "top_2gram", "top_2gram_share",
        F.when(keep, F.lit("keep")).otherwise(F.lit("drop"))
        .alias("verdict"))


# --- temperature-scaled domain mixture sampling ------------------------------

MIX_SEED = "mixture-v1"
MIX_TARGET_FRAC = 0.5   # sample half the corpus, rebalanced


def mixture_temperature_sample(docs: DataFrame,
                               target_frac: float = MIX_TARGET_FRAC,
                               seed: str = MIX_SEED) -> DataFrame:
    """Temperature-scaled (alpha = 0.5) domain mixture sampling: the
    multilingual-LLM recipe that up-weights low-resource domains.
    Domain d with n_d docs gets mixture weight w_d = sqrt(n_d) /
    sum_d' sqrt(n_d'); its keep rate is min(1, target_frac * N * w_d /
    n_d) so the sample totals ~target_frac * N docs distributed by the
    tempered weights instead of the raw counts. The keep decision is
    the same deterministic md5-threshold rule as
    hash_stratified_sample: reproducible on any cluster under any
    partitioning, no RNG state.

    alpha is fixed at 0.5 because sqrt is IEEE-correctly-rounded —
    Spark and the DuckDB oracle agree bitwise, which a pow(n, alpha)
    for general alpha would not guarantee.

    Scale shape: the domain dimension (groupBy lang) is map-side
    combinable and tiny; the 1-row total cross-joins back as a
    broadcast; the per-row keep is one md5 + string compare. The
    corpus itself never shuffles."""
    by = docs.groupBy("lang").agg(F.count("*").alias("n_l"))
    tot = by.agg(F.sum("n_l").alias("n_total"),
                 F.sum(F.sqrt("n_l")).alias("s_sqrt"))
    rate = F.least(
        F.lit(1.0),
        F.lit(target_frac) * F.col("n_total") * F.sqrt("n_l")
        / (F.col("s_sqrt") * F.col("n_l")))
    dims = (by.crossJoin(F.broadcast(tot))
            .select("lang", "n_l", rate.alias("rate"))
            .select("lang", "n_l",
                    F.round("rate", 6).alias("rate"),
                    F.format_string(
                        "%04x",
                        F.least(F.lit(65535),
                                F.floor(F.col("rate") * 65536)).cast("int"))
                    .alias("thr_hex")))
    h4 = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(seed))), 1, 4)
    return (docs.select("doc_id", "lang", h4.alias("h4"))
            .join(F.broadcast(dims), "lang")
            .filter(F.col("h4") < F.col("thr_hex"))
            .select("doc_id", "lang", "h4", "thr_hex"))


def lang_confusion(docs: DataFrame) -> DataFrame:
    """Declared-vs-detected language confusion matrix — the corpus-QA
    probe a multilingual pipeline runs before trusting the `lang`
    column (a mislabeled shard shows up as an off-diagonal hot cell;
    'und' rows measure detector abstention). One map-side-combinable
    groupBy on the (declared, predicted) pair; the total comes back as
    a 1-row broadcast. Uses the ONE prediction rule (_lang_pred), so
    this can never diverge from lang_id or the curation funnel."""
    m = (docs.select("lang", lang_pred_col().alias("lang_pred"))
         .groupBy("lang", "lang_pred").agg(F.count("*").alias("n")))
    tot = m.agg(F.sum("n").alias("total"))
    return (m.crossJoin(F.broadcast(tot))
            .select("lang", "lang_pred", "n",
                    F.round(F.col("n") / F.col("total"), 6).alias("share"),
                    (F.col("lang") == F.col("lang_pred")).alias("agree")))


# --- training-chunk windowing ------------------------------------------------

CHUNK_W = 64        # tokens per training chunk (context window)
CHUNK_STRIDE = 48   # stride between chunk starts (16-token overlap)


def chunk_documents(docs: DataFrame,
                    width: int = CHUNK_W,
                    stride: int = CHUNK_STRIDE) -> DataFrame:
    """Fixed-width overlapping token windows per document — the
    chunking pass that turns curated documents into training examples
    (stride < width keeps cross-boundary context; the tail chunk is
    short rather than dropped, so no token is lost).

    Returns (doc_id, chunk_idx, start, n_tokens, chunk_text); docs with
    zero tokens produce no chunks. Scale shape: ONE projection + one
    generator explode per row — no shuffle, no window, no Python; the
    chunk count per row is ceil(n/stride), so output size is linear in
    corpus tokens. Uses the shared tokens_col rule, mirrored 1:1 by
    the oracle."""
    toks = docs.select("doc_id", tokens_col().alias("toks"))
    n = F.size("toks")
    starts = F.when(n > 0, F.sequence(F.lit(0), n - 1, F.lit(stride))) \
        .otherwise(F.array().cast("array<int>"))
    ex = toks.select("doc_id", "toks",
                     F.posexplode(starts).alias("chunk_idx", "start"))
    piece = F.slice("toks", F.col("start") + 1, width)
    return ex.select("doc_id", "chunk_idx", "start",
                     F.size(piece).alias("n_tokens"),
                     F.array_join(piece, " ").alias("chunk_text"))


# --- deterministic train/val/test split -------------------------------------

SPLIT_SEED = "kg-split-v1"
SPLIT_TRAIN_HEX = "cccd"   # ~0.80 of the 16-bit hash space
SPLIT_VAL_HEX = "e666"     # ~0.90 (val = [0.80, 0.90))


def train_val_test_split(docs: DataFrame,
                         seed: str = SPLIT_SEED) -> DataFrame:
    """Deterministic corpus split by content hash: md5(doc_id || seed)
    lands each document in exactly one of train (~80%) / val (~10%) /
    test (~10%) — stable under re-runs, re-partitioning and corpus
    growth (a document never migrates between splits when OTHER
    documents are added, the property random splits lack and the reason
    training pipelines hash rather than shuffle). Same hash family as
    hash_stratified_sample; a different seed re-deals the assignment.

    One JVM md5 + two comparisons per row; zero shuffles, zero RNG
    state, no driver participation."""
    h = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(seed))),
        1, 4)
    return docs.select(
        "doc_id", h.alias("h4"),
        F.when(h < SPLIT_TRAIN_HEX, F.lit("train"))
         .when(h < SPLIT_VAL_HEX, F.lit("val"))
         .otherwise(F.lit("test")).alias("split"))


# --- bigram collocation mining -----------------------------------------------

COLLOC_MIN_N = 5   # minimum bigram occurrences to report


def bigram_collocations(docs: DataFrame,
                        min_n: int = COLLOC_MIN_N) -> DataFrame:
    """Corpus-level adjacent-token collocation statistics with PMI —
    the phrase-mining pass (multi-word expressions, named entities,
    domain terms) a tokenizer-training / vocab-construction pipeline
    runs over the corpus. PMI contract: ln(n_ab * T / (n_a * n_b))
    with unigram marginals over the FULL token stream and bigram
    counts over >=2-token documents; pairs below min_n are dropped.

    Scale shape: unigram and bigram counts are map-side-combinable
    groupBys; marginals attach via word-keyed shuffle equi-joins
    (vocabulary is large at web scale — deliberately NOT broadcast);
    the total is a 1-row broadcast. One shared tokens_col pass feeds
    both streams."""
    toks = docs.select(tokens_col().alias("toks")) \
        .localCheckpoint(eager=True)  # unigram + bigram readers
    uni = toks.select(F.explode("toks").alias("w"))
    uc = uni.groupBy("w").agg(F.count("*").alias("n"))
    tot = uni.agg(F.count("*").alias("t"))
    sh = (toks.filter(F.size("toks") >= 2)
          .select(F.explode(_shingles(F.col("toks"), 2)).alias("sh")))
    sp = F.split("sh", " ")
    bc = (sh.select(sp[0].alias("w1"), sp[1].alias("w2"))
          .groupBy("w1", "w2").agg(F.count("*").alias("n_ab"))
          .filter(F.col("n_ab") >= min_n))
    j = (bc.join(uc.toDF("w1", "n_a"), "w1")
         .join(uc.toDF("w2", "n_b"), "w2")
         .crossJoin(F.broadcast(tot)))
    pmi = F.log((F.col("n_ab").cast("double") * F.col("t"))
                / (F.col("n_a").cast("double") * F.col("n_b")))
    return j.select("w1", "w2", "n_ab", "n_a", "n_b",
                    F.round(pmi, 6).alias("pmi"))


VOCAB_TOP_N = 100


def corpus_vocabulary(docs: DataFrame, top_n: int = VOCAB_TOP_N) -> DataFrame:
    """(doc_id, text) -> the top_n corpus tokens as (rank, token, tf,
    df, cum_frac): term frequency, document frequency, and the running
    fraction of ALL corpus tokens covered through that rank — the
    tokenizer-training precursor (the coverage curve decides the vocab
    size budget; the df column separates burst tokens from broad ones).

    Scale shape: one tokenize+explode pass; tf and df come from a
    single groupBy(token) over the distinct-per-doc expansion
    (map-side combinable counts, no countDistinct expand); the global
    token total is a SCALAR aggregate cross-joined in (one double, not
    a collect); ranking and the running sum run AFTER the top_n limit,
    so the window sees a bounded (top_n-row) frame — never a
    corpus-wide single-partition sort. Ties break by token ascending
    (deterministic). cum_frac rounded to 6."""
    from pyspark.sql import Window

    tok = (docs.select("doc_id",
                       F.explode(tokens_col("text")).alias("token")))
    per_doc = (tok.groupBy("doc_id", "token")
               .agg(F.count("*").alias("n")))
    stats = (per_doc.groupBy("token")
             .agg(F.sum("n").cast("bigint").alias("tf"),
                  F.count("*").cast("bigint").alias("df")))
    total = stats.agg(F.sum("tf").cast("double").alias("total_tf"))
    top = (stats.orderBy(F.desc("tf"), F.asc("token")).limit(top_n)
           .crossJoin(F.broadcast(total)))
    w = Window.orderBy(F.desc("tf"), F.asc("token"))
    return (top
            .select(F.row_number().over(w).cast("bigint").alias("rank"),
                    "token", "tf", "df",
                    F.round(F.sum("tf").over(
                        w.rowsBetween(Window.unboundedPreceding, 0))
                        / F.col("total_tf"), 6).alias("cum_frac")))


CTFIDF_TOP_N = 5


def ctfidf_topics(docs: DataFrame, class_col: str = "source",
                  top_n: int = CTFIDF_TOP_N) -> DataFrame:
    """(class_col, text) -> the top_n class-characteristic terms per
    class by c-TF-IDF (Grootendorst's BERTopic class-based TF-IDF):
    score(t, c) = tf_{t,c} * ln(1 + A / f_t) with A = average tokens
    per class and f_t = corpus-wide frequency of t — the topic-labeling
    step after any document clustering (here the `source` domain stands
    in for the cluster id; swap in a kmeans assignment column and the
    plan is unchanged).

    Scale shape: one tokenize+explode pass; per-class tf and corpus
    f_t are map-side-combinable counts off the same frame; A is a
    scalar one-row aggregate (broadcast cross join, no collect); the
    ranking window partitions by class over the per-class VOCABULARY
    (bounded by distinct terms, not corpus size — a Zipf vocabulary
    grows sublinearly in tokens). Scores round to 6 BEFORE ranking so
    cross-engine float noise cannot flip the (score desc, term asc)
    order."""
    from pyspark.sql import Window

    tok = docs.select(F.col(class_col).alias("cls"),
                      F.explode(tokens_col("text")).alias("t"))
    tfc = tok.groupBy("cls", "t").agg(
        F.count("*").cast("bigint").alias("tf"))
    ft = tfc.groupBy("t").agg(F.sum("tf").cast("bigint").alias("f_t"))
    a = tfc.agg((F.sum("tf").cast("double")
                 / F.countDistinct("cls")).alias("act"))
    scored = (tfc.join(ft, "t").crossJoin(F.broadcast(a))
              .withColumn("score", F.round(
                  F.col("tf") * F.log(F.lit(1.0)
                                      + F.col("act") / F.col("f_t")), 6)))
    w = Window.partitionBy("cls").orderBy(F.desc("score"), F.asc("t"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_n)
            .select(F.col("cls").alias(class_col),
                    F.col("t").alias("term"), "tf", "score",
                    F.col("rank").cast("int").alias("rank")))


BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("hash", "join", "vector")
BM25_TOP_K = 20


def bm25_search(docs: DataFrame,
                query: tuple[str, ...] = BM25_QUERY,
                k1: float = BM25_K1, b: float = BM25_B,
                top_k: int = BM25_TOP_K) -> DataFrame:
    """(doc_id, text) -> the top_k docs for a bag-of-words query,
    ranked by Okapi BM25 (idf = ln((N - df + 0.5)/(df + 0.5) + 1),
    Robertson/Lucene form) — the sparse-retrieval primitive of a RAG
    data pipeline, and the lexical complement to ann_topk's dense path.

    Scale shape: one tokenize+explode pass feeds both doc lengths and
    term postings; the postings frame is FILTERED to the bounded query
    vocabulary before any shuffle (predicate on the exploded token, so
    only query-term rows survive the map side); df/idf live on a
    query-sized frame (broadcast), N and avgdl are scalar one-row
    frames (broadcast cross join, no driver collect); final ranking
    sorts the per-doc score aggregate and the row_number window runs
    AFTER the top_k limit on a bounded frame. Scores are rounded to 6
    BEFORE ranking so cross-engine float-sum noise cannot flip the
    (score desc, doc_id asc) order."""
    from pyspark.sql import Window

    tok = docs.select("doc_id", F.explode(tokens_col("text")).alias("t"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    avgdl = dl.agg(F.avg("dl").alias("avgdl"))
    n_docs = docs.agg(F.count("*").cast("double").alias("n_docs"))
    tf = (tok.filter(F.col("t").isin(*query))
          .groupBy("doc_id", "t").agg(F.count("*").alias("tf")))
    dfreq = tf.groupBy("t").agg(F.count("*").cast("double").alias("df"))
    scored = (tf.join(F.broadcast(dfreq), "t")
              .join(dl, "doc_id")
              .crossJoin(F.broadcast(avgdl))
              .crossJoin(F.broadcast(n_docs))
              .withColumn("idf", F.log(
                  (F.col("n_docs") - F.col("df") + F.lit(0.5))
                  / (F.col("df") + F.lit(0.5)) + F.lit(1.0)))
              .withColumn("s", F.col("idf")
                          * (F.col("tf") * F.lit(k1 + 1.0))
                          / (F.col("tf") + F.lit(k1)
                             * (F.lit(1.0 - b) + F.lit(b)
                                * F.col("dl") / F.col("avgdl"))))
              .groupBy("doc_id")
              .agg(F.round(F.sum("s"), 6).alias("score")))
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.select(F.row_number().over(w).cast("bigint").alias("rank"),
                      "doc_id", "score")


def unigram_logloss(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, n_tokens, cross_entropy): each doc
    scored by the mean negative log-probability of its tokens under
    the corpus-wide unigram distribution — the classic cheap
    perplexity proxy for quality filtering (gibberish and
    out-of-distribution boilerplate score high; mid-entropy docs are
    the keepers). Pairs with quality_scores: that one is rule-based,
    this one is corpus-relative.

    One tokenize+explode pass feeds both the vocabulary counts and the
    per-doc scoring; p(t) rides back onto tokens via a token-keyed
    equi-join (web-scale vocabularies are corpus-sized — deliberately
    NOT broadcast), the corpus total is a broadcast scalar frame, and
    the score is a map-side-combinable avg per doc. ln/avg order noise
    handled by round 6."""
    tok = (docs.select("doc_id", F.explode(tokens_col("text")).alias("t"))
           .localCheckpoint(eager=True))
    counts = tok.groupBy("t").agg(F.count("*").alias("tf"))
    total = counts.agg(F.sum("tf").cast("double").alias("total"))
    return (tok.join(counts, "t")
            .crossJoin(F.broadcast(total))
            .select("doc_id",
                    F.log(F.col("tf") / F.col("total")).alias("lp"))
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_tokens"),
                 F.round(-F.avg("lp"), 6).alias("cross_entropy")))


MIX_ETA = 1.0       # excess-hardness temperature
MIX_BUDGET = 1000   # docs to allocate across sources


def mixture_loss_reweight(docs: DataFrame, eta: float = MIX_ETA,
                          budget: int = MIX_BUDGET) -> DataFrame:
    """Loss-aware data-mixture reweighting (DoReMi-style, Xie et al.
    2023, reduced to the unigram proxy): sources whose tokens are
    HARDER under the corpus unigram model (higher cross-entropy than
    the corpus mean) get exponentially up-weighted,
    w_s ∝ exp(eta * (H_s - H)), normalized and turned into a document
    allocation — the hardness-seeking complement of
    mixture_temperature_sample's size-based weights. Emits (source,
    n_tokens, h_source, excess, weight, alloc_docs).

    One tokenize pass feeds vocabulary counts and scoring (the
    unigram_logloss shape, grouped by source instead of doc); the
    softmax normalizer is a source-count-sized scalar aggregate
    (broadcast, no collect). alloc uses floor, whose semantics are
    identical across engines (round-half-at-.5 modes are not)."""
    tok = (docs.select("source", F.explode(tokens_col("text")).alias("t"))
           .localCheckpoint(eager=True))
    counts = tok.groupBy("t").agg(F.count("*").alias("tf"))
    total = counts.agg(F.sum("tf").cast("double").alias("total"))
    lp = (tok.join(counts, "t").crossJoin(F.broadcast(total))
          .select("source",
                  F.log(F.col("tf") / F.col("total")).alias("lp")))
    lp = lp.localCheckpoint(eager=True)  # read by per-source AND corpus
    per = lp.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        (-F.avg("lp")).alias("h_src"))
    hall = lp.agg((-F.avg("lp")).alias("h_all"))
    ex = (per.crossJoin(F.broadcast(hall))
          .withColumn("excess", F.col("h_src") - F.col("h_all"))
          .withColumn("w_raw", F.exp(F.lit(eta) * F.col("excess"))))
    z = ex.agg(F.sum("w_raw").alias("z"))
    return (ex.crossJoin(F.broadcast(z))
            .select("source", "n_tokens",
                    F.round("h_src", 6).alias("h_source"),
                    F.round("excess", 6).alias("excess"),
                    F.round(F.col("w_raw") / F.col("z"), 6)
                    .alias("weight"),
                    F.floor(F.lit(float(budget)) * F.col("w_raw")
                            / F.col("z")).cast("bigint")
                    .alias("alloc_docs")))


def dup_ngram_coverage(docs: DataFrame, w: int = SHINGLE_W) -> DataFrame:
    """Corpus-level duplicated n-gram coverage — the RefinedWeb-style
    dedup diagnostic read BEFORE choosing a near-dup strategy: of all
    distinct word w-grams in the corpus, what fraction appears in more
    than one document, and what fraction of the total per-document
    shingle mass those cover. One row:
    (n_shingles, n_dup_shingles, dup_shingle_frac, occ_total, occ_dup,
    dup_occ_frac). High dup_occ_frac with low dup_shingle_frac =
    boilerplate (few shingles, everywhere) -> strip_boilerplate; both
    high = true duplication -> minhash/simhash dedup.

    Shape: one shingle pass (same tokens_col + _shingles rule as the
    whole dedup family), per-doc distinct before explode so a shingle
    counts once per document, map-side-combinable groupBy on the
    shingle, then a single global aggregate — no joins, no windows,
    linear in corpus size."""
    inv = docs.select(
        F.explode(F.array_distinct(_shingles(tokens_col(), w)))
        .alias("sh"))
    per = inv.groupBy("sh").agg(F.count("*").alias("df"))
    dup = (F.col("df") > 1).cast("bigint")
    return per.agg(
        F.count("*").cast("bigint").alias("n_shingles"),
        F.sum(dup).cast("bigint").alias("n_dup_shingles"),
        F.round(F.avg(dup.cast("double")), 6).alias("dup_shingle_frac"),
        F.sum("df").cast("bigint").alias("occ_total"),
        F.sum(F.col("df") * dup).cast("bigint").alias("occ_dup"),
        F.round(F.sum(F.col("df") * dup)
                / F.sum("df").cast("double"), 6).alias("dup_occ_frac"))


def minhash_calibration(docs: DataFrame) -> DataFrame:
    """Measured MinHash error envelope — the honest-sketch companion to
    minhash_lsh_pairs (same contract family as the HLL and GK rows):
    over the UNthresholded LSH candidate pairs, compare the signature
    estimate (fraction of the K=MINHASH_K components that collide) with
    the true shingle Jaccard, and report one summary row:
    (n_pairs, mean_true, mean_est, mean_abs_err, max_abs_err,
    within_2se_frac) where the 2-SE band uses the binomial deviation
    sqrt(J(1-J)/K) of a K-sample MinHash estimator at the pair's true
    J. A within_2se_frac near 1 proves the banding/verify pipeline's
    sketch behaves like the theory says it must — the number a 100-TB
    operator reads before trusting LSH recall, since at that scale
    nobody can verify candidates exhaustively.

    Shape: identical single shingle pass / signature / band equi-join
    as minhash_lsh_pairs (checkpointed sets feed both branches); the
    extra work is two K-column signature joins on the candidate set
    (candidate-sized, not corpus-sized) and one global aggregate."""
    r = MINHASH_K // MINHASH_BANDS
    sets_ = docs.select(
        "doc_id",
        F.array_distinct(_shingles(tokens_col(), SHINGLE_W)).alias("sh")
    ).localCheckpoint(eager=True)
    sig = _signatures_from_hashes(
        sets_.select("doc_id", F.explode("sh").alias("s"))
        .select("doc_id", F.md5("s").alias("h"))
    ).localCheckpoint(eager=True)
    bands = sig.select(
        "doc_id",
        F.posexplode(F.array(*[
            F.md5(F.concat(*[F.col(f"mh{b * r + j}") for j in range(r)]))
            for b in range(MINHASH_BANDS)
        ])).alias("band_idx", "band_key"))
    a = bands.toDF("a", "band_idx", "band_key")
    b = bands.toDF("b", "band_idx", "band_key")
    cand = (a.join(b, ["band_idx", "band_key"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b").distinct())
    sig_a = sig.select(F.col("doc_id").alias("a"),
                       *[F.col(f"mh{i}").alias(f"a{i}")
                         for i in range(MINHASH_K)])
    sig_b = sig.select(F.col("doc_id").alias("b"),
                       *[F.col(f"mh{i}").alias(f"b{i}")
                         for i in range(MINHASH_K)])
    est = sum((F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
              for i in range(MINHASH_K)) / F.lit(float(MINHASH_K))
    true_j = (F.size(F.array_intersect("sh_a", "sh_b"))
              / F.size(F.array_union("sh_a", "sh_b")))
    se2 = 2.0 * F.sqrt(true_j * (1.0 - true_j) / F.lit(MINHASH_K))
    pairs = (cand.join(sig_a, "a").join(sig_b, "b")
             .join(sets_.toDF("a", "sh_a"), "a")
             .join(sets_.toDF("b", "sh_b"), "b")
             .select(est.alias("est"), true_j.alias("tj"),
                     (F.abs(est - true_j) <= se2 + 1e-9).cast("bigint")
                     .alias("ok")))
    return pairs.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.round(F.avg("tj"), 6).alias("mean_true"),
        F.round(F.avg("est"), 6).alias("mean_est"),
        F.round(F.avg(F.abs(F.col("est") - F.col("tj"))), 6)
        .alias("mean_abs_err"),
        F.round(F.max(F.abs(F.col("est") - F.col("tj"))), 6)
        .alias("max_abs_err"),
        F.round(F.avg(F.col("ok").cast("double")), 6)
        .alias("within_2se_frac"))


BPE_PAIR_MIN = 50


def bpe_merge_pair_counts(docs: DataFrame,
                          min_count: int = BPE_PAIR_MIN) -> DataFrame:
    """Tokenizer TRAINING primitive (the statistic one BPE merge
    iteration maximizes): corpus-frequency-weighted counts of adjacent
    character pairs inside alphabetic words — the argmax row IS the
    first merge a BPE learner would adopt (bpe_token_counts is the
    APPLICATION side: tokenizing with a finished vocab; this is the
    learning side over the raw corpus).

    Scale shape: words dedup to a (word, freq) table first (map-side
    combinable groupBy — the corpus never re-scans per iteration of a
    learner loop), then each DISTINCT word explodes into its
    length-1 adjacent 2-grams via a JVM transform over sequence() (no
    Python, no per-row UDF) and the pair count is one more map-side
    combinable sum weighted by word freq. State is vocabulary-sized
    after the first aggregate, pair space is bounded by 26^2 + digit
    pairs — a learner iterating k merges re-runs only the
    vocabulary-sized stage."""
    words = docs.select(
        F.explode(F.split(F.lower("text"), r"[^a-z]+")).alias("w"))
    wc = (words.filter(F.length("w") >= 2)
          .groupBy("w").agg(F.count("*").alias("freq")))
    grams = wc.select(
        "freq",
        F.explode(F.expr(
            "transform(sequence(1, length(w) - 1),"
            " i -> substring(w, i, 2))")).alias("pair"))
    return (grams.groupBy("pair")
            .agg(F.sum("freq").cast("bigint").alias("n"))
            .filter(F.col("n") >= min_count))


# --- heavy hitters (Space-Saving sketch -> exact verify) --------------------
# Completes the sketch family (HLL approx-distinct, GK quantiles, Bloom
# decontamination, MinHash): bounded-memory frequent-item detection.
HH_K = 64   # sketch counters per partition; threshold = N / HH_K


def heavy_hitters(docs: DataFrame, k: int = HH_K) -> DataFrame:
    """Exact corpus-level heavy hitters (tokens with count > N/k) via a
    one-pass bounded-memory candidate sketch + exact verification — the
    sketch sibling of the LSH->verify dedup idiom.

    Why the output is EXACT (and hence oracle-checkable) despite the
    sketch: per partition p, Space-Saving's deterministic guarantee
    keeps every token with local count > N_p/k among its k counter
    keys. If a token's GLOBAL count exceeds N/k = (sum_p N_p)/k, then
    by averaging some partition has local count > N_p/k, so the token
    appears in at least one partition's candidate set. The candidate
    union (at most k * n_partitions keys — bounded, never
    vocabulary-sized) therefore CONTAINS all true heavy hitters;
    sketch counts are discarded and a second pass computes exact
    counts for candidates only, so false candidates are filtered and
    surviving counts are exact.

    Scale shape: pass 1 is map-only (mapInPandas generator keeps the
    k-counter dict across Arrow batches within a partition; emits <= k
    rows per partition). Pass 2 is a semi-join of the token stream
    against the tiny candidate set (AQE broadcasts it) + map-side
    combinable count. The global token total is one scalar aggregate.
    No vocabulary-sized shuffle ever forms: only candidates reach the
    final groupBy."""
    toks = docs.select(F.explode(tokens_col()).alias("tok"))

    def sketch(batches):
        # bulk Space-Saving: per Arrow batch, vectorized value_counts,
        # then one merge step per UNIQUE token (c consecutive arrivals
        # of one token == one bulk arrival: evict-once + inherit min+c;
        # the > N_p/k key-containment guarantee is order-independent,
        # so batch reordering does not weaken it)
        counters: dict[str, int] = {}
        for pdf in batches:
            for t, c in pdf["tok"].value_counts().items():
                c = int(c)
                if t in counters:
                    counters[t] += c
                elif len(counters) < k:
                    counters[t] = c
                else:
                    victim = min(counters,
                                 key=lambda key: (counters[key], key))
                    cnt = counters.pop(victim)
                    counters[t] = cnt + c
        yield pd.DataFrame({"tok": list(counters.keys())})

    cand = toks.mapInPandas(sketch, schema="tok string").distinct()
    total = toks.count()
    exact = (toks.join(cand, "tok", "left_semi")
             .groupBy("tok").agg(F.count("*").cast("bigint").alias("cnt")))
    return (exact.filter(F.col("cnt") * k > F.lit(total))
            .select(F.col("tok").alias("token"), "cnt",
                    F.round(F.col("cnt") / F.lit(float(total)), 6)
                    .alias("freq")))


# --- exact-substring span excision (ExactSubstr dedup) ----------------------

def dup_span_excision(docs: DataFrame, w: int = FP_SHINGLE_W) -> DataFrame:
    """Per-document duplicated-SPAN statistics — the ExactSubstr side of
    training-data dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better"): any word w-gram occurring >= 2 times
    anywhere in the corpus marks its token interval [pos, pos+w) as
    duplicated; overlapping/adjacent marks merge into maximal spans.
    Where the document-level family (minhash/simhash/jaccard/containment)
    decides KEEP vs DROP per doc, this measures the excisable verbatim
    mass inside each kept doc. Columns: (doc_id, n_tokens, n_dup_spans,
    dup_tokens, dup_frac). Reference parity: extends the reference's
    whole-item dedup utilities (aim2_project deduplication of
    figures/terms) to sub-document spans, which whole-item dedup cannot
    see.

    Scale shape: one posexplode of the shared shingle rule (one row per
    w-gram), duplicated grams from a map-side-combinable count on the
    gram value (never a self-join), hits via a left_semi equi-join on
    the gram, and interval merging as a per-document O(hits) aggregate
    over sorted hit positions — per-doc state bounded by document
    length, no corpus-wide window, every shuffle keyed (gram or doc_id).
    dup_tokens is capped at n_tokens for the sub-w whole-text shingle."""
    toks = tokens_col()
    grams = docs.select(
        "doc_id", F.posexplode(_shingles(toks, w)).alias("pos", "s"))
    dup = (grams.groupBy("s").agg(F.count("*").alias("n"))
           .filter(F.col("n") >= 2).select("s"))
    hits = (grams.join(dup, "s", "left_semi")
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_list(F.col("pos").cast("long")))
                 .alias("starts")))

    def _st(spans, cov, first, prev):
        return F.struct(spans.cast("long").alias("spans"),
                        cov.cast("long").alias("cov"),
                        first.cast("long").alias("first"),
                        prev.cast("long").alias("prev"))

    zero = _st(F.lit(0), F.lit(0), F.lit(-1), F.lit(-1))
    merged = F.aggregate(
        "starts", zero,
        lambda a, s: F.when(a["first"] == -1, _st(F.lit(1), F.lit(0), s, s))
        .when(s > a["prev"] + w,
              _st(a["spans"] + 1, a["cov"] + a["prev"] - a["first"] + w,
                  s, s))
        .otherwise(_st(a["spans"], a["cov"], a["first"], s)),
        lambda a: F.struct(
            a["spans"].alias("spans"),
            F.when(a["first"] == -1, a["cov"])
            .otherwise(a["cov"] + a["prev"] - a["first"] + w).alias("cov")))
    per = hits.select("doc_id", merged.alias("m"))
    return (docs.select("doc_id", F.size(toks).cast("bigint")
                        .alias("n_tokens"))
            .join(per, "doc_id", "left")
            .select(
                "doc_id", "n_tokens",
                F.coalesce(F.col("m.spans"), F.lit(0)).cast("bigint")
                .alias("n_dup_spans"),
                F.least(F.coalesce(F.col("m.cov"), F.lit(0)),
                        F.col("n_tokens")).cast("bigint")
                .alias("dup_tokens"),
                F.round(F.try_divide(
                    F.least(F.coalesce(F.col("m.cov"), F.lit(0)),
                            F.col("n_tokens")),
                    F.col("n_tokens")), 6).alias("dup_frac")))


# --- Count-Min sketch with oracle-replayable estimates -----------------------

CMS_D = 4      # hash rows; miss probability per query ~ e^-D
CMS_W = 512    # buckets per row; additive error bound = (e / W) * N
CMS_PROBE_K = 25


def _cms_bucket(d: int, tok) -> Column:
    """Row-d bucket: the first 3 md5 nibbles of 'd:token' as an
    integer, mod CMS_W — pure codegen, replayed nibble-for-nibble by
    the SQL oracle (no engine-specific hash function anywhere)."""
    return (F.conv(F.substring(F.md5(F.concat(F.lit(f"{d}:"), tok)),
                               1, 3), 16, 10).cast("int") % CMS_W)


def cms_probe(docs: DataFrame, d_rows: int = CMS_D, width: int = CMS_W,
              k: int = CMS_PROBE_K) -> DataFrame:
    """Count-Min sketch over the corpus token stream, probed at the
    exact top-k tokens — the point-frequency sketch of the honest-
    sketch family (HLL distinct, GK quantiles, Bloom membership,
    Space-Saving heavy hitters): est(t) = min over rows d of
    counter[d][bucket_d(t)], guaranteed est >= exact, and est - exact
    <= (e/W)*N with per-row failure probability e^-D. Unlike the Bloom
    twin (which can only assert guarantees), the md5-nibble bucket
    function is SQL-expressible, so the oracle rebuilds the ENTIRE
    sketch and hash-matches the estimates themselves. Columns:
    (token, exact, est, overcount, within_bound).

    Scale shape: the corpus collapses to a vocabulary-sized (token,
    cnt) aggregate first (map-side combinable — the only corpus-wide
    shuffle); the sketch is that frame exploded D ways into a D x W
    counter table (<= 2048 groups, map-side combinable), which then
    BROADCASTS to score the bounded probe set. The probe top-k is a
    sort-limit over the vocabulary-sized frame, never the corpus. At
    10^12 tokens nothing here grows except the one vocabulary
    aggregate every token statistic already pays."""
    toks = docs.select(F.explode(tokens_col()).alias("tok"))
    counts = (toks.groupBy("tok")
              .agg(F.count("*").cast("bigint").alias("cnt"))
              .localCheckpoint(eager=True))  # counters + probes + total
    total = int(counts.agg(F.sum("cnt")).collect()[0][0])
    buckets = F.explode(F.array(*[
        F.struct(F.lit(d).alias("d"),
                 _cms_bucket(d, F.col("tok")).alias("b"))
        for d in range(d_rows)])).alias("x")

    def _ex(df):
        return (df.select("tok", "cnt", buckets)
                .select("tok", "cnt", F.col("x.d").alias("d"),
                        F.col("x.b").alias("b")))

    counters = _ex(counts).groupBy("d", "b").agg(F.sum("cnt").alias("c"))
    probes = counts.orderBy(F.desc("cnt"), F.asc("tok")).limit(k)
    bound = 2.718281828459045 / width * total
    return (_ex(probes)
            .join(F.broadcast(counters), ["d", "b"])
            .groupBy("tok", "cnt")
            .agg(F.min("c").alias("est"))
            .select(F.col("tok").alias("token"),
                    F.col("cnt").alias("exact"),
                    F.col("est").cast("bigint").alias("est"),
                    (F.col("est") - F.col("cnt")).cast("bigint")
                    .alias("overcount"),
                    ((F.col("est") - F.col("cnt")) <= F.lit(bound))
                    .cast("int").alias("within_bound")))


# --- mojibake (encoding-corruption) QC ---------------------------------------

# classic UTF-8-bytes-decoded-as-Latin-1 artifacts: the accented-vowel
# family ('a-acute' -> 'A-tilde + inverted-bang' etc.) and the
# Windows-1252 punctuation family (right quote -> 'a-circumflex + euro
# + trademark'); spelled via codepoints so no editor/terminal ever
# re-corrupts the markers themselves
MOJIBAKE_MARKERS = [
    "\u00c3\u00a1",          # mojibake of U+00E1 (a-acute)
    "\u00c3\u00a9",          # mojibake of U+00E9 (e-acute)
    "\u00c3\u00bc",          # mojibake of U+00FC (u-umlaut)
    "\u00e2\u20ac\u2122",   # mojibake of U+2019 (right single quote)
    "\u00e2\u20ac\u0153",   # mojibake of U+201C (left double quote)
]


def mojibake_stats(docs: DataFrame) -> DataFrame:
    """Per-document mojibake QC — the curation gate for text that IS
    valid UTF-8 but was corrupted upstream by a decode-encode round
    trip (UTF-8 bytes re-read as Latin-1/Windows-1252: a-acute becomes
    the 2-char 'A-tilde inverted-bang' pair, a right quote becomes a
    3-char punctuation triple). Complements operators/guards.py, which
    validates raw BYTES — mojibake is valid UTF-8 by construction, so
    a byte-level guard alone ships corrupted text to training.
    Columns: (doc_id, n_chars, n_mojibake, is_corrupt).

    Each marker is counted by exact literal arithmetic —
    (len(text) - len(replace(text, marker, ''))) / len(marker) —
    integer-exact and engine-agnostic (no regex dialect in play).
    Pure per-row codegen expressions; zero joins, zero shuffles added
    to the scan."""
    n = None
    for mk in MOJIBAKE_MARKERS:
        c = ((F.length("text")
              - F.length(F.replace(F.col("text"), F.lit(mk), F.lit(""))))
             / len(mk)).cast("bigint")
        n = c if n is None else n + c
    return docs.select(
        "doc_id", F.length("text").cast("bigint").alias("n_chars"),
        n.alias("n_mojibake"),
        (n > 0).cast("int").alias("is_corrupt"))


# --- lexicon-based safety filtering ------------------------------------------

# synthetic hazard lexicon (never occurs in the clean synthetic corpus;
# the decoration plants occurrences) — stands in for the word/phrase
# blocklists real curation pipelines apply after PII and quality
SAFETY_LEXICON = ["hazardous", "corrosive", "flammable"]


def safety_filter(docs: DataFrame) -> DataFrame:
    """Lexicon-based safety filtering — the blocklist stage of a
    training-data curation funnel, distinct from PII (pattern-shaped
    identifiers) and quality (statistical): token-exact matches
    against a closed lexicon, per-doc counts and a keep verdict.
    Columns: (doc_id, n_tokens, n_flagged, flagged_frac, keep).

    Scale shape: the lexicon compiles to an IN-list inside one JVM
    higher-order filter over the shared tokenizer array — per-row
    codegen, zero joins, zero extra shuffles (a million-entry lexicon
    would become a broadcast token semi-join instead; this closed set
    is triple_semantics' IN-list regime)."""
    toks = tokens_col()
    flagged = F.size(F.filter(toks, lambda t: t.isin(*SAFETY_LEXICON)))
    n = F.size(toks)
    return docs.select(
        "doc_id", n.cast("bigint").alias("n_tokens"),
        flagged.cast("bigint").alias("n_flagged"),
        F.round(F.try_divide(flagged, n), 6).alias("flagged_frac"),
        (flagged == 0).cast("int").alias("keep"))


def token_entropy(docs: DataFrame) -> DataFrame:
    """Per-document Shannon entropy of the token distribution plus
    type-token ratio — the intra-document lexical-diversity quality
    signal (low entropy = keyword-stuffed / template spam; Gopher- and
    C4-family rules threshold on exactly this). Distinct from
    doc_unigram_logloss, which scores each doc against the CORPUS
    unigram model (surprisal); this is the doc against ITSELF.

    H = log2(n) - sum(c * log2(c)) / n over per-token counts c,
    n = token count. Columns: (doc_id, n_tokens, n_types, entropy,
    type_token_ratio). Zero-token docs emit no row (no distribution to
    score) — same contract in the oracle.

    Scale shape: explode -> two map-side-combinable groupBys keyed by
    doc then (doc, token); both partial-aggregate before the shuffle,
    and nothing is corpus-global (no vocabulary table, no broadcast),
    so the op is embarrassingly data-parallel at any corpus size."""
    toks = docs.select("doc_id", F.explode(tokens_col()).alias("tok"))
    counts = (toks.groupBy("doc_id", "tok")
              .agg(F.count("*").alias("c")))
    n = F.sum("c")
    return (counts.groupBy("doc_id")
            .agg(n.cast("bigint").alias("n_tokens"),
                 F.count("*").cast("bigint").alias("n_types"),
                 F.round(F.log2(n) - F.sum(F.col("c") * F.log2("c")) / n,
                         6).alias("entropy"),
                 F.round(F.count("*") / n.cast("double"), 6)
                 .alias("type_token_ratio")))


ZIPF_TOP_V = 1000  # bounded head of the frequency table the fit uses


def zipf_slope(docs: DataFrame, top_v: int = ZIPF_TOP_V) -> DataFrame:
    """Zipf's-law fit over the corpus frequency head: least-squares
    slope/intercept of log2(freq) against log2(rank) for the top_v most
    frequent tokens — natural text sits near slope -1; template spam
    and synthetic junk bend the curve (a corpus-health monitor next to
    doc_source_ks and the drift audits). One summary row:
    (n_vocab, n_fit, zipf_slope, zipf_intercept).

    Scale shape: token counting is the usual map-side-combinable
    groupBy; the fit runs on the BOUNDED top_v head (orderBy+limit is
    a distributed TakeOrdered — no global sort materialization), ranked
    by (freq desc, token asc) so the boundary cut and the ranks are
    deterministic under ties in both engines. The regression itself is
    regr_slope/regr_intercept over top_v rows. Vocabulary size (the
    only corpus-global scalar) is a count-distinct aggregate."""
    from pyspark.sql import Window

    counts = (docs
              .select(F.explode(tokens_col()).alias("tok"))
              .groupBy("tok").agg(F.count("*").alias("c")))
    # unpartitioned window is safe ONLY because limit() already bounded
    # the frame to top_v rows
    head = (counts.orderBy(F.desc("c"), F.asc("tok")).limit(top_v)
            .withColumn("rank", F.row_number().over(
                Window.orderBy(F.desc("c"), F.asc("tok")))))
    xy = head.select(F.log2("rank").alias("x"), F.log2("c").alias("y"))
    fit = xy.agg(
        F.count("*").cast("bigint").alias("n_fit"),
        F.round(F.regr_slope("y", "x"), 6).alias("zipf_slope"),
        F.round(F.regr_intercept("y", "x"), 6).alias("zipf_intercept"))
    vocab = counts.agg(F.count("*").cast("bigint").alias("n_vocab"))
    return vocab.crossJoin(fit).select(
        "n_vocab", "n_fit", "zipf_slope", "zipf_intercept")


def line_dedup_keep_first(docs: DataFrame) -> DataFrame:
    """C4-style keep-FIRST line dedup (Raffel et al. 2020 kept one
    occurrence of every duplicated three-sentence span; this is the
    segment-level form): a segment occurrence survives iff it is the
    globally first (min (doc_id, pos)) occurrence of that segment
    text; documents are rebuilt in original order. Complements
    strip_boilerplate, which removes ALL occurrences of frequent
    segments — here every distinct segment keeps exactly one copy.

    Returns (doc_id, clean_text, n_kept, n_removed). Scale shape: the
    winner election is a map-side-combinable min(struct(doc_id, pos))
    groupBy on the segment (hub segments collapse in the partial
    aggregate); the join back is a plain equi-join on the segment —
    no broadcast hint, the duplicated-segment set is corpus-sized at
    web scale. One groupBy(doc_id) rebuilds text order-exactly
    without a window."""
    segs = docs.select("doc_id", F.split("text", r" \| ").alias("segs"))
    ex = segs.select("doc_id", F.posexplode("segs").alias("pos", "seg"))
    winner = ex.groupBy("seg").agg(
        F.min(F.struct("doc_id", "pos")).alias("w"))
    kept = (ex.join(winner, "seg")
            .filter((F.col("doc_id") == F.col("w.doc_id"))
                    & (F.col("pos") == F.col("w.pos")))
            .select("doc_id", "pos", "seg"))
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "seg"))),
                lambda x: x["seg"]),
            BOILER_SEP).alias("clean_text"),
        F.count("*").cast("int").alias("n_kept"))
    totals = segs.select("doc_id", F.size("segs").alias("n_segs"))
    return (totals.join(rebuilt, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    (F.col("n_segs") - F.coalesce("n_kept", F.lit(0)))
                    .cast("int").alias("n_removed")))


# --- Gopher quality rules (Rae et al. 2021, appendix A1.1) ----------
# Thresholds follow the paper where the sandbox corpus makes them
# meaningful; the word-count floor is lowered (50 -> 10) because the
# synthetic documents are short. Every rule is a pure column
# expression over the shared tokenization -> one scan, no UDF.
GOPHER_MIN_WORDS = 10
GOPHER_MAX_WORDS = 100_000
GOPHER_MEAN_WLEN = (3.0, 10.0)
GOPHER_SYMBOL_RATIO = 0.1     # '#' or '...' per word
GOPHER_BULLET_RATIO = 0.9     # lines starting with a bullet
GOPHER_ELLIPSIS_RATIO = 0.3   # lines ending in '...'
GOPHER_ALPHA_RATIO = 0.8      # words containing >= 1 [a-z]
GOPHER_MIN_STOPWORDS = 2


def gopher_rules(docs: DataFrame) -> DataFrame:
    """Per-rule Gopher quality flags + keep verdict per document.
    Ratios compare integer counts against threshold * denominator
    (no division at all, so the flag booleans are exact); line rules
    split on newline, word rules on the shared whitespace
    tokenization. Map-only -> trivially scale-safe."""
    toks = tokens_col()
    lines = F.filter(F.split("text", r"\n"),
                     lambda ln: F.trim(ln) != "")
    n_words = F.size(toks)
    sum_wlen = F.aggregate(toks, F.lit(0).cast("bigint"),
                           lambda acc, t: acc + F.length(t))
    n_symbols = (F.length(F.regexp_replace(
        F.regexp_replace("text", r"\.\.\.", ""), r"[^#]", "")))
    n_bullet = F.size(F.filter(
        lines, lambda ln: F.trim(ln).rlike(r"^[-*]")))
    n_ellipsis = F.size(F.filter(
        lines, lambda ln: F.trim(ln).rlike(r"\.\.\.$")))
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS_EN)))
    n_lines = F.size(lines)
    r_words = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    r_wlen = ((sum_wlen.cast("double") >= F.lit(GOPHER_MEAN_WLEN[0]) * n_words)
              & (sum_wlen.cast("double") <= F.lit(GOPHER_MEAN_WLEN[1]) * n_words))
    r_symbol = (n_symbols.cast("double")
                <= F.lit(GOPHER_SYMBOL_RATIO) * n_words)
    r_bullet = (n_bullet.cast("double")
                <= F.lit(GOPHER_BULLET_RATIO) * n_lines)
    r_ellipsis = (n_ellipsis.cast("double")
                  <= F.lit(GOPHER_ELLIPSIS_RATIO) * n_lines)
    r_alpha = (n_alpha.cast("double") >= F.lit(GOPHER_ALPHA_RATIO) * n_words)
    r_stop = n_stop >= GOPHER_MIN_STOPWORDS
    rules = [r_words, r_wlen, r_symbol, r_bullet, r_ellipsis, r_alpha,
             r_stop]
    failed = sum(F.when(r, 0).otherwise(1) for r in rules)
    return docs.select(
        "doc_id", r_words.alias("ok_words"), r_wlen.alias("ok_word_len"),
        r_symbol.alias("ok_symbols"), r_bullet.alias("ok_bullets"),
        r_ellipsis.alias("ok_ellipsis"), r_alpha.alias("ok_alpha"),
        r_stop.alias("ok_stopwords"),
        failed.cast("int").alias("n_rules_failed"),
        (failed == 0).alias("keep"))


DSIR_BUCKETS = 4096   # hashed unigram feature space (Xie et al. 2023)
DSIR_TOP_K = 120      # docs the resampling budget keeps


def dsir_select(docs: DataFrame, buckets: int = DSIR_BUCKETS,
                top_k: int = DSIR_TOP_K) -> DataFrame:
    """DSIR data selection (Xie et al., NeurIPS 2023 'Data Selection
    for Language Models via Importance Resampling'), deterministic
    variant: per-doc importance weight = sum over tokens of
    ln(p_target(b)/p_raw(b)) on hashed-unigram buckets with add-one
    smoothing; the top_k docs by (rounded weight, doc_id) are selected.
    `is_target` marks the docs defining the target distribution (here
    the sources whose numeric suffix is divisible by 5 — the stand-in
    for 'trusted high-quality sources'); raw = the whole corpus. The
    doc-LEVEL complement of mixture_loss_reweight's source-level
    DoReMi weights. Emits every doc with (n_tokens, logratio, rank,
    selected) so the selection boundary is auditable.

    Scale shape: one tokenize+explode pass -> (doc, bucket) counts
    (both shuffles bounded by `buckets` rows per doc); the bucket
    language models are a <= `buckets`-row dimension (broadcast), the
    two totals a broadcast scalar; ranking runs through
    olap.global_row_number, so no single-partition window touches the
    O(docs) frame. ln-sum order noise handled by round 6, and the rank
    orders by the ROUNDED weight so both engines rank the same key."""
    from .olap import global_row_number
    is_target = (F.regexp_extract("source", r"(\d+)$", 1).cast("int")
                 % 5 == 0)
    ex = docs.select(
        "doc_id", is_target.alias("tgt"),
        F.explode(tokens_col()).alias("tok"))
    b = (F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10)
         .cast("bigint") % buckets)
    per = (ex.select("doc_id", "tgt", b.alias("b"))
           .groupBy("doc_id", "tgt", "b")
           .agg(F.count("*").alias("cnt")))
    dim = (per.groupBy("b")
           .agg(F.sum("cnt").alias("braw"),
                F.sum(F.when(F.col("tgt"), F.col("cnt"))
                      .otherwise(F.lit(0))).alias("btgt")))
    tot = dim.agg(F.sum("braw").cast("double").alias("t_raw"),
                  F.sum("btgt").cast("double").alias("t_tgt"))
    scored = (per.join(F.broadcast(dim), "b")
              .crossJoin(F.broadcast(tot))
              .select(
                  "doc_id", "cnt",
                  (F.col("cnt") * (
                      F.log(F.col("btgt") + 1.0)
                      - F.log(F.col("braw") + 1.0)
                      + F.log(F.col("t_raw") + float(buckets))
                      - F.log(F.col("t_tgt") + float(buckets))))
                  .alias("term"))
              .groupBy("doc_id")
              .agg(F.sum("cnt").cast("bigint").alias("n_tokens"),
                   F.round(F.sum("term"), 6).alias("logratio")))
    ranked = global_row_number(
        scored, [F.col("logratio").desc(), F.col("doc_id").asc()],
        out_col="rank")
    return ranked.select("doc_id", "n_tokens", "logratio", "rank",
                         (F.col("rank") <= top_k).alias("selected"))


BIGRAM_LAMBDA = 0.5  # Jelinek-Mercer interpolation toward the unigram


def bigram_logloss(docs: DataFrame,
                   lam: float = BIGRAM_LAMBDA) -> DataFrame:
    """Interpolated bigram language-model cross-entropy per doc:
    p(cur|prev) = lam * c(prev,cur)/c(prev,*) + (1-lam) * tf(cur)/N,
    scored over every adjacent token pair — the next step up from
    unigram_logloss on the quality-filtering ladder (repetitive
    boilerplate scores LOW, shuffled-word-salad scores HIGH, which the
    unigram model cannot distinguish). Docs with < 2 tokens emit
    nothing (no bigram events), mirroring the reference's empty-
    return guards.

    Scale shape: bigrams come from zipping the token array with its
    own shifted slice (no positional self-join); the bigram and
    context tables are corpus-sized so they ride equi-join shuffles
    (deliberately NOT broadcast); the unigram total is a broadcast
    scalar. One explode pass feeds bigram counts, context counts and
    scoring via localCheckpoint. ln/avg order noise -> round 6."""
    toks = tokens_col()
    n = F.size(toks)
    pairs = F.arrays_zip(
        F.slice(toks, F.lit(1), n - 1).alias("prev"),
        F.slice(toks, F.lit(2), n - 1).alias("cur"))
    bg = (docs.filter(n >= 2)
          .select("doc_id", F.explode(pairs).alias("p"))
          .select("doc_id", F.col("p.prev").alias("prev"),
                  F.col("p.cur").alias("cur"))
          .localCheckpoint(eager=True))
    bc = bg.groupBy("prev", "cur").agg(F.count("*").alias("cbc"))
    cx = bg.groupBy("prev").agg(F.count("*").alias("cprev"))
    ex = docs.select(F.explode(toks).alias("t"))
    uni = ex.groupBy("t").agg(F.count("*").alias("tf"))
    tot = uni.agg(F.sum("tf").cast("double").alias("n_total"))
    p = (F.lit(lam) * F.col("cbc") / F.col("cprev")
         + F.lit(1.0 - lam) * F.col("tf") / F.col("n_total"))
    return (bg.join(bc, ["prev", "cur"])
            .join(cx, "prev")
            .join(uni, bg["cur"] == uni["t"])
            .crossJoin(F.broadcast(tot))
            .select("doc_id", F.log(p).alias("lp"))
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_bigrams"),
                 F.round(-F.avg("lp"), 6).alias("cross_entropy")))


CCNET_K = 3
CCNET_BUCKETS = ("head", "middle", "tail")


def ccnet_ppl_buckets(docs: DataFrame, k: int = CCNET_K) -> DataFrame:
    """CCNet-style per-language perplexity bucketing (Wenzek et al.
    2020): score each document's cross-entropy under ITS language's
    corpus unigram model, then split every language into k equal
    quality tiers — head (lowest perplexity, cleanest), middle, tail.
    The head/middle cut is the standard pre-training inclusion
    boundary; this is the per-language refinement of the corpus-wide
    unigram_logloss.

    One tokenize pass feeds per-(lang, token) counts; per-lang totals
    are a dimension (broadcast). The tiering uses grouped_ntile's
    two-phase exact rank, so a mega-language never collapses into one
    window task (CCNet itself cuts on sampled thresholds; exact tiles
    keep the oracle bit-for-bit while preserving the distributed
    shape). Ordering is (rounded cross-entropy, doc_id) — a total
    order both engines replay."""
    from .olap import grouped_ntile
    tok = (docs.select("doc_id", "lang",
                       F.explode(tokens_col("text")).alias("t"))
           .localCheckpoint(eager=True))
    counts = tok.groupBy("lang", "t").agg(F.count("*").alias("tf"))
    totals = counts.groupBy("lang").agg(
        F.sum("tf").cast("double").alias("total"))
    scored = (tok.join(counts, ["lang", "t"])
              .join(F.broadcast(totals), "lang")
              .select("doc_id", "lang",
                      F.log(F.col("tf") / F.col("total")).alias("lp"))
              .groupBy("doc_id", "lang")
              .agg(F.count("*").cast("bigint").alias("n_tokens"),
                   F.round(-F.avg("lp"), 6).alias("cross_entropy")))
    tiled = grouped_ntile(scored, "lang",
                          [F.col("cross_entropy"), F.col("doc_id")], k,
                          out_col="tier")
    names = F.array(*[F.lit(b) for b in CCNET_BUCKETS])
    return tiled.select(
        "doc_id", "lang", "n_tokens", "cross_entropy", "tier",
        F.element_at(names, F.col("tier")).alias("bucket"))


CHAT_SCHEMA = "array<struct<role:string,content:string>>"
CHAT_SIG_RE = r"^s?(ua)+$"


def chat_template_lint(chats: DataFrame,
                       chat_col: str = "chat") -> DataFrame:
    """SFT chat-transcript lint — the format QC an instruction-tuning
    corpus runs before tokenization: parse each JSON transcript,
    collapse the role sequence to an initial string (system->s,
    user->u, assistant->a) and validate it against the canonical
    template grammar ^s?(ua)+$ (optional system, strict user/assistant
    alternation, assistant-final), plus empty-content detection.
    Verdict precedence: invalid_json > bad_structure > empty_content >
    ok; every transcript gets a row — lint reports, never drops.

    from_json returns NULL on malformed input (the PERMISSIVE path),
    so truncated fetches quarantine instead of aborting; everything
    downstream is array expressions + one regexp — per-row codegen,
    no shuffle, no Python."""
    msgs = F.from_json(F.col(chat_col), CHAT_SCHEMA)
    initial = F.array_join(F.transform(
        msgs, lambda m: F.when(m.role == "system", F.lit("s"))
        .when(m.role == "user", F.lit("u"))
        .when(m.role == "assistant", F.lit("a"))
        .otherwise(F.lit("x"))), "")
    n_empty = F.size(F.filter(
        msgs, lambda m: m.content.isNull() | (m.content == "")))
    d = chats.select(
        "doc_id", msgs.alias("__m"), initial.alias("role_sig"),
        F.size(msgs).cast("bigint").alias("n_turns"),
        n_empty.cast("bigint").alias("n_empty"))
    return d.select(
        "doc_id",
        F.coalesce("role_sig", F.lit("")).alias("role_sig"),
        F.greatest("n_turns", F.lit(0).cast("bigint")).alias("n_turns"),
        F.greatest("n_empty", F.lit(0).cast("bigint")).alias("n_empty"),
        F.when(F.col("__m").isNull(), F.lit("invalid_json"))
        .when(~F.col("role_sig").rlike(CHAT_SIG_RE),
              F.lit("bad_structure"))
        .when(F.col("n_empty") > 0, F.lit("empty_content"))
        .otherwise(F.lit("ok")).alias("status"))


TEXTRANK_D = 0.85
TEXTRANK_ITER = 3
TEXTRANK_TOP = 2


def textrank_summary(spans: DataFrame, d: float = TEXTRANK_D,
                     n_iter: int = TEXTRANK_ITER,
                     top_n: int = TEXTRANK_TOP) -> DataFrame:
    """TextRank extractive summarization (Mihalcea & Tarau 2004) per
    document: sentences (the corpus text spans) form a graph weighted
    by unigram-set Jaccard; a weighted PageRank ranks them; the top-n
    per doc are the extract — the salience selector a training-data
    pipeline uses to keep a document's densest content.

    Per-doc pair fan-out is O(sentences^2) with sentences bounded by
    the document, the same per-key bound every within-doc operator
    carries; hub docs want a sentence cap upstream. The power
    iteration is FIXED-round (oracle unrolls the identical
    recurrence), each round one equi-join + map-side-combinable sum on
    (doc, sentence); isolated sentences keep the teleport term only
    (dangling mass leaks, pagerank_fixed's convention). Jaccard
    weights are exact rationals; only the rank sums are double."""
    sents = (spans.filter(F.col("kind") == "text")
             .select("doc_id", F.col("pos").alias("idx"),
                     F.col("text").alias("sentence"))
             .localCheckpoint(eager=True))
    words = (sents.select(
        "doc_id", "idx",
        F.explode(F.array_distinct(F.filter(
            F.split(F.regexp_replace(F.lower("sentence"),
                                     F.lit("[^a-z ]"), F.lit("")),
                    r"\s+"),
            lambda w: w != ""))).alias("w")))
    sizes = words.groupBy("doc_id", "idx").agg(
        F.count("*").alias("nw"))
    inter = (words.alias("x").join(
        words.alias("y"),
        (F.col("x.doc_id") == F.col("y.doc_id"))
        & (F.col("x.idx") < F.col("y.idx"))
        & (F.col("x.w") == F.col("y.w")))
        .groupBy(F.col("x.doc_id").alias("doc_id"),
                 F.col("x.idx").alias("i"), F.col("y.idx").alias("j"))
        .agg(F.count("*").alias("ni")))
    jac = (inter
           .join(sizes.select(F.col("doc_id"), F.col("idx").alias("i"),
                              F.col("nw").alias("na")), ["doc_id", "i"])
           .join(sizes.select(F.col("doc_id"), F.col("idx").alias("j"),
                              F.col("nw").alias("nb")), ["doc_id", "j"])
           .select("doc_id", "i", "j",
                   (F.col("ni")
                    / (F.col("na") + F.col("nb") - F.col("ni")))
                   .alias("w"))
           .filter(F.col("w") > 0))
    edges = (jac.select("doc_id", F.col("i").alias("src"),
                        F.col("j").alias("dst"), "w")
             .unionByName(jac.select("doc_id", F.col("j").alias("src"),
                                     F.col("i").alias("dst"), "w"))
             .localCheckpoint(eager=True))
    wout = edges.groupBy("doc_id", "src").agg(F.sum("w").alias("wout"))
    k = sents.groupBy("doc_id").agg(F.count("*").alias("k"))
    pr = (sents.join(k, "doc_id")
          .select("doc_id", "idx", (F.lit(1.0) / F.col("k"))
                  .alias("pr")))
    for _ in range(n_iter):
        contrib = (edges
                   .join(wout, ["doc_id", "src"])
                   .join(pr.select("doc_id",
                                   F.col("idx").alias("src"),
                                   F.col("pr").alias("pr_src")),
                         ["doc_id", "src"])
                   .groupBy("doc_id", F.col("dst").alias("idx"))
                   .agg(F.sum(F.col("w") / F.col("wout")
                              * F.col("pr_src")).alias("c")))
        pr = (sents.select("doc_id", "idx").join(k, "doc_id")
              .join(contrib, ["doc_id", "idx"], "left")
              .select("doc_id", "idx",
                      ((1.0 - d) / F.col("k")
                       + d * F.coalesce(F.col("c"), F.lit(0.0)))
                      .alias("pr"))
              .localCheckpoint(eager=True))
    wr = Window.partitionBy("doc_id").orderBy(F.desc("pr"),
                                              F.asc("idx"))
    return (pr.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= top_n)
            .join(sents, ["doc_id", "idx"])
            .select("doc_id", F.col("idx").cast("int").alias("idx"),
                    "sentence", F.round("pr", 6).alias("score"),
                    F.col("rank").cast("int").alias("rank")))


# --- weighted reservoir sampling (A-ES) ------------------------------------

WS_K = 8
WS_SEED = "wsamp"


def weighted_reservoir_sample(docs: DataFrame, k: int = WS_K,
                              seed: str = WS_SEED) -> DataFrame:
    """Efraimidis-Spirakis A-ES weighted sampling WITHOUT replacement,
    k docs per language stratum, weight = n_chars: key = u^(1/w) with
    u a deterministic md5 uniform in (0,1); the k largest keys per
    stratum are an exact weight-proportional sample (Efraimidis &
    Spirakis 2006, IPL). hash_stratified_sample is the Bernoulli
    cousin (rate-targeted, size varies); this one returns EXACTLY k,
    inclusion probability proportional to document length — the
    token-budgeted corpus cut.

    Scale shape — two-phase top-k, no stratum-wide sort: rows first
    carry their INPUT partition id, and a window over (lang, pid)
    prunes to k survivors per physical partition (sorts only
    partition-local chunks); the global window over lang then ranks
    <= k * n_partitions survivors. The output is provably invariant
    to the physical partitioning (top-k of a union of per-chunk
    top-ks IS the global top-k), so the nondeterministic pid never
    leaks into the result."""
    u = ((F.conv(F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(seed))),
            1, 6), 16, 10).cast("double") + 0.5) / F.lit(16777216.0))
    w = F.greatest(F.col("n_chars").cast("double"), F.lit(1.0))
    d = (docs.select("doc_id", "lang",
                     F.pow(u, F.lit(1.0) / w).alias("key"))
         .withColumn("pid", F.spark_partition_id()))
    wpp = Window.partitionBy("lang", "pid") \
        .orderBy(F.desc("key"), F.asc("doc_id"))
    pruned = (d.withColumn("r", F.row_number().over(wpp))
              .filter(F.col("r") <= k).drop("r", "pid"))
    wl = Window.partitionBy("lang").orderBy(F.desc("key"), F.asc("doc_id"))
    return (pruned.withColumn("rank", F.row_number().over(wl))
            .filter(F.col("rank") <= k)
            .select("doc_id", "lang", F.col("rank").cast("int").alias("rank"),
                    F.round("key", 6).alias("key")))


# --- BPE merge application (train -> apply loop) ---------------------------

BPE_APPLY_K = 8


def bpe_apply_merges(docs: DataFrame, k: int = BPE_APPLY_K) -> DataFrame:
    """Tokenizer train->apply round trip: take the top-k adjacent-pair
    merges from bpe_merge_pair_counts (rank = count desc, pair asc)
    and APPLY them to the corpus vocabulary, reporting the symbol
    compression they buy — one row: words, distinct words, symbols
    before/after, compression ratio, and the merge list. Deliberate,
    documented simplification vs a full BPE learner: all k merges
    come from the ITERATION-1 count table (no recount between merges,
    so no chained multi-char merges) and replace() applies each merge
    left-to-right non-overlapping — both engines implement that scan
    identically, which is what makes the round trip oracle-checkable.

    Scale shape: merges derive from the bounded pair table (<= ~26^2
    rows — the window rank is dimension-sized); application runs on
    the DISTINCT-word vocabulary (map-side-combined first, corpus
    never re-scanned per merge) as k nested JVM replace() calls over
    a 1-row broadcast merge dimension — no Python, no driver loop."""
    words = docs.select(
        F.explode(F.split(F.lower("text"), r"[^a-z]+")).alias("w"))
    wc = (words.filter(F.length("w") >= 2)
          .groupBy("w").agg(F.count("*").alias("freq")))
    grams = wc.select(
        "freq",
        F.explode(F.expr(
            "transform(sequence(1, length(w) - 1),"
            " i -> substring(w, i, 2))")).alias("pair"))
    pairs = grams.groupBy("pair").agg(F.sum("freq").alias("n"))
    wr = Window.orderBy(F.desc("n"), F.asc("pair"))
    merges = (pairs.withColumn("r", F.row_number().over(wr))
              .filter(F.col("r") <= k))
    mdim = merges.groupBy().agg(
        *[F.max(F.when(F.col("r") == i, F.col("pair")))
          .alias(f"m{i}") for i in range(1, k + 1)])
    spaced = F.expr(
        "concat(' ', array_join(transform(sequence(1, length(w)),"
        " i -> substring(w, i, 1)), ' '), ' ')")
    appl = wc.crossJoin(F.broadcast(mdim)).withColumn("sp", spaced)
    for i in range(1, k + 1):
        m = F.col(f"m{i}")
        appl = appl.withColumn(
            "sp", F.replace(
                F.col("sp"),
                F.concat(F.lit(" "), F.substring(m, 1, 1), F.lit(" "),
                         F.substring(m, 2, 1), F.lit(" ")),
                F.concat(F.lit(" "), m, F.lit(" "))))
    appl = appl.withColumn(
        "n_sym", F.size(F.split(F.trim("sp"), " +")))
    stats = appl.agg(
        F.sum("freq").cast("bigint").alias("n_words"),
        F.count("*").cast("bigint").alias("n_distinct_words"),
        F.sum(F.col("freq") * F.length("w")).cast("bigint")
        .alias("syms_before"),
        F.sum(F.col("freq") * F.col("n_sym")).cast("bigint")
        .alias("syms_after"),
        F.round(F.sum(F.col("freq") * F.length("w"))
                / F.sum(F.col("freq") * F.col("n_sym")), 6)
        .alias("compression"))
    mlist = merges.agg(
        F.array_join(F.array_sort(F.collect_list(
            F.concat_ws(":", F.lpad("r", 2, "0"), "pair"))), ",")
        .alias("merges"))
    return stats.crossJoin(F.broadcast(mlist))
