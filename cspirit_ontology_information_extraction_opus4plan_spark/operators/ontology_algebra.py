"""Ontology algebra — trimmer / integrator / validator / statistics
operators re-expressed as DataFrame ops (SURVEY §2.2-2.8).

Reference semantics per function, cited inline. Everything here operates
on dimension-scale tables (the ontology), but every plan is the shape a
corpus-scale run would use: semi/anti joins instead of collected sets,
group-aggregates instead of dict counters, iterative frontier joins
instead of recursive DFS.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..ontology_data import (DOMAIN_RULES, INVERSE_PREDICATES,
                             SEMANTIC_RULES, SHACL_SHAPES)
from .fixpoint import fixpoint

# ---------------------------------------------------------------------------
# statistics (Ontology.get_statistics, models.py:3297-3356)
# ---------------------------------------------------------------------------


def ontology_stats(terms: DataFrame, rels: DataFrame) -> DataFrame:
    """Per-ontology term/relationship/obsolete counts + orphan terms
    (terms that appear in no relationship endpoint — orphan detection,
    models.py:2568) + avg relationships per term."""
    endpoints = (rels.select(F.col("subject").alias("id"))
                 .unionByName(rels.select(F.col("object").alias("id")))
                 .distinct())
    orphan = terms.join(endpoints, "id", "left_anti") \
                  .groupBy("ontology_id").agg(F.count("*").alias("orphans"))
    t = terms.groupBy("ontology_id").agg(
        F.count("*").alias("term_count"),
        F.sum(F.when(F.col("is_obsolete"), 1).otherwise(0))
        .alias("obsolete_count"))
    # relationships attributed to the subject term's ontology prefix
    r = (rels.withColumn(
            "ontology_id", F.substring_index("subject", ":", 1))
         .groupBy("ontology_id").agg(F.count("*").alias("rel_count")))
    return (t.join(r, "ontology_id", "left")
            .join(orphan, "ontology_id", "left")
            .select(
                "ontology_id", "term_count", "obsolete_count",
                F.coalesce("rel_count", F.lit(0)).alias("rel_count"),
                F.coalesce("orphans", F.lit(0)).alias("orphans"),
                F.round(F.coalesce("rel_count", F.lit(0))
                        / F.col("term_count"), 6).alias("rels_per_term")))


def predicate_distribution(rels: DataFrame) -> DataFrame:
    """Group-by-count over the predicate vocabulary (predicate_counts leg
    of get_statistics, models.py:3330)."""
    return rels.groupBy("predicate").agg(F.count("*").alias("n"))


def ontology_overlap(keyed: DataFrame) -> DataFrame:
    """Pairwise key overlap + Jaccard between ontologies
    (_analyze_ontology_overlap, ontology_manager.py:1746-1809).
    `keyed` = (surface, ontology_id); callers pass shared xrefs (cross-
    ontology external refs) or gazetteer surfaces."""
    s = keyed.select("surface", "ontology_id").distinct()
    sizes = s.groupBy("ontology_id").agg(F.count("*").alias("n"))
    a = s.toDF("surface", "ont_a")
    b = s.toDF("surface", "ont_b")
    shared = (a.join(b, "surface")
              .filter(F.col("ont_a") < F.col("ont_b"))
              .groupBy("ont_a", "ont_b").agg(F.count("*").alias("shared")))
    return (shared
            .join(sizes.toDF("ont_a", "n_a"), "ont_a")
            .join(sizes.toDF("ont_b", "n_b"), "ont_b")
            .select("ont_a", "ont_b", "shared",
                    F.round(F.col("shared")
                            / (F.col("n_a") + F.col("n_b") - F.col("shared")),
                            6).alias("jaccard")))


# ---------------------------------------------------------------------------
# validators (validators.py, models.py:2523-2618)
# ---------------------------------------------------------------------------


def dangling_references(terms: DataFrame, rels: DataFrame) -> DataFrame:
    """Relationships with an endpoint that is not a known term id
    (_check_relationship_references validators.py:233) — anti-join per
    side, union, flagged with which side dangles."""
    ids = terms.select("id")
    no_subj = (rels.join(ids.withColumnRenamed("id", "subject"),
                         "subject", "left_anti")
               .select("id", "subject", "predicate", "object",
                       F.lit("subject").alias("dangling_side")))
    no_obj = (rels.join(ids.withColumnRenamed("id", "object"),
                        "object", "left_anti")
              .select("id", "subject", "predicate", "object",
                      F.lit("object").alias("dangling_side")))
    return no_subj.unionByName(no_obj)


def duplicate_relationships(rels: DataFrame) -> DataFrame:
    """(subject, predicate, object) groups with >1 relationship row
    (_detect_duplicate_relationships models.py:2592)."""
    return (rels.groupBy("subject", "predicate", "object")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > 1))


def mutual_edges(rels: DataFrame) -> DataFrame:
    """2-cycles among same-predicate edges (cycle detection,
    validators.py:253; the synthetic graph plants one regulates 2-cycle).
    Self-join on swapped endpoints; src<dst keeps one row per cycle."""
    e = rels.select("subject", "predicate", "object").distinct()
    rev = e.toDF("object", "predicate", "subject")
    return (e.join(rev, ["subject", "predicate", "object"])
            .filter(F.col("subject") < F.col("object"))
            .select(F.col("subject").alias("a"), "predicate",
                    F.col("object").alias("b")))


def validate_term_ids(terms: DataFrame) -> DataFrame:
    """Id-format validation (^[A-Za-z]+:\\d+$, models.py:298): quarantine
    rows rather than abort (error-recovery semantics,
    parsers/__init__.py:1059)."""
    return terms.withColumn(
        "id_valid", F.col("id").rlike(r"^[A-Za-z]+:\d+$"))


KNOWN_NAMESPACES = ["chemical", "biological_process", "anatomy", "organism"]

URI_PATTERN = r"^[a-z][a-z0-9+.-]*:\S+$"
LANG_TAG_PATTERN = r"^[a-zA-Z]{1,8}(-[a-zA-Z0-9]{1,8})*$"


def uri_lang_violations(nodes: DataFrame) -> DataFrame:
    """URI-validity and language-tag checks (models.py:3959 URI format,
    :4026 lang tags) over (term_id, uri, lang) rows. Violations
    quarantine as (term_id, rule) rows like quarantine_terms — the
    truth-table tests of the reference's model validators, re-expressed
    as rlike columns. Pure; the decorated demo node set comes from
    decorations.decorated_uri_lang."""
    uri, lang = F.col("uri"), F.col("lang")
    checks = [
        ("invalid_uri", ~uri.rlike(URI_PATTERN)),
        ("invalid_lang_tag", lang.isNotNull()
         & ~lang.rlike(LANG_TAG_PATTERN)),
    ]
    viol = F.filter(
        F.array(*[F.when(cond, F.lit(rule)) for rule, cond in checks]),
        lambda x: x.isNotNull())
    return nodes.select("term_id", F.explode(viol).alias("rule"))


def alt_id_lookup(terms: DataFrame, probes: DataFrame) -> DataFrame:
    """The reference's `_alt_id_index[alt_id]` lookup
    (find_term_by_alt_id models.py:2954) as a broadcast equi-join of a
    probe column against the exploded (alt_id, term_id) index — the
    SURVEY §2.3 dict-lookup-is-a-join mapping."""
    index = terms.select(F.explode("alt_ids").alias("alt_id"),
                         F.col("id").alias("term_id"), "name")
    return probes.join(F.broadcast(index), "alt_id", "inner") \
                 .select("alt_id", "term_id", "name")


# deterministic planted 3-cycle, disjoint from the real (acyclic) is_a
# graph — the cycle-detection test corpus (validators.py:253 finds cycle
# chains by DFS; the DataFrame analog is a fixed-length join chain)
PLANTED_CYCLE = [("CYC:1", "CYC:2"), ("CYC:2", "CYC:3"),
                 ("CYC:3", "CYC:1")]


def cycle_triads(edges: DataFrame) -> DataFrame:
    """Directed 3-cycles a->b->c->a over (src, dst) edges; one row per
    cycle (canonical rotation: a is the least node). Fixed-length join
    chain — bounded cycle search; unbounded cycles surface as
    non-convergence in the CC loop instead (SURVEY §2.8). Each join is
    an equi-join on a node id; at scale the edge list shuffles on src
    like any adjacency join."""
    e1 = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = edges.select(F.col("src").alias("c"), F.col("dst").alias("a2"))
    return (e1.join(e2, "b").join(e3, "c")
            .filter((F.col("a2") == F.col("a"))
                    & (F.col("a") < F.col("b")) & (F.col("a") < F.col("c")))
            .select("a", "b", "c"))


# planted variable-length cycles (2, 4, 5) for general cycle detection,
# disjoint from PLANTED_CYCLE's triangle and from the acyclic is_a graph
PLANTED_CHAINS = [
    ("CYD:1", "CYD:2"), ("CYD:2", "CYD:1"),
    ("CYE:1", "CYE:2"), ("CYE:2", "CYE:3"), ("CYE:3", "CYE:4"),
    ("CYE:4", "CYE:1"),
    ("CYF:1", "CYF:2"), ("CYF:2", "CYF:3"), ("CYF:3", "CYF:4"),
    ("CYF:4", "CYF:5"), ("CYF:5", "CYF:1"),
]


def cycle_chains(edges: DataFrame, max_len: int = 6) -> DataFrame:
    """Directed cycles up to length max_len, returned as canonical node
    chains — the reference's DFS-with-recursion-stack cycle detection
    that returns the cycle paths (validators.py:253-300), re-expressed
    as a bounded iterative path extension.

    Canonicalization/pruning in one rule: every path starts at its
    minimum node (each extension requires the new node > start), so
    each cycle is found exactly once, rotations never duplicate, and
    the search space is cut by ~1/len. Fixed max_len-1 join rounds —
    no convergence loop; each round is an equi-join on the current
    node, shuffling like any adjacency join at scale. Unbounded-length
    cycles remain the CC loop's non-convergence guard's job."""
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    frontier = (e.filter(F.col("dst") > F.col("src"))
                .select(F.col("src").alias("start"),
                        F.col("dst").alias("cur"),
                        F.array("src", "dst").alias("path")))
    chains = None
    for _depth in range(2, max_len + 1):
        nxt = (frontier.join(e, frontier.cur == e.src)
               .select("start", F.col("dst").alias("cur2"), "path"))
        closed = (nxt.filter(F.col("cur2") == F.col("start"))
                  .select(F.array_join("path", "->").alias("chain"),
                          F.size("path").alias("cycle_len")))
        chains = closed if chains is None else chains.unionByName(closed)
        frontier = (nxt.filter((F.col("cur2") > F.col("start"))
                               & ~F.array_contains("path", F.col("cur2")))
                    .select("start", F.col("cur2").alias("cur"),
                            F.array_append("path", F.col("cur2"))
                            .alias("path")))
    return chains


# planted redundant shortcuts (child -> grand/great-grandparent along
# real is_a chains) — the transitive-reduction test corpus; the
# synthetic is_a graph itself is shortcut-free (verified: closure of
# length >= 2 intersects the edge set in 0 rows without these)
PLANTED_SHORTCUTS = [
    ("CHEBI:10004", "CHEBI:10001"),   # skips CHEBI:10002 (2-step path)
    ("CHEBI:10010", "CHEBI:10001"),   # skips 10004->10002 (3-step path)
    ("GO:20004", "GO:20001"),         # skips GO:20002
    ("PO:30005", "PO:30001"),         # skips PO:30002
]


def transitive_reduction(edges: DataFrame, max_iter: int = 32) -> DataFrame:
    """Redundant-edge detection over a hierarchy: edge (src, dst) is
    `redundant` iff dst is also reachable from src via a path of
    length >= 2 — the standard ontology-release QC (OBO `is_a`
    redundancy; `robot reduce`). The reference trims hierarchies but
    never checks minimality (ontology_trimmer.py:586-628 walks
    ancestors without flagging implied edges); this closes that gap
    on the DataFrame side.

    Shape: seed the >=2-step reachability set with the length-2 join
    of the edge list against itself, then extend one hop per round by
    fixpoint (frontier anti-joined against seen pairs, lineage cut per
    round). Terminates on cyclic input — the pair set is finite and the
    anti-join empties the frontier. O(depth) rounds; the pair set is
    the ancestor closure, O(V * avg-ancestors) — dimension-table-sized
    work (ontologies are millions of terms, depth ~tens), NOT for the
    corpus entity graph (use bounded probes like two_hop_counts there).
    Hard error on non-convergence (fixpoint's): a silent cap would
    mislabel deep redundancies as essential."""
    e = edges.select("src", "dst").distinct().persist()
    hop = e.select(F.col("src").alias("mid"), F.col("dst").alias("far"))

    def extend(pairs: DataFrame, _acc: DataFrame) -> DataFrame:
        return (pairs.join(hop, pairs.dst == hop.mid)
                .select("src", F.col("far").alias("dst")).distinct())

    try:
        reach = fixpoint(extend(e, e).localCheckpoint(eager=True), extend,
                         ["src", "dst"], "transitive_reduction", max_iter)
    finally:
        e.unpersist()
    flagged = reach.withColumn("redundant", F.lit(True))
    return (e.join(flagged, ["src", "dst"], "left")
            .select("src", "dst",
                    F.coalesce("redundant", F.lit(False)).alias("redundant")))


def ancestor_closure(terms: DataFrame, rels: DataFrame,
                     max_iter: int = 32) -> DataFrame:
    """Ancestor-or-self is_a closure (id, anc) by fixpoint — the shared
    substrate for LCA/IC term-similarity measures. A hard error on
    non-convergence (a silent cap would truncate ancestor sets and
    corrupt every similarity built on top). The closure is
    dimension-table-sized (ontology terms x avg depth), never
    corpus-sized."""
    up = (rels.filter(F.col("predicate") == "is_a")
          .select(F.col("subject").alias("child"),
                  F.col("object").alias("parent")))
    return _ancestors(terms.select("id"), up, "ancestor_closure", max_iter)


def _ancestors(ids: DataFrame, up: DataFrame, what: str,
               max_iter: int) -> DataFrame:
    """(id, anc) for every id and each of its ancestors-or-self over the
    edges up(child, parent), by fixpoint."""
    up = up.distinct().persist()

    def climb(new: DataFrame, _acc: DataFrame) -> DataFrame:
        return (new.join(up.withColumnRenamed("child", "anc"), "anc")
                .select("id", F.col("parent").alias("anc")).distinct())

    try:
        return fixpoint(ids.select("id", F.col("id").alias("anc")), climb,
                        ["id", "anc"], what, max_iter)
    finally:
        up.unpersist()


def wu_palmer_similarity(terms: DataFrame, rels: DataFrame,
                         pairs: DataFrame, max_iter: int = 32) -> DataFrame:
    """Structural term similarity over the is_a DAG (Wu-Palmer, the
    GOSemSim-family measure ontology users run for linking
    disambiguation): for each probe pair (a, b),

        similarity = 2*(lca_depth+1) / ((depth_a+1) + (depth_b+1))

    where depth = min is_a-distance from a root (bfs_depths) and the
    LCA is the shared ancestor (ancestor-or-self) maximizing depth.
    The +1 shift puts roots at depth 1 (classic Wu-Palmer counting,
    and no zero denominators). Pairs with no root-reachable common
    ancestor — cross-ontology probes, cycle-orphaned terms — emit no
    row, matching bfs_depths' reachability semantics.

    Shape: ancestor-or-self closure by frontier fixpoint (same loop as
    dependency_closure, hard error on non-convergence), then the pair
    probe is two equi-joins against the closure plus an argmax groupBy —
    similarity work is O(|pairs| * ancestors-per-term), driven by a
    candidate-pair frame (e.g. ambiguous linking candidates), never an
    all-pairs self-join; the closure itself is dimension-table-sized
    (ontology terms, not corpus entities)."""
    anc = ancestor_closure(terms, rels, max_iter)
    depths = bfs_depths(terms, rels)
    anc_d = anc.join(depths.withColumnRenamed("id", "anc")
                     .withColumnRenamed("depth", "d_anc"), "anc")
    la = anc_d.select(F.col("id").alias("a"), "anc", "d_anc")
    lb = anc_d.select(F.col("id").alias("b"), "anc")
    lca = (pairs.join(la, "a").join(lb, ["b", "anc"])
           .groupBy("a", "b").agg(F.max("d_anc").alias("lca_depth")))
    da = depths.select(F.col("id").alias("a"), F.col("depth").alias("depth_a"))
    db = depths.select(F.col("id").alias("b"), F.col("depth").alias("depth_b"))
    return (lca.join(da, "a").join(db, "b")
            .select("a", "b", "lca_depth", "depth_a", "depth_b",
                    F.round(2.0 * (F.col("lca_depth") + 1)
                            / (F.col("depth_a") + F.col("depth_b") + 2), 6)
                    .alias("similarity")))


def ic_similarity(terms: DataFrame, rels: DataFrame,
                  pairs: DataFrame, max_iter: int = 32) -> DataFrame:
    """Information-content term similarity (Resnik / Lin, the
    corpus-frequency counterpart to wu_palmer_similarity): usage
    frequency of a term = its endpoint occurrences across the
    relationship table; freq(t) then sums usage over t's
    descendants-or-self via the ancestor closure, p(t) = freq(t)/total,
    IC(t) = -ln p(t). For each probe pair, MICA = the common ancestor
    maximizing IC; resnik_ic = IC(MICA), lin_sim =
    2*IC(MICA)/(IC(a)+IC(b)). Pairs whose endpoints have zero usage
    mass or no common ancestor emit no row (IC undefined), matching
    wu_palmer's reachability semantics.

    Shape: one closure (dimension-sized), one groupBy over
    closure x usage for the rolled-up frequencies, then pair-driven
    equi-joins + argmax — never an all-pairs self-join; `total` rides
    along as a broadcast 1-row frame, not a driver collect."""
    usage = (rels.select(F.col("subject").alias("id"))
             .unionAll(rels.select(F.col("object").alias("id")))
             .join(terms.select("id"), "id", "left_semi")
             .groupBy("id").agg(F.count("*").alias("u")))
    anc = ancestor_closure(terms, rels, max_iter)
    freq = (anc.join(usage, "id")
            .groupBy(F.col("anc").alias("id"))
            .agg(F.sum("u").alias("f")))
    total = usage.agg(F.sum("u").alias("tot"))
    ic = (freq.crossJoin(F.broadcast(total))
          .select("id", (-F.log(F.col("f").cast("double")
                                / F.col("tot"))).alias("ic")))
    ca = anc.select(F.col("id").alias("a"), "anc")
    cb = anc.select(F.col("id").alias("b"), "anc")
    mica = (pairs.join(ca, "a").join(cb, ["b", "anc"])
            .join(ic.withColumnRenamed("id", "anc"), "anc")
            .groupBy("a", "b").agg(F.max("ic").alias("mica_ic")))
    ia = ic.select(F.col("id").alias("a"), F.col("ic").alias("ic_a"))
    ib = ic.select(F.col("id").alias("b"), F.col("ic").alias("ic_b"))
    return (mica.join(ia, "a").join(ib, "b")
            .filter(F.col("ic_a") + F.col("ic_b") > 0)
            .select("a", "b",
                    F.round("mica_ic", 6).alias("resnik_ic"),
                    F.round("ic_a", 6).alias("ic_a"),
                    F.round("ic_b", 6).alias("ic_b"),
                    F.round(2.0 * F.col("mica_ic")
                            / (F.col("ic_a") + F.col("ic_b")), 6)
                    .alias("lin_sim")))


def release_diff(old: DataFrame, new: DataFrame,
                 fields: Sequence[str]) -> DataFrame:
    """Field-level diff between two ontology releases (`robot diff`
    semantics; the reference merges/updates ontologies —
    ontology_manager.py merge paths — but never reports a minimal
    change set). One null-safe full-outer join on id classifies each
    term as added / removed / changed, with `changed_fields` the
    comma-joined sorted field names that differ (null-safe compare, so
    NULL -> value and value -> NULL both count). Unchanged terms are
    dropped — at scale the diff is release-churn-sized, orders of
    magnitude under the term count, and both releases shuffle once on
    id (or co-locate for free if bucketed by id)."""
    o = old.select(F.col("id"), F.lit(True).alias("_in_old"),
                   *[F.col(f).alias(f"_o_{f}") for f in fields])
    n = new.select(F.col("id"), F.lit(True).alias("_in_new"),
                   *[F.col(f).alias(f"_n_{f}") for f in fields])
    j = o.join(n, "id", "full_outer")
    changed = F.concat_ws(",", *[
        F.when(~F.col(f"_o_{f}").eqNullSafe(F.col(f"_n_{f}")), F.lit(f))
        for f in sorted(fields)])
    return (j.withColumn(
                "change",
                F.when(F.col("_in_new").isNull(), F.lit("removed"))
                 .when(F.col("_in_old").isNull(), F.lit("added"))
                 .when(changed != "", F.lit("changed")))
            .filter(F.col("change").isNotNull())
            .withColumn("changed_fields",
                        F.when(F.col("change") == "changed", changed)
                         .otherwise(F.lit("")))
            .select("id", "change", "changed_fields"))


def unique_per_source(source_a: DataFrame, source_b: DataFrame) -> DataFrame:
    """Set difference per source — ids present in exactly one source
    (set.difference unique-terms, ontology_manager.py:1779-1785) as two
    left_anti joins."""
    ua = (source_a.join(source_b.select("id"), "id", "left_anti")
          .withColumn("src", F.lit("A")))
    ub = (source_b.join(source_a.select("id"), "id", "left_anti")
          .withColumn("src", F.lit("B")))
    return ua.unionByName(ub)


def merge_statistics(source_a: DataFrame, source_b: DataFrame) -> DataFrame:
    """Merge statistics (_calculate_merge_statistics
    ontology_integrator.py:654): per-source term counts, conflicts
    (ids in both = rows the union merge must resolve), uniques, union
    size — one full-outer join + one aggregate."""
    a = source_a.select("id").distinct().withColumn("in_a", F.lit(1))
    b = source_b.select("id").distinct().withColumn("in_b", F.lit(1))
    j = a.join(b, "id", "full")
    return j.agg(
        F.count("in_a").alias("n_a"),
        F.count("in_b").alias("n_b"),
        F.sum(F.when(F.col("in_a").isNotNull()
                     & F.col("in_b").isNotNull(), 1).otherwise(0))
        .alias("n_conflicts"),
        F.sum(F.when(F.col("in_b").isNull(), 1).otherwise(0))
        .alias("n_only_a"),
        F.sum(F.when(F.col("in_a").isNull(), 1).otherwise(0))
        .alias("n_only_b"),
        F.count("*").alias("n_union"))


# (the deterministically damaged terms table quarantine_terms is demoed
# on lives in decorations.corrupt_terms)


def quarantine_terms(terms: DataFrame) -> DataFrame:
    """Validation pipeline as quarantine rows, one (id, rule) per
    violation (ValidationPipeline validators.py:551; id regex
    models.py:298, non-empty name models.py:272, namespace membership).
    Violations accumulate to a table instead of aborting the load —
    the reference's error-recovery posture, and the only shape that
    works when one bad row in 10^12 must not kill the job."""
    # null-safe: rlike(NULL) / trim(NULL)='' / ~isin(NULL) all evaluate
    # to NULL, so a maximally malformed all-NULL row would pass every
    # check silently — exactly the row a validator exists to catch
    checks = [
        ("id_format", F.col("id").isNull()
         | ~F.col("id").rlike(r"^[A-Z]+:\d+$")),
        ("empty_name", F.col("name").isNull()
         | (F.trim(F.col("name")) == "")),
        ("unknown_namespace", F.col("namespace").isNull()
         | ~F.col("namespace").isin(*KNOWN_NAMESPACES)),
    ]
    viol = F.filter(
        F.array(*[F.when(cond, F.lit(rule)) for rule, cond in checks]),
        lambda x: x.isNotNull())
    return (terms.select("id", "name", "namespace",
                         F.explode(viol).alias("rule"))
            .select(F.col("id").alias("term_id"), "rule"))


# ---------------------------------------------------------------------------
# trimmer (ontology_trimmer.py)
# ---------------------------------------------------------------------------


def trim_by_confidence(terms: DataFrame, rels: DataFrame,
                       min_confidence: float = 0.5) -> DataFrame:
    """Relationship trim: confidence >= t (ontology_trimmer.py:651-655)
    AND both endpoints exist among kept terms (relationship-closure filter,
    ontology_trimmer.py:629-658) — double left_semi join."""
    ids = terms.select("id")
    return (rels.filter(F.col("confidence") >= F.lit(min_confidence))
            .join(ids.withColumnRenamed("id", "subject"),
                  "subject", "left_semi")
            .join(ids.withColumnRenamed("id", "object"),
                  "object", "left_semi"))


# named custom-filter registry — the arbitrary-predicate escape hatch
# (_extract_by_custom_filter ontology_trimmer.py:418 takes a callable;
# here a registered name maps to a SQL boolean expression so the
# predicate stays inside Catalyst — codegen'd, pushdown-eligible — and
# is addressable from config/driver code by name. A genuinely
# non-expressible predicate would register a pandas_udf column instead.)
FILTER_REGISTRY: dict[str, str] = {}


def register_filter(name: str, sql_predicate: str) -> None:
    FILTER_REGISTRY[name] = sql_predicate


register_filter(
    "active_long_chemical",
    "namespace = 'chemical' AND NOT is_obsolete AND length(name) >= 8")


def apply_named_filter(df: DataFrame, name: str) -> DataFrame:
    """Filter by a registered named predicate; unknown names raise
    KeyError (a silent pass-through would claim filtering happened)."""
    return df.filter(F.expr(FILTER_REGISTRY[name]))


def extract_namespace(terms: DataFrame, namespace: str,
                      include_deprecated: bool = False) -> DataFrame:
    """Namespace projection (_extract_by_namespace ontology_trimmer.py:290)
    + obsolete filter (include_deprecated, configs/default_config.yaml:75)."""
    out = terms.filter(F.col("namespace") == namespace)
    if not include_deprecated:
        out = out.filter(~F.col("is_obsolete"))
    return out


def hierarchy_roots(terms: DataFrame, rels: DataFrame) -> DataFrame:
    """Root terms = never an is_a subject (models.py:3370-3377;
    _find_root_terms ontology_trimmer.py:697) — left_anti join."""
    isa_subjects = rels.filter(F.col("predicate") == "is_a") \
                       .select(F.col("subject").alias("id")).distinct()
    return terms.join(isa_subjects, "id", "left_anti") \
                .select("id", "name", "ontology_id")


def bfs_depths(terms: DataFrame, rels: DataFrame,
               max_iter: int = 32) -> DataFrame:
    """(id, depth) = min is_a-distance from a root — the reference's
    recursive DFS (_calculate_max_depth models.py:3359-3408) as an
    iterative frontier join by fixpoint: depth 0 at roots, each round
    children of the frontier gain depth+1 unless already labeled
    shallower. O(max depth) rounds; frontier shrinks monotonically. A
    hierarchy deeper than max_iter is a hard error (a silent cap would
    return depths missing the deepest terms).

    Reachability semantics: terms with no path from any root — e.g.
    members of an isolated is_a cycle — carry NO depth row, matching
    the reference's DFS which only walks root-reachable paths (its
    cycle guard stops, it does not invent a depth). Cycle detection is
    cycle_triads/mutual_edges' job, not this one's."""
    down = (rels.filter(F.col("predicate") == "is_a")
            .select(F.col("object").alias("parent"),
                    F.col("subject").alias("child"))
            .distinct().persist())

    def descend(new: DataFrame, _acc: DataFrame) -> DataFrame:
        return (down.join(new.withColumnRenamed("id", "parent"), "parent")
                .select(F.col("child").alias("id"),
                        (F.col("depth") + 1).alias("depth"))
                .groupBy("id").agg(F.min("depth").alias("depth")))

    try:
        return fixpoint(hierarchy_roots(terms, rels)
                        .select("id", F.lit(0).alias("depth")),
                        descend, ["id"], "bfs_depths", max_iter)
    finally:
        down.unpersist()


def max_depth(terms: DataFrame, rels: DataFrame) -> DataFrame:
    """Per-ontology max hierarchy depth (get_statistics max_depth leg,
    models.py:3359)."""
    depths = bfs_depths(terms, rels)
    return (depths
            .withColumn("ontology_id", F.substring_index("id", ":", 1))
            .groupBy("ontology_id").agg(F.max("depth").alias("max_depth")))


def dependency_closure(terms: DataFrame, rels: DataFrame,
                       seeds: DataFrame, max_iter: int = 32) -> DataFrame:
    """Ancestor closure of a seed id set over is_a — term-list extraction
    with dependency resolution (_extract_by_term_list trimmer.py:228,
    _resolve_dependencies :586-628). Frontier join by fixpoint; an
    incomplete closure would silently drop ancestors, so
    non-convergence is a hard error."""
    up = (rels.filter(F.col("predicate") == "is_a")
          .select(F.col("subject").alias("child"),
                  F.col("object").alias("parent"))
          .distinct().persist())

    def climb(new: DataFrame, _acc: DataFrame) -> DataFrame:
        return (up.join(new.withColumnRenamed("id", "child"), "child")
                .select(F.col("parent").alias("id")).distinct())

    try:
        return fixpoint(seeds.select("id").distinct(), climb, ["id"],
                        "dependency_closure", max_iter)
    finally:
        up.unpersist()


# Predicates the reference treats as hierarchical for root finding and
# hierarchy graphs (_find_root_terms ontology_trimmer.py:709,
# _build_hierarchy_graph :684)
HIERARCHICAL_PREDICATES = ("is_a", "part_of", "subclass_of", "child_of")


def _bidirectional_edges(rels: DataFrame) -> DataFrame:
    """The trimmer's UNDIRECTED relationship graph
    (_build_relationship_graph ontology_trimmer.py:658): every
    relationship row of EVERY predicate contributes both directions.
    This is deliberately broader than the is_a-only directed graphs the
    statistics operators use — the reference's dependency resolution and
    depth-limited extraction both walk this graph."""
    fwd = rels.select(F.col("subject").alias("src"),
                      F.col("object").alias("dst"))
    rev = rels.select(F.col("object").alias("src"),
                      F.col("subject").alias("dst"))
    return fwd.unionByName(rev).distinct()


def trimmer_term_list_extract(terms: DataFrame, rels: DataFrame,
                              seeds: DataFrame,
                              max_iter: int = 32) -> DataFrame:
    """Reference-exact term-list extraction with TRANSITIVE dependency
    resolution (_extract_by_term_list ontology_trimmer.py:228 +
    _resolve_dependencies :586 over the bidirectional all-predicate
    graph :658). Faithful quirks, pinned by test_reference_parity_trimmer:

      * seeds not present in the term table are dropped; OBSOLETE seeds
        are dropped (include_obsolete=False default, :253);
      * dependency terms reached by the walk are kept EVEN IF OBSOLETE —
        the reference's additional_terms path (:620-627) has no obsolete
        check;
      * the walk never traverses THROUGH a node that is not a term
        (dangling relationship endpoints are skipped, :624 membership
        guard).

    Frontier BFS by fixpoint, one equi-join per round; an incomplete
    transitive closure would silently drop dependency terms, so
    non-convergence is a hard error. At 100 TB the edge table shuffles
    once on src and is reused every round."""
    edges = _bidirectional_edges(rels).persist()
    term_ids = terms.select("id")

    def walk(new: DataFrame, _acc: DataFrame) -> DataFrame:
        return (edges.join(new.withColumnRenamed("id", "src"), "src")
                .select(F.col("dst").alias("id")).distinct()
                .join(term_ids, "id", "left_semi"))

    try:
        seen = fixpoint(seeds.select("id").distinct()
                        .join(terms.filter(~F.col("is_obsolete"))
                              .select("id"), "id", "left_semi"),
                        walk, ["id"], "trimmer_term_list_extract", max_iter)
    finally:
        edges.unpersist()
    is_seed = F.col("id").isin(
        [r["id"] for r in seeds.select("id").distinct().collect()])
    return (terms.join(seen, "id", "left_semi")
            .select("id", "name", "namespace", is_seed.alias("is_seed")))


def trimmer_relationship_extract(rels: DataFrame, extracted: DataFrame,
                                 min_confidence: float = 0.0) -> DataFrame:
    """Relationship extraction for a trimmed term set
    (_extract_relationships ontology_trimmer.py:630): keep a
    relationship iff BOTH endpoints survived the term extraction AND
    confidence >= min_confidence. Two semi-joins — the term set is
    dimension-sized, so both broadcast."""
    ids = extracted.select("id")
    return (rels
            .join(ids.withColumnRenamed("id", "subject"), "subject",
                  "left_semi")
            .join(ids.withColumnRenamed("id", "object"), "object",
                  "left_semi")
            .filter(F.col("confidence") >= F.lit(min_confidence))
            .select("id", "subject", "predicate", "object", "confidence"))


def trimmer_depth_extract(terms: DataFrame, rels: DataFrame,
                          max_depth: int) -> DataFrame:
    """Reference-exact depth-limited extraction (_extract_by_depth
    ontology_trimmer.py:342): roots default to terms that are never the
    SUBJECT of a hierarchical predicate (_find_root_terms :709 — is_a /
    part_of / subclass_of / child_of), then a FIFO BFS over the
    bidirectional ALL-predicate graph visits each term at its minimum
    distance and extracts those with depth <= max_depth. Obsolete terms
    are excluded from the OUTPUT but still traversed through (:384-390 —
    the children-enqueue is outside the obsolete else-branch). Exactly
    max_depth frontier rounds, so the loop is bounded by contract."""
    hp_subjects = (rels
                   .filter(F.col("predicate").isin(*HIERARCHICAL_PREDICATES))
                   .select(F.col("subject").alias("id")).distinct())
    roots = terms.join(hp_subjects, "id", "left_anti") \
                 .select("id", F.lit(0).alias("depth"))
    edges = _bidirectional_edges(rels).persist()
    term_ids = terms.select("id")
    labeled = roots.localCheckpoint(eager=True)
    frontier = labeled
    for _ in range(max_depth):
        nxt = (edges.join(frontier.withColumnRenamed("id", "src"), "src")
               .select(F.col("dst").alias("id"),
                       (F.col("depth") + 1).alias("depth"))
               .groupBy("id").agg(F.min("depth").alias("depth"))
               .join(term_ids, "id", "left_semi")
               .join(labeled, "id", "left_anti")
               .localCheckpoint(eager=True))
        if nxt.isEmpty():
            break
        labeled = labeled.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    edges.unpersist()
    return (terms.filter(~F.col("is_obsolete"))
            .join(labeled, "id")
            .select("id", "name", "namespace", "depth"))


def _has_directed_cycle(rels: DataFrame, max_iter: int = 32) -> DataFrame:
    """1-row (has_cycles int): Kahn peeling as joins — repeatedly drop
    edges whose source has no incoming edge; a non-empty fixpoint means
    a directed cycle exists (the reference's DFS cycle check,
    validators.py:_check_circular_dependencies, reports cycles iff this
    is 1 — its cycle COUNT is a DFS-order artifact we deliberately do
    not reproduce). O(longest acyclic chain) rounds, dimension-sized;
    a chain longer than max_iter raises rather than pass for a cycle."""
    e = (rels.select(F.col("subject").alias("src"),
                     F.col("object").alias("dst"))
         .distinct().localCheckpoint(eager=True))
    n = e.count()
    for _ in range(max_iter):
        if n == 0:
            break
        dsts = e.select(F.col("dst").alias("src")).distinct()
        e2 = e.join(dsts, "src", "left_semi").localCheckpoint(eager=True)
        n2 = e2.count()
        if n2 == n:
            break
        e, n = e2, n2
    else:
        if n:
            raise RuntimeError(
                f"_has_directed_cycle: Kahn peeling still removing edges "
                f"after max_iter={max_iter} rounds ({n} left) — raise "
                f"max_iter")
    return e.sparkSession.range(1).select(
        F.lit(1 if n > 0 else 0).alias("has_cycles"))


def validation_pipeline_report(terms: DataFrame, rels: DataFrame,
                               label: str) -> DataFrame:
    """The reference ValidationPipeline's quantitative surface
    (validators.py:462; Structural :57, Consistency :135,
    DataIntegrity :302) as pure aggregates — one row per
    (ontology, validator, metric, value), parity-pinned against the
    ACTUAL pipeline by test_reference_parity_trimmer.

    Faithful notes: orphaned_references counts (relationship, side)
    entries whose endpoint id is absent from the term table (the
    reference appends one entry per missing side, :245); duplicate-id
    errors can never fire (the reference iterates dict KEYS — unique by
    construction — and a keyed DataFrame mirrors that); total_errors
    counts the reference's MESSAGES (one per nonzero missing-component
    category), so passed_validators = 3 minus the integrity failure.
    Everything is a map-side aggregate + two anti-joins + the peeling
    loop; no driver-side iteration over rows."""
    empty = lambda c: F.coalesce(F.col(c), F.lit("")) == ""  # noqa: E731
    t = terms.agg(
        F.count("*").alias("terms_count"),
        F.sum(empty("name").cast("int")).alias("empty_names_count"),
        F.sum(empty("definition").cast("int"))
        .alias("empty_definitions_count"),
        F.sum(F.col("is_obsolete").cast("int"))
        .alias("obsolete_terms_count"))
    r = rels.agg(
        F.count("*").alias("relationships_count"),
        F.sum(empty("subject").cast("int")).alias("missing_subjects_count"),
        F.sum(empty("object").cast("int")).alias("missing_objects_count"),
        F.sum(empty("predicate").cast("int"))
        .alias("missing_predicates_count"),
        F.sum((F.col("confidence").isNotNull()
               & (F.col("confidence") < 0.5)).cast("int"))
        .alias("low_confidence_count"))
    ids = terms.select("id")
    orphans = (rels.select(F.col("subject").alias("id"))
               .join(ids, "id", "left_anti")
               .unionByName(rels.select(F.col("object").alias("id"))
                            .join(ids, "id", "left_anti"))
               .agg(F.count("*").alias("orphaned_references")))
    cyc = _has_directed_cycle(rels)
    wide = (t.unionByName(r, allowMissingColumns=True)
            .unionByName(orphans, allowMissingColumns=True)
            .unionByName(cyc, allowMissingColumns=True)
            .agg(*[F.max(c).alias(c) for c in
                   ("terms_count", "empty_names_count",
                    "empty_definitions_count", "obsolete_terms_count",
                    "relationships_count", "missing_subjects_count",
                    "missing_objects_count", "missing_predicates_count",
                    "low_confidence_count", "orphaned_references",
                    "has_cycles")]))
    err = sum(F.when(F.col(c) > 0, 1).otherwise(0) for c in
              ("missing_subjects_count", "missing_objects_count",
               "missing_predicates_count"))
    wide = wide.withColumn("total_errors", err.cast("long")) \
               .withColumn("failed_validators",
                           F.when(F.col("total_errors") > 0, 1)
                           .otherwise(0).cast("long")) \
               .withColumn("passed_validators",
                           (3 - F.col("failed_validators")).cast("long"))
    metrics = [
        ("structural", "terms_count"),
        ("structural", "relationships_count"),
        ("consistency", "orphaned_references"),
        ("consistency", "has_cycles"),
        ("integrity", "empty_names_count"),
        ("integrity", "empty_definitions_count"),
        ("integrity", "obsolete_terms_count"),
        ("integrity", "missing_subjects_count"),
        ("integrity", "missing_objects_count"),
        ("integrity", "missing_predicates_count"),
        ("integrity", "low_confidence_count"),
        ("pipeline", "passed_validators"),
        ("pipeline", "failed_validators"),
        ("pipeline", "total_errors"),
    ]
    return wide.select(F.explode(F.array(*[
        F.struct(F.lit(label).alias("ontology"),
                 F.lit(v).alias("validator"),
                 F.lit(m).alias("metric"),
                 F.col(m).cast("long").alias("value"))
        for v, m in metrics])).alias("e")).select("e.*")


def term_search(terms: DataFrame, query: str) -> DataFrame:
    """Substring search over name/definition/synonyms (find_terms,
    models.py:2812) — the theta-join-as-filter form; matched_in reports
    the first matching field, mirroring the reference's search order."""
    q = query.lower()
    name_hit = F.contains(F.lower("name"), F.lit(q))
    def_hit = F.contains(F.lower(F.coalesce("definition", F.lit(""))),
                         F.lit(q))
    syn_hit = F.exists("synonyms", lambda s: F.contains(F.lower(s), F.lit(q)))
    return (terms
            .filter(name_hit | def_hit | syn_hit)
            .select("id", "name",
                    F.when(name_hit, "name")
                     .when(def_hit, "definition")
                     .otherwise("synonym").alias("matched_in")))


# ---------------------------------------------------------------------------
# integrator (ontology_integrator.py)
# ---------------------------------------------------------------------------


def merge_union(source_a: DataFrame, source_b: DataFrame) -> DataFrame:
    """Union merge with priority conflict resolution
    (_merge_union ontology_integrator.py:246; PRIORITY strategy :435):
    same id in both -> higher-priority source wins; window row_number
    replaces the reference's per-id dict probing."""
    a = source_a.withColumn("priority", F.lit(1)) \
                .withColumn("src", F.lit("A"))
    b = source_b.withColumn("priority", F.lit(2)) \
                .withColumn("src", F.lit("B"))
    w = Window.partitionBy("id").orderBy(F.desc("priority"), F.asc("src"))
    return (a.unionByName(b)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn", "priority"))


def merge_selective(source_a: DataFrame, source_b: DataFrame,
                    namespaces: list[str]) -> DataFrame:
    """Selective merge (_merge_selective ontology_integrator.py:416):
    union merge restricted to terms whose namespace is in the selected
    set — filter pushes below the union/dedup, so only selected rows
    ever shuffle."""
    keep = F.col("namespace").isin(*namespaces)
    return merge_union(source_a.filter(keep), source_b.filter(keep))


def merge_intersection(source_a: DataFrame, source_b: DataFrame) -> DataFrame:
    """Intersection merge (_merge_intersection ontology_integrator.py:321):
    keep only ids present in every source, KEEP_FIRST resolution (source
    A's row). groupBy-count beats chained intersect (one shuffle)."""
    # distinct per source first: an id duplicated WITHIN one source must
    # not count as present in both (the 'ids present in all sources'
    # contract breaks exactly on the dirty-input case)
    common = (source_a.select("id").distinct()
              .unionByName(source_b.select("id").distinct())
              .groupBy("id").agg(F.count("*").alias("n"))
              .filter(F.col("n") >= 2)
              .select("id"))
    return source_a.join(common, "id", "left_semi") \
                   .withColumn("src", F.lit("A"))


# ---------------------------------------------------------------------------
# inverse edges (get_inverse, models.py:1576-1631)
# ---------------------------------------------------------------------------


def expand_inverse_edges(rels: DataFrame) -> DataFrame:
    """Emit inverse rows (swap subject/object, map predicate, id prefixed
    INV — models.py:1625-1631); non-invertible predicates (is_a) pass
    through only forward."""
    items = []
    for k, v in sorted(INVERSE_PREDICATES.items()):
        items.extend([F.lit(k), F.lit(v)])
    inv_map = F.create_map(*items)
    base = rels.select("id", "subject", "predicate", "object", "confidence")
    inv = (base
           .withColumn("inv_pred", inv_map[F.col("predicate")])
           .filter(F.col("inv_pred").isNotNull())
           .select(
               F.concat(F.lit("INV"), F.col("id")).alias("id"),
               F.col("object").alias("subject"),
               F.col("inv_pred").alias("predicate"),
               F.col("subject").alias("object"),
               "confidence"))
    return base.unionByName(inv)


# ---------------------------------------------------------------------------
# per-triple semantic + domain validation
# (Relationship.validate_predicate_semantics, models.py:1107-1315;
#  Relationship.validate_domain_constraints, models.py:1317-1452)
# ---------------------------------------------------------------------------


def _prefix(col: str) -> Column:
    """Namespace prefix, '' when the id has no colon (the reference's
    `x.split(':')[0] if ':' in x else ''`)."""
    return F.when(F.col(col).contains(":"),
                  F.substring_index(col, ":", 1)).otherwise(F.lit(""))


def triple_semantics_check(triples: DataFrame) -> DataFrame:
    """Per-triple validation verdicts against the closed rule tables:

      semantic_ok — (subject_prefix, object_prefix) is an allowed combo
        for the predicate (SEMANTIC_RULES); predicates outside the map
        accept any pair of non-empty prefixes; empty/null predicate,
        subject, or object fails.
      domain_ok — object_prefix allowed for (subject_prefix, predicate)
        (DOMAIN_RULES, flattened); keys outside the map default True.

    Both checks compile to literal IN-list predicates over the closed
    sets (~50 and ~60 keys) — pure whole-stage-codegen row expressions:
    zero joins, zero exchanges added to whatever plan produced the
    triples. At 100 TB this is the shape you want for per-row rule
    validation (the rule tables are genuinely constant-sized; a rules
    DIMENSION table would broadcast-join to the same effect but cost a
    build-side exchange)."""
    sp, op = _prefix("subject"), _prefix("object")
    nonempty = (F.col("predicate").isNotNull() & (F.col("predicate") != "")
                & F.col("subject").isNotNull() & (F.col("subject") != "")
                & F.col("object").isNotNull() & (F.col("object") != ""))
    sem_combo = F.concat_ws("|", F.col("predicate"), sp, op)
    sem_keys = [f"{p}|{s}|{o}"
                for p, pairs in sorted(SEMANTIC_RULES.items())
                for s, o in pairs]
    semantic_ok = F.when(
        ~nonempty, F.lit(False)
    ).when(
        F.col("predicate").isin(*sorted(SEMANTIC_RULES)),
        sem_combo.isin(*sem_keys)
    ).otherwise((sp != "") & (op != ""))
    dom_key = F.concat_ws("|", sp, F.col("predicate"))
    dom_combo = F.concat_ws("|", sp, F.col("predicate"), op)
    dom_defined = [f"{s}|{p}" for s, p in sorted(DOMAIN_RULES)]
    dom_allowed = [f"{s}|{p}|{o}"
                   for (s, p), objs in sorted(DOMAIN_RULES.items())
                   for o in objs]
    domain_ok = F.when(
        ~nonempty, F.lit(False)
    ).when(
        dom_key.isin(*dom_defined), dom_combo.isin(*dom_allowed)
    ).otherwise(F.lit(True))
    return triples.select(
        "doc_id", "subject", "predicate", "object",
        semantic_ok.cast("int").alias("semantic_ok"),
        domain_ok.cast("int").alias("domain_ok"))


def shacl_validate(store: DataFrame) -> DataFrame:
    """SHACL-core shape validation over the (subject, predicate,
    object, object_type) store — the AGGREGATE-level QC the per-row
    rules (triple_semantics_check) cannot express. For each shape in
    SHACL_SHAPES, emit one violation row per (focus subject, path):

      check_kind = 'maxCount'  — the focus holds MORE distinct values
                                 of the path than sh:maxCount,
      check_kind = 'minCount'  — a focus node (any subject in the
                                 store) holds FEWER than sh:minCount,
      check_kind = 'nodeKind'  — `observed` path values whose node kind
                                 differs from sh:nodeKind (allowed=0).

    Columns: (subject, predicate, check_kind, observed, allowed).

    Scale shape: one distinct + one map-side-combinable groupBy on
    (subject, predicate) build the per-focus counts; the shape spec is
    a genuine constant dimension (broadcast join — unlike the IN-list
    compilation in triple_semantics_check, counts must exist before
    the rule applies, so a join keyed by the corpus-sized count frame
    is the right shape); minCount needs every focus x required-path
    combination, i.e. a crossJoin against the BOUNDED required-shape
    set (|shapes with minCount>0| rows — the sanctioned bounded scalar
    NLJ, collocations precedent) followed by a keyed left join onto
    the counts. No windows, no corpus self-join."""
    spark = store.sparkSession
    shapes = spark.createDataFrame(
        [(p, mn, mx, nk)
         for p, (mn, mx, nk) in sorted(SHACL_SHAPES.items())],
        "predicate string, min_count bigint, max_count bigint, "
        "node_kind string")
    base = (store.select("subject", "predicate", "object", "object_type")
            .distinct()
            .localCheckpoint(eager=True))
    counts = (base.groupBy("subject", "predicate")
              .agg(F.count("*").alias("observed")))
    over = (counts.join(F.broadcast(shapes), "predicate")
            .filter(F.col("observed") > F.col("max_count"))
            .select("subject", "predicate",
                    F.lit("maxCount").alias("check_kind"),
                    "observed", F.col("max_count").alias("allowed")))
    focus = base.select("subject").distinct()
    required = shapes.filter(F.col("min_count") > 0)
    under = (focus.crossJoin(F.broadcast(required))
             .join(counts, ["subject", "predicate"], "left")
             .filter(F.coalesce("observed", F.lit(0))
                     < F.col("min_count"))
             .select("subject", "predicate",
                     F.lit("minCount").alias("check_kind"),
                     F.coalesce("observed", F.lit(0)).alias("observed"),
                     F.col("min_count").alias("allowed")))
    badkind = (base.join(F.broadcast(shapes), "predicate")
               .filter(F.col("object_type") != F.col("node_kind"))
               .groupBy("subject", "predicate")
               .agg(F.count("*").alias("observed"))
               .select("subject", "predicate",
                       F.lit("nodeKind").alias("check_kind"), "observed",
                       F.lit(0).cast("bigint").alias("allowed")))
    return over.unionByName(under).unionByName(badkind)


def infer_entity_types(triples: DataFrame) -> DataFrame:
    """Constraint-intersection entity-type inference from predicate
    signatures (RDFS domain/range entailment over the closed
    SEMANTIC_RULES table): an entity's candidate types are those
    admissible in EVERY (predicate, role) context it appears in — the
    intersection semantics, since an entity must satisfy all of its
    contexts simultaneously, not a plurality of them. The inferred
    type is the lexicographically smallest candidate; n_candidates
    counts the intersection (1 = the signature pins the type,
    >1 = genuinely ambiguous under the rule vocabulary); if the
    intersection is empty (non-conforming data) the type admissible
    in the most contexts wins. Checked against the CURIE-prefix
    ground truth — the schema-less-ingest bootstrap, typing entities
    BEFORE an ontology is attached. The `correct` column doubles as
    an extraction-conformance meter: when the corpus violates the
    rule vocabulary (the rows triple_semantics flags), pinned-but-
    wrong types measure exactly that violation rate.

    Shapes: the admissibility table is a constant dimension (~60
    rows) broadcast against the DISTINCT (entity, predicate, role)
    contexts; intersection = per-(entity, type) context count
    equal to the entity's context total — two map-side-combinable
    aggregates and one equi-join, window-free."""
    rows = []
    for p, prs in sorted(SEMANTIC_RULES.items()):
        for s_t in sorted({s for s, _ in prs}):
            rows.append((p, "s", s_t))
        for o_t in sorted({o for _, o in prs}):
            rows.append((p, "o", o_t))
    votes_dim = triples.sparkSession.createDataFrame(
        rows, "predicate string, role string, vtype string")
    ends = (triples.select(F.col("subject").alias("entity"),
                           "predicate", F.lit("s").alias("role"))
            .unionByName(
                triples.select(F.col("object").alias("entity"),
                               "predicate", F.lit("o").alias("role")))
            .distinct())
    m = ends.groupBy("entity").agg(
        F.count("*").cast("bigint").alias("n_contexts"))
    k = (ends.join(F.broadcast(votes_dim), ["predicate", "role"])
         .groupBy("entity", "vtype")
         .agg(F.count("*").cast("bigint").alias("k")))
    best_k = k.groupBy("entity").agg(F.max("k").alias("k"))
    inferred = (k.join(best_k, ["entity", "k"])
                .groupBy("entity")
                .agg(F.min("vtype").alias("inferred_type"),
                     F.min("k").alias("k")))
    cand = (k.join(m, "entity")
            .filter(F.col("k") == F.col("n_contexts"))
            .groupBy("entity")
            .agg(F.count("*").cast("bigint").alias("n_candidates")))
    return (inferred.join(m, "entity")
            .join(cand, "entity", "left")
            .select(
                "entity", "inferred_type", "n_contexts",
                F.coalesce("n_candidates", F.lit(0)).cast("bigint")
                .alias("n_candidates"),
                F.substring_index("entity", ":", 1).alias("actual_prefix"),
                (F.col("inferred_type")
                 == F.substring_index("entity", ":", 1)).alias("correct")))


def shortest_path_counts(terms: DataFrame, rels: DataFrame,
                         max_iter: int = 32) -> DataFrame:
    """(id, depth, n_paths): the number of distinct SHORTEST is_a
    paths from any root to each root-reachable term — the sigma of
    Brandes' betweenness and the redundancy meter for multi-parent
    DAGs (n_paths > 1 at depth d means the term is reachable through
    several equally-shallow parent chains). Restricting to shortest
    paths keeps the count finite even if the relationship table
    carries cycles (cycle members past the BFS frontier simply never
    enter the level DAG).

    Level-synchronous DP over the BFS level graph: keep only edges
    where depth(child) == depth(parent) + 1, seed roots with 1, then
    sigma(child) = sum of sigma(parent) one level at a time — the
    bfs_depths frontier loop with sum instead of min, O(max depth)
    rounds, every round an equi-join + map-side-combinable sum, run by
    fixpoint (a silent cap would under-count paths). Its anti-join on
    id removes nothing: the level graph puts each id at one depth."""
    depths = bfs_depths(terms, rels, max_iter).localCheckpoint(eager=True)
    down = (rels.filter(F.col("predicate") == "is_a")
            .select(F.col("object").alias("parent"),
                    F.col("subject").alias("child"))
            .distinct())
    lv = (down
          .join(depths.select(F.col("id").alias("parent"),
                              F.col("depth").alias("dp")), "parent")
          .join(depths.select(F.col("id").alias("child"),
                              F.col("depth").alias("dc")), "child")
          .filter(F.col("dc") == F.col("dp") + 1)
          .select("parent", "child")
          .localCheckpoint(eager=True))
    out = fixpoint(
        depths.filter(F.col("depth") == 0)
        .select("id", F.lit(1).cast("bigint").alias("n_paths")),
        lambda new, _acc: (
            lv.join(new.withColumnRenamed("id", "parent"), "parent")
            .groupBy(F.col("child").alias("id"))
            .agg(F.sum("n_paths").cast("bigint").alias("n_paths"))),
        ["id"], "shortest_path_counts", max_iter)
    return out.join(depths, "id").select("id", "depth", "n_paths")


# owl:disjointWith declarations between the four namespace roots
# (canonicalized a < b), plus planted probe terms: DIS:dual sits under
# TWO disjoint roots (a genuine violation), DIS:clean under one (the
# negative control) — same planted-fixture discipline as PLANTED_CYCLE.
DISJOINT_ROOT_DECLS = [
    ("CHEBI:10001", "GO:20001"), ("CHEBI:10001", "PO:30001"),
    ("CHEBI:10001", "TAXON:40001"), ("GO:20001", "PO:30001"),
    ("GO:20001", "TAXON:40001"), ("PO:30001", "TAXON:40001"),
]
PLANTED_DISJOINT = [
    ("DIS:dual", "CHEBI:10005"), ("DIS:dual", "GO:20004"),
    ("DIS:clean", "CHEBI:10006"),
]
DISJ_MAX_ROUNDS = 24


def disjointness_audit(edges, decls=DISJOINT_ROOT_DECLS,
                       max_rounds: int = DISJ_MAX_ROUNDS):
    """owl:disjointWith consistency check: a term subsumed (via is_a*)
    under BOTH roots of a declared-disjoint pair is inconsistent — the
    reasoner-grade ontology QC beyond per-triple domain checks
    (triple_semantics_check validates single edges; this one needs the
    CLOSURE). Emits (node, root_a, root_b) per violated declaration.

    Reflexive-transitive ancestor closure (node, anc), the one
    ancestor_closure builds (by fixpoint; a hierarchy deeper than
    max_rounds raises), then the per-node ancestor pair set joins the
    declaration list. Closure state is O(nodes x depth) — the
    ontology-hierarchy bound, not the corpus; the decls join is
    dimension-sized."""
    up = edges.select(F.col("src").alias("child"),
                      F.col("dst").alias("parent"))
    nodes = (up.select(F.col("child").alias("id"))
             .unionByName(up.select(F.col("parent").alias("id")))
             .distinct())
    anc = _ancestors(nodes, up, "disjointness_audit", max_rounds)
    d = edges.sparkSession.createDataFrame(
        list(decls), "root_a string, root_b string")
    x = anc.select(F.col("id").alias("node"), F.col("anc").alias("root_a"))
    y = anc.select(F.col("id").alias("n2"), F.col("anc").alias("anc_b"))
    return (x.join(F.broadcast(d), "root_a")
            .join(y, (F.col("node") == F.col("n2"))
                  & (F.col("anc_b") == F.col("root_b")))
            .select("node", "root_a", "root_b")
            .distinct())
