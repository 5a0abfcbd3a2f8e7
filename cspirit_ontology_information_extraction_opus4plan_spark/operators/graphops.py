"""Graph analytics over the emitted triple store — the serving-side KG
queries a construction pipeline runs after materialization: triangle /
clustering-coefficient statistics (how clique-y is the extracted graph),
k-hop neighborhood sizes (entity context radius for GNN sampling), and
fixed-iteration PageRank (entity salience for ranking linked candidates).

The reference's graph surface is hierarchy-only (ancestor closure /
depth walks, ontology_trimmer.py:586-628); BASELINE.json's north_star
adds the canonical graph table as a first-class product, and these are
the standard analytics users run ON that product. All three are pure
DataFrame compositions — shuffle equi-joins plus map-side-combinable
aggregates, no Python on the hot path, no windows over the full graph.

Scale notes (10^12-doc corpus => 10^8-10^9 node graph):
  * triangle counting uses the degree-ordered orientation (each
    undirected edge directed from its lower-(degree, id) endpoint), so
    every wedge is generated at its lowest-degree apex — the classic
    bound that keeps hub vertices from materializing deg^2 wedge rows
    (a 10^6-degree hub would otherwise emit 10^12 wedges; oriented, its
    out-degree is bounded by its rank among neighbors).
  * 2-hop counts expand one frontier join then aggregate distinct —
    the shape GraphFrames' motif 'a-b; b-c' compiles to; the per-hop
    distinct is a map-side-combinable dedup on (node, reached).
  * PageRank unrolls a FIXED iteration count with the rank frame
    persisted per round (each round reads the previous exactly twice:
    contribution join + carry), contributions flow along the edge
    equi-join on src and reduce with a map-side-combinable sum on dst.
    Dangling mass leaks (documented) — identical semantics on the
    DuckDB oracle side, so the contract is explicit.
"""

from __future__ import annotations

from functools import reduce

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..ontology_data import INVERSE_PREDICATES
from ..session import local_df
from . import localgraph
from .fixpoint import fixpoint

__all__ = ["undirected_entity_edges", "triangle_stats", "ffl_motifs",
           "two_hop_counts", "pagerank_fixed", "predicate_path_stats",
           "degree_histogram", "kcore_peel", "label_propagation",
           "neighbor_jaccard", "adamic_adar_links",
           "predicate_cardinality", "bfs_distances", "bgp_conjunctive",
           "inverse_consistency"]

PR_DAMPING = 0.85
PR_ITER = 3
HITS_ITER = 3
KCORE_K = 2
KCORE_ROUNDS = 3
LPA_ITER = 2
NJ_MID_CAP = 10_000
NJ_MIN_SHARED = 2


def _sym(edges: DataFrame) -> DataFrame:
    """Undirected (src < dst) edge list -> both-direction adjacency."""
    return edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def undirected_entity_edges(triples: DataFrame) -> DataFrame:
    """Deduped triple store -> distinct undirected entity edges
    (src < dst), uri endpoints only (literals are not graph vertices),
    self-loops dropped. One shuffle (the distinct)."""
    return (triples
            .filter((F.col("subject_type") == "uri")
                    & (F.col("object_type") == "uri")
                    & (F.col("subject") != F.col("object")))
            .select(F.least("subject", "object").alias("src"),
                    F.greatest("subject", "object").alias("dst"))
            .distinct())


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Undirected edges (src < dst, distinct) -> per-node
    (node, degree, n_triangles, clustering) with the local clustering
    coefficient 2T / (deg * (deg-1)) (0 when deg < 2).

    Degree-ordered orientation: direct each edge from the endpoint with
    the smaller (degree, id) to the larger; a triangle {u,v,w} is then
    found exactly once, as the wedge at its minimum-rank vertex closed
    by the oriented (v, w) edge. Joins are equi-joins on node ids; the
    wedge self-join key is the apex, whose oriented out-degree is
    O(sqrt(m)) — hub-safe.

    The edge frame is read by degree, orientation and closing branches;
    eager localCheckpoint materializes it once so a deep upstream plan
    (the full extraction pipeline) never re-executes per branch."""
    edges = edges.localCheckpoint(eager=True)
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = sym.groupBy("src").agg(F.count("*").alias("deg")) \
             .withColumnRenamed("src", "node")

    e = (edges
         .join(deg.toDF("src", "dsrc"), "src")
         .join(deg.toDF("dst", "ddst"), "dst"))
    fwd = (F.col("dsrc") < F.col("ddst")) | (
        (F.col("dsrc") == F.col("ddst")) & (F.col("src") < F.col("dst")))
    oriented = e.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("v"),
        F.when(fwd, F.col("ddst")).otherwise(F.col("dsrc")).alias("dv"))
    # three readers (wedge left, wedge right, closing edge): materialize
    # the oriented edge list once rather than re-running its two
    # degree joins per branch
    oriented = oriented.localCheckpoint(eager=True)

    a = oriented.toDF("u", "v", "dv")
    b = oriented.toDF("u", "w", "dw")
    # order the wedge's two heads by the SAME (degree, id) rank the
    # orientation used, so the closing edge is findable as v -> w
    wedges = (a.join(b, "u")
              .filter((F.col("dv") < F.col("dw"))
                      | ((F.col("dv") == F.col("dw"))
                         & (F.col("v") < F.col("w")))))
    closing = oriented.select(F.col("u").alias("v"),
                              F.col("v").alias("w"))
    tris = wedges.join(closing, ["v", "w"]).select("u", "v", "w")

    per_node = (tris
                .select(F.explode(F.array("u", "v", "w")).alias("node"))
                .groupBy("node").agg(F.count("*").alias("n_triangles")))
    return (deg.join(per_node, "node", "left")
            .select("node", F.col("deg").alias("degree"),
                    F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
                    F.round(
                        F.when(F.col("deg") >= 2,
                               2.0 * F.coalesce("n_triangles", F.lit(0))
                               / (F.col("deg") * (F.col("deg") - 1)))
                        .otherwise(F.lit(0.0)), 6).alias("clustering")))


def key_candidate_profile(triples: DataFrame) -> DataFrame:
    """Schema discovery over the emitted store: per predicate, how
    functional (one object per subject) and inverse-functional (one
    subject per object — owl:InverseFunctionalProperty, the identity-
    resolution key OWL reasons with) the data actually is. Emits
    (predicate, n_subjects, n_objects, func_frac, invfunc_frac,
    functional, inverse_functional) — the flags compare INTEGER counts
    (single == total), so no float threshold can flip across engines.

    Shape: distinct (s, p, o) once, then two map-side-combinable
    two-level aggregates (per (p, s) and per (p, o) fan-outs, each
    rolled up per predicate) joined on the predicate dimension."""
    e = (triples.select("subject", "predicate", "object").distinct()
         .localCheckpoint(eager=True))
    so = (e.groupBy("predicate", "subject")
          .agg(F.count("*").alias("fan"))
          .groupBy("predicate")
          .agg(F.count("*").cast("bigint").alias("n_subjects"),
               F.sum(F.when(F.col("fan") == 1, 1).otherwise(0))
               .cast("bigint").alias("subj_single")))
    os_ = (e.groupBy("predicate", "object")
           .agg(F.count("*").alias("fan"))
           .groupBy("predicate")
           .agg(F.count("*").cast("bigint").alias("n_objects"),
                F.sum(F.when(F.col("fan") == 1, 1).otherwise(0))
                .cast("bigint").alias("obj_single")))
    return (so.join(os_, "predicate")
            .select("predicate", "n_subjects", "n_objects",
                    F.round(F.try_divide(
                        F.col("subj_single").cast("double"),
                        F.col("n_subjects")), 6).alias("func_frac"),
                    F.round(F.try_divide(
                        F.col("obj_single").cast("double"),
                        F.col("n_objects")), 6).alias("invfunc_frac"),
                    (F.col("subj_single") == F.col("n_subjects"))
                    .alias("functional"),
                    (F.col("obj_single") == F.col("n_objects"))
                    .alias("inverse_functional")))


def ffl_motifs(triples: DataFrame) -> DataFrame:
    """Deduped triple store -> labeled feed-forward-loop census:
    (p_ab, p_bc, p_ac, n_motifs) counting directed triads
    a -p_ab-> b, b -p_bc-> c, a -p_ac-> c per predicate combination.
    The FFL is the characteristic motif of regulatory networks (the
    reference's regulates/upregulates/downregulates vocabulary,
    models.py:1002-1026); its census is the standard structural QC on
    an extracted interaction graph — asserted shortcut edges (a
    directly relates to c AND via b) are either redundancy to prune or
    the enrichment signal a curator reviews.

    Distinct uri-only labeled edges, self-loops dropped per-edge,
    a <> c enforced on the closing join (a <> b, b <> c hold per-edge).
    Shape: wedge equi-join on the shared midpoint b, closed by an
    equi-join on (a, c) — the GraphFrames 'a-e1->b; b-e2->c; a-e3->c'
    motif plan. The wedge at a hub midpoint is in-deg x out-deg; AQE
    skew-join splits those partitions (no salting needed because the
    join is a plain equi-join, not an aggregate), and the closing join
    prunes to asserted shortcuts before the only aggregate. The edge
    frame is read three times — eager localCheckpoint materializes the
    upstream extraction pipeline once."""
    e = (triples
         .filter((F.col("subject_type") == "uri")
                 & (F.col("object_type") == "uri")
                 & (F.col("subject") != F.col("object")))
         .select("subject", "predicate", "object")
         .distinct()
         .localCheckpoint(eager=True))
    ab = e.toDF("a", "p_ab", "b")
    bc = e.toDF("b", "p_bc", "c")
    ac = e.toDF("a", "p_ac", "c")
    return (ab.join(bc, "b")
            .filter(F.col("a") != F.col("c"))
            .join(ac, ["a", "c"])
            .groupBy("p_ab", "p_bc", "p_ac")
            .agg(F.count("*").alias("n_motifs")))


def two_hop_counts(edges: DataFrame) -> DataFrame:
    """Undirected edges -> (node, n_1hop, n_2hop): distinct neighbors at
    distance exactly 1 and at distance <= 2 (self excluded). One frontier
    expansion join + a distinct-count aggregate — the GNN-sampler sizing
    probe (how big is each entity's 2-hop context). Eager checkpoint on
    the input: sym is read three times (both sides of the frontier join
    + the 1-hop count)."""
    edges = edges.localCheckpoint(eager=True)
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    hop2 = (sym.toDF("src", "mid")
            .join(sym.toDF("mid", "dst"), "mid")
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst"))
    reach = sym.unionByName(hop2).distinct()
    one = sym.groupBy("src").agg(F.count("*").alias("n_1hop"))
    both = reach.groupBy("src").agg(F.count("*").alias("n_2hop"))
    return (one.join(both, "src")
            .select(F.col("src").alias("node"), "n_1hop", "n_2hop"))


def predicate_path_stats(triples: DataFrame) -> DataFrame:
    """Relation-composition mining (the SPARQL property-path shape
    `?a p1/p2 ?c`, aggregated): for every ordered predicate pair, how
    many 2-hop paths compose through a shared mid entity and how many
    distinct (start, end) pairs they connect — the schema-discovery
    probe that surfaces candidate rule patterns (e.g. located_in ∘
    part_of) for KG completion.

    One self-equi-join on the mid entity + a map-side-combinable
    aggregate on the (p1, p2) pair; the distinct endpoint count is a
    two-level aggregate (exact, not approx, so the oracle matches).
    Cycles through the start node (a == c) are excluded — those are
    inverse-pair artifacts, not composition evidence."""
    e = (triples
         .filter((F.col("subject_type") == "uri")
                 & (F.col("object_type") == "uri")
                 & (F.col("subject") != F.col("object")))
         .select("subject", "predicate", "object")
         .distinct()
         .localCheckpoint(eager=True))  # both sides of the path join
    a = e.toDF("a", "p1", "mid")
    b = e.toDF("mid", "p2", "c")
    paths = (a.join(b, "mid")
             .filter(F.col("a") != F.col("c")))
    return (paths.groupBy("p1", "p2")
            .agg(F.count("*").alias("n_paths"),
                 F.countDistinct(F.concat_ws("|", "a", "c"))
                 .alias("n_endpoint_pairs"),
                 F.countDistinct("mid").alias("n_mids")))


def pagerank_fixed(triples: DataFrame,
                   n_iter: int = PR_ITER,
                   damping: float = PR_DAMPING) -> DataFrame:
    """Deduped triple store -> (node, pagerank) after a FIXED number of
    synchronous iterations on the directed (subject -> object) entity
    graph: pr_{k+1}(v) = (1-d)/N + d * sum_{(u,v)} pr_k(u) / outdeg(u),
    pr_0 = 1/N. Dangling nodes leak their mass (no redistribution) —
    the contract is fixed-iteration and deterministic, NOT
    converged-to-epsilon, so the DuckDB oracle can unroll the identical
    recurrence. N is a scalar aggregate (one driver long, never a
    collect of rows). Values rounded to 6 places."""
    ed = (triples
          .filter((F.col("subject_type") == "uri")
                  & (F.col("object_type") == "uri")
                  & (F.col("subject") != F.col("object")))
          .select(F.col("subject").alias("s"), F.col("object").alias("o"))
          .distinct()
          # read by nodes, outdeg and the contribution join — truncate
          # the upstream extraction plan once instead of 3x
          .localCheckpoint(eager=True))
    nodes = (ed.select(F.col("s").alias("n"))
             .unionByName(ed.select(F.col("o").alias("n")))
             .distinct()
             .persist())
    n_total = nodes.count()
    outdeg = ed.groupBy("s").agg(F.count("*").alias("odeg"))
    contrib_edges = ed.join(outdeg, "s").persist()

    pr = nodes.select("n", F.lit(1.0 / n_total).alias("pr"))
    base = (1.0 - damping) / n_total
    for _ in range(n_iter):
        c = (contrib_edges
             .join(pr.withColumnRenamed("n", "s"), "s")
             .groupBy("o")
             .agg(F.sum(F.col("pr") / F.col("odeg")).alias("mass")))
        nxt = (nodes.join(c.withColumnRenamed("o", "n"), "n", "left")
               .select("n", (F.lit(base) + damping
                             * F.coalesce("mass", F.lit(0.0))).alias("pr"))
               .persist())
        nxt.count()  # materialize before dropping the previous round
        pr.unpersist()
        pr = nxt
    out = pr.select(F.col("n").alias("node"),
                    F.round("pr", 6).alias("pagerank"))
    nodes.unpersist()
    contrib_edges.unpersist()
    return out


def hits_fixed(triples: DataFrame, n_iter: int = HITS_ITER) -> DataFrame:
    """Deduped triple store -> (node, hub, authority) after a FIXED
    number of synchronous HITS iterations on the directed
    (subject -> object) entity graph: a_{k+1}(v) = sum_{(u,v)} h_k(u),
    h_{k+1}(u) = sum_{(u,v)} a_{k+1}(v), each sum-normalized to 1;
    h_0 = 1/N. Complements pagerank_fixed: authorities rank well-
    attested TARGET entities, hubs rank entities that point at them —
    the two-sided salience probe for relation-extraction QC.

    Same deterministic contract and scale shape as pagerank_fixed:
    fixed iterations (oracle unrolls the identical recurrence), edges
    localCheckpointed once, per-iteration work = two equi-joins + two
    map-side-combinable group sums. The sum-normalizers ride along as
    1-row aggregates joined back on a constant key (a broadcast hash
    join, never a nested loop), so one iteration is ONE materializing
    Spark job — the previous shape collected each normalizer to the
    driver and counted each vector separately, six jobs per iteration,
    and fixed job-scheduling overhead dominated the tiny-SF wall clock
    (the arithmetic v/total is unchanged, so values are identical).
    Values rounded to 6 places (group-sum order noise ~1e-14
    relative)."""
    if n_iter < 1:
        raise ValueError("hits_fixed requires n_iter >= 1")
    ed = (triples
          .filter((F.col("subject_type") == "uri")
                  & (F.col("object_type") == "uri")
                  & (F.col("subject") != F.col("object")))
          .select(F.col("subject").alias("s"), F.col("object").alias("o"))
          .distinct()
          .localCheckpoint(eager=True))
    nodes = (ed.select(F.col("s").alias("n"))
             .unionByName(ed.select(F.col("o").alias("n")))
             .distinct()
             .persist())
    n_total = nodes.count()

    cur = nodes.select("n", F.lit(1.0 / n_total).alias("h"))
    checkpointed = False
    for _ in range(n_iter):
        ar = (ed.join(cur.select(F.col("n").alias("s"), "h"), "s")
              .groupBy("o").agg(F.sum("h").alias("av")))
        ta = ar.agg(F.sum("av").alias("ta")).withColumn("_j", F.lit(1))
        a_nxt = (nodes.join(ar.withColumnRenamed("o", "n"), "n", "left")
                 .withColumn("_j", F.lit(1))
                 .join(F.broadcast(ta), "_j")
                 .select("n", (F.coalesce("av", F.lit(0.0)) / F.col("ta"))
                         .alias("a")))
        hr = (ed.join(a_nxt.select(F.col("n").alias("o"), "a"), "o")
              .groupBy("s").agg(F.sum("a").alias("hv")))
        th = hr.agg(F.sum("hv").alias("th")).withColumn("_j", F.lit(1))
        nxt = (a_nxt.join(hr.withColumnRenamed("s", "n"), "n", "left")
               .withColumn("_j", F.lit(1))
               .join(F.broadcast(th), "_j")
               .select("n", (F.coalesce("hv", F.lit(0.0)) / F.col("th"))
                       .alias("h"), "a")
               .localCheckpoint(eager=True))
        if checkpointed:  # nxt is materialized; this round's input frees
            cur.unpersist()
        cur, checkpointed = nxt, True
    out = cur.select(F.col("n").alias("node"),
                     F.round("h", 6).alias("hub"),
                     F.round("a", 6).alias("authority"))
    nodes.unpersist()
    return out


def degree_histogram(edges: DataFrame) -> DataFrame:
    """Log2-bucketed degree distribution of the entity graph — the
    power-law probe that sizes hub handling (salting buckets, wedge
    orientation) before the heavy analytics run. Bucket = floor(log2
    degree), computed INTEGER-exactly as len(bin(degree)) - 1 so the
    engine and the oracle can never disagree at power-of-two edges
    (float log2(8) is 2.999... in some libms). Two map-side-combinable
    aggregates, nothing corpus-sized on the driver."""
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
    b = (F.length(F.bin("deg")) - 1).cast("int")
    return (deg.groupBy(b.alias("bucket"))
            .agg(F.count("*").alias("n_nodes"),
                 F.min("deg").alias("min_degree"),
                 F.max("deg").alias("max_degree")))


def kcore_peel(edges: DataFrame,
               k: int = KCORE_K,
               rounds: int = KCORE_ROUNDS) -> DataFrame:
    """Fixed-round k-core peeling over the undirected entity graph ->
    (node, peel_round, core_degree): the onion-decomposition probe that
    separates the KG's dense core (well-attested entities) from its
    sparse fringe (single-mention extractions) before expensive
    analytics or embedding training run on it.

    Each round recomputes degrees on the surviving subgraph and removes
    every node with degree < k; `peel_round` is the 1-based round a node
    was removed in (0 = survived all rounds), `core_degree` its degree
    in the final surviving subgraph (0 when peeled). Like
    pagerank_fixed, the contract is FIXED-ROUND and deterministic — not
    converged-to-empty — so the DuckDB oracle unrolls the identical
    recurrence; at the default k=2 three rounds already strip pendant
    chains of length <= 3, the dominant fringe shape in extraction
    graphs.

    Scale shape: per round one map-side-combinable degree aggregate plus
    two semi-joins on node id to trim the edge list — O(rounds)
    shuffles, nothing driver-sized, no windows. The survivor set shrinks
    monotonically, so later rounds cost less, and each round's frames
    are localCheckpointed (read by both the edge trim and the next
    round's degree pass) to keep the unrolled plan flat."""
    edges = edges.localCheckpoint(eager=True)
    nodes0 = (_sym(edges).select(F.col("src").alias("node")).distinct()
              .localCheckpoint(eager=True))
    cur = edges
    survivors = nodes0
    peeled = None
    for i in range(1, rounds + 1):
        deg = (_sym(cur).groupBy("src").agg(F.count("*").alias("d"))
               .withColumnRenamed("src", "node"))
        scored = (survivors.join(deg, "node", "left")
                  .select("node", F.coalesce("d", F.lit(0)).alias("d")))
        dropped = (scored.filter(F.col("d") < k)
                   .select("node", F.lit(i).alias("peel_round")))
        keep = (scored.filter(F.col("d") >= k).select("node")
                .localCheckpoint(eager=True))
        peeled = dropped if peeled is None else peeled.unionByName(dropped)
        cur = (cur
               .join(keep.withColumnRenamed("node", "src"), "src",
                     "left_semi")
               .join(keep.withColumnRenamed("node", "dst"), "dst",
                     "left_semi")
               .localCheckpoint(eager=True))
        survivors = keep
    fdeg = (_sym(cur).groupBy("src").agg(F.count("*").alias("cd"))
            .withColumnRenamed("src", "node"))
    return (nodes0
            .join(peeled, "node", "left")
            .join(fdeg, "node", "left")
            .select("node",
                    F.coalesce("peel_round", F.lit(0)).cast("int")
                    .alias("peel_round"),
                    F.coalesce("cd", F.lit(0)).cast("long")
                    .alias("core_degree")))


def label_propagation(edges: DataFrame, n_iter: int = LPA_ITER) -> DataFrame:
    """Synchronous label propagation over the undirected entity graph ->
    (node, community): the entity-community probe (which extracted
    entities cluster into one topic/ontology neighborhood) used to
    partition the KG for locality-preserving storage and GNN sampling.

    label_0(v) = v's own id; label_{t+1}(v) = the most frequent label
    among v's neighbors at t, ties broken by the SMALLEST label — the
    synchronous update plus a total tie order makes the fixed-iteration
    result fully deterministic (classic async LPA is run-order
    dependent), so the DuckDB oracle unrolls the identical recurrence.

    Scale shape per round: one equi-join of the adjacency against the
    label frame (shuffle on node id) + two map-side-combinable
    aggregates — the (node, label) count, then the argmax via a single
    struct-min of (-count, label) (no window over the graph). Label
    frames are localCheckpointed per round to keep the unrolled plan
    flat. Hub nodes are plain heavy groupBy keys (combinable partials),
    not join amplifiers."""
    edges = edges.localCheckpoint(eager=True)
    sym = _sym(edges)
    lbl = (sym.select(F.col("src").alias("node")).distinct()
           .select("node", F.col("node").alias("label"))
           .localCheckpoint(eager=True))
    for _ in range(n_iter):
        cnt = (sym
               .join(lbl.select(F.col("node").alias("dst"), "label"), "dst")
               .groupBy("src", "label").agg(F.count("*").alias("c")))
        pick = cnt.groupBy("src").agg(
            F.min(F.struct((-F.col("c")).alias("nc"),
                           F.col("label").alias("l"))).alias("m"))
        lbl = (pick.select(F.col("src").alias("node"),
                           F.col("m.l").alias("label"))
               .localCheckpoint(eager=True))
    return lbl.select("node", F.col("label").alias("community"))


def community_modularity(edges: DataFrame,
                         n_iter: int = LPA_ITER) -> DataFrame:
    """Per-community Newman modularity decomposition of the LPA
    partition — the QC that says whether the communities beat a random
    degree-preserving cut before anyone trusts them for KG storage
    partitioning or GNN sampling locality. For community c over an
    undirected graph with m edges: contribution_c = e_c/m -
    (d_c/(2m))^2 (e_c = internal edges, d_c = member degree sum);
    Q = sum of the rows. Columns: (community, n_nodes, internal_edges,
    degree_sum, contribution).

    Scale shape: labels come from label_propagation (per-round keyed
    shuffles); internal edges = the edge list joined to the label frame
    on each endpoint (node-keyed equi-joins); degree/member sums are
    map-side-combinable aggregates keyed by community. m is a driver
    scalar (one count job) folded into the per-row expression, so
    contribution is ONE fixed-order float expression over integer
    aggregates — no float row-sum exists anywhere, and the final Q is a
    |communities|-sized column sum left to the caller."""
    edges = edges.localCheckpoint(eager=True)
    lab = label_propagation(edges, n_iter)  # already checkpointed flat
    m = edges.count()
    deg = (_sym(edges).groupBy("src").agg(F.count("*").alias("deg"))
           .withColumnRenamed("src", "node"))
    dsum = (lab.join(deg, "node")
            .groupBy("community")
            .agg(F.count("*").cast("bigint").alias("n_nodes"),
                 F.sum("deg").cast("bigint").alias("degree_sum")))
    la = lab.select(F.col("node").alias("src"),
                    F.col("community").alias("ca"))
    lb = lab.select(F.col("node").alias("dst"),
                    F.col("community").alias("cb"))
    e_int = (edges.join(la, "src").join(lb, "dst")
             .filter(F.col("ca") == F.col("cb"))
             .groupBy(F.col("ca").alias("community"))
             .agg(F.count("*").cast("bigint").alias("internal_edges")))
    zero = F.lit(0).cast("bigint")
    return (dsum.join(e_int, "community", "left")
            .select("community", "n_nodes",
                    F.coalesce("internal_edges", zero)
                    .alias("internal_edges"), "degree_sum",
                    F.round(
                        F.coalesce("internal_edges", zero)
                        .cast("double") / F.lit(float(m))
                        - (F.col("degree_sum").cast("double")
                           / F.lit(2.0 * m))
                        * (F.col("degree_sum").cast("double")
                           / F.lit(2.0 * m)), 6)
                    .alias("contribution")))


def neighbor_jaccard(edges: DataFrame,
                     min_shared: int = NJ_MIN_SHARED,
                     mid_cap: int = NJ_MID_CAP) -> DataFrame:
    """Structural-equivalence entity similarity -> (a, b, n_shared,
    n_union, jaccard) for every entity pair sharing >= min_shared
    1-hop neighbors: the KG-side near-duplicate probe (two ontology ids
    that attach to the same neighborhood are linking/canonicalization
    suspects even when no edge joins them directly).

    Pairs are generated through an inverted index on the shared
    neighbor (mid) — the same equi-join shape as the document n-gram
    join (textops.ngram_jaccard_pairs), never a corpus self-join.
    Mids with degree > mid_cap are dropped from pair GENERATION (the
    set-similarity stop-word prefix filter: a 10^6-degree hub would
    emit deg^2 candidate rows while certifying almost nothing — sharing
    a hub neighbor is not evidence of equivalence). Exact degrees still
    feed the union size, so at sandbox scale (all mids under the cap)
    the output is exact Jaccard; at hub scale it is the standard
    df-capped lower bound, same contract both engine and oracle."""
    edges = edges.localCheckpoint(eager=True)
    sym = _sym(edges)
    deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
    inv = sym.select(F.col("dst").alias("mid"), F.col("src").alias("member"))
    middeg = inv.groupBy("mid").agg(F.count("*").alias("md"))
    inv = (inv.join(middeg.filter(F.col("md") <= mid_cap).select("mid"),
                    "mid")
           .localCheckpoint(eager=True))  # both sides of the pair join
    pairs = (inv.toDF("mid", "a").join(inv.toDF("mid", "b"), "mid")
             .filter(F.col("a") < F.col("b"))
             .groupBy("a", "b").agg(F.count("*").alias("n_shared"))
             .filter(F.col("n_shared") >= min_shared))
    return (pairs
            .join(deg.toDF("a", "da"), "a")
            .join(deg.toDF("b", "db"), "b")
            .select("a", "b", "n_shared",
                    (F.col("da") + F.col("db") - F.col("n_shared"))
                    .alias("n_union"),
                    F.round(F.col("n_shared")
                            / (F.col("da") + F.col("db")
                               - F.col("n_shared")), 6).alias("jaccard")))


def adamic_adar_links(edges: DataFrame,
                      min_shared: int = NJ_MIN_SHARED,
                      mid_cap: int = NJ_MID_CAP) -> DataFrame:
    """Missing-edge (link-prediction) candidates -> (a, b, n_shared,
    aa_score) for every NON-adjacent entity pair sharing >= min_shared
    1-hop neighbors, scored by Adamic-Adar: sum over shared neighbors w
    of 1 / ln(deg(w)). The KG-completion probe: high-AA non-edges are
    the relations the extraction pipeline most plausibly missed
    (well-connected through informative, low-degree intermediaries).

    Same hub-safe inverted-index shape as neighbor_jaccard — pairs are
    generated per shared neighbor (mid), never by corpus self-join, and
    mids with degree > mid_cap are dropped from generation (a hub
    neighbor certifies nothing and would emit deg^2 rows; its AA weight
    1/ln(10^6) ~ 0.07 is negligible by design). deg(w) >= 2 for every
    pair-generating mid, so ln never hits zero. Existing edges are
    removed with one left_anti equi-join on the canonical (src < dst)
    pair key. Scores rounded to 6 places (float sum-order noise)."""
    edges = edges.localCheckpoint(eager=True)
    sym = _sym(edges)
    inv = sym.select(F.col("dst").alias("mid"), F.col("src").alias("member"))
    middeg = inv.groupBy("mid").agg(F.count("*").alias("md"))
    inv = (inv.join(middeg.filter(F.col("md") <= mid_cap), "mid")
           .localCheckpoint(eager=True))  # both sides of the pair join
    pairs = (inv.toDF("mid", "a", "md")
             .join(inv.select("mid", F.col("member").alias("b")), "mid")
             .filter(F.col("a") < F.col("b"))
             .groupBy("a", "b")
             .agg(F.count("*").alias("n_shared"),
                  F.sum(F.lit(1.0) / F.log("md")).alias("aa"))
             .filter(F.col("n_shared") >= min_shared))
    return (pairs
            .join(edges.toDF("a", "b"), ["a", "b"], "left_anti")
            .select("a", "b", "n_shared",
                    F.round("aa", 6).alias("aa_score")))


def predicate_cardinality(triples: DataFrame) -> DataFrame:
    """Deduped triples -> per-predicate relation-cardinality profile:
    (predicate, n_triples, n_subjects, n_objects, out_fanout,
    in_fanout, cardinality_class) where cardinality_class is the
    classic schema label — '1:1' (both directions functional), 'N:1'
    (each subject has one object), '1:N' (each object has one
    subject), else 'M:N'. The KG-construction QC probe: a predicate
    the ontology declares functional that profiles as M:N is an
    extraction-precision alarm, and fanout tails size join/skew
    handling downstream.

    Pure two-level aggregates: distinct (s,p,o) -> per-(p,s) and
    per-(p,o) degree counts (map-side combinable) -> one row per
    predicate. No joins wider than the bounded predicate dimension."""
    pe = (triples.select("subject", "predicate", "object").distinct()
          .localCheckpoint(eager=True))
    outd = (pe.groupBy("predicate", "subject")
            .agg(F.count("*").alias("od")))
    ind = (pe.groupBy("predicate", "object")
           .agg(F.count("*").alias("idg")))
    o = (outd.groupBy("predicate")
         .agg(F.count("*").cast("bigint").alias("n_subjects"),
              F.sum("od").cast("bigint").alias("n_triples"),
              F.max("od").alias("max_od")))
    i = (ind.groupBy("predicate")
         .agg(F.count("*").cast("bigint").alias("n_objects"),
              F.max("idg").alias("max_id")))
    return (o.join(i, "predicate")
            .select("predicate", "n_triples", "n_subjects", "n_objects",
                    F.round(F.col("n_triples")
                            / F.col("n_subjects").cast("double"), 6)
                    .alias("out_fanout"),
                    F.round(F.col("n_triples")
                            / F.col("n_objects").cast("double"), 6)
                    .alias("in_fanout"),
                    F.when((F.col("max_od") == 1) & (F.col("max_id") == 1),
                           "1:1")
                    .when(F.col("max_od") == 1, "N:1")
                    .when(F.col("max_id") == 1, "1:N")
                    .otherwise("M:N").alias("cardinality_class")))


BFS_ROUNDS = 3
BFS_SEED_PREFIX = "CHEBI:"


def bfs_distances(edges: DataFrame,
                  seed_prefix: str = BFS_SEED_PREFIX,
                  n_rounds: int = BFS_ROUNDS) -> DataFrame:
    """Undirected entity edges -> (node, dist): multi-source BFS
    distance (<= n_rounds) from every node in one namespace to the
    rest of the graph — the GNN-sampler / context-radius probe on the
    ENTITY graph (term_depths walks the ontology hierarchy, a
    different, tree-shaped graph). Unreached nodes are absent.

    Fixed synchronous rounds, so the DuckDB oracle unrolls the
    identical recurrence d_{k+1} = min(d_k, 1 + d_k over one edge
    hop). Per round: one equi-join frontier expansion + one
    map-side-combinable min — the frame is persisted and the previous
    round dropped, same discipline as pagerank_fixed/hits_fixed.
    Distance growth is bounded by n_rounds, never data-dependent."""
    edges = edges.localCheckpoint(eager=True)
    sym = _sym(edges)
    nodes = (sym.select(F.col("src").alias("node")).distinct())
    d = (nodes.filter(F.col("node").startswith(seed_prefix))
         .select("node", F.lit(0).alias("dist")))
    prev = None
    for _ in range(n_rounds):
        stepped = (d.join(sym, d["node"] == sym["src"])
                   .select(F.col("dst").alias("node"),
                           (F.col("dist") + 1).alias("dist")))
        nxt = (d.unionByName(stepped)
               .groupBy("node").agg(F.min("dist").alias("dist"))
               .persist())
        nxt.count()
        if prev is not None:
            prev.unpersist()
        prev, d = nxt, nxt
    return d.select("node", F.col("dist").cast("int").alias("dist"))


RW_STEPS = 4


def random_walks(triples: DataFrame, n_steps: int = RW_STEPS,
                 n_walks: int = 1) -> DataFrame:
    """Deduped triple store -> (start, step, node): one deterministic
    DeepWalk-style random walk of up to `n_steps` hops from every node
    of the directed (subject -> object) entity graph — the
    sequence-corpus generator for KG-embedding training (the walk rows
    ARE the skip-gram corpus). `n_walks` > 1 multiplies the corpus:
    each start runs W walks whose seeds are salted with the walk index
    (output gains a walk_id column and the walk key becomes
    (start, walk_id)); W scales training data without touching the
    join shape.

    'Random' is hash-seeded and fully deterministic so the DuckDB
    oracle unrolls the identical recurrence: at step k the walk at
    node u moves to the out-neighbor v minimizing
    md5(start:k:u:v) (comparator suffixed with v itself, so distinct
    candidates can never compare equal). Seeding with `start`
    decorrelates walks that meet at the same node; seeding with k
    decorrelates revisits within one walk. Walks truncate at sinks (no
    out-edges) — never a self-loop pad, so downstream window sampling
    sees honest sequence lengths.

    Scale shape: per step, ONE equi-join of the frontier (<= |V| rows)
    with the checkpointed edge table on the current node + a
    map-side-combinable min_by per walk — the join-per-round
    discipline of bfs_distances; no step materializes anything wider
    than (start, node). Hub fan-out (frontier x outdeg feeding the
    argmin) streams through the partial aggregate. Fixed n_steps,
    never data-dependent."""
    ed = (triples
          .filter((F.col("subject_type") == "uri")
                  & (F.col("object_type") == "uri")
                  & (F.col("subject") != F.col("object")))
          .select(F.col("subject").alias("s"), F.col("object").alias("o"))
          .distinct()
          .localCheckpoint(eager=True))  # read once per step
    multi = n_walks > 1
    cur = ed.select(F.col("s").alias("start")).distinct()
    if multi:
        spark = triples.sparkSession
        cur = cur.crossJoin(
            spark.range(n_walks).select(
                F.col("id").cast("int").alias("walk_id")))
    else:
        cur = cur.withColumn("walk_id", F.lit(0))
    cur = cur.select("start", "walk_id", F.col("start").alias("node"))
    out = cur.select("start", "walk_id", F.lit(0).alias("step"), "node")
    for k in range(1, n_steps + 1):
        # the walk index salts the seed ONLY in multi-walk mode, so the
        # W=1 recurrence stays byte-identical to the unrolled oracle
        salt = [F.col("walk_id")] if multi else []
        key = F.concat(
            F.md5(F.concat_ws(":", F.col("start"), *salt,
                              F.lit(str(k)), F.col("node"), F.col("o"))),
            F.col("o"))
        cur = (cur.join(ed, cur["node"] == ed["s"])
               .groupBy("start", "walk_id")
               .agg(F.min_by("o", key).alias("node")))
        out = out.unionByName(
            cur.select("start", "walk_id", F.lit(k).alias("step"), "node"))
    return out if multi else out.drop("walk_id")


N2V_STEPS = 3
N2V_SCALE = float(16 ** 12)


def node2vec_walks(triples: DataFrame,
                   n_steps: int = N2V_STEPS) -> DataFrame:
    """Second-order (node2vec-style) biased deterministic walks over
    the directed entity graph -> (start, step, node): the
    BFS/DFS-interpolating walk corpus (Grover & Leskovec's p/q bias)
    with p = 2 (returning to the previous node is discouraged, weight
    1/2), q = 1/2 (leaving the previous node's neighborhood is
    favored, weight 2), shared-neighbor weight 1.

    Selection is Efraimidis-Spirakis weighted sampling made
    deterministic: each candidate x draws the uniform deviate
    u = first-12-hex-digits(md5(start:k:node:x)) / 16^12 and the walk
    takes argmax u^(1/w). With weights restricted to {1/2, 1, 2} the
    scores are {u*u, u, sqrt(u)} — every comparison uses IEEE-exact
    multiply/sqrt (correctly rounded identically on the JVM and in
    DuckDB), never libm pow/ln whose last-ulp drift could flip an
    argmax between engine and oracle. Ties break on the candidate id.
    First hop: prev = start, whose out-neighbors are all
    prev-adjacent, so the rule degrades to exactly the uniform first
    step node2vec specifies.

    Scale shape: per step, one frontier-candidate equi-join on the
    current node + one adjacency LEFT join on (prev, candidate) —
    both against the checkpointed edge table — and a per-walk
    map-side-combinable argmax. State is (start, prev, node): constant
    width, never the path."""
    ed = (triples
          .filter((F.col("subject_type") == "uri")
                  & (F.col("object_type") == "uri")
                  & (F.col("subject") != F.col("object")))
          .select(F.col("subject").alias("s"), F.col("object").alias("o"))
          .distinct()
          .localCheckpoint(eager=True))
    adjm = ed.select(F.col("s").alias("prev"), F.col("o"),
                     F.lit(True).alias("adj"))
    cur = (ed.select(F.col("s").alias("start")).distinct()
           .select("start", F.col("start").alias("prev"),
                   F.col("start").alias("node")))
    out = cur.select("start", F.lit(0).alias("step"), "node")
    for k in range(1, n_steps + 1):
        cand = (cur.join(ed, cur["node"] == ed["s"])
                .join(adjm, ["prev", "o"], "left"))
        u = (F.conv(F.substring(
                 F.md5(F.concat_ws(":", F.col("start"), F.lit(str(k)),
                                   F.col("node"), F.col("o"))), 1, 12),
                 16, 10).cast("double") / F.lit(N2V_SCALE))
        score = (F.when(F.col("o") == F.col("prev"), u * u)
                 .when(F.col("adj").isNotNull(), u)
                 .otherwise(F.sqrt(u)))
        cur = (cand.groupBy("start", "node")
               .agg(F.max_by("o", F.struct(score.alias("sc"),
                                           F.col("o"))).alias("nxt"))
               .select("start", F.col("node").alias("prev"),
                       F.col("nxt").alias("node")))
        out = out.unionByName(
            cur.select("start", F.lit(k).alias("step"), "node"))
    return out


SKIPGRAM_WINDOW = 2


def walk_skipgrams(walks: DataFrame,
                   window: int = SKIPGRAM_WINDOW) -> DataFrame:
    """(start, step, node) walk corpus -> (center, context, n_pairs):
    skip-gram training pairs within +-window positions along each walk,
    aggregated over the corpus — the pair-frequency table word2vec-style
    KG-embedding trainers consume directly (n_pairs is the gradient
    weight; negative sampling comes from kg_negative_samples).

    One self-equi-join keyed on the walk id (each walk is <= n_steps+1
    rows, so the per-key fan-out is a small constant — never a corpus
    self-join) + a map-side-combinable pair count. Callers should pass
    a materialized walk frame: the same walks feed both join sides."""
    a = walks.select("start", F.col("step").alias("i"),
                     F.col("node").alias("center"))
    b = walks.select("start", F.col("step").alias("j"),
                     F.col("node").alias("context"))
    return (a.join(b, "start")
            .filter((F.col("i") != F.col("j"))
                    & (F.abs(F.col("i") - F.col("j")) <= window))
            .groupBy("center", "context")
            .agg(F.count("*").alias("n_pairs")))


BGP_P1 = "located_in"
BGP_P2 = "catalyzes"


def bgp_conjunctive(triples: DataFrame,
                    p1: str = BGP_P1, p2: str = BGP_P2) -> DataFrame:
    """SPARQL basic-graph-pattern conjunction over the triple store:
    `?x p1 ?y . ?x p2 ?z` -> distinct (x, y, z) bindings. The
    KG-serving query shape (every SPARQL WHERE clause compiles to a
    chain of these) expressed as one shared-variable equi-join: each
    pattern is a predicate-filtered scan (predicate pushdown reaches
    the store's predicate-partitioned layout, so each side reads ONE
    partition), joined on the shared subject variable. Hub subjects
    fan out multiplicatively by design — that is the query's answer
    set, not a skew accident; AQE skew-join splits oversized buckets."""
    px = (triples.filter(F.col("predicate") == p1)
          .select(F.col("subject").alias("x"),
                  F.col("object").alias("y")))
    pz = (triples.filter(F.col("predicate") == p2)
          .select(F.col("subject").alias("x"),
                  F.col("object").alias("z")))
    return px.join(pz, "x").select("x", "y", "z").distinct()


def _inverse_df(spark: SparkSession) -> DataFrame:
    """The closed inverse map (predicate, inverse) as a local relation."""
    return local_df(spark, sorted(INVERSE_PREDICATES.items()),
                    "predicate string, inverse string")


def inverse_consistency(triples: DataFrame) -> DataFrame:
    """Extraction-symmetry QC against the reference's closed inverse
    map (models.py:1597-1614 via ontology_data.INVERSE_PREDICATES):
    for each predicate that HAS a declared inverse, what fraction of
    its directed edges co-occur with the inverse edge ->
    (predicate, inverse, n_edges, n_with_inverse, consistency). Text
    states relations one way ("X regulates Y" rarely co-occurs with
    "Y regulated_by X"), so a LOW ratio is normal — the QC signal is
    the OUTLIER pair whose ratio diverges from its siblings, and the
    ratio is exactly the fraction expand_inverse_edges would add.

    The inverse map is a constants-sized broadcast dimension; the
    existence probe is one left_semi equi-join of the expected inverse
    edge against the store (hash-partitioned on the edge key)."""
    pe = (triples.select("subject", "predicate", "object").distinct()
          .localCheckpoint(eager=True))
    inv = _inverse_df(pe.sparkSession)
    exp = pe.join(F.broadcast(inv), "predicate")
    hit = (exp.join(pe.toDF("object", "inverse", "subject"),
                    ["subject", "inverse", "object"], "left_semi")
           .groupBy("predicate").agg(F.count("*").alias("n_hit")))
    base = (exp.groupBy("predicate", "inverse")
            .agg(F.count("*").cast("bigint").alias("n_edges")))
    return (base.join(hit, "predicate", "left")
            .select("predicate", "inverse", "n_edges",
                    F.coalesce("n_hit", F.lit(0)).cast("bigint")
                    .alias("n_with_inverse"),
                    F.round(F.coalesce("n_hit", F.lit(0))
                            / F.col("n_edges").cast("double"), 6)
                    .alias("consistency")))


BGP_OPT_P = "catalyzes"
BGP_NEG_P = "part_of"


def bgp_optional(triples: DataFrame, p1: str = BGP_P1,
                 p2: str = BGP_OPT_P, p3: str = BGP_NEG_P) -> DataFrame:
    """SPARQL OPTIONAL + negation over the triple store:
    `?x p1 ?y . OPTIONAL { ?x p2 ?z } FILTER NOT EXISTS { ?x p3 ?w }`
    -> distinct (x, y, z-or-null) bindings. Completes the SPARQL
    WHERE-clause algebra next to bgp_conjunctive: OPTIONAL compiles to
    a left outer equi-join on the shared variable (unmatched rows keep
    a NULL binding rather than dropping, the defining OPTIONAL
    semantics), FILTER NOT EXISTS to a left_anti join — both
    shuffle-on-x hash joins over predicate-filtered scans, so each
    pattern still reads one predicate partition of the store. The
    anti side is projected to bare x before joining (existence only,
    no fanout)."""
    px = (triples.filter(F.col("predicate") == p1)
          .select(F.col("subject").alias("x"),
                  F.col("object").alias("y")))
    pz = (triples.filter(F.col("predicate") == p2)
          .select(F.col("subject").alias("x"),
                  F.col("object").alias("z")))
    pw = (triples.filter(F.col("predicate") == p3)
          .select(F.col("subject").alias("x")))
    return (px.join(pz, "x", "left")
            .join(pw, "x", "left_anti")
            .select("x", "y", "z").distinct())


TRANSITIVE_PREDICATES = ("is_a", "part_of")
# each transitive family p with its declared inverse q (None: no inverse)
_FAMILIES = {p: INVERSE_PREDICATES.get(p) for p in TRANSITIVE_PREDICATES}
_PAIR = ["subject", "object"]


def _compose(x: DataFrame, y: DataFrame) -> DataFrame:
    """Relational composition {(a,c) : (a,b) in x, (b,c) in y}. A row
    with a null endpoint composes nothing, as in every closure path."""
    return (x.toDF("subject", "mid").join(y.toDF("mid", "object"), "mid")
            .select("subject", "object").dropna())


def _canon(frame: DataFrame, p: str, q: str | None) -> DataFrame:
    """The canonical base of the transitive family p with inverse q: the
    p edges of frame(subject, predicate, object) union its q edges
    reversed, as distinct (subject, object) rows."""
    base = frame.filter(F.col("predicate") == p).select(*_PAIR)
    if q is not None:
        base = base.unionByName(
            frame.filter(F.col("predicate") == q)
            .select(F.col("object").alias("subject"),
                    F.col("subject").alias("object")))
    return base.distinct()


def _rule(rule: str | None) -> list:
    return [] if rule is None else [F.lit(rule).alias("rule")]


def _both_ways(closed: DataFrame, p: str, q: str | None,
               rule: str | None = None) -> DataFrame:
    """A family's canonical closure(subject, object) as p triples and,
    if p has an inverse q, as reversed q triples; with a rule column
    when rule is given."""
    out = closed.select("subject", F.lit(p).alias("predicate"), "object",
                        *_rule(rule))
    if q is None:
        return out
    return out.unionByName(closed.select(
        F.col("object").alias("subject"), F.lit(q).alias("predicate"),
        F.col("subject").alias("object"), *_rule(rule)))


def _inverse_rows(frame: DataFrame, rule: str | None = None) -> DataFrame:
    """(o, inverse(p), s) for each row of frame whose predicate has a
    declared inverse; with a rule column when rule is given."""
    return (frame.join(F.broadcast(_inverse_df(frame.sparkSession)),
                       "predicate")
            .select(F.col("object").alias("subject"),
                    F.col("inverse").alias("predicate"),
                    F.col("subject").alias("object"), *_rule(rule)))


def _doubling_closure(base: DataFrame, what: str, max_iter: int) -> DataFrame:
    """Distributed transitive closure of base(subject, object) by
    fixpoint. DOUBLING, not frontier-extend-by-one: composing the
    round-k frontier with the ACCUMULATED closure on both sides covers
    path lengths up to 2^k, so convergence takes O(log diameter) rounds
    — the same pointer-jumping argument as connected_components. The
    linear frontier∘base recurrence hit max_iter on sf0.1's
    extraction-artifact is_a chains (diameter > 32); a web-scale KG
    makes O(diameter) sequential rounds a non-starter outright. Rows
    with a null endpoint join nothing and pass through, as in
    localgraph.closure_rows: a null subject would otherwise reach along
    its object's paths and never be anti-joined away."""
    valid = F.col("subject").isNotNull() & F.col("object").isNotNull()
    edges = base.filter(valid).persist()
    try:
        closed = fixpoint(
            edges, lambda new, acc: (_compose(new, acc)
                                     .unionByName(_compose(acc, new))
                                     .distinct()),
            _PAIR, f"{what} transitive closure", max_iter)
    finally:
        edges.unpersist()
    return closed.unionByName(base.filter(~valid))


def _closures(bases: dict[str, DataFrame], what: str,
              max_iter: int) -> dict[str, DataFrame]:
    """{family: base(subject, object)} -> {family: transitive closure}:
    the families localgraph.closures solves in the driver (one
    collection for all of them), the rest by _doubling_closure."""
    solved = localgraph.closures(bases)
    return {p: solved[p] if p in solved
            else _doubling_closure(base, f"{what} {p!r}", max_iter)
            for p, base in bases.items()}


_KEY3 = ["subject", "predicate", "object"]
_INV_FROM = pa.array(sorted(INVERSE_PREDICATES))
_INV_TO = pa.array([INVERSE_PREDICATES[p] for p in _INV_FROM.to_pylist()])


def _entailed_rows(pe: pa.Table) -> pa.Table | None:
    """kg_entailment of a distinct (subject, predicate, object) table in
    the driver, or None when a transitive family has more than
    localgraph.NODE_BOUND nodes. Joins keep Spark's null semantics: a
    null predicate has no inverse, a null endpoint passes through the
    closure, a null key matches nothing in the anti-join, and the
    final distinct groups nulls."""
    s, p, o = (pe.column(c) for c in _KEY3)
    inv = pc.index_in(p, value_set=_INV_FROM)
    hit = pc.is_valid(inv)
    parts = [(o.filter(hit), _INV_TO.take(inv.filter(hit)), s.filter(hit),
              "inverse")]
    for fam in TRANSITIVE_PREDICATES:
        q = INVERSE_PREDICATES.get(fam)
        fwd = pc.equal(p, fam)
        src, dst = s.filter(fwd).chunks, o.filter(fwd).chunks
        if q is not None:  # the canonical base: p edges, q edges reversed
            bwd = pc.equal(p, q)
            src, dst = src + o.filter(bwd).chunks, dst + s.filter(bwd).chunks
        closed = localgraph.closure_rows(pa.chunked_array(src, s.type),
                                         pa.chunked_array(dst, o.type))
        if closed is None:
            return None
        a, c = closed
        parts.append((a, pa.repeat(fam, len(a)), c, "transitive"))
        if q is not None:
            parts.append((c, pa.repeat(q, len(c)), a, "transitive"))
    schema = pa.schema([*(pa.field(f.name, f.type) for f in pe.schema),
                        pa.field("rule", pa.string(), nullable=False)])
    out = pa.concat_tables(
        pa.table([subj, pred, obj, pa.repeat(rule, len(subj))],
                 names=schema.names).cast(schema)
        for subj, pred, obj, rule in parts)
    out = out.join(pe, _KEY3, join_type="left anti")
    return out.group_by(schema.names).aggregate([]).cast(schema)


def _entail_distributed(pe: DataFrame, max_iter: int) -> DataFrame:
    """kg_entailment of the distinct (subject, predicate, object) frame
    pe with the rules as Spark joins; the families close in _closures."""
    closed = _closures({p: _canon(pe, p, q) for p, q in _FAMILIES.items()},
                       "kg_entailment", max_iter)
    out = reduce(DataFrame.unionByName,
                 [_both_ways(closed[p], p, q, "transitive")
                  for p, q in _FAMILIES.items()],
                 _inverse_rows(pe, "inverse"))
    return out.join(pe, _KEY3, "left_anti").distinct()


def kg_entailment(triples: DataFrame, max_iter: int = 32) -> DataFrame:
    """OWL/RDFS-style forward-chaining materialization over the
    extracted triple store — the entailment step a KG-construction
    pipeline runs between extraction and serving, emitting ONLY the
    newly inferred edges with rule provenance:

      * owl:inverseOf over the reference's closed inverse map
        (models.py:1597-1614 via ontology_data.INVERSE_PREDICATES):
        (s, p, o) => (o, inv(p), s)              rule = 'inverse'
      * owl:TransitiveProperty for is_a / part_of (the two OBO
        transitive relations, ontology_trimmer.py ancestor walks):
        (a, p, b), (b, p, c) => (a, p, c)        rule = 'transitive'

    The output is the JOINT fixpoint of both rules, not one pass each:
    the inverse map is an involution and transitivity commutes with
    direction flip, so saturating a transitive predicate p with
    declared inverse q reduces to closing the canonical direction
    (p edges union reversed q edges) once and re-emitting the closure
    in both directions — e.g. asserted (a part_of b), (c has_part b)
    entails (a part_of c) AND (c has_part a). No other predicate is
    transitive, and inverse-of-inverse returns asserted edges, so no
    further rule interaction exists and one canonical closure per
    family IS the saturation.

    Inferred edges already asserted in the store are suppressed by a
    final left_anti join; a triple derivable by both rules keeps one
    row per rule (provenance is part of the key).

    Size check: (subject, predicate, object) is collected once
    (localgraph.collect). If the store has at most localgraph.ROW_BOUND
    rows, the whole saturation runs in the driver (_entailed_rows:
    distinct, inverse rule, one boolean-matrix closure per family with
    at most localgraph.NODE_BOUND nodes, both directions, anti-join,
    distinct) and comes back as a local relation — one Spark job. If a
    family is larger, the collected table becomes the distinct store of
    _entail_distributed, where each family is closed by
    localgraph.closures or, past NODE_BOUND, by _doubling_closure. A
    store above ROW_BOUND runs _entail_distributed over a checkpointed
    distinct store. _doubling_closure is a DOUBLING closure (frontier
    composed with the accumulated closure on both sides — O(log
    diameter) rounds, the pointer-jumping argument) run by
    fixpoint.fixpoint — localCheckpoint per round to cut lineage,
    left_anti dedup against the accumulated set, hard error on
    non-convergence. It stays because it is the only path for closures
    too large for one process. All paths tolerate cycles and give the
    same rows and schema (rule NOT NULL)."""
    spark = triples.sparkSession
    pe = localgraph.collect(triples.select(*_KEY3))
    if pe is None:
        return _entail_distributed(
            triples.select(*_KEY3).distinct().localCheckpoint(eager=True),
            max_iter)
    pe = pe.group_by(_KEY3).aggregate([])
    out = _entailed_rows(pe)
    if out is not None:
        return spark.createDataFrame(out)
    return _entail_distributed(spark.createDataFrame(pe), max_iter)


def _null_safe(left: DataFrame, right: DataFrame, keys: list[str],
               how: str) -> DataFrame:
    """left semi- or anti-joined (`how`) to right on `keys`, with
    None == None: a retracted row with a null endpoint must still find
    itself in the store."""
    lt, rt = left.alias("_l"), right.alias("_r")
    return lt.join(rt, [F.col(f"_l.{k}").eqNullSafe(F.col(f"_r.{k}"))
                        for k in keys], how)


def kg_entailment_delta(old: DataFrame, delta: DataFrame,
                        max_iter: int = 32) -> DataFrame:
    """Entailment maintenance under a re-crawl delta: the inferred rows
    that asserting `delta` on top of `old` adds, i.e.
    kg_entailment(old + delta) minus the (subject, predicate, object)
    rows of kg_entailment(old), compared with None == None. Same
    (subject, predicate, object, rule) contract as kg_entailment.

    Both saturations are kg_entailment, so an ontology-sized store is
    two bounded collections solved in the driver, and a larger one runs
    kg_entailment's distributed path. A delta-seeded closure would only
    save work if the old saturation were read from storage; recomputed,
    it costs a full closure of old on top of its own rounds."""
    both = old.select(*_KEY3).unionByName(delta.select(*_KEY3))
    return _null_safe(kg_entailment(both, max_iter),
                      kg_entailment(old, max_iter), _KEY3, "left_anti")


def kg_entailment_retract(old: DataFrame, removed: DataFrame,
                          max_iter: int = 32) -> DataFrame:
    """Entailment maintenance when asserted edges are retracted
    (takedown / correction): kg_entailment of `old` without the rows of
    `removed`, matched with None == None so that a removed row with a
    null endpoint still finds itself. Output contract identical to
    kg_entailment (inferred rows only, rule provenance, asserted rows
    suppressed).

    One anti-join and one kg_entailment: an ontology-sized store is one
    bounded collection solved in the driver. Delete/re-derive would
    need the old closure as well, which costs the same full closure
    before its own per-round joins."""
    kept = _null_safe(old.select(*_KEY3), removed.select(*_KEY3), _KEY3,
                      "left_anti")
    return kg_entailment(kept, max_iter)


CONSTRUCT_P = "located_in"
CONSTRUCT_OUT = "co_located_with"


def construct_colocated(triples: DataFrame,
                        p: str = CONSTRUCT_P,
                        out_pred: str = CONSTRUCT_OUT) -> DataFrame:
    """SPARQL CONSTRUCT — the query form that WRITES the graph:
    `CONSTRUCT { ?x out_pred ?z } WHERE { ?x p ?y . ?z p ?y .
    FILTER (?x < ?z) }` derives an undirected co-location relation
    from shared p-objects (entities located in the same compartment),
    emitted as new (subject, predicate, object) rows ready for the
    store. The shape is the inverted-index pair join (shared object =
    the index key), the same hub discipline as the doc n-gram join:
    a compartment with k residents emits k(k-1)/2 pairs — that IS the
    answer set, and AQE skew-join splits oversized compartments.
    FILTER (?x < ?z) keeps one row per unordered pair."""
    pv = (triples.filter(F.col("predicate") == p)
          .select(F.col("subject").alias("x"),
                  F.col("object").alias("y")).distinct())
    return (pv.join(pv.toDF("z", "y"), "y")
            .filter(F.col("x") < F.col("z"))
            .select(F.col("x").alias("subject"),
                    F.lit(out_pred).alias("predicate"),
                    F.col("z").alias("object"))
            .distinct())


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity of the entity graph (Newman's r: Pearson
    correlation of endpoint degrees over directed edge stubs) — one
    row (n_edges, mean_src_deg, mean_dst_deg, assortativity). Positive
    r = hubs link hubs (social-network-like), negative = hubs link
    leaves (the usual KG star shape): the single number that says
    whether hub-salting or leaf-side broadcast is the right skew
    lever. Shape: degree aggregate, one edge-keyed join per endpoint,
    one global map-side-combinable moment aggregate — no windows,
    nothing driver-sized. Symmetrized stubs make r direction-free,
    matching the undirected entity graph."""
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
    pairs = (sym
             .join(deg.toDF("src", "ds"), "src")
             .join(deg.toDF("dst", "dd"), "dst")
             .select(F.col("ds").cast("double").alias("ds"),
                     F.col("dd").cast("double").alias("dd")))
    return pairs.agg(
        F.count("*").cast("bigint").alias("n_stubs"),
        F.round(F.avg("ds"), 6).alias("mean_src_deg"),
        F.round(F.avg("dd"), 6).alias("mean_dst_deg"),
        F.round(F.corr("ds", "dd"), 6).alias("assortativity"))


def schema_graph(triples: DataFrame) -> DataFrame:
    """Namespace-level quotient of the KG -> (src_ns, predicate,
    dst_ns, n_edges, n_src, n_dst): collapse every uri entity to its
    CURIE prefix and count the distinct edges each (namespace,
    predicate, namespace) slot carries — the auto-derived schema
    diagram (what the reference's ontology documentation draws by
    hand) and the QC probe that surfaces vocabulary misuse (a
    located_in edge landing in a taxon namespace is an extraction bug
    before it is a statistic). One distinct + one map-side-combinable
    aggregate over the namespace key — the quotient graph is
    vocabulary-sized, never corpus-sized."""
    e = (triples
         .filter((F.col("subject_type") == "uri")
                 & (F.col("object_type") == "uri"))
         .select("subject", "predicate", "object").distinct())
    ns = (e.select(
        F.split_part(F.col("subject"), F.lit(":"), F.lit(1))
        .alias("src_ns"),
        "predicate",
        F.split_part(F.col("object"), F.lit(":"), F.lit(1))
        .alias("dst_ns"),
        "subject", "object"))
    return (ns.groupBy("src_ns", "predicate", "dst_ns")
            .agg(F.count("*").alias("n_edges"),
                 F.countDistinct("subject").alias("n_src"),
                 F.countDistinct("object").alias("n_dst")))


HC_ROUNDS = 3
HC_PIVOT_HEX = ("0", "1", "2", "3")  # md5 first hex digit: 4/16 pivot sample


def harmonic_centrality(edges: DataFrame,
                        n_rounds: int = HC_ROUNDS,
                        pivot_hex: tuple[str, ...] = HC_PIVOT_HEX
                        ) -> DataFrame:
    """Undirected entity edges -> (node, n_reached, harmonic):
    pivot-sampled bounded-radius harmonic centrality — for each node,
    sum of 1/d over the sampled pivot set within distance n_rounds.
    The "which entities sit at the center of the KG" ranking that
    closeness gives, in the only form that scales: exact all-pairs
    closeness is O(V^2), so production systems estimate it from a
    random pivot subset (Eppstein-Wang) or HLL neighborhood sketches
    (HyperBall); this is the pivot estimator with a deterministic
    hash sample (md5 first hex digit), so the DuckDB oracle draws the
    identical pivots. Harmonic (not classic closeness) because it is
    well-defined under disconnection — unreached pairs contribute 0,
    no infinite-distance special case.

    Per round: one frontier equi-join + one map-side-combinable min
    over (pivot, node) — bfs_distances generalized to per-source
    state. Pair state is O(|pivots| * ball(r)); the pivot fraction is
    the scale knob (shrink it as the corpus grows; estimator error is
    O(1/sqrt(|pivots|)) regardless of |V|). The harmonic sum is
    computed from per-distance COUNTS in one fixed-order expression
    (n_1/1 + n_2/2 + ... left-assoc), never a float SUM over rows —
    bit-identical on both engines, no aggregation-order drift."""
    edges = edges.localCheckpoint(eager=True)
    sym = _sym(edges)
    nodes = sym.select(F.col("src").alias("node")).distinct()
    labeled = (nodes.filter(
        F.substring(F.md5(F.col("node")), 1, 1).isin(*pivot_hex))
        .select(F.col("node").alias("src"), "node",
                F.lit(0).alias("dist"))
        .localCheckpoint(eager=True))
    # frontier per (pivot, node): each round expands only the NEW
    # shell, not the whole accumulated ball (the previous full-relabel
    # re-aggregated every settled pair each round), and localCheckpoint
    # replaces the persist cycle — the old pattern left the final
    # round's frame pinned in the session cache
    frontier = labeled
    for _ in range(n_rounds):
        nxt = (frontier.join(sym, frontier["node"] == sym["src"])
               .select(frontier["src"].alias("src"),
                       F.col("dst").alias("node"),
                       (F.col("dist") + 1).alias("dist"))
               .groupBy("src", "node").agg(F.min("dist").alias("dist"))
               .join(labeled, ["src", "node"], "left_anti")
               .localCheckpoint(eager=True))
        if nxt.isEmpty():
            break
        labeled = labeled.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    d = labeled
    per = (d.filter(F.col("src") != F.col("node"))
           .groupBy("node")
           .agg(F.count("*").cast("bigint").alias("n_reached"),
                *[F.sum(F.when(F.col("dist") == k, 1).otherwise(0))
                  .alias(f"_n{k}") for k in range(1, n_rounds + 1)]))
    harm = F.col("_n1").cast("double") / 1.0
    for k in range(2, n_rounds + 1):
        harm = harm + F.col(f"_n{k}").cast("double") / float(k)
    return per.select("node", "n_reached",
                      F.round(harm, 6).alias("harmonic"))


WSP_ROUNDS = 3
WSP_HIER_PREDICATES = ("is_a", "part_of", "has_part")  # weight-1 hops


def weighted_distances(triples: DataFrame,
                       seed_prefix: str = BFS_SEED_PREFIX,
                       n_rounds: int = WSP_ROUNDS) -> DataFrame:
    """Deduped triple store -> (node, cost): min-plus weighted
    shortest-path cost (paths of <= n_rounds edges) from every node in
    the seed namespace, over the undirected entity graph with integer
    semantic edge weights — taxonomy edges (is_a / part_of / has_part)
    cost 1, associative edges cost 2, parallel predicates collapse to
    the cheapest. bfs_distances generalized from the boolean to the
    tropical (min, +) semiring: the "semantic distance" radius used to
    rank context entities where a taxonomy hop is closer than an
    'affects' hop. Weights are INTEGERS by construction so min-plus is
    exact on both engines (a float-weight variant would hit
    tie-breaking drift).

    Per round: one frontier equi-join + one map-side-combinable min —
    identical shuffle shape to bfs_distances (state is (node, cost),
    never per-source). Bounded n_rounds relaxations = exact Bellman-
    Ford restricted to <= n_rounds hops; growth is never
    data-dependent, and the DuckDB oracle unrolls the identical
    recurrence."""
    ed = (triples
          .filter((F.col("subject_type") == "uri")
                  & (F.col("object_type") == "uri")
                  & (F.col("subject") != F.col("object")))
          .select(F.least("subject", "object").alias("src"),
                  F.greatest("subject", "object").alias("dst"),
                  F.when(F.col("predicate").isin(*WSP_HIER_PREDICATES),
                         F.lit(1)).otherwise(F.lit(2)).alias("w"))
          .groupBy("src", "dst").agg(F.min("w").alias("w"))
          .localCheckpoint(eager=True))
    sym = ed.unionByName(
        ed.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                  "w"))
    nodes = sym.select(F.col("src").alias("node")).distinct()
    d = (nodes.filter(F.col("node").startswith(seed_prefix))
         .select("node", F.lit(0).alias("cost")))
    prev = None
    for _ in range(n_rounds):
        stepped = (d.join(sym, d["node"] == sym["src"])
                   .select(F.col("dst").alias("node"),
                           (F.col("cost") + F.col("w")).alias("cost")))
        nxt = (d.unionByName(stepped)
               .groupBy("node").agg(F.min("cost").alias("cost"))
               .persist())
        nxt.count()
        if prev is not None:
            prev.unpersist()
        prev, d = nxt, nxt
    return d.select("node", F.col("cost").cast("int").alias("cost"))


RM_MIN_SUPPORT = 5
RM_MIN_CONF = 0.2
RM_MID_CAP = 10_000


def mine_chain_rules(edges: DataFrame,
                     min_support: int = RM_MIN_SUPPORT,
                     min_conf: float = RM_MIN_CONF,
                     mid_cap: int = RM_MID_CAP) -> DataFrame:
    """AMIE-style chain-rule mining over a (subject, predicate,
    object) edge frame: for every predicate pair (p, q) and head r,
    score the horn rule
      p(x, y) AND q(y, z)  =>  r(x, z)
    with support = |{(x,z) : body and head both hold}|, n_body =
    |{(x,z) : body holds}|, confidence = support / n_body — the
    knowledge-base-completion primitive. Run over the SATURATED store
    (asserted + kg_entailment output) the miner provably rediscovers
    the schema's axioms — is_a/part_of/has_part chains score
    confidence 1.0 because every transitive body pair has its head
    materialized — and any OTHER rule scoring high is a genuine
    completion candidate / extraction-recall alarm.

    Shape: the body is ONE self-equi-join of the edge table on the
    chain variable y, collapsed immediately to DISTINCT (p, q, x, z)
    bindings (multiple y-witnesses must not inflate support); heads
    attach by equi-join on (x, z); both aggregates group by the
    predicate-pair dimension, which is vocabulary-sized (<= |P|^2
    rows), never corpus-sized. Hub chain variables are the blow-up
    risk at 100 TB, so mids with out+in degree > mid_cap are excluded
    from the chain (same df-cap discipline as neighbor_jaccard's
    NJ_MID_CAP) — AMIE's own mining samples under hub functional
    overlap for the same reason; the cap is part of the operator
    contract and the oracle applies it identically."""
    pe = (edges
          .select("subject", "predicate", "object").distinct()
          .localCheckpoint(eager=True))
    degs = (pe.select(F.col("object").alias("node"))
            .unionByName(pe.select(F.col("subject").alias("node")))
            .groupBy("node").agg(F.count("*").alias("deg"))
            .filter(F.col("deg") <= mid_cap)
            .select("node"))
    a = (pe.join(degs, pe["object"] == degs["node"])
         .select(F.col("subject").alias("x"), F.col("predicate").alias("p"),
                 F.col("object").alias("y")))
    b = pe.select(F.col("subject").alias("y2"),
                  F.col("predicate").alias("q"),
                  F.col("object").alias("z"))
    body = (a.join(b, a["y"] == b["y2"])
            .filter(F.col("x") != F.col("z"))
            .select("p", "q", "x", "z").distinct())
    heads = pe.select(F.col("subject").alias("x"),
                      F.col("predicate").alias("r"),
                      F.col("object").alias("z"))
    sup = (body.join(heads, ["x", "z"])
           .groupBy("p", "q", "r")
           .agg(F.count("*").cast("bigint").alias("support")))
    nb = (body.groupBy("p", "q")
          .agg(F.count("*").cast("bigint").alias("n_body")))
    # AMIE's PCA denominator: body bindings whose x asserts SOME
    # r-edge — under partial completeness, missing heads for such x
    # are real counterevidence while heads of never-r subjects are
    # merely unknown; pca >= std confidence always
    rx = pe.select(F.col("subject").alias("x"),
                   F.col("predicate").alias("r")).distinct()
    pca = (body.join(rx, "x")
           .groupBy("p", "q", "r")
           .agg(F.count("*").cast("bigint").alias("n_pca")))
    return (sup.join(nb, ["p", "q"]).join(pca, ["p", "q", "r"])
            .filter(F.col("support") >= min_support)
            .withColumn("confidence",
                        F.round(F.col("support")
                                / F.col("n_body").cast("double"), 6))
            .filter(F.col("confidence") >= min_conf)
            .withColumn("pca_confidence",
                        F.round(F.col("support")
                                / F.col("n_pca").cast("double"), 6))
            .select("p", "q", "r", "support", "n_body", "confidence",
                    "n_pca", "pca_confidence"))


NS_K = 3
NS_THRESH_HEX = "4"  # survivors: md5 first hex < '4'  (1/4 retained)


def neighbor_sample(edges: DataFrame, k: int = NS_K,
                    thresh_hex: str = NS_THRESH_HEX) -> DataFrame:
    """Undirected entity edges -> (node, neighbor, rank): a
    deterministic k-neighbor fanout sample per node — the GraphSAGE /
    GNN mini-batch sampling primitive over the entity graph. The
    sample is bottom-k by md5(node:neighbor): a fixed uniform hash
    order, so the same node always samples the same neighbors
    (reproducible epochs, resumable training) and the DuckDB oracle
    replays it exactly.

    Scale shape — exact bottom-k WITHOUT sorting hub adjacency lists:
    rank only the survivors of a hash-threshold preprune (first hex <
    thresh_hex keeps ~1/4). If a node keeps >= k survivors, its k
    smallest hashes are PROVABLY all below the threshold (k values
    sit under T iff the k-th smallest does), so ranking survivors is
    exact; the few nodes left with < k survivors (degree ~< 4k) fall
    back to ranking their full — tiny — adjacency list. A 10^6-degree
    hub therefore window-sorts ~250k rows instead of 10^6 at this
    threshold, and the threshold tightens as fan-in grows; both
    branches stay whole-stage-codegen window ranks, no Python."""
    # the hashed adjacency feeds three branches (survivors, survivor
    # counts, fallback anti-join) — checkpoint it once or each branch
    # re-derives the whole upstream pipeline
    sym = _sym(edges).select(
        F.col("src").alias("node"), F.col("dst").alias("neighbor"),
        F.md5(F.concat_ws(":", "src", "dst")).alias("h")) \
        .localCheckpoint(eager=True)
    surv = sym.filter(F.substring("h", 1, 1) < thresh_hex)
    cnt = surv.groupBy("node").agg(F.count("*").alias("n_surv"))
    enough = cnt.filter(F.col("n_surv") >= k).select("node")
    w = Window.partitionBy("node").orderBy("h")
    a = (surv.join(enough, "node")
         .withColumn("rank", F.row_number().over(w))
         .filter(F.col("rank") <= k))
    b = (sym.join(enough, "node", "left_anti")
         .withColumn("rank", F.row_number().over(w))
         .filter(F.col("rank") <= k))
    return (a.unionByName(b)
            .select("node", "neighbor", F.col("rank").cast("int")
                    .alias("rank")))


def personalized_pagerank(triples: DataFrame,
                          n_iter: int = PR_ITER,
                          damping: float = PR_DAMPING,
                          seed_prefix: str = BFS_SEED_PREFIX) -> DataFrame:
    """Topic-sensitive (personalized) PageRank: pagerank_fixed with the
    teleport vector restricted to the seed namespace — pr measures
    importance RELATIVE to the chemical entities rather than globally
    (the ranking used to pick which entities matter for a
    domain-specific extraction QC pass, and the random-walk-with-
    restart relevance score used in KG recommendation). Same fixed-
    iteration deterministic contract, same per-round join shape and
    persist/unpersist discipline as pagerank_fixed; only the base term
    changes: (1-d)/|seeds| on seed nodes, 0 elsewhere, pr_0 uniform on
    seeds. Mass leaks at dangling nodes exactly as in pagerank_fixed."""
    ed = (triples
          .filter((F.col("subject_type") == "uri")
                  & (F.col("object_type") == "uri")
                  & (F.col("subject") != F.col("object")))
          .select(F.col("subject").alias("s"), F.col("object").alias("o"))
          .distinct()
          .localCheckpoint(eager=True))
    nodes = (ed.select(F.col("s").alias("n"))
             .unionByName(ed.select(F.col("o").alias("n")))
             .distinct()
             .withColumn("is_seed", F.col("n").startswith(seed_prefix))
             .persist())
    n_seeds = nodes.filter("is_seed").count()
    if n_seeds == 0:
        raise ValueError(
            f"personalized_pagerank: no nodes match {seed_prefix!r}")
    outdeg = ed.groupBy("s").agg(F.count("*").alias("odeg"))
    contrib_edges = ed.join(outdeg, "s").persist()

    teleport = F.when(F.col("is_seed"),
                      F.lit((1.0 - damping) / n_seeds)).otherwise(F.lit(0.0))
    pr = nodes.select(
        "n", "is_seed",
        F.when(F.col("is_seed"), F.lit(1.0 / n_seeds))
        .otherwise(F.lit(0.0)).alias("pr"))
    for _ in range(n_iter):
        c = (contrib_edges
             .join(pr.select(F.col("n").alias("s"), "pr"), "s")
             .groupBy("o")
             .agg(F.sum(F.col("pr") / F.col("odeg")).alias("mass")))
        nxt = (nodes.join(c.withColumnRenamed("o", "n"), "n", "left")
               .select("n", "is_seed",
                       (teleport + damping
                        * F.coalesce("mass", F.lit(0.0))).alias("pr"))
               .persist())
        nxt.count()
        pr.unpersist()
        pr = nxt
    out = pr.select(F.col("n").alias("node"),
                    F.round("pr", 6).alias("ppr"))
    nodes.unpersist()
    contrib_edges.unpersist()
    return out


ES_TOPK = 3


def entity_fact_summary(triples: DataFrame, k: int = ES_TOPK) -> DataFrame:
    """Entity summarization ("entity cards" for human QC and LLM
    grounding context): for every subject, its k most INFORMATIVE
    facts — facts carried by the rarest predicates (global predicate
    frequency ascending; rarity is the integer surrogate for the
    -log(p) informativeness score, identical ordering with zero float
    parity risk). Ties break on (predicate, object) so the card is
    fully deterministic.

    One map-side-combinable predicate-frequency aggregate (vocabulary-
    sized result joined back by predicate — broadcastable), then a
    per-subject window rank. Per-entity fact lists are bounded by
    extraction fan-out, so the window never sees corpus-scale
    partitions; the rank column keeps card order stable downstream."""
    pe = (triples.select("subject", "predicate", "object").distinct()
          .localCheckpoint(eager=True))
    pf = pe.groupBy("predicate").agg(F.count("*").alias("n_pred"))
    w = Window.partitionBy("subject").orderBy(
        F.col("n_pred").asc(), F.col("predicate"), F.col("object"))
    return (pe.join(F.broadcast(pf), "predicate")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("subject", "predicate", "object",
                    F.col("n_pred").cast("bigint").alias("n_pred"),
                    F.col("rank").cast("int").alias("rank")))


def characteristic_sets(triples: DataFrame) -> DataFrame:
    """Characteristic sets (Neumann & Moerkotte, ICDE 2011): group
    subjects by the SET of predicates they carry; per set report how
    many subjects share it, total triples, and mean fan-out. The RDF
    engine's classic structure summary — it drives cardinality
    estimation for star joins and doubles as implicit entity typing
    for a schema-less KG (subjects sharing a characteristic set are
    the same implicit class).

    Two map-side-combinable aggregates: per-subject collect_set
    (bounded by the predicate vocabulary, not the subject's triple
    count) -> sort_array for a canonical key -> per-set counts. The
    output is at most 2^|vocabulary| rows but in practice
    vocabulary-sized; no joins, no windows."""
    per = (triples.select("subject", "predicate")
           .groupBy("subject")
           .agg(F.sort_array(F.collect_set("predicate")).alias("cs"),
                F.count("*").cast("bigint").alias("n_triples")))
    return (per.groupBy(F.array_join("cs", ",").alias("char_set"))
            .agg(F.count("*").cast("bigint").alias("n_subjects"),
                 F.sum("n_triples").cast("bigint").alias("n_triples"),
                 F.round(F.sum("n_triples")
                         / F.count("*").cast("double"), 6)
                 .alias("mean_fanout")))


EDGECUT_KS = (8, 32)


def partition_edgecut(edges: DataFrame,
                      ks: tuple = EDGECUT_KS) -> DataFrame:
    """Graph-partitioning quality audit for hash placement: for each
    candidate partition count k, assign vertices by portable md5
    bucket and measure (a) the EDGE CUT — the fraction of edges whose
    endpoints land in different partitions, i.e. the fraction of every
    message-passing superstep (PageRank, BFS, CC) that crosses the
    network — and (b) vertex balance (heaviest partition's share).
    Hash placement bounds balance well but cuts ~ (1 - 1/k) of edges;
    this operator prices that before a 100-TB graph job picks k, the
    same measured-not-asserted discipline as salt_balance_audit.

    One scan per k over the edge list (map-side counts) + one distinct
    vertex frame reused across ks via localCheckpoint; the per-k
    outputs are single-row aggregates unioned — a k-count-sized
    result."""
    verts = (edges.select(F.col("src").alias("v"))
             .unionByName(edges.select(F.col("dst").alias("v")))
             .distinct().localCheckpoint(eager=True))
    e = edges.localCheckpoint(eager=True)

    def bucket(col, k):
        return (F.conv(F.substring(F.md5(col), 1, 8), 16, 10)
                .cast("bigint") % k)

    outs = []
    for k in ks:
        cut = (F.sum((bucket(F.col("src"), k)
                      != bucket(F.col("dst"), k)).cast("bigint"))
               .cast("bigint"))
        ecut = e.agg(F.count("*").cast("bigint").alias("n_edges"),
                     cut.alias("n_cut"))
        bal = (verts.groupBy(bucket(F.col("v"), k).alias("p"))
               .agg(F.count("*").alias("n"))
               .agg((F.max("n") / F.sum("n")).alias("max_share"),
                    F.count("*").cast("bigint").alias("n_parts_used")))
        # 1-row assembly via union+max, not a singleton cross join
        # (kg_diameter's no-cartesian discipline)
        wide = (ecut.unionByName(bal, allowMissingColumns=True)
                .agg(*[F.max(c).alias(c) for c in
                       ("n_edges", "n_cut", "max_share",
                        "n_parts_used")]))
        outs.append(
            wide.select(
                F.lit(k).cast("int").alias("k"),
                "n_edges", "n_cut",
                F.round(F.col("n_cut") / F.col("n_edges"), 6)
                .alias("cut_frac"),
                F.round("max_share", 6).alias("max_vertex_share"),
                "n_parts_used"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


SCC_INNER_MAX = 24
SCC_OUTER_MAX = 8


def scc_labels(edges: DataFrame, inner_max: int = SCC_INNER_MAX,
               outer_max: int = SCC_OUTER_MAX) -> DataFrame:
    """Strongly connected components of the directed (src, dst) edge
    graph -> (node, scc_id, scc_size), scc_id = least node id in the
    component. Beyond-the-reference graph QC: cycle_triads/cycle_chains
    enumerate SHORT cycles; SCC names every vertex set that is mutually
    reachable at ANY length (ontology is_a knots, redirect loops).

    MultiStep algorithm (Slota et al., IPDPS 2014) with all pivots
    run simultaneously:
      0. TRIM: iteratively peel vertices missing an in-edge or an
         out-edge in the live graph — they cannot sit in a multi-node
         SCC, so they assign as singletons immediately. On a DAG this
         alone drains the whole graph in O(depth) rounds; without it
         the pivot loop claims acyclic-bulk singletons one outer
         round at a time (measured 500 s -> ~25 s on the sf0.01
         ontology graph). Coloring only ever sees the cyclic core.
      1. color F(v) = min node id reachable FROM v (synchronous
         min-propagation along out-edges to fixpoint). For any v with
         F(v) = c the pivot c satisfies F(c) = c, and every vertex on
         a c->..->v path inside color class c keeps color c, so
      2. marking: propagate a mark forward from each pivot along
         SAME-COLOR edges to fixpoint; marked vertices are exactly
         {v : v reaches c AND c reaches v} = SCC(c).
      3. assign marked vertices scc_id = color, drop them from the
         graph, repeat — inter-cycle chain vertices become trimmable
         the moment their cycles are claimed.
    Each inner round is one equi-join + map-side-combinable min/max —
    no driver-side graph state; frames persist per round and the
    previous round unpersists (bfs_distances discipline). Rounds are
    bounded by the longest simple path, not data size; the color/mark
    loops carry canonicalize.py's hard non-convergence error. 100-TB
    note: web-graph cores additionally want label-doubling for long
    chains; ontology/link graphs are shallow."""
    edges = (edges.select("src", "dst").distinct()
             .localCheckpoint(eager=True))
    nodes = (edges.select(F.col("src").alias("node"))
             .unionByName(edges.select(F.col("dst").alias("node")))
             .distinct().localCheckpoint(eager=True))
    assigned = None
    live_edges, live_nodes = edges, nodes

    def _accumulate(batch: DataFrame, acc: DataFrame | None) -> DataFrame:
        out = batch if acc is None else acc.unionByName(batch)
        return out.localCheckpoint(eager=True)

    for _ in range(outer_max):
        # 0. trim to the cyclic core, iterating on EDGES alone: an
        #    edge survives iff its src has an in-edge and its dst has
        #    an out-edge; the fixpoint is the subgraph of min in/out
        #    degree >= 1. Everything outside it is a certain
        #    singleton, assigned in ONE batch after the peel (two
        #    semi-joins + count per round — the node-frame variant
        #    cost ~5 blocking jobs per round).
        e, n_e = live_edges, live_edges.count()
        for _i in range(inner_max):
            if n_e == 0:
                break
            e2 = (e.join(e.select(F.col("dst").alias("src"))
                         .distinct(), "src")
                  .join(e.select(F.col("src").alias("dst"))
                        .distinct(), "dst")
                  .localCheckpoint(eager=True))
            n2 = e2.count()
            if n2 == n_e:
                break
            e, n_e = e2, n2
        core = (e.select(F.col("src").alias("node"))
                .unionByName(e.select(F.col("dst").alias("node")))
                .distinct().localCheckpoint(eager=True))
        trimmed = (live_nodes.join(core, "node", "left_anti")
                   .select("node", F.col("node").alias("scc_id")))
        if not trimmed.isEmpty():
            assigned = _accumulate(trimmed, assigned)
        live_nodes, live_edges = core, e
        n_live = core.count()
        if n_live == 0:
            break
        # 1. forward min-label colors. Each round's frame is
        # localCheckpoint'd, NOT merely persisted: nxt references f
        # twice (union + convergence join), so an uncut logical plan
        # doubles per round and plan processing, not data, becomes
        # the cost (canonicalize.py:33's rule).
        f = live_nodes.select("node", F.col("node").alias("color"))
        converged = False
        for _i in range(inner_max):
            stepped = (f.join(live_edges,
                              f["node"] == live_edges["dst"])
                       .select(F.col("src").alias("node"), "color"))
            nxt = (f.unionByName(stepped)
                   .groupBy("node").agg(F.min("color").alias("color"))
                   .localCheckpoint(eager=True))
            n_moved = (nxt.join(f.withColumnRenamed("color", "old"),
                                "node")
                       .filter(F.col("color") != F.col("old")).count())
            f = nxt
            if n_moved == 0:
                converged = True
                break
        if not converged:
            raise RuntimeError(
                f"scc_labels: coloring did not converge in {inner_max} "
                "rounds — graph has a longer path than inner_max; "
                "raise inner_max")
        # 2. forward mark from pivots along same-color edges
        ce = (live_edges
              .join(f.withColumnRenamed("node", "src")
                    .withColumnRenamed("color", "c_src"), "src")
              .join(f.withColumnRenamed("node", "dst")
                    .withColumnRenamed("color", "c_dst"), "dst")
              .filter(F.col("c_src") == F.col("c_dst"))
              .select("src", "dst").localCheckpoint(eager=True))
        m = (f.filter(F.col("node") == F.col("color")).select("node")
             .localCheckpoint(eager=True))
        n_m = m.count()
        converged = False
        for _i in range(inner_max):
            stepped = (m.join(ce, m["node"] == ce["src"])
                       .select(F.col("dst").alias("node")))
            nxt = (m.unionByName(stepped).distinct()
                   .localCheckpoint(eager=True))
            n_nxt = nxt.count()
            m = nxt
            if n_nxt == n_m:
                converged = True
                break
            n_m = n_nxt
        if not converged:
            raise RuntimeError(
                f"scc_labels: marking did not converge in {inner_max} "
                "rounds — raise inner_max")
        batch = m.join(f, "node").select(
            "node", F.col("color").alias("scc_id"))
        assigned = _accumulate(batch, assigned)
        live_nodes = (live_nodes.join(assigned, "node", "left_anti")
                      .localCheckpoint(eager=True))
        live_edges = (live_edges
                      .join(live_nodes.withColumnRenamed("node", "src"),
                            "src")
                      .join(live_nodes.withColumnRenamed("node", "dst"),
                            "dst")
                      .localCheckpoint(eager=True))
    else:
        if not live_nodes.isEmpty():
            raise RuntimeError(
                f"scc_labels: {outer_max} pivot rounds left vertices "
                "unassigned — pathological SCC nesting; raise outer_max")
    if assigned is None:   # empty edge set: no vertices at all
        return (edges.sparkSession.createDataFrame(
            [], "node string, scc_id string, scc_size bigint"))
    sizes = assigned.groupBy("scc_id").agg(
        F.count("*").cast("bigint").alias("scc_size"))
    return assigned.join(sizes, "scc_id").select(
        "node", "scc_id", "scc_size")


TOPO_MAX_ROUNDS = 24


def topo_longest_path_layers(edges: DataFrame,
                             max_rounds: int = TOPO_MAX_ROUNDS
                             ) -> DataFrame:
    """DAG (src, dst) = (child, parent) -> (node, layer): longest-path
    topological level, layer(root) = 0 (no parent), layer(v) = 1 +
    max(layer(parent)) — the scheduling stratum: every node's
    dependencies live in strictly lower layers, so layer k can be
    processed after k-1 wholesale (bfs_depths is the MIN-depth dual;
    the max layering is what a staged loader needs). Synchronous
    Bellman-style max-relaxation: layer_{k+1} = max(layer_k, 1 +
    layer_k over one child<-parent hop); converges in longest-path
    rounds on a DAG and provably NEVER on a cycle — the convergence
    cap doubles as cycle detection (cycle_chains then names the
    culprits). One equi-join + map-side max per round."""
    edges = (edges.select(F.col("src").alias("child"),
                          F.col("dst").alias("parent"))
             .distinct().localCheckpoint(eager=True))
    nodes = (edges.select(F.col("child").alias("node"))
             .unionByName(edges.select(F.col("parent").alias("node")))
             .distinct())
    lay = nodes.select("node", F.lit(0).alias("layer"))
    for _i in range(max_rounds):
        stepped = (lay.join(edges, lay["node"] == edges["parent"])
                   .select(F.col("child").alias("node"),
                           (F.col("layer") + 1).alias("layer")))
        # localCheckpoint, not persist: nxt references lay twice
        # (union + convergence join), so an uncut plan doubles per
        # round (canonicalize.py:33's rule)
        nxt = (lay.unionByName(stepped)
               .groupBy("node").agg(F.max("layer").alias("layer"))
               .localCheckpoint(eager=True))
        n_moved = (nxt.join(lay.withColumnRenamed("layer", "old"),
                            "node")
                   .filter(F.col("layer") != F.col("old")).count())
        lay = nxt
        if n_moved == 0:
            return lay.select("node",
                              F.col("layer").cast("int").alias("layer"))
    raise RuntimeError(
        f"topo_longest_path_layers: no fixpoint in {max_rounds} rounds "
        "— either a cycle (run cycle_chains/scc_labels to name it) or "
        "a longer dependency chain than max_rounds")


def condensation_edges(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Contract each SCC to its label: (c_src, c_dst, n_edges) over
    distinct SCC pairs, self-loops (intra-SCC edges) dropped. The
    condensation is provably acyclic, so topo_longest_path_layers
    composes on top of it even when the raw graph has knots — the
    staged-load recipe for a graph with cycles: scc_labels ->
    condensation_edges -> topo layers. Two equi-joins against the
    label frame (broadcastable when the vertex set is dim-sized;
    shuffle equi-join otherwise) + one map-side-combinable count."""
    lsrc = labels.select(F.col("node").alias("src"),
                         F.col("scc_id").alias("c_src"))
    ldst = labels.select(F.col("node").alias("dst"),
                         F.col("scc_id").alias("c_dst"))
    return (edges.select("src", "dst")
            .join(lsrc, "src").join(ldst, "dst")
            .filter(F.col("c_src") != F.col("c_dst"))
            .groupBy("c_src", "c_dst")
            .agg(F.count("*").cast("bigint").alias("n_edges")))


PP_PREDS = ("is_a", "part_of")
PP_ROUNDS = 8


def property_path_closure(rels: DataFrame, seeds: DataFrame,
                          preds: tuple[str, ...] = PP_PREDS,
                          n_rounds: int = PP_ROUNDS) -> DataFrame:
    """SPARQL property-path evaluation `seed (is_a|part_of)+ ?x`:
    min-hop closure over the predicate ALTERNATION from every seed —
    the generalization of dependency_closure (single predicate, no
    distance) to SPARQL 1.1 path semantics with per-pair distance.
    `seeds` is a one-column (start) frame; emits (start, node, dist)
    with dist >= 1, min over paths, capped at n_rounds.

    Labeled multi-source BFS: state (start, node, dist), one frontier
    equi-join on the edge src + map-side-combinable min per round,
    fixed round count so the DuckDB oracle unrolls the identical
    recurrence (recursive CTE + min). State size is bounded by
    |seeds| x |reachable closure|, the size of the ANSWER — the same
    bound any SPARQL engine pays for this query; each round is
    localCheckpoint'd (canonicalize.py:33's rule)."""
    edges = (rels.filter(F.col("predicate").isin(*preds))
             .select(F.col("subject").alias("src"),
                     F.col("object").alias("dst"))
             .distinct().localCheckpoint(eager=True))
    d = (seeds.select(F.col("start"))
         .distinct()
         .select("start", F.col("start").alias("node"),
                 F.lit(0).alias("dist")))
    for _ in range(n_rounds):
        stepped = (d.join(edges, d["node"] == edges["src"])
                   .select("start", F.col("dst").alias("node"),
                           (F.col("dist") + 1).alias("dist")))
        d = (d.unionByName(stepped)
             .groupBy("start", "node").agg(F.min("dist").alias("dist"))
             .localCheckpoint(eager=True))
    return (d.filter(F.col("dist") >= 1)
            .select("start", "node", F.col("dist").cast("int")
                    .alias("dist")))


BISIM_LEVELS = 2


def bisimulation_blocks(triples: DataFrame,
                        levels: int = BISIM_LEVELS) -> DataFrame:
    """k-bisimulation graph summarization (the SNAP/ExpLOD quotient
    every graph DB builds for cardinality estimation and structural
    indexing): nodes start in namespace blocks (sig_0) and split
    level by level on their labeled out-neighborhood block multiset —
    sig_{k+1}(v) = md5(sig_k(v) # sorted distinct {pred|sig_k(w)}).
    Two nodes share a level-k block iff they are k-bisimilar; emits
    (node, block, block_size) at level `levels`.

    Per level: one equi-join on the edge dst + one
    map-side-combinable collect_set groupBy — the signature string is
    bounded by out-degree x digest width, and md5 keeps it O(1)
    thereafter. The DuckDB oracle unrolls the identical recurrence
    (same separator/sort/hash), so blocks match byte-for-byte."""
    edges = (triples
             .filter((F.col("subject_type") == "uri")
                     & (F.col("object_type") == "uri"))
             .select(F.col("subject").alias("src"), "predicate",
                     F.col("object").alias("dst"))
             .distinct().localCheckpoint(eager=True))
    nodes = (edges.select(F.col("src").alias("node"))
             .unionByName(edges.select(F.col("dst").alias("node")))
             .distinct())
    sig = nodes.select(
        "node", F.substring_index("node", ":", 1).alias("sig"))
    for _ in range(levels):
        nb = (edges.join(sig.select(F.col("node").alias("dst"),
                                    F.col("sig").alias("nsig")), "dst")
              .select("src",
                      F.concat_ws("|", "predicate", "nsig").alias("e")))
        agg = (nb.groupBy("src")
               .agg(F.array_join(F.array_sort(F.collect_set("e")), ",")
                    .alias("arr")))
        sig = (sig.join(agg.withColumnRenamed("src", "node"),
                        "node", "left")
               .select("node",
                       F.md5(F.concat_ws(
                           "#", "sig", F.coalesce("arr", F.lit(""))))
                       .alias("sig"))
               .localCheckpoint(eager=True))
    sizes = sig.groupBy("sig").agg(
        F.count("*").cast("bigint").alias("block_size"))
    return (sig.join(sizes, "sig")
            .select("node", F.col("sig").alias("block"), "block_size"))


EXPLAIN_SRC = "CHEBI:10001"   # glucose — the demo explanation source
EXPLAIN_ROUNDS = 3


def explain_paths(triples: DataFrame, src: str = EXPLAIN_SRC,
                  rounds: int = EXPLAIN_ROUNDS) -> DataFrame:
    """Labeled shortest-path explanations: for every entity within
    `rounds` hops of `src` in the directed triple graph, ONE witness
    path rendered as "src -pred-> a -pred-> b" — the "why are these
    related" answer a KG UI shows next to a link-prediction score
    (kg_bfs_distances gives the radius; this gives the EVIDENCE).

    Synchronous BFS keeping one (dist, path) state per node, collapsed
    each round to the struct-min (dist first, then path byte order) —
    deterministic, and state stays one row per reached node instead of
    the path-enumeration blow-up. The per-round collapse is the
    CONTRACT: the witness is the round-greedy minimum, which the
    DuckDB oracle reproduces by unrolling the identical collapse per
    round (a global min over all paths could differ on equal-dist
    ties, so the twins pin the same recurrence). One frontier
    equi-join + struct-min groupBy per round, localCheckpoint'd."""
    edges = (triples
             .filter((F.col("subject_type") == "uri")
                     & (F.col("object_type") == "uri"))
             .select(F.col("subject").alias("a"), "predicate",
                     F.col("object").alias("b"))
             .filter(F.col("a") != F.col("b"))
             .distinct().localCheckpoint(eager=True))
    sym = (edges.select("a", "predicate", "b")
           .unionByName(edges.select(F.col("b").alias("a"),
                                     F.concat(F.lit("^"), "predicate")
                                     .alias("predicate"),
                                     F.col("a").alias("b"))))
    d = (edges.sparkSession.createDataFrame([(src,)], "node string")
         .select("node", F.lit(0).alias("dist"),
                 F.lit(src).alias("path")))
    for _ in range(rounds):
        stepped = (d.join(sym, d["node"] == sym["a"])
                   .select(F.col("b").alias("node"),
                           (F.col("dist") + 1).alias("dist"),
                           F.concat("path", F.lit(" -"), "predicate",
                                    F.lit("-> "), "b").alias("path")))
        d = (d.unionByName(stepped)
             .groupBy("node")
             .agg(F.min(F.struct("dist", "path")).alias("s"))
             .select("node", F.col("s.dist").cast("int").alias("dist"),
                     F.col("s.path").alias("path"))
             .localCheckpoint(eager=True))
    return d.filter(F.col("dist") >= 1)


DIA_ROUNDS = 6


def diameter_double_sweep(edges: DataFrame,
                          n_rounds: int = DIA_ROUNDS) -> DataFrame:
    """Double-sweep diameter lower bound over the undirected entity
    graph (Magnien/Latapy/Habib's BFS heuristic, the standard cheap
    diameter probe): BFS from a deterministic seed (least node id),
    hop to the farthest reached node (ties -> least id), BFS again —
    the second eccentricity is a provably valid diameter lower bound
    and is exact on trees. One row: seed, its eccentricity, the far
    endpoint pair, the bound, and the second sweep's reach (a
    disconnected graph shows up as n_reached < |V|).

    Scale shape: two fixed-round synchronous BFS passes (equi-join +
    map-side min per round, persisted frontier, previous round
    unpersisted — bfs_distances' discipline); the two argmax picks
    are 1-row broadcast joins, never a collect of the distance
    table."""
    edges = edges.localCheckpoint(eager=True)
    sym = _sym(edges).localCheckpoint(eager=True)

    def _bfs(seed: DataFrame) -> DataFrame:
        # frontier BFS: only NEWLY labeled nodes expand each round (the
        # previous full-relabel join re-expanded every settled node all
        # n_rounds times — same result, ~2x wall on the bench graph),
        # and an empty frontier exits early; the n_rounds cap and the
        # labeled set's min-dist semantics are unchanged
        labeled = (seed.select("node", F.lit(0).alias("dist"))
                   .localCheckpoint(eager=True))
        frontier = labeled
        for _ in range(n_rounds):
            nxt = (frontier.join(sym, frontier["node"] == sym["src"])
                   .select(F.col("dst").alias("node"),
                           (F.col("dist") + 1).alias("dist"))
                   .groupBy("node").agg(F.min("dist").alias("dist"))
                   .join(labeled, "node", "left_anti")
                   .localCheckpoint(eager=True))
            if nxt.isEmpty():
                break
            labeled = labeled.unionByName(nxt) \
                             .localCheckpoint(eager=True)
            frontier = nxt
        return labeled

    def _farthest(d: DataFrame) -> DataFrame:
        m = d.agg(F.max("dist").alias("m"))
        return (d.join(F.broadcast(m), d["dist"] == m["m"])
                .agg(F.min("node").alias("node"),
                     F.max("dist").alias("ecc")))

    seed = sym.agg(F.min("src").alias("node")).filter(
        F.col("node").isNotNull())
    d1 = _bfs(seed)
    f1 = _farthest(d1).localCheckpoint(eager=True)
    d1.unpersist()  # f1 is materialized; drop the sweep-1 frontier
    d2 = _bfs(f1.select("node"))
    f2 = _farthest(d2).localCheckpoint(eager=True)
    stats = (d2.agg(F.count("*").cast("bigint").alias("n_reached"))
             .localCheckpoint(eager=True))
    d2.unpersist()  # both 1-row outputs are pinned; drop sweep 2 too
    # assemble the four 1-row frames WITHOUT any join: union them with
    # disjoint column sets (nulls elsewhere) and take max per column —
    # max sees exactly one non-null per column, so this is the cross
    # join of singletons expressed as a 4-row aggregate (a constant-key
    # equi-join constant-folds back into CartesianProduct, which the
    # no-cartesian plan gate forbids)
    parts = (seed.select(F.col("node").alias("seed"))
             .unionByName(
                 f1.select(F.col("node").alias("sweep1_far"),
                           F.col("ecc").cast("int").alias("ecc_seed")),
                 allowMissingColumns=True)
             .unionByName(
                 f2.select(F.col("node").alias("sweep2_far"),
                           F.col("ecc").cast("int")
                           .alias("diameter_lb")),
                 allowMissingColumns=True)
             .unionByName(stats.select("n_reached"),
                          allowMissingColumns=True))
    return parts.agg(*[
        F.max(c).alias(c)
        for c in ("seed", "sweep1_far", "ecc_seed", "sweep2_far",
                  "diameter_lb", "n_reached")])


DESCRIBE_PREFIX = "CHEBI:100"


def describe_resources(triples: DataFrame,
                       prefix: str = DESCRIBE_PREFIX) -> DataFrame:
    """SPARQL DESCRIBE over the triple store: for every resource
    matching the seed prefix, emit its Concise Bounded Description —
    all triples where it is subject or object, tagged with role and
    the described resource — completing the query-form family next to
    SELECT (bgp_conjunctive), OPTIONAL (bgp_optional) and CONSTRUCT
    (construct_colocated).

    Two predicate-pruned scans of the (subject | object)-partitioned
    store unioned (each side an equi-prunable filter — on a
    subject-bucketed layout the subject arm is exchange-free), one
    distinct. Seed sets in real use are request-sized; a prefix seed
    here keeps the demo deterministic."""
    s = (triples.filter(F.col("subject").startswith(prefix))
         .select(F.col("subject").alias("resource"),
                 F.lit("subject").alias("role"),
                 "subject", "predicate", "object"))
    o = (triples.filter(F.col("object").startswith(prefix))
         .select(F.col("object").alias("resource"),
                 F.lit("object").alias("role"),
                 "subject", "predicate", "object"))
    return s.unionByName(o).distinct()
