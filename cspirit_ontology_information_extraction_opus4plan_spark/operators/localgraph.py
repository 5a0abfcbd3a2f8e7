"""Bounded in-driver graph kernels for graphs of ontology size.

The distributed fixpoints in canonicalize.connected_components and
graphops.kg_entailment pay two localCheckpoints and a convergence probe
per round, so on a graph of a few hundred ontology terms their cost is
Spark job overhead, not data. Each operator therefore makes one bounded
collection of everything it needs (``collect``: one tagged table, read
with ``coalesce(1).limit(ROW_BOUND + 1).toArrow()``). If at most
ROW_BOUND rows come back, the graph is solved here in vectorised
numpy/pyarrow and returned as a local relation
(``createDataFrame(pyarrow.Table)``); otherwise the caller runs its
distributed loop, the only path for graphs too large for one process.

Two kernels:
  * ``components`` — min-id connected components over explicit edges
    and over groups of shared keys (a key joins every id that carries
    it: the id-key bipartite graph connects the same ids as the star
    edges min-id-per-key -> other ids, with no edge built);
  * ``closure_rows`` — transitive closure by boolean matrix squaring,
    for at most NODE_BOUND distinct nodes.

Ids are factorised with ``np.unique``. Its order (numeric, or code point
for strings) equals Spark's ordering of the same values (UTF-8 binary
for strings), so "min id" means the same on both paths.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

__all__ = ["ROW_BOUND", "NODE_BOUND", "collect", "components",
           "closure_rows", "closures"]

# Rows collected to the driver before falling back to the distributed path.
ROW_BOUND = 65_536
# Distinct nodes of one closure: the kernel squares an n x n matrix.
NODE_BOUND = 2_048


def collect(df: DataFrame) -> pa.Table | None:
    """df as one Arrow table if it has at most ROW_BOUND rows, else None.
    One task reads df's partitions in turn and stops after ROW_BOUND + 1
    rows, so a small input costs one single-task job and a large one
    only that many rows (a shuffle inside df still runs in full)."""
    t = df.coalesce(1).limit(ROW_BOUND + 1).toArrow()
    return t if t.num_rows <= ROW_BOUND else None


def _union(frames: list[DataFrame]) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True),
                  frames)


def _factorize(*cols: pa.ChunkedArray) -> tuple[pa.Array, list[np.ndarray]]:
    """Distinct values of null-free columns of one type, ascending and of
    that type, and the codes of each column into them."""
    col = pa.chunked_array([ch for c in cols for ch in c.chunks],
                           type=cols[0].type).combine_chunks()
    uniq, first, codes = np.unique(col.to_numpy(zero_copy_only=False),
                                   return_index=True, return_inverse=True)
    bounds = np.cumsum([len(c) for c in cols])[:-1]
    return col.take(first), np.split(codes, bounds)


def _min_labels(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Per node, the smallest node code of its connected component: hook
    each edge's larger root under the smaller one (np.minimum.at), then
    pointer-jump until every label is a root, until no edge joins two
    different roots. Labels only decrease, so each root is its
    component's minimum."""
    lab = np.arange(n)
    while True:
        ls, ld = lab[src], lab[dst]
        cross = ls != ld
        if not cross.any():
            return lab
        np.minimum.at(lab, ls[cross], ld[cross])
        np.minimum.at(lab, ld[cross], ls[cross])
        while True:
            jumped = lab[lab]
            if np.array_equal(jumped, lab):
                break
            lab = jumped


def _valid(t: pa.Table, *cols: str) -> pa.Table:
    return t.filter(reduce(pc.and_, [pc.is_valid(t.column(c))
                                     for c in cols]))


def components(nodes: DataFrame, edges: DataFrame,
               *keyed: DataFrame) -> DataFrame | None:
    """nodes(id), edges(src, dst) and key groups keyed(k, id) ->
    (id, canonical_id), the min id of each node's component, or None if
    the tagged table of all inputs exceeds ROW_BOUND rows; it is read in
    one collection. Within one group, ids that share a key are
    connected; keys of different groups never meet, whatever their
    text. Edges and key rows with a null or a non-node id, and null
    keys, connect nothing, as in the distributed join; each node row
    gives one output row, and a null id maps to null.

    Codes: node ids first (ascending), then the keys of each group, so
    a component's smallest code is always a node id."""
    t = collect(_union(
        [nodes.selectExpr("0 AS g", "id AS a"),
         edges.selectExpr("1 AS g", "src AS a", "dst AS b")]
        + [kd.selectExpr(f"{2 + i} AS g", "id AS a", "k")
           for i, kd in enumerate(keyed)]))
    if t is None:
        return None
    groups = [t.filter(pc.equal(t.column("g"), g))
              for g in range(2 + len(keyed))]
    ids = groups[0].column("a")
    present = ids.drop_null()
    e = _valid(groups[1], "a", "b")
    keys = [_valid(kt, "a", "k") for kt in groups[2:]]
    uniq, (node_c, src_c, dst_c, *key_id_c) = _factorize(
        present, e.column("a"), e.column("b"),
        *[kt.column("a") for kt in keys])
    is_node = np.zeros(len(uniq), dtype=bool)
    is_node[node_c] = True
    keep = is_node[src_c] & is_node[dst_c]
    src, dst, n = [src_c[keep]], [dst_c[keep]], len(uniq)
    for kt, id_c in zip(keys, key_id_c):
        enc = pc.dictionary_encode(kt.column("k").combine_chunks())
        keep = is_node[id_c]
        src.append(id_c[keep])
        dst.append(n + enc.indices.to_numpy()[keep])
        n += len(enc.dictionary)
    lab = _min_labels(n, np.concatenate(src), np.concatenate(dst))
    n_null = len(ids) - len(present)
    out = pa.table({
        "id": pa.concat_arrays([present.combine_chunks(),
                                pa.nulls(n_null, ids.type)]),
        "canonical_id": pa.concat_arrays([uniq.take(lab[node_c]),
                                          pa.nulls(n_null, ids.type)])})
    return nodes.sparkSession.createDataFrame(out)


def _closure(src: pa.ChunkedArray,
             dst: pa.ChunkedArray) -> tuple[pa.Array, pa.Array] | None:
    """Every (a, c) joined by a path of one or more edges, or None when
    the edges touch more than NODE_BOUND distinct nodes. Dense boolean
    reachability squaring: R <- R or R.R doubles the path length
    covered, so it stops after O(log diameter) products."""
    uniq, (s, d) = _factorize(src, dst)
    n = len(uniq)
    if n > NODE_BOUND:
        return None
    reach = np.zeros((n, n), dtype=np.float32)
    reach[s, d] = 1.0
    count = np.count_nonzero(reach)
    while True:
        reach = ((reach + reach @ reach) > 0).astype(np.float32)
        grown = np.count_nonzero(reach)
        if grown == count:
            break
        count = grown
    a, c = np.nonzero(reach)
    return uniq.take(a), uniq.take(c)


def closure_rows(subject: pa.ChunkedArray, obj: pa.ChunkedArray
                 ) -> tuple[pa.ChunkedArray, pa.ChunkedArray] | None:
    """The transitive closure of the edges (subject[i], obj[i]) as
    (subject, object) columns, or None past NODE_BOUND nodes. Rows with
    a null endpoint join nothing and pass through, as in the distributed
    loop."""
    rows = pa.table({"subject": subject, "object": obj})
    valid = pc.and_(pc.is_valid(subject), pc.is_valid(obj))
    edges = rows.filter(valid)
    pairs = _closure(edges.column("subject"), edges.column("object"))
    if pairs is None:
        return None
    dangling = rows.filter(pc.invert(valid))
    return tuple(pa.chunked_array([p, *dangling.column(c).chunks],
                                  type=p.type)
                 for p, c in zip(pairs, ("subject", "object")))


def closures(bases: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """{family: base(subject, object)} -> {family: transitive closure}
    for every family solved in the driver; all bases are collected in
    one job. A family missing from the result (more than NODE_BOUND
    nodes), or every family (more than ROW_BOUND base rows in all), is
    left to the caller's distributed loop."""
    t = collect(_union([
        b.selectExpr(f"{i} AS family", "subject", "object")
        for i, b in enumerate(bases.values())]))
    if t is None:
        return {}
    out = {}
    for i, (p, base) in enumerate(bases.items()):
        rows = t.filter(pc.equal(t.column("family"), i))
        closed = closure_rows(rows.column("subject"), rows.column("object"))
        if closed is not None:
            out[p] = base.sparkSession.createDataFrame(pa.table(
                {"subject": closed[0], "object": closed[1]}))
    return out
