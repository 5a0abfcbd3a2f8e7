"""Bounded in-driver graph kernels for graphs of ontology size.

The distributed fixpoints in canonicalize.connected_components and
graphops.kg_entailment pay two localCheckpoints and a convergence probe
per round, so on a graph of a few hundred ontology terms their cost is
Spark job overhead, not data. Each kernel here first collects its input
with ``limit(ROW_BOUND + 1).toArrow()``: if at most ROW_BOUND rows come
back, the graph is solved in one vectorised numpy pass and returned as a
local relation (``createDataFrame(pyarrow.Table)``); otherwise the
caller runs its distributed loop, the only path for graphs too large
for one process.

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
from pyspark.sql import functions as F

__all__ = ["ROW_BOUND", "NODE_BOUND", "components", "closures"]

# Rows collected to the driver before falling back to the distributed path.
ROW_BOUND = 65_536
# Distinct nodes of one closure: the kernel squares an n x n matrix.
NODE_BOUND = 2_048


def _collect(df: DataFrame) -> pa.Table | None:
    """df as one Arrow table if it has at most ROW_BOUND rows, else None."""
    t = df.limit(ROW_BOUND + 1).toArrow()
    return t if t.num_rows <= ROW_BOUND else None


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


def components(nodes: DataFrame, edges: DataFrame) -> DataFrame | None:
    """nodes(id) x edges(src, dst) -> (id, canonical_id), the min id of
    each node's component, or None if either input exceeds ROW_BOUND.
    Edges with a null endpoint or an endpoint outside ``nodes`` carry no
    label, as in the distributed join; a null id maps to null."""
    nt = _collect(nodes.select("id"))
    et = None if nt is None else _collect(edges.select("src", "dst"))
    if et is None:
        return None
    ids = nt.column("id")
    et = et.filter(pc.and_(pc.is_valid(et.column("src")),
                           pc.is_valid(et.column("dst"))))
    present = ids.drop_null()
    uniq, (node_c, src_c, dst_c) = _factorize(
        present, et.column("src"), et.column("dst"))
    is_node = np.zeros(len(uniq), dtype=bool)
    is_node[node_c] = True
    keep = is_node[src_c] & is_node[dst_c]
    lab = _min_labels(len(uniq), src_c[keep], dst_c[keep])
    n_null = len(ids) - len(present)
    canon = uniq.take(lab[node_c])
    out = pa.table({
        "id": pa.concat_arrays([present.combine_chunks(),
                                pa.nulls(n_null, ids.type)]),
        "canonical_id": pa.concat_arrays([canon,
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


def closures(bases: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """{family: base(subject, object)} -> {family: transitive closure}
    for every family solved in the driver; all bases are collected in
    one job. A family missing from the result (more than NODE_BOUND
    nodes), or every family (more than ROW_BOUND base rows in all), is
    left to the caller's distributed loop. Rows with a null endpoint join
    nothing and pass through, as in the distributed loop."""
    tagged = reduce(DataFrame.unionByName, [
        b.select(F.lit(p).alias("family"), "subject", "object")
        for p, b in bases.items()])
    t = _collect(tagged)
    if t is None:
        return {}
    out = {}
    for p, base in bases.items():
        rows = t.filter(pc.equal(t.column("family"), p))
        valid = pc.and_(pc.is_valid(rows.column("subject")),
                        pc.is_valid(rows.column("object")))
        edges = rows.filter(valid)
        pairs = _closure(edges.column("subject"), edges.column("object"))
        if pairs is None:
            continue
        dangling = rows.filter(pc.invert(valid))
        out[p] = base.sparkSession.createDataFrame(pa.table({
            "subject": pa.concat_arrays(
                [pairs[0], dangling.column("subject").combine_chunks()]),
            "object": pa.concat_arrays(
                [pairs[1], dangling.column("object").combine_chunks()])}))
    return out
