"""Kill/resume invariant (north_rule): a run interrupted after k
partitions, then resumed, produces a final table identical to a
single-shot run — and completed partitions are not recomputed."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

from cspirit_ontology_information_extraction_opus4plan_spark import api
from cspirit_ontology_information_extraction_opus4plan_spark.plans import (
    checkpointing as CK,
)

N_PARTS = 8


def _rows(spark, path):
    df = spark.read.parquet(path)
    return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())


def _assert_markers_exact(out, parts):
    """Every marker of `parts` carries the row count of its part_id=
    directory (0 where the partition wrote no file)."""
    for k in parts:
        with open(os.path.join(out, CK.CKPT_DIR, f"part_{k:05d}.json")) as f:
            marker = json.load(f)
        part_dir = os.path.join(out, f"part_id={k}")
        n = (pq.read_table(part_dir).num_rows if os.path.isdir(part_dir)
             else 0)
        assert marker["metrics"]["n_rows"] == n, k


def test_kill_and_resume_identical(spark, sf_dir, tmp_path):
    triples = api.triples_df(spark, sf_dir)

    # single-shot reference run
    full = str(tmp_path / "full")
    s1 = CK.materialize_triples(spark, triples, full,
                                sf_dir=sf_dir, n_parts=N_PARTS)
    assert sorted(s1["written"]) == list(range(N_PARTS))
    _assert_markers_exact(full, range(N_PARTS))
    assert s1["rows"] == len(_rows(spark, full)) > 0

    # interrupted run: only half the partitions complete ("kill")
    part = str(tmp_path / "part")
    s2 = CK.materialize_triples(spark, triples, part, sf_dir=sf_dir,
                                n_parts=N_PARTS,
                                only_parts=list(range(N_PARTS // 2)))
    assert sorted(s2["written"]) == list(range(N_PARTS // 2))
    _assert_markers_exact(part, range(N_PARTS // 2))
    assert CK.pending_partitions(spark, part, N_PARTS) == \
        list(range(N_PARTS // 2, N_PARTS))

    # resume: remaining partitions only; completed ones skipped
    s3 = CK.materialize_triples(spark, triples, part,
                                sf_dir=sf_dir, n_parts=N_PARTS)
    assert sorted(s3["written"]) == list(range(N_PARTS // 2, N_PARTS))
    assert sorted(s3["skipped"]) == list(range(N_PARTS // 2))
    _assert_markers_exact(part, range(N_PARTS))
    assert s2["rows"] + s3["rows"] == s1["rows"]

    # identical final content
    assert _rows(spark, part) == _rows(spark, full)

    # checkpoint markers carry lineage + metrics
    with open(os.path.join(part, CK.CKPT_DIR, "part_00000.json")) as f:
        marker = json.load(f)
    assert marker["status"] == "complete"
    assert marker["lineage"]["input_sf_dir"] == sf_dir

    # fully-resumed table: another run is a no-op
    s4 = CK.materialize_triples(spark, triples, part,
                                sf_dir=sf_dir, n_parts=N_PARTS)
    assert s4["written"] == []


def _part_files(out):
    """{part_id: [parquet file names]} of the part_id= directories."""
    return {int(d.split("=", 1)[1]): sorted(
                f for f in os.listdir(os.path.join(out, d))
                if f.endswith(".parquet"))
            for d in os.listdir(out) if d.startswith("part_id=")}


def test_resume_write_layout(spark, sf_dir, tmp_path):
    """A run of the odd partitions, then a resume: the final rows equal a
    single-shot run, every part_id= directory holds one parquet file,
    and the first run's four files come from four distinct writer tasks
    (the part-NNNNN prefix), so no placement piles the pending partitions
    into one task."""
    triples = api.triples_df(spark, sf_dir)
    full = str(tmp_path / "full")
    CK.materialize_triples(spark, triples, full, sf_dir=sf_dir,
                           n_parts=N_PARTS)

    out = str(tmp_path / "resumed")
    odd = [1, 3, 5, 7]
    CK.materialize_triples(spark, triples, out, sf_dir=sf_dir,
                           n_parts=N_PARTS, only_parts=odd)
    first = _part_files(out)
    assert sorted(first) == odd
    assert all(len(names) == 1 for names in first.values()), first
    assert len({names[0][:len("part-00000")]
                for names in first.values()}) == len(odd), first

    CK.materialize_triples(spark, triples, out, sf_dir=sf_dir,
                           n_parts=N_PARTS)
    files = _part_files(out)
    assert sorted(files) == list(range(N_PARTS))
    assert all(len(names) == 1 for names in files.values()), files
    assert _rows(spark, out) == _rows(spark, full)


def test_zero_row_input_publishes_every_marker(spark, sf_dir, tmp_path):
    """An input with no rows writes no partition files, yet the run is
    complete: every marker is published with n_rows 0."""
    out = str(tmp_path / "empty")
    s = CK.materialize_triples(spark, api.triples_df(spark, sf_dir).limit(0),
                               out, sf_dir=sf_dir, n_parts=N_PARTS)
    assert sorted(s["written"]) == list(range(N_PARTS))
    assert s["rows"] == 0
    _assert_markers_exact(out, range(N_PARTS))
    assert CK.pending_partitions(spark, out, N_PARTS) == []


def test_marker_with_other_n_parts_refused_in_any_position(spark, sf_dir,
                                                          tmp_path):
    """A marker left by a run with another n_parts is refused even when
    it is not the first marker in sort order."""
    out = tmp_path / "mixed"
    ckpt = out / CK.CKPT_DIR
    ckpt.mkdir(parents=True)
    for k, n in [(0, N_PARTS), (1, N_PARTS), (5, N_PARTS // 2)]:
        (ckpt / f"part_{k:05d}.json").write_text(json.dumps(
            {"part_id": k, "status": "complete",
             "lineage": {"n_parts": n}}))
    with pytest.raises(ValueError, match=f"n_parts={N_PARTS // 2}"):
        CK.materialize_triples(spark, api.triples_df(spark, sf_dir),
                               str(out), sf_dir=sf_dir, n_parts=N_PARTS)


def test_graph_serving_layout(spark, sf_dir, tmp_path):
    """publish_graph_layout: predicate-pruned, subject-sorted, bounded
    file count — the Iceberg partition-spec/sort-order analog."""
    from pyspark.sql import functions as F

    triples = api.q_triples_dedup(spark, sf_dir)
    out = str(tmp_path / "graph")
    stats = CK.publish_graph_layout(triples, out, files_per_predicate=3)
    assert stats["rows"] == triples.count()

    back = spark.read.parquet(out)
    preds = [r["predicate"] for r in
             triples.select("predicate").distinct().collect()]
    assert stats["n_predicates"] == len(preds)
    # bounded files per predicate directory
    assert stats["n_files"] <= 3 * len(preds)

    # partition pruning: the per-predicate filter reaches the scan as a
    # partition filter, not a data filter
    one = back.filter(F.col("predicate") == preds[0])
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(predicate" in plan
    assert one.count() == \
        triples.filter(F.col("predicate") == preds[0]).count()

    # subject-sorted within every file (parquet min/max stats usable)
    import glob as _glob

    import pyarrow.parquet as pq
    for f in _glob.glob(f"{out}/predicate=*/*.parquet"):
        subj = pq.read_table(f, columns=["subject"])["subject"] \
            .to_pylist()
        assert subj == sorted(subj)
