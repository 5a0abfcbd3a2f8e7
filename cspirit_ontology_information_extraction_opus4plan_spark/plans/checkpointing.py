"""Resumable triple materialization — per-partition checkpoints with
lineage + metrics (BASELINE.json north_rule: "resumable from checkpoint
with per-partition lineage + metrics").

Reference analog: the parsers' continue-on-error / progress-reporting
machinery (ParseResult parsers/__init__.py:392, ProgressReporter :234)
— re-expressed as batch-idempotent partitioned writes (SURVEY §2.9):

  * output partitioned by `part_id = pmod(xxhash64(doc_id), n_parts)` —
    content-addressed, stable under retries and re-runs;
  * ONE Spark job per (re)run covering all pending partitions, written
    with dynamic partition overwrite (idempotent per partition — a
    mid-job kill leaves partial partitions that the next run simply
    overwrites);
  * that job writes with at most one task per core
    (`defaultParallelism`): the i-th pending partition goes to task
    i mod n_tasks (dense placement — no hash, so no task takes more
    than ceil(pending / n_tasks) partitions, whichever subset is
    pending), and each task writes one file per partition it holds.
    Every write task pays a fixed deserialisation and Hadoop set-up
    cost, so a 16-partition write on 4 cores runs 4 tasks, not 16; on
    a cluster with at least n_parts cores the plan is one partition
    per task, as before;
  * a checkpoint marker per completed partition carrying lineage
    (inputs, parameters) + metrics (row count, observed inside the
    write job; wall time) — JSON
    files beside the output, read/written through Hadoop's
    FileSystem API so hdfs:///s3a:// output paths work, and published
    from a small thread pool (each is a tmp write and a rename; a
    failed marker raises, and the run stays partial); a bigger
    deployment would keep rows in an Iceberg `checkpoints` table
    with the pending set derived by anti-join;
  * resume = rerun: pending = all partitions minus marked ones.

Determinism: triple content is a pure function of (sf_dir, code), and
ids are content-addressed (operators/relations.py), so resumed output
is byte-identical to a single-shot run — asserted by the kill/resume
pytest.
"""

from __future__ import annotations

import json
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

CKPT_DIR = "_checkpoints"
# markers published at once: on a local filesystem 4 threads halve the
# publish of 16 markers (about 146 -> 74 ms); 8 gain nothing more
MARKER_THREADS = 4


def _fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for `path` via Hadoop's FileSystem API —
    resolves the scheme (file://, hdfs://, s3a://...) like spark.read
    does, so every probe/read/write against the output location agrees
    with what the distributed write produced. Driver-local os.* would
    raise (or silently touch the wrong filesystem) for the remote
    --out paths the spark-submit job advertises."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def fs_list_names(spark: SparkSession, path: str) -> list[str]:
    """Child names of `path` (see _fs); [] for a nonexistent path."""
    fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(hpath)]


def _fs_read_json(spark: SparkSession, path: str) -> dict:
    fs, hpath = _fs(spark, path)
    stream = fs.open(hpath)
    try:
        text = spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(text)


def _fs_write_json_atomic(spark: SparkSession, path: str,
                          obj: dict) -> None:
    fs, dst = _fs(spark, path)
    _write_json_atomic(fs, dst, obj)


def _write_json_atomic(fs, dst, obj: dict) -> None:
    """Write to <dst>.tmp then rename — the same atomic-publish
    contract the local os.replace gave, through the output path's own
    filesystem (`fs`, `dst`: a Hadoop FileSystem and Path)."""
    tmp = dst.suffix(".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(obj).encode("utf-8")))
    finally:
        out.close()
    if fs.exists(dst):
        fs.delete(dst, False)
    if not fs.rename(tmp, dst):
        raise IOError(f"atomic publish failed: rename {tmp} -> {dst}")


def observe_counts(df: DataFrame, agg: str) -> tuple[DataFrame,
                                                     Observation]:
    """`df` with the SQL aggregate `agg` (`<expr> AS <name>`) observed,
    and the Observation whose `.get[name]` holds it once an action on
    that frame has run. It is computed in the stage that runs `df`:
    attach it after the last exchange, and a write counts its rows in
    its own result stage, with no job reading the output back."""
    obs = Observation()
    return df.observe(obs, F.expr(agg)), obs


def with_part_id(df: DataFrame, n_parts: int) -> DataFrame:
    return df.selectExpr(
        "*", f"CAST(pmod(xxhash64(doc_id), {n_parts}) AS INT) AS part_id")


def _marker_name(part_id: int) -> str:
    return f"part_{part_id:05d}.json"


def _validate_existing_markers(spark: SparkSession, out_dir: str,
                               n_parts: int) -> None:
    """A marker written under a different n_parts means the existing
    partition layout is incompatible — resuming would mix pmod-K and
    pmod-N data (duplicates + losses) while reporting success. Refuse.
    Every marker is read: runs with different --parts can each have
    left markers, in any sort order."""
    ckpt = f"{out_dir.rstrip('/')}/{CKPT_DIR}"
    for name in sorted(fs_list_names(spark, ckpt)):
        if not name.endswith(".json"):
            continue
        marker = _fs_read_json(spark, f"{ckpt}/{name}")
        prev = marker.get("lineage", {}).get("n_parts")
        if prev is not None and prev != n_parts:
            raise ValueError(
                f"checkpoints in {out_dir} were written with "
                f"n_parts={prev}, but this run uses n_parts={n_parts}; "
                f"clear the output directory or rerun with --parts {prev}")


def completed_partitions(spark: SparkSession, out_dir: str,
                         n_parts: int) -> list[int]:
    have = set(fs_list_names(spark, f"{out_dir.rstrip('/')}/{CKPT_DIR}"))
    return [k for k in range(n_parts) if _marker_name(k) in have]


def pending_partitions(spark: SparkSession, out_dir: str,
                       n_parts: int) -> list[int]:
    done = set(completed_partitions(spark, out_dir, n_parts))
    return [k for k in range(n_parts) if k not in done]


def materialize_triples(
    spark: SparkSession,
    triples: DataFrame,
    out_dir: str,
    *,
    sf_dir: str,
    n_parts: int = 16,
    only_parts: list[int] | None = None,
) -> dict:
    """Write `triples` to `out_dir` partitioned by part_id, checkpointing
    each completed partition. Re-running resumes: completed partitions
    are skipped (not even scanned — the pending filter prunes them).
    `only_parts` restricts the run (the kill-simulation hook for tests).

    Returns a summary dict {written: [...], skipped: [...], rows: n}."""
    t0 = time.time()
    _validate_existing_markers(spark, out_dir, n_parts)
    done = completed_partitions(spark, out_dir, n_parts)
    pending = [k for k in range(n_parts) if k not in done
               and (only_parts is None or k in only_parts)]
    if not pending:
        return {"written": [], "skipped": done, "rows": 0, "wall_s": 0.0}

    pending_sql = ", ".join(map(str, pending))
    parted = with_part_id(triples, n_parts) \
        .filter(f"part_id IN ({pending_sql})")

    # one job, dynamic partition overwrite -> idempotent per partition;
    # at most one write task per core, placed by the index of part_id in
    # `pending` (not part_id itself: a resume of [3, 7, 11, 15] must
    # still spread over 4 tasks); the per-partition row counts come from
    # that job's result stage
    n_tasks = min(len(pending), spark.sparkContext.defaultParallelism)
    dense = F.expr(f"CAST(array_position(array({pending_sql}), part_id)"
                   " - 1 AS INT)")
    written, obs = observe_counts(
        parted.repartitionById(n_tasks, dense),
        "array(" + ", ".join(f"count_if(part_id = {k})" for k in pending)
        + ") AS n")
    (written.write
     .partitionBy("part_id")
     .option("partitionOverwriteMode", "dynamic")
     .mode("overwrite")
     .parquet(out_dir))
    counts = dict(zip(pending, obs.get["n"]))
    wall = round(time.time() - t0, 3)
    # the filesystem and the Path class are resolved once: each lookup
    # is a driver->JVM call, and every marker would repeat them. One
    # mkdirs first, so the publishing threads never race to create the
    # directory; a failed marker raises once the others finish.
    fs, ckpt = _fs(spark, f"{out_dir.rstrip('/')}/{CKPT_DIR}")
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs.mkdirs(ckpt)

    def publish(k: int) -> None:
        marker = {
            "part_id": k,
            "status": "complete",
            "metrics": {"n_rows": int(counts[k]),
                        "run_wall_s": wall},
            "lineage": {
                "input_sf_dir": sf_dir,
                "n_parts": n_parts,
                "partitioner": "pmod(xxhash64(doc_id), n_parts)",
                "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                             time.gmtime()),
            },
        }
        _write_json_atomic(fs, hpath(ckpt, _marker_name(k)), marker)

    with ThreadPoolExecutor(min(MARKER_THREADS, len(pending))) as pool:
        list(pool.map(publish, pending))

    return {"written": pending, "skipped": done,
            "rows": int(sum(counts.values())), "wall_s": wall}


# --- serving layout ---------------------------------------------------------

GRAPH_FILES_PER_PREDICATE = 4       # sandbox default; see docstring
GRAPH_MAX_RECORDS_PER_FILE = 5_000_000


def publish_graph_layout(triples: DataFrame, out_dir: str,
                         files_per_predicate: int =
                         GRAPH_FILES_PER_PREDICATE,
                         max_records_per_file: int =
                         GRAPH_MAX_RECORDS_PER_FILE) -> dict:
    """Publish the canonical triple store in its SERVING layout — the
    query-side counterpart to materialize_triples' doc-hash resume
    layout, and the Iceberg-table analog the north star names
    (partition spec = identity(predicate), sort order = (subject,
    object)):

      * directory-partitioned by `predicate` — the vocabulary is a
        closed semantic set (operators/ontology_data.py), so the
        directory count is bounded and per-predicate queries prune at
        the listing, never scanning other predicates;
      * each predicate's rows are hash-bucketed by subject into
        `files_per_predicate` writer tasks (a hub predicate therefore
        never funnels into one task — the same skew answer as
        canonicalize.py's salting), and every task sorts by (subject,
        object) so subject point/range lookups cluster into few row
        groups and parquet min/max stats skip the rest;
      * `maxRecordsPerFile` caps file size so a 100-TB predicate
        splits into many sorted files instead of one unsplittable blob.

    On Iceberg this maps 1:1 to `writeTo(t).partitionedBy(col) +
    write.sort-order = subject, object` with bucket write distribution;
    on plain parquet (this sandbox) the layout properties themselves —
    pruning, clustering, bounded file count — are what the test gates.
    Returns {n_predicates, n_files, rows}."""
    bucket = F.pmod(F.xxhash64("subject"), F.lit(files_per_predicate))
    written, obs = observe_counts(
        triples.repartition(F.col("predicate"), bucket.alias("sb")),
        "count(1) AS rows")
    (written
     .sortWithinPartitions("predicate", "subject", "object")
     .write.mode("overwrite")
     .option("maxRecordsPerFile", max_records_per_file)
     .partitionBy("predicate")
     .parquet(out_dir))
    spark = triples.sparkSession
    pred_dirs = [n for n in fs_list_names(spark, out_dir)
                 if n.startswith("predicate=")]
    n_files = sum(
        sum(1 for f in fs_list_names(spark, f"{out_dir}/{d}")
            if f.endswith(".parquet"))
        for d in pred_dirs)
    return {"n_predicates": len(pred_dirs), "n_files": n_files,
            "rows": obs.get["rows"]}
