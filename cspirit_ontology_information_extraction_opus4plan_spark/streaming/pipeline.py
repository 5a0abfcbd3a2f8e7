"""Structured Streaming ingestion for the KG pipeline.

The reference is batch-only (SURVEY §2.9: parse_stream fully reads its
handle; no watermarks/event-time semantics exist to reproduce), and the
north rule's resumability requirement is met by the batch idempotent
writes in plans/checkpointing.py. This module is the *incremental
ingestion* face of the same engine: new document files landing in a
directory flow through the identical NER -> link -> extract stages via
``foreachBatch`` — one code path for batch and streaming, which is the
Spark-idiomatic way to run a batch-defined pipeline continuously. Every
micro-batch calls ``extraction.triples_from_docs``, as the batch
``api.triples_df`` does, so a micro-batch too sends only the spans that
can yield a triple through NER. Every stream here runs through one
driver, ``_run_stream``: one input file per micro-batch, foreachBatch,
and availableNow (drain what exists, then stop) unless told otherwise.

Exactly-once: the stream checkpoint (WAL + source offsets) makes each
input file processed once, and each micro-batch writes to its own
``batch_id=N`` subdirectory with overwrite — so a crash-replay of an
already-written batch is idempotent rather than at-least-once. The
7-tuple dedup is applied by readers (dedup is a global property the
batch `dedup_triples` provides; a streaming GLOBAL dedup would need
stateful dropDuplicates over an unbounded key space — deliberately NOT
done, matching the partition-overwrite + read-side-dedup design of the
batch materializer). The bounded-state variant IS provided:
`dedup_events_within_watermark` suppresses re-deliveries inside the
watermark horizon with state that expires as the watermark advances.

Versioned stores. The merging streams (stream_merge_triples,
stream_daily_counts, stream_entailment_triples, stream_neardup_pairs,
stream_fused_triples) and the maintenance passes
(compact_store_version, retract_store_version) keep a snapshot chain
on plain parquet, the shape Iceberg gives a table:

  * layout: version N is `v=N` (one table) or `v=N/<table>` (tables
    committed together);
  * marker: `_commit_vN.json` is {version, parent, one row count per
    counted table, ...}, published after the data. A stream commit adds
    `stream_batch` = {query_id, batch_id}, the batch that wrote it (the
    query id is kept in the stream checkpoint, so it survives a
    restart); a maintenance commit adds `compaction` or `action`. The
    counts come from the write itself (checkpointing.observe_counts).
    A `v=N` without a marker never committed and is invisible;
    store_history is the pointer's version and its parent chain, so a
    marker the pointer never reached (a crash between the two) is not
    listed;
  * pointer: `_latest.json` is {version, parent}, published atomically
    after the marker; readers resolve the current version through it;
  * version and parent (`_commit_target`): a stream batch whose stream
    last committed that same batch is a crash replay (the driver died
    after the commit, before the checkpoint recorded the batch). If
    that commit is the latest, the batch rewrites it from the same
    parent; if later commits build on it (maintenance ran between the
    crash and the restart), the batch commits nothing. So nothing is
    applied twice. Every other commit takes a fresh version above every
    committed one, on top of the pointer's version: a maintenance commit
    between ingest runs, or a new checkpoint over an existing store, is
    built on and never overwritten.

`_commit` writes a version and publishes its marker and then the
pointer; it is the only writer of either.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..corpus import DOCS_SCHEMA
from ..extraction import triples_from_docs
from ..plans.checkpointing import (_fs, _fs_read_json,
                                   _fs_write_json_atomic, fs_list_names,
                                   observe_counts)


def _run_stream(spark: SparkSession, schema: str, input_dir: str,
                checkpoint_dir: str,
                process: Callable[[DataFrame, int], None],
                trigger_available_now: bool, batch_out: str | None = None):
    """The stream driver: read `input_dir` one file per micro-batch and
    call `process(batch_df, batch_id)` on each. Returns the started
    StreamingQuery (the caller awaits or stops it).

    `batch_out` is a directory of per-batch `batch_id=N` outputs. Their
    overwrite is idempotent only while checkpoint_dir and the output stay
    paired: a fresh checkpoint restarts batch ids at 0 and would
    overwrite SOME old batch dirs and leave others — a mixed old/new
    table. That mismatch is refused."""
    if (batch_out is not None
            and any(name.startswith("batch_id=")
                    for name in fs_list_names(spark, batch_out))
            and not fs_list_names(spark, checkpoint_dir)):
        raise ValueError(
            f"{batch_out} already holds batch_id=* output but "
            f"checkpoint_dir {checkpoint_dir} is empty — restarting "
            f"would reuse batch ids and mix old and new batches; "
            f"clear the output or reuse the original checkpoint_dir")
    writer = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(input_dir)
              .writeStream.foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_triples(spark: SparkSession, input_dir: str, out_dir: str,
                   checkpoint_dir: str, trigger_available_now: bool = True):
    """readStream over a documents directory -> foreachBatch(pipeline)
    -> parquet append. Returns the started StreamingQuery (caller
    awaits/stops). availableNow drains what exists and stops — the
    backfill-then-incremental pattern."""
    def process(batch_df: DataFrame, batch_id: int) -> None:
        # per-batch subdirectory + overwrite = idempotent under replay:
        # if the driver dies after the write but before the stream
        # checkpoint commits this batch's offsets, the replay overwrites
        # the same subdir instead of appending duplicates (a blind
        # append would silently inflate dedup support counts downstream)
        (triples_from_docs(batch_df)
         .write.mode("overwrite")
         .parquet(f"{out_dir}/batch_id={batch_id}"))

    return _run_stream(spark, DOCS_SCHEMA, input_dir, checkpoint_dir,
                       process, trigger_available_now, batch_out=out_dir)


# --- event-time windowed aggregation + sessionization -----------------------
#
# Beyond the batch-only reference: the Structured Streaming event-time
# surface (tumbling windows + watermark late-data handling, session
# windows). Both operators take EITHER a batch or a streaming frame —
# `F.window` / `F.session_window` are plan nodes, so the one definition
# serves the oracle-gated batch queries and the watermarked streams
# (tested by replaying the events table file-by-file).

EVENTS_SCHEMA = ("event_id bigint, ts timestamp, user_id bigint, "
                 "event_type string, value double, props string")

TUMBLE_DUR = "6 hours"
SESSION_GAP = "8 hours"
LATE_WATERMARK = "12 hours"
HOP_DUR = "6 hours"   # hopping window width
HOP_SLIDE = "3 hours"  # hopping window slide (width/slide windows/event)


def windowed_event_counts(events: DataFrame,
                          window_dur: str = TUMBLE_DUR,
                          watermark: str | None = None) -> DataFrame:
    """Tumbling event-time windows per event_type: count + value total.
    With `watermark` set (streaming), state for windows older than
    max(event time) - watermark is finalized and late rows beyond it
    are dropped; batch callers leave it None (watermark is a no-op on
    batch plans anyway). Epoch-aligned windows — the oracle recomputes
    them with time_bucket."""
    src = events.withWatermark("ts", watermark) if watermark else events
    w = F.window("ts", window_dur)
    return (src.groupBy(w.alias("win"), "event_type")
            .agg(F.count("*").cast("bigint").alias("n_events"),
                 F.round(F.sum("value"), 6).alias("total_value"))
            .select(F.col("win.start").alias("window_start"),
                    F.col("win.end").alias("window_end"),
                    "event_type", "n_events", "total_value"))


def hopping_event_counts(events: DataFrame,
                         window_dur: str = HOP_DUR,
                         slide: str = HOP_SLIDE,
                         watermark: str | None = None) -> DataFrame:
    """Hopping (sliding) event-time windows per event_type — the
    overlapping-window mode tumbling can't express: each event lands in
    width/slide windows, so a 6h/3h hop gives every 3h-aligned start a
    full 6h trailing view (rolling KPIs, rate limiting, trend windows).
    Same single definition serves batch and watermarked streaming,
    like windowed_event_counts above.

    Scale shape: Spark expands each row to width/slide window
    assignments (a constant, 2 here) before one hash aggregate — cost
    is the same groupBy as tumbling at 2x row fan-out, map-side
    combinable, no window function and no global sort."""
    src = events.withWatermark("ts", watermark) if watermark else events
    w = F.window("ts", window_dur, slide)
    return (src.groupBy(w.alias("win"), "event_type")
            .agg(F.count("*").cast("bigint").alias("n_events"),
                 F.round(F.sum("value"), 6).alias("total_value"))
            .select(F.col("win.start").alias("window_start"),
                    F.col("win.end").alias("window_end"),
                    "event_type", "n_events", "total_value"))


ATTR_HORIZON = "2 hours"  # click->purchase attribution window


def attributed_purchases(clicks: DataFrame,
                         purchases: DataFrame,
                         horizon: str = ATTR_HORIZON) -> DataFrame:
    """Click->purchase attribution join: every purchase paired with the
    same user's clicks in the preceding `horizon` (click_ts <=
    purchase_ts < click_ts + horizon). ONE definition serves batch and
    stream-stream: on streams, watermark BOTH inputs before calling —
    the time-bound condition lets Spark expire join state older than
    watermark + horizon instead of buffering both streams forever
    (the unbounded-state trap of an unconstrained stream-stream join).

    Emits (click_id, purchase_id, user_id, click_ts, purchase_ts,
    value). Scale shape: equi-join on user_id with the range condition
    as a post-filter — shuffle-partitionable, AQE-skew-splittable,
    never a nested loop; per-user click x purchase fan-out is bounded
    by the horizon."""
    c = clicks.select(F.col("event_id").alias("click_id"),
                      "user_id", F.col("ts").alias("click_ts"))
    p = purchases.select(F.col("event_id").alias("purchase_id"),
                         F.col("user_id").alias("p_user"),
                         F.col("ts").alias("purchase_ts"), "value")
    cond = ((F.col("user_id") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts")
               < F.col("click_ts") + F.expr(f"INTERVAL {horizon}")))
    return (c.join(p, cond)
            .select("click_id", "purchase_id", "user_id",
                    "click_ts", "purchase_ts",
                    F.round("value", 6).alias("value")))


def sessionized_events(events: DataFrame,
                       gap: str = SESSION_GAP,
                       watermark: str | None = None) -> DataFrame:
    """Per-user session windows (gap-merged event-time sessions): the
    built-in session_window plan node — Spark merges events whose gaps
    are under `gap` into [min ts, max ts + gap) windows, in one
    stateful aggregation (no self-join, no per-user sort exported to
    the caller). The oracle re-derives sessions independently with the
    SQL islands technique (lag + gap flag + running sum)."""
    src = events.withWatermark("ts", watermark) if watermark else events
    w = F.session_window("ts", gap)
    return (src.groupBy(w.alias("win"), "user_id")
            .agg(F.count("*").cast("bigint").alias("n_events"),
                 F.round(F.sum("value"), 6).alias("total_value"))
            .select("user_id",
                    F.col("win.start").alias("session_start"),
                    F.col("win.end").alias("session_end"),
                    "n_events", "total_value"))


# --- custom stateful operator: applyInPandasWithState ----------------------

RUNNING_TOTALS_SCHEMA = ("user_id bigint, n_events bigint, "
                         "total_value double")
_STATE_SCHEMA = "n bigint, tot double"


def running_user_totals(events: DataFrame) -> DataFrame:
    """Cross-micro-batch running totals per user — the custom stateful
    operator class (applyInPandasWithState): arbitrary per-key state
    that `groupBy().agg()` can't express incrementally when the update
    logic is imperative. State is O(1) per user (count + sum), Arrow
    batches in/out (no per-row Python), keys partitioned by the state
    store — one row per user per micro-batch it appears in, carrying
    the cumulative totals so far. Batch equivalent for testing: plain
    groupBy count/sum."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdf_iter, state):
        n, tot = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            tot += float(pdf["value"].sum())
        state.update((n, tot))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "total_value": [round(tot, 6)]})

    return (events.groupBy("user_id")
            .applyInPandasWithState(update, RUNNING_TOTALS_SCHEMA,
                                    _STATE_SCHEMA, "update",
                                    GroupStateTimeout.NoTimeout))


def dedup_events_within_watermark(events: DataFrame,
                                  watermark: str = LATE_WATERMARK,
                                  keys: Sequence[str] = ("event_id",)
                                  ) -> DataFrame:
    """Streaming exact dedup with BOUNDED state: dropDuplicatesWithinWatermark
    keeps a key's dedup state only until the watermark passes its event
    time, so re-deliveries inside the watermark horizon (the realistic
    at-least-once-source case: source retries, overlapping file drops)
    are suppressed without the unbounded key-space state a plain
    streaming dropDuplicates would accumulate. Complements the batch
    materializer's read-side 7-tuple dedup (module docstring): readers
    still own *global* dedup; this bounds the duplicate volume they see."""
    return (events.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(list(keys)))


# --- the versioned store protocol (module docstring) ------------------------

STORE_POINTER = "_latest.json"

# one table of a version: (name, frame, marker count key or None); the
# name "" is the version directory itself
Table = tuple[str, DataFrame, str | None]


def _table_path(store_dir: str, version: int, name: str = "") -> str:
    return f"{store_dir}/v={version}" + (f"/{name}" if name else "")


def _marker_path(store_dir: str, version: int) -> str:
    return f"{store_dir}/_commit_v{version}.json"


def _committed_versions(spark: SparkSession, store_dir: str) -> list[int]:
    """Versions with a commit marker, ascending (the .tmp of a marker
    being published is not one)."""
    return sorted(int(name[len("_commit_v"):-len(".json")])
                  for name in fs_list_names(spark, store_dir)
                  if name.startswith("_commit_v")
                  and name.endswith(".json"))


def current_store(spark: SparkSession, store_dir: str) -> DataFrame | None:
    """The latest committed canonical-store version, or None before the
    first commit. Readers resolve through the atomic pointer marker, so
    a half-written version dir is never visible."""
    ptr = _read_pointer(spark, store_dir)
    if not ptr:
        return None
    return spark.read.parquet(_table_path(store_dir, ptr["version"]))


def _read_pointer(spark: SparkSession, store_dir: str) -> dict | None:
    """The pointer marker, or None before the first commit
    (_fs_read_json raises on a missing path, so probe the listing)."""
    if STORE_POINTER not in fs_list_names(spark, store_dir):
        return None
    return _fs_read_json(spark, f"{store_dir}/{STORE_POINTER}")


def _commit_target(spark: SparkSession, store_dir: str,
                   batch: dict | None = None
                   ) -> tuple[int, int | None] | None:
    """(version, parent) of the next commit to `store_dir`, or None when
    there is nothing to commit: the one version/parent rule. `batch` is
    the committing stream batch ({query_id, batch_id}), None for a
    maintenance pass. When the latest commit of `batch`'s stream is
    `batch` itself, the batch is a crash replay: it rewrites that commit
    from the same parent if no commit follows it, and commits nothing if
    the pointer's lineage already holds it. Any other commit takes the
    next version above every committed one, with the pointer's version
    (None on an empty store) as parent."""
    versions = _committed_versions(spark, store_dir)
    ptr = _read_pointer(spark, store_dir)
    head = ptr["version"] if ptr else None
    later = {}      # parent of each commit after the stream's latest one
    for v in reversed(versions) if batch else ():
        marker = _fs_read_json(spark, _marker_path(store_dir, v))
        wrote = marker.get("stream_batch")
        if not wrote or wrote["query_id"] != batch["query_id"]:
            later[v] = marker["parent"]
            continue
        if wrote["batch_id"] == batch["batch_id"]:
            if v == versions[-1]:
                return v, marker["parent"]
            u = head
            while u in later:
                u = later[u]
            if u == v:
                return None
        break
    return (versions[-1] + 1) if versions else 0, head


def _commit(spark: SparkSession, store_dir: str, version: int,
            parent: int | None, tables: list[Table], **extra) -> dict:
    """Commit `tables` as `version` of the store: write each one with
    overwrite, counting its rows inside that write, then publish the
    marker {version, parent, counts..., **extra} and then the pointer.
    Returns the marker."""
    counts = {}
    for name, df, count_key in tables:
        written, obs = observe_counts(df, "count(1) AS n")
        written.write.mode("overwrite").parquet(
            _table_path(store_dir, version, name))
        if count_key:
            counts[count_key] = obs.get["n"]
    marker = {"version": version, "parent": parent, **counts, **extra}
    _fs_write_json_atomic(spark, _marker_path(store_dir, version), marker)
    _fs_write_json_atomic(spark, f"{store_dir}/{STORE_POINTER}",
                          {"version": version, "parent": parent})
    return marker


def _versioned_stream(spark: SparkSession, schema: str, input_dir: str,
                      store_dir: str, checkpoint_dir: str,
                      trigger_available_now: bool, step):
    """Run a merging stream over the versioned store: each micro-batch
    commits the tables `step(batch_df, parent)` returns. `parent(name,
    empty=None)` reads table `name` of the version being built on, or
    gives `empty` on an empty store. Returns the started
    StreamingQuery."""
    def process(batch_df: DataFrame, batch_id: int) -> None:
        # the stream's persistent id, set by Spark on the thread that
        # runs the batch (StreamExecution.QUERY_ID_KEY)
        batch = {"query_id": batch_df.sparkSession.sparkContext
                 .getLocalProperty("sql.streaming.queryId"),
                 "batch_id": batch_id}
        target = _commit_target(spark, store_dir, batch)
        if target is None:
            return
        version, parent = target

        def read_parent(name: str = "", empty=None):
            if parent is None:
                return empty
            return spark.read.parquet(_table_path(store_dir, parent, name))

        _commit(spark, store_dir, version, parent,
                step(batch_df, read_parent), stream_batch=batch)

    return _run_stream(spark, schema, input_dir, checkpoint_dir, process,
                       trigger_available_now)


# --- streaming MERGE INTO the canonical store --------------------------------

def stream_merge_triples(spark: SparkSession, input_dir: str,
                         store_dir: str, checkpoint_dir: str,
                         trigger_available_now: bool = True):
    """Streaming MERGE INTO: each micro-batch extracts triples from its
    NEW documents and upserts them into a versioned canonical store via
    relations.merge_triples_incremental(mode='append') — the
    snapshot-chain pattern Iceberg gives MERGE for free, reproduced on
    plain parquet (module docstring), so a crash replay re-derives its
    version from the same parent and support counts are never
    double-applied.

    Old versions accumulate like Iceberg snapshots; expiring them is a
    maintenance pass (expire_store_versions), deliberately out of the
    hot path. Returns the started StreamingQuery."""
    from ..operators.relations import (dedup_triples,
                                       merge_triples_incremental)

    def step(batch_df: DataFrame, parent) -> list[Table]:
        inc = dedup_triples(triples_from_docs(batch_df))
        merged = merge_triples_incremental(
            parent("", inc.limit(0)), inc, mode="append").drop("action")
        return [("", merged, "n_rows")]

    return _versioned_stream(spark, DOCS_SCHEMA, input_dir, store_dir,
                             checkpoint_dir, trigger_available_now, step)


def stream_daily_counts(spark: SparkSession, input_dir: str,
                        store_dir: str, checkpoint_dir: str,
                        trigger_available_now: bool = True):
    """Streaming maintenance of the per-(event_type, day) volume table
    that feeds content_stats.score_daily_counts — the anomaly monitor
    advances with batch-sized increments instead of re-scanning the
    event history. Same versioned store as stream_merge_triples: each
    micro-batch's counts SUM into the parent version, and a
    crash-replayed batch re-derives from the SAME parent — counts are
    never double-applied (the additive-merge analog of the triple
    store's support rule). Scoring the CURRENT snapshot reproduces the
    batch operator exactly (pinned by test_streaming), so alert flags
    are always consistent with one committed version. Returns the
    started StreamingQuery."""
    def step(batch_df: DataFrame, parent) -> list[Table]:
        inc = (batch_df
               .groupBy("event_type", F.to_date("ts").alias("day"))
               .agg(F.count("*").cast("bigint").alias("n")))
        merged = (parent("", inc.limit(0)).unionByName(inc)
                  .groupBy("event_type", "day")
                  .agg(F.sum("n").cast("bigint").alias("n")))
        return [("", merged, "n_rows")]

    return _versioned_stream(spark, EVENTS_SCHEMA, input_dir, store_dir,
                             checkpoint_dir, trigger_available_now, step)


# --- snapshot maintenance (the Iceberg metadata surface) ---------------------

def store_history(spark: SparkSession, store_dir: str) -> list[dict]:
    """The snapshot log, latest first: one dict per version {version,
    parent, n_rows, is_current} — Iceberg's snapshot-list read, walked
    from the pointer's version along each marker's parent. A version
    the pointer never reached (its writer died between the marker and
    the pointer, and a later commit built on the pointer instead) is
    not on that chain, and neither is a dir without a marker (a torn
    write). The chain ends at the first version with no marker, so an
    expired version ends it."""
    ptr = _read_pointer(spark, store_dir)
    if not ptr:
        return []
    committed = set(_committed_versions(spark, store_dir))
    out, v = [], ptr["version"]
    while v in committed:
        c = _fs_read_json(spark, _marker_path(store_dir, v))
        c["is_current"] = v == ptr["version"]
        out.append(c)
        v = c["parent"]
    return out


def store_at_version(spark: SparkSession, store_dir: str,
                     version: int) -> DataFrame:
    """Time-travel read: the store exactly as of snapshot `version`
    (Iceberg's VERSION AS OF). Only the versions store_history lists
    are readable."""
    committed = {c["version"] for c in store_history(spark, store_dir)}
    if version not in committed:
        raise ValueError(
            f"version {version} is not a committed snapshot of "
            f"{store_dir} (committed: {sorted(committed)})")
    return spark.read.parquet(_table_path(store_dir, version))


def store_changes(spark: SparkSession, store_dir: str,
                  v_from: int, v_to: int) -> DataFrame:
    """CDC read between two committed snapshots (Iceberg's incremental
    changelog): triple rows tagged insert / update / delete, unchanged
    rows dropped. A full-outer null-safe equi-join on the 7-tuple key —
    one shuffle, no window; at store scale both sides are the published
    snapshots, so the join key is the store's own identity."""
    from ..operators.relations import TRIPLE_KEY
    old = store_at_version(spark, store_dir, v_from)
    new = store_at_version(spark, store_dir, v_to)
    o = old.select(*TRIPLE_KEY,
                   F.col("confidence").alias("old_confidence"),
                   F.col("support").alias("old_support"))
    n = new.select(*TRIPLE_KEY,
                   F.col("confidence").alias("new_confidence"),
                   F.col("support").alias("new_support"))
    cond = [o[c].eqNullSafe(n[c]) for c in TRIPLE_KEY]
    j = o.join(n, cond, "full_outer")
    keyed = j.select(
        *[F.coalesce(o[c], n[c]).alias(c) for c in TRIPLE_KEY],
        "old_confidence", "old_support", "new_confidence", "new_support",
        F.when(F.col("old_support").isNull(), F.lit("insert"))
         .when(F.col("new_support").isNull(), F.lit("delete"))
         .when((F.col("new_support") != F.col("old_support"))
               | (F.col("new_confidence") != F.col("old_confidence")),
               F.lit("update"))
         .otherwise(F.lit("unchanged")).alias("action"))
    return keyed.filter(F.col("action") != "unchanged")


def expire_store_versions(spark: SparkSession, store_dir: str,
                          keep_last: int = 2) -> list[int]:
    """Snapshot expiry (Iceberg's expire_snapshots maintenance pass,
    deliberately OUT of the hot path): delete every version dir +
    marker store_history lists except the `keep_last` most recent, and
    never the current pointer's version or its parent (while the
    pointer is a stream batch's commit, a replay of that batch rebuilds
    it from that parent). Returns the expired version numbers."""
    ptr = _read_pointer(spark, store_dir)
    if not ptr:
        return []
    keep = {ptr["version"]}
    if ptr["parent"] is not None:
        keep.add(ptr["parent"])
    hist = store_history(spark, store_dir)
    keep.update(c["version"] for c in hist[:max(keep_last, 0)])
    fs, _ = _fs(spark, store_dir)
    expired = []
    for c in hist:
        v = c["version"]
        if v in keep:
            continue
        _, vdir = _fs(spark, _table_path(store_dir, v))
        _, marker = _fs(spark, _marker_path(store_dir, v))
        if fs.exists(vdir):
            fs.delete(vdir, True)
        if fs.exists(marker):
            fs.delete(marker, False)
        expired.append(v)
    return sorted(expired)


def compact_store_version(spark: SparkSession, store_dir: str,
                          target_files: int = 8) -> dict:
    """Data-file compaction (Iceberg's rewrite_data_files maintenance
    action): rewrite the CURRENT snapshot's rows into `target_files`
    parquet files as a NEW committed version whose parent is the
    current one, then flip the pointer. Readers through current_store
    never see a half-rewritten table (same atomic-pointer contract as
    the streaming merge); time travel to the pre-compaction version
    still works until it is expired. Rows are identical by
    construction — only the file layout changes.

    The new version is the next one above every committed version
    (module docstring), so a later micro-batch of the stream builds on
    the compaction instead of replaying over it. Returns the new commit
    marker dict."""
    version, parent = _commit_target(spark, store_dir)
    if parent is None:
        raise ValueError(f"nothing to compact: {store_dir} has no "
                         f"committed snapshot")
    cur = spark.read.parquet(_table_path(store_dir, parent))
    return _commit(spark, store_dir, version, parent,
                   [("", cur.repartition(target_files), "n_rows")],
                   compaction=True)


# --- stream-stream join ------------------------------------------------------

ATTRIB_HORIZON = "1 hour"


def view_purchase_attribution(views: DataFrame, purchases: DataFrame,
                              watermark: str | None = LATE_WATERMARK,
                              horizon: str = ATTRIB_HORIZON) -> DataFrame:
    """Watermarked stream-stream inner join — the attribution query
    (purchase within `horizon` after a view by the same user), the one
    streaming-algebra member the rest of this module doesn't cover.
    State on both sides is bounded by the watermark + the time-range
    predicate: Spark evicts view rows older than max(event time) -
    watermark - horizon, so state never grows with the stream.

    The SAME definition runs on batch frames (watermark no-op), which
    is how the test proves the streamed result equals the batch
    interval join. Columns: (user_id, view_id, view_ts, purchase_id,
    purchase_ts, latency_us)."""
    v = views.select(F.col("event_id").alias("view_id"),
                     F.col("ts").alias("view_ts"), "user_id")
    p = purchases.select(F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("purchase_ts"), "user_id")
    if watermark:
        v = v.withWatermark("view_ts", watermark)
        p = p.withWatermark("purchase_ts", watermark)
    return (v.join(
        p,
        (v["user_id"] == p["user_id"])
        & (p["purchase_ts"] >= v["view_ts"])
        & (p["purchase_ts"] <= v["view_ts"]
           + F.expr(f"INTERVAL {horizon}")),
        "inner")
        .select(v["user_id"], "view_id", "view_ts",
                "purchase_id", "purchase_ts",
                # cast for NTZ inputs (unix_micros rejects TIMESTAMP_NTZ;
                # both sides shift by the same session-tz offset, so the
                # difference is invariant — same note as olap.interval_join)
                (F.unix_micros(F.col("purchase_ts").cast("timestamp"))
                 - F.unix_micros(F.col("view_ts").cast("timestamp")))
                .cast("double").alias("latency_us")))


def stream_entailment_triples(spark: SparkSession, input_dir: str,
                              store_dir: str, checkpoint_dir: str,
                              trigger_available_now: bool = True):
    """Streaming OWL entailment maintenance: each micro-batch upserts
    its asserted edges and re-saturates the new asserted table with
    graphops.kg_entailment (one bounded driver solve for an
    ontology-sized store). Versioned snapshots + atomic pointer, the
    same exactly-once discipline as stream_merge_triples; each version
    commits two tables together (v=N/asserted, v=N/inferred).

    The inferred table is kept at (subject, predicate, object)
    granularity, kg_entailment(asserted') without its rule column:
    kg_entailment suppresses asserted edges, so an edge inferred
    before retires the moment it arrives asserted. Rule provenance is
    deliberately NOT kept here — the batch operator kg_entailment
    exists for provenance audits."""
    from ..operators.graphops import kg_entailment
    from ..operators.relations import dedup_triples

    def step(batch_df: DataFrame, parent) -> list[Table]:
        inc = (dedup_triples(triples_from_docs(batch_df))
               .select("subject", "predicate", "object").distinct())
        asserted = (parent("asserted", inc.limit(0)).unionByName(inc)
                    .distinct().localCheckpoint(eager=True))
        inferred = (kg_entailment(asserted)
                    .select("subject", "predicate", "object").distinct())
        return [("asserted", asserted, "n_asserted"),
                ("inferred", inferred, "n_inferred")]

    return _versioned_stream(spark, DOCS_SCHEMA, input_dir, store_dir,
                             checkpoint_dir, trigger_available_now, step)


def stream_neardup_pairs(spark: SparkSession, input_dir: str,
                         store_dir: str, checkpoint_dir: str,
                         trigger_available_now: bool = True):
    """Streaming near-dup maintenance — the streaming leg of
    textops.minhash_delta_pairs: each micro-batch shingles/bands ONLY
    its own documents and joins them against the accumulated signature
    store, so the band frontier is batch-sized and old x old never
    re-forms (at 10^12 docs a per-batch re-LSH of the corpus is the
    difference between a streaming system and none). Each version
    commits three tables together — sets (shingle sets for the exact
    verify), bands (the signature store the next batch probes), pairs
    (the monotone near-dup ledger) — under the same versioned-snapshot
    + atomic-pointer + crash-replay discipline as
    stream_entailment_triples. Invariant the test pins: after draining,
    `pairs` equals the batch minhash_lsh_pairs over all arrived docs
    (every pair is found when its LATER doc arrives)."""
    from ..operators.textops import _minhash_tables, _verify_pairs

    def step(batch_df: DataFrame, parent) -> list[Table]:
        new_sets, new_bands = _minhash_tables(
            batch_df.select("doc_id", "text"))
        all_sets = parent("sets", new_sets.limit(0)).unionByName(new_sets)
        all_bands = (parent("bands", new_bands.limit(0))
                     .unionByName(new_bands))
        old_pairs = parent("pairs", spark.createDataFrame(
            [], "a bigint, b bigint, jaccard double"))
        d = new_bands.toDF("d", "band_idx", "band_key")
        x = all_bands.toDF("x", "band_idx", "band_key")
        cand = (d.join(x, ["band_idx", "band_key"])
                .filter(F.col("d") != F.col("x"))
                .select(F.least("d", "x").alias("a"),
                        F.greatest("d", "x").alias("b"))
                .distinct())
        pairs = (old_pairs
                 .unionByName(_verify_pairs(cand, all_sets))
                 .distinct()
                 .localCheckpoint(eager=True))
        return [("sets", all_sets, "n_docs"), ("bands", all_bands, None),
                ("pairs", pairs, "n_pairs")]

    return _versioned_stream(spark, DOCS_SCHEMA, input_dir, store_dir,
                             checkpoint_dir, trigger_available_now, step)


def stream_fused_triples(spark: SparkSession, input_dir: str,
                         store_dir: str, checkpoint_dir: str,
                         trigger_available_now: bool = True):
    """Streaming truth discovery — the streaming leg of
    relations.triple_fusion: the per-(s, p, o) evidence rollup
    (summed confidence, distinct docs, mention count) is MERGEABLE
    across micro-batches because each document arrives in exactly one
    batch (doc sets are disjoint, so per-batch distinct-doc counts sum
    exactly); each batch aggregates only its own extractions and adds
    them into the stored rollup, then the fused winner per (subject,
    predicate) is re-derived from the updated rollup — batch-sized
    aggregation work, corpus-sized state only in the keyed rollup
    table. Versioned (evidence, fused) snapshots under the atomic
    pointer with crash replay, exactly-once like the other streams.
    Invariant the test pins: after draining, `fused` equals the batch
    triple_fusion over all arrived documents."""
    def step(batch_df: DataFrame, parent) -> list[Table]:
        inc = (triples_from_docs(batch_df)
               .groupBy("subject", "predicate", "object")
               .agg(F.sum("confidence").alias("w"),
                    F.countDistinct("doc_id").alias("n_docs"),
                    F.count("*").alias("n_mentions")))
        old = parent("evidence")
        if old is not None:
            merged = (old.unionByName(inc)
                      .groupBy("subject", "predicate", "object")
                      .agg(F.sum("w").alias("w"),
                           F.sum("n_docs").alias("n_docs"),
                           F.sum("n_mentions").alias("n_mentions")))
        else:
            merged = inc
        merged = merged.localCheckpoint(eager=True)
        fused = (merged.groupBy("subject", "predicate")
                 .agg(F.min_by(
                          F.struct("object", "w", "n_docs", "n_mentions"),
                          F.struct((-F.col("w")).alias("nw"),
                                   (-F.col("n_docs")).alias("nd"),
                                   F.col("object"))).alias("win"),
                      F.count("*").alias("n_alternatives"))
                 .select("subject", "predicate",
                         F.col("win.object").alias("object"),
                         F.round("win.w", 6).alias("evidence_weight"),
                         F.col("win.n_docs").alias("n_docs"),
                         F.col("win.n_mentions").alias("n_mentions"),
                         "n_alternatives"))
        return [("evidence", merged, "n_evidence"),
                ("fused", fused, "n_fused")]

    return _versioned_stream(spark, DOCS_SCHEMA, input_dir, store_dir,
                             checkpoint_dir, trigger_available_now, step)


def retract_store_version(spark: SparkSession, store_dir: str,
                          evidence_dir: str,
                          removed_doc_ids: list[str]) -> dict:
    """Takedown pass on the versioned triple store: commit a new
    snapshot with every 7-tuple key the removed docs evidenced
    re-aggregated from the surviving per-doc evidence table (the
    lineage output of jobs/kg_construct_job.py), via
    relations.dedup_retract — delta-sized work, never a corpus
    re-aggregation. The new version rides the same commit-marker +
    atomic-pointer discipline as every other store writer, so
    store_history shows the retraction and store_changes between the
    two snapshots yields exactly the delete/update rows the takedown
    caused. Returns the commit dict."""
    from ..operators.relations import dedup_retract

    version, parent = _commit_target(spark, store_dir)
    if parent is None:
        raise ValueError(f"{store_dir} has no committed version to "
                         f"retract from")
    removed = spark.createDataFrame(
        [(d,) for d in removed_doc_ids], "doc_id string")
    new = dedup_retract(spark.read.parquet(evidence_dir), removed)
    return _commit(spark, store_dir, version, parent,
                   [("", new, "n_rows")], action="retract",
                   n_docs_removed=len(removed_doc_ids))


# --- streaming RDF document ingestion with recovery --------------------------

RDF_DOCS_SCHEMA = "src_id string, payload string"


def stream_rdf_triples(spark: SparkSession, input_dir: str, out_dir: str,
                       checkpoint_dir: str,
                       trigger_available_now: bool = True):
    """Streaming full-grammar RDF ingestion: readStream over raw
    Turtle documents -> per micro-batch the REAL parser
    (rdf_full.parse_turtle_full) with its quarantine lane, then the
    REPLACE recovery pass (recovery.reparse_with_corrections) so
    mechanically-curable defects land in the triple stream in the SAME
    batch — cured rows never wait for a backfill job. Outputs are
    idempotent per-batch subdirectories (the stream_triples overwrite
    discipline): triples/batch_id=N for parsed quads and
    quarantine/batch_id=N for documents the corrections could not
    cure (the dead-letter table an operator pages on).

    One Arrow parse stage per batch plus one bounded reparse over the
    failed subset only — the recovery join broadcasts the failed-id
    dimension, so a clean batch pays nothing beyond the parse."""
    from ..operators.rdf_full import parse_turtle_full
    from ..operators.recovery import reparse_with_corrections

    def process(batch_df: DataFrame, batch_id: int) -> None:
        docs = batch_df.localCheckpoint(eager=True)  # parsed twice below
        parsed = parse_turtle_full(docs).localCheckpoint(eager=True)
        second = reparse_with_corrections(docs, parsed) \
            .localCheckpoint(eager=True)
        good = (parsed.filter(F.col("predicate") != "parse_error")
                .unionByName(
                    second.filter(F.col("predicate") != "parse_error")))
        dead = second.filter(F.col("predicate") == "parse_error")
        good.write.mode("overwrite").parquet(
            f"{out_dir}/triples/batch_id={batch_id}")
        dead.write.mode("overwrite").parquet(
            f"{out_dir}/quarantine/batch_id={batch_id}")

    return _run_stream(spark, RDF_DOCS_SCHEMA, input_dir, checkpoint_dir,
                       process, trigger_available_now,
                       batch_out=f"{out_dir}/triples")
