"""Structured Streaming ingestion: two document files staged into a
directory, drained with availableNow via foreachBatch -> the appended
triples equal the batch pipeline's output over the union, and a second
drain with the same checkpoint reprocesses nothing (exactly-once on the
source)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cspirit_ontology_information_extraction_opus4plan_spark.streaming.pipeline import (
    stream_triples,
    triples_from_docs,
)


@pytest.fixture()
def staged(tmp_path, spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    pdf = docs.toPandas().sort_values("doc_id")
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(in_dir / "part0.parquet", index=False)
    pdf.iloc[half:].to_parquet(in_dir / "part1.parquet", index=False)
    return str(in_dir), str(tmp_path / "out"), str(tmp_path / "ckpt")


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    return (df[sorted(df.columns)]
            .sort_values(sorted(df.columns)).reset_index(drop=True))


def test_stream_matches_batch_and_is_exactly_once(spark, sf_dir, staged):
    in_dir, out_dir, ckpt = staged
    q = stream_triples(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)

    # batch_id is a physical idempotency key (partition dir), not data
    got = spark.read.parquet(out_dir).drop("batch_id").toPandas()
    want = triples_from_docs(
        spark.read.parquet(f"{sf_dir}/documents.parquet")).toPandas()
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))

    # re-start on the same checkpoint: nothing new to process
    q2 = stream_triples(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(120)
    again = spark.read.parquet(out_dir).toPandas()
    assert len(again) == len(want)

    # a FRESH checkpoint over the existing out_dir would restart batch
    # ids at 0 and silently mix old/new batches — must refuse (ADVICE r1)
    with pytest.raises(ValueError, match="batch_id"):
        stream_triples(spark, in_dir, out_dir, str(ckpt) + "_fresh")


# --- event-time windows over a replayed stream ------------------------------

from cspirit_ontology_information_extraction_opus4plan_spark.streaming.pipeline import (  # noqa: E402
    EVENTS_SCHEMA,
    LATE_WATERMARK,
    sessionized_events,
    windowed_event_counts,
)


@pytest.fixture()
def event_files(tmp_path, spark, sf_dir):
    """Events table split into two files along event time, so the
    watermark advances between micro-batches on replay."""
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .toPandas().sort_values("ts").reset_index(drop=True))
    ev["ts"] = ev["ts"].astype("datetime64[us]")  # schema says micros
    in_dir = tmp_path / "ev"
    in_dir.mkdir()
    half = len(ev) // 2
    ev.iloc[:half].to_parquet(in_dir / "a.parquet", index=False)
    ev.iloc[half:].to_parquet(in_dir / "b.parquet", index=False)
    return str(in_dir), ev


def _drain_complete(spark, out_df, name):
    q = (out_df.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.table(name).toPandas()


@pytest.mark.parametrize("op,keys", [
    (windowed_event_counts, ["window_start", "event_type"]),
    (sessionized_events, ["user_id", "session_start"]),
])
def test_stream_windows_match_batch(spark, sf_dir, event_files, op, keys):
    in_dir, _ = event_files
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(in_dir)
    got = _drain_complete(spark, op(stream, watermark=LATE_WATERMARK),
                          f"mem_{op.__name__}")
    want = op(spark.read.parquet(f"{sf_dir}/events.parquet")).toPandas()
    assert len(got) == len(want) > 0
    for df in (got, want):
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime"):
                df[c] = df[c].astype("datetime64[us]")
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append mode + watermark: a row arriving after the watermark has
    passed its window is dropped, not aggregated."""
    import os

    import numpy as np

    t0 = pd.Timestamp("2024-03-01 00:00:00")
    mk = lambda ts, eid: {"event_id": eid, "ts": ts, "user_id": 1,
                          "event_type": "view", "value": 1.0, "props": ""}
    in_dir = tmp_path / "late"
    in_dir.mkdir()

    def _write(rows, path):
        df = pd.DataFrame(rows)
        df["ts"] = df["ts"].astype("datetime64[us]")  # schema says micros
        df.to_parquet(path, index=False)

    # batch 1: rows at t0 and t0+2d -> watermark advances to t0+2d-12h
    _write([mk(t0, 1), mk(t0 + pd.Timedelta("2d"), 2)], in_dir / "a.parquet")
    # batch 2: a too-late row (t0-1d, far below the watermark) plus a
    # fresh row that advances event time further so earlier windows emit
    _write([mk(t0 - pd.Timedelta("1d"), 3), mk(t0 + pd.Timedelta("3d"), 4)],
           in_dir / "b.parquet")
    os.utime(in_dir / "a.parquet", (1, 1))
    os.utime(in_dir / "b.parquet", (2, 2))

    stream = (spark.readStream.schema(EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(str(in_dir)))
    out = windowed_event_counts(stream, watermark=LATE_WATERMARK)
    q = (out.writeStream.format("memory").queryName("mem_late")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.table("mem_late").toPandas()

    emitted = set(got["window_start"].astype("datetime64[us]"))
    assert t0.to_datetime64() in np.array(list(emitted))
    # the late row's window must NOT appear
    assert (t0 - pd.Timedelta("1d")).to_datetime64() not in np.array(
        list(emitted))
    # and the on-time t0 window counted only its one on-time row
    row = got[got["window_start"].astype("datetime64[us]") == t0]
    assert row["n_events"].tolist() == [1]


def test_stateful_running_totals(spark, event_files):
    """applyInPandasWithState: state carries across micro-batches —
    after draining two files one at a time, each user's final update
    equals the batch groupBy totals over the whole input."""
    from cspirit_ontology_information_extraction_opus4plan_spark.streaming.pipeline import (
        running_user_totals,
    )

    in_dir, ev = event_files
    stream = (spark.readStream.schema(EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = (running_user_totals(stream)
         .writeStream.format("memory").queryName("mem_totals")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.table("mem_totals").toPandas()

    # memory sink appends every per-batch update; the final state per
    # user is the row with the largest (nondecreasing) n_events
    final = (got.sort_values("n_events").groupby("user_id").tail(1)
             .set_index("user_id").sort_index())
    want = (ev.groupby("user_id")
            .agg(n_events=("event_id", "size"), total_value=("value", "sum"))
            .sort_index())
    assert len(final) == len(want)
    assert (final["n_events"] == want["n_events"]).all()
    assert (final["total_value"].round(4)
            == want["total_value"].round(4)).all()
    # state really did cross batches: some user present in BOTH files
    # must have emitted two updates with increasing counts
    both = set(ev.iloc[:len(ev) // 2]["user_id"]) & set(
        ev.iloc[len(ev) // 2:]["user_id"])
    assert both
    u = next(iter(both))
    counts = sorted(got[got["user_id"] == u]["n_events"])
    assert len(counts) == 2 and counts[0] < counts[1]


def test_dedup_within_watermark(spark, tmp_path):
    """Cross-batch re-delivery of the same event_id inside the
    watermark horizon is suppressed; state stays bounded by design."""
    from cspirit_ontology_information_extraction_opus4plan_spark.streaming.pipeline import (
        dedup_events_within_watermark,
    )

    t0 = pd.Timestamp("2024-03-01 00:00:00")
    mk = lambda ts, eid: {"event_id": eid, "ts": ts, "user_id": 1,
                          "event_type": "view", "value": 1.0, "props": ""}
    in_dir = tmp_path / "dups"
    in_dir.mkdir()

    def _write(rows, path):
        df = pd.DataFrame(rows)
        df["ts"] = df["ts"].astype("datetime64[us]")
        df.to_parquet(path, index=False)

    import os
    # batch 1: events 1 and 2; batch 2 re-delivers event 2 (same ts,
    # within the 12h watermark) and adds fresh event 3
    _write([mk(t0, 1), mk(t0 + pd.Timedelta("1h"), 2)], in_dir / "a.parquet")
    _write([mk(t0 + pd.Timedelta("1h"), 2), mk(t0 + pd.Timedelta("2h"), 3)],
           in_dir / "b.parquet")
    os.utime(in_dir / "a.parquet", (1, 1))
    os.utime(in_dir / "b.parquet", (2, 2))

    stream = (spark.readStream.schema(EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(str(in_dir)))
    q = (dedup_events_within_watermark(stream)
         .writeStream.format("memory").queryName("mem_dedup")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.table("mem_dedup").toPandas()
    assert sorted(got["event_id"]) == [1, 2, 3]  # the re-delivery is gone


def test_stream_merge_store_matches_batch_merge(spark, sf_dir, staged):
    """Streaming MERGE INTO: after draining both staged files, the
    committed store equals dedup_triples over the full corpus (every
    doc appears once, so append-mode supports equal the batch counts);
    a re-drain on the same checkpoint changes nothing; versions chain
    through the pointer."""
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.relations import (  # noqa: E501
        dedup_triples,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.streaming.pipeline import (  # noqa: E501
        _read_pointer,
        current_store,
        stream_merge_triples,
    )

    in_dir, out_dir, ckpt = staged
    store = out_dir + "_store"
    assert current_store(spark, store) is None

    q = stream_merge_triples(spark, in_dir, store, ckpt)
    q.awaitTermination(120)

    got = current_store(spark, store).toPandas()
    want = dedup_triples(triples_from_docs(
        spark.read.parquet(f"{sf_dir}/documents.parquet"))).toPandas()
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))

    # two files -> two batches -> pointer at v1 with parent v0
    ptr = _read_pointer(spark, store)
    assert ptr == {"version": 1, "parent": 0}

    # exactly-once: a re-drain on the same checkpoint commits nothing
    q2 = stream_merge_triples(spark, in_dir, store, ckpt)
    q2.awaitTermination(120)
    assert _read_pointer(spark, store) == ptr
    again = current_store(spark, store).toPandas()
    pd.testing.assert_frame_equal(_sorted(again), _sorted(want))


def test_stream_merge_replay_not_double_applied(spark, sf_dir, staged):
    """Crash replay: if the pointer already commits batch N but the
    stream checkpoint does not, the replayed batch re-derives from the
    SAME parent — support counts must not double."""
    from cspirit_ontology_information_extraction_opus4plan_spark.streaming.pipeline import (  # noqa: E501
        _read_pointer,
        current_store,
        stream_merge_triples,
    )

    in_dir, out_dir, ckpt = staged
    store = out_dir + "_store"
    q = stream_merge_triples(spark, in_dir, store, ckpt)
    q.awaitTermination(120)
    before = _sorted(current_store(spark, store).toPandas())

    # simulate the torn state: data + pointer for v1 committed, stream
    # offsets not — replay arrives as batch_id=1 again
    from cspirit_ontology_information_extraction_opus4plan_spark.streaming import (  # noqa: E501
        pipeline as SP,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.relations import (  # noqa: E501
        dedup_triples,
        merge_triples_incremental,
    )

    batch1 = spark.read.parquet(in_dir).where("doc_id >= 250")
    ptr = _read_pointer(spark, store)
    parent = ptr["parent"] if ptr["version"] == 1 else ptr["version"]
    inc = dedup_triples(triples_from_docs(batch1))
    cur = spark.read.parquet(f"{store}/v={parent}")
    merged = merge_triples_incremental(cur, inc, mode="append") \
        .drop("action")
    # replayed write lands on v=1 from the same parent
    merged.write.mode("overwrite").parquet(f"{store}/v=1")
    after = _sorted(spark.read.parquet(f"{store}/v=1").toPandas())
    pd.testing.assert_frame_equal(after, before)


def test_store_snapshot_maintenance(spark, sf_dir, staged):
    """Snapshot log + time travel + CDC changelog + expiry over the
    versioned store — the Iceberg metadata surface on plain parquet."""
    from cspirit_ontology_information_extraction_opus4plan_spark.streaming.pipeline import (  # noqa: E501
        _read_pointer,
        current_store,
        expire_store_versions,
        store_at_version,
        store_changes,
        store_history,
        stream_merge_triples,
    )

    in_dir, out_dir, ckpt = staged
    store = out_dir + "_store"
    assert store_history(spark, store) == []

    q = stream_merge_triples(spark, in_dir, store, ckpt)
    q.awaitTermination(120)

    hist = store_history(spark, store)
    assert [h["version"] for h in hist] == [1, 0]
    assert hist[0]["parent"] == 0 and hist[1]["parent"] is None
    assert hist[0]["is_current"] and not hist[1]["is_current"]
    assert hist[0]["n_rows"] >= hist[1]["n_rows"] > 0

    # time travel: v0 is the first half-corpus store; v1 the full one
    v0 = store_at_version(spark, store, 0)
    v1 = store_at_version(spark, store, 1)
    assert v0.count() == hist[1]["n_rows"]
    assert _sorted(v1.toPandas()).equals(
        _sorted(current_store(spark, store).toPandas()))
    import pytest as _pytest
    with _pytest.raises(ValueError, match="not a committed snapshot"):
        store_at_version(spark, store, 99)

    # changelog v0 -> v1: append-mode merge never deletes; every v1 row
    # is either carried (unchanged/update) or new (insert)
    ch = store_changes(spark, store, 0, 1).toPandas()
    assert set(ch["action"]) <= {"insert", "update"}
    n_ins = (ch["action"] == "insert").sum()
    n_upd = (ch["action"] == "update").sum()
    assert n_ins == hist[0]["n_rows"] - hist[1]["n_rows"]
    assert n_upd <= hist[1]["n_rows"]
    assert ch.loc[ch["action"] == "insert", "old_support"].isna().all()

    # expiry: pointer version + parent are always kept -> nothing to
    # expire with only two snapshots
    assert expire_store_versions(spark, store, keep_last=1) == []

    # land a third batch so v0 leaves the keep set
    import os
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    extra = docs.iloc[: len(docs) // 4]
    extra.to_parquet(os.path.join(in_dir, "part2.parquet"), index=False)
    q2 = stream_merge_triples(spark, in_dir, store, ckpt)
    q2.awaitTermination(120)
    assert _read_pointer(spark, store) == {"version": 2, "parent": 1}

    assert expire_store_versions(spark, store, keep_last=1) == [0]
    assert [h["version"] for h in store_history(spark, store)] == [2, 1]
    with _pytest.raises(ValueError, match="not a committed snapshot"):
        store_at_version(spark, store, 0)
    # the current read is untouched by expiry
    assert current_store(spark, store).count() == \
        store_history(spark, store)[0]["n_rows"]


def test_store_compaction_preserves_rows(spark, sf_dir, staged):
    """Compaction rewrites the current snapshot into a bounded file
    count as a NEW committed version; rows identical, pointer flips,
    history records the compaction, time travel to the parent works."""
    import glob

    from cspirit_ontology_information_extraction_opus4plan_spark.streaming.pipeline import (  # noqa: E501
        _read_pointer,
        compact_store_version,
        current_store,
        store_at_version,
        store_history,
        stream_merge_triples,
    )

    in_dir, out_dir, ckpt = staged
    store = out_dir + "_store"
    q = stream_merge_triples(spark, in_dir, store, ckpt)
    q.awaitTermination(120)
    before = _sorted(current_store(spark, store).toPandas())

    marker = compact_store_version(spark, store, target_files=2)
    assert marker["version"] == 2 and marker["parent"] == 1
    assert marker["compaction"] is True
    assert _read_pointer(spark, store) == {"version": 2, "parent": 1}

    after = _sorted(current_store(spark, store).toPandas())
    pd.testing.assert_frame_equal(before, after)
    files = glob.glob(f"{store}/v=2/part-*.parquet")
    assert len(files) == 2
    # history shows the compaction commit; the parent is still readable
    hist = store_history(spark, store)
    assert hist[0]["version"] == 2 and hist[0].get("compaction") is True
    assert store_at_version(spark, store, 1).count() == len(before)


def test_stream_stream_attribution_matches_batch(spark, sf_dir, tmp_path):
    """Watermarked stream-stream join: replaying the events table in
    two chronological files yields exactly the batch interval-join
    result (bounded state, nothing dropped, nothing duplicated)."""
    import os

    from cspirit_ontology_information_extraction_opus4plan_spark.streaming.pipeline import (  # noqa: E501
        EVENTS_SCHEMA,
        view_purchase_attribution,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = view_purchase_attribution(
        ev.filter("event_type = 'view'"),
        ev.filter("event_type = 'purchase'"),
        watermark=None).toPandas()
    assert len(want) > 0

    # stage chronological halves so event time advances monotonically
    in_dir = tmp_path / "ev"
    in_dir.mkdir()
    pdf = ev.toPandas().sort_values("ts").reset_index(drop=True)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(in_dir / "a.parquet", index=False)
    pdf.iloc[half:].to_parquet(in_dir / "b.parquet", index=False)
    os.utime(in_dir / "a.parquet", (1, 1))
    os.utime(in_dir / "b.parquet", (2, 2))

    stream = (spark.readStream.schema(EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(str(in_dir)))
    joined = view_purchase_attribution(
        stream.filter("event_type = 'view'"),
        stream.filter("event_type = 'purchase'"))
    q = (joined.writeStream.format("memory").queryName("mem_attrib")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = spark.table("mem_attrib").toPandas()
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))


def test_stream_entailment_matches_batch_saturation(spark, sf_dir, staged):
    """After draining both staged files, the maintained inferred table
    equals the batch kg_entailment over the full asserted store at
    (s, p, o) granularity, and a re-drain commits nothing."""
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.graphops import (  # noqa: E501
        kg_entailment,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.relations import (  # noqa: E501
        dedup_triples,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.streaming.pipeline import (  # noqa: E501
        _read_pointer,
        stream_entailment_triples,
    )

    in_dir, out_dir, ckpt = staged
    store = out_dir + "_entail_store"
    q = stream_entailment_triples(spark, in_dir, store, ckpt)
    q.awaitTermination(120)

    ptr = _read_pointer(spark, store)
    assert ptr == {"version": 1, "parent": 0}
    got_a = spark.read.parquet(f"{store}/v=1/asserted")
    got_i = spark.read.parquet(f"{store}/v=1/inferred").toPandas()

    full = dedup_triples(triples_from_docs(
        spark.read.parquet(f"{sf_dir}/documents.parquet")))
    want_a = full.select("subject", "predicate", "object") \
        .distinct().toPandas()
    pd.testing.assert_frame_equal(
        _sorted(got_a.toPandas()), _sorted(want_a))
    want_i = kg_entailment(full) \
        .select("subject", "predicate", "object").distinct().toPandas()
    pd.testing.assert_frame_equal(_sorted(got_i), _sorted(want_i))

    # exactly-once: a re-drain on the same checkpoint commits nothing
    q2 = stream_entailment_triples(spark, in_dir, store, ckpt)
    q2.awaitTermination(120)
    assert _read_pointer(spark, store) == ptr


@pytest.fixture(scope="module")
def staged_adocs(tmp_path_factory, spark, sf_dir):
    """Augmented docs (planted exact + near copies) split so most
    planted copies land in a different file than their originals —
    cross-batch pairs must be found when the LATER doc arrives."""
    from cspirit_ontology_information_extraction_opus4plan_spark import (
        decorations as DE,
    )
    tmp_path = tmp_path_factory.mktemp("neardup_stream")
    docs = DE.augmented_docs(spark, sf_dir)
    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    pdf = docs.toPandas().sort_values("doc_id")
    half = len(pdf) // 2     # originals first, planted copies second
    pdf.iloc[:half].to_parquet(in_dir / "part0.parquet", index=False)
    pdf.iloc[half:].to_parquet(in_dir / "part1.parquet", index=False)
    return str(in_dir), str(tmp_path / "store"), str(tmp_path / "ckpt")


def test_stream_neardup_matches_batch_lsh(spark, sf_dir, staged_adocs):
    """After draining both staged files, the maintained pair ledger
    equals the batch minhash_lsh_pairs over the full corpus, and a
    re-drain commits nothing."""
    from cspirit_ontology_information_extraction_opus4plan_spark import (
        decorations as DE,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.textops import (  # noqa: E501
        minhash_lsh_pairs,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.streaming.pipeline import (  # noqa: E501
        _read_pointer,
        stream_neardup_pairs,
    )

    in_dir, store, ckpt = staged_adocs
    q = stream_neardup_pairs(spark, in_dir, store, ckpt)
    q.awaitTermination(120)

    ptr = _read_pointer(spark, store)
    assert ptr == {"version": 1, "parent": 0}
    got = spark.read.parquet(f"{store}/v=1/pairs").toPandas()
    want = minhash_lsh_pairs(
        DE.augmented_docs(spark, sf_dir)).toPandas()
    assert len(want) > 0     # non-vacuous: planted dups must pair up
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))

    # exactly-once: a re-drain on the same checkpoint commits nothing
    q2 = stream_neardup_pairs(spark, in_dir, store, ckpt)
    q2.awaitTermination(120)
    assert _read_pointer(spark, store) == ptr


def test_stream_fused_matches_batch_fusion(spark, sf_dir, staged):
    """After draining both staged files, the maintained fused table
    equals batch triple_fusion over all arrived documents (the
    evidence rollup merges exactly because doc sets are disjoint
    across batches), and a re-drain commits nothing."""
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.relations import (  # noqa: E501
        triple_fusion,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.streaming.pipeline import (  # noqa: E501
        _read_pointer,
        stream_fused_triples,
        triples_from_docs,
    )

    in_dir, out_dir, ckpt = staged
    store = out_dir + "_fused_store"
    q = stream_fused_triples(spark, in_dir, store, ckpt + "_fused")
    q.awaitTermination(120)

    ptr = _read_pointer(spark, store)
    assert ptr == {"version": 1, "parent": 0}
    got = spark.read.parquet(f"{store}/v=1/fused").toPandas()
    want = triple_fusion(triples_from_docs(
        spark.read.parquet(f"{sf_dir}/documents.parquet"))).toPandas()
    assert (want["n_alternatives"] > 1).any()   # non-vacuous conflicts
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))

    q2 = stream_fused_triples(spark, in_dir, store, ckpt + "_fused")
    q2.awaitTermination(120)
    assert _read_pointer(spark, store) == ptr


def test_retract_store_version_commits_takedown(spark, sf_dir, tmp_path):
    """The takedown pass commits a new snapshot equal to the dedup over
    the surviving evidence, history records the retraction, and the CDC
    changelog between the two snapshots contains only deletes/updates
    the removed doc caused."""
    from cspirit_ontology_information_extraction_opus4plan_spark import api
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.relations import (  # noqa: E501
        dedup_triples,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.plans.checkpointing import (  # noqa: E501
        _fs_write_json_atomic,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.streaming.pipeline import (  # noqa: E501
        _read_pointer,
        retract_store_version,
        store_changes,
        store_history,
    )

    ev_dir = str(tmp_path / "evidence")
    store = str(tmp_path / "store")
    pre = api.triples_df(spark, sf_dir).localCheckpoint(eager=True)
    pre.write.parquet(ev_dir)
    # seed the store: v=0 is the full dedup, committed
    dedup_triples(pre).write.parquet(f"{store}/v=0")
    _fs_write_json_atomic(spark, f"{store}/_commit_v0.json",
                          {"version": 0, "parent": None,
                           "n_rows": dedup_triples(pre).count()})
    _fs_write_json_atomic(spark, f"{store}/_latest.json",
                          {"version": 0, "parent": None})

    victim = pre.select("doc_id").first()["doc_id"]
    commit = retract_store_version(spark, store, ev_dir, [victim])
    assert commit["action"] == "retract" and commit["version"] == 1
    assert _read_pointer(spark, store) == {"version": 1, "parent": 0}
    got = _sorted(spark.read.parquet(f"{store}/v=1").toPandas())
    want = _sorted(dedup_triples(
        pre.filter(pre["doc_id"] != victim)).toPandas())
    pd.testing.assert_frame_equal(got, want)
    assert store_history(spark, store)[0]["action"] == "retract"
    # CDC: every change row is a delete or an update, and >= 1 exists
    changes = store_changes(spark, store, 0, 1).collect()
    assert changes and all(r["action"] in ("delete", "update")
                           for r in changes)


def test_stream_daily_counts_matches_batch(spark, sf_dir, tmp_path):
    """Streaming count-store maintenance: after draining both staged
    event files, scoring the CURRENT snapshot equals the batch
    daily_anomalies over the full event table; a re-drain on the same
    checkpoint commits nothing."""
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.content_stats import (  # noqa: E501
        daily_anomalies,
        load_events,
        score_daily_counts,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.streaming.pipeline import (  # noqa: E501
        _read_pointer,
        current_store,
        stream_daily_counts,
    )

    ev = load_events(spark, sf_dir)
    in_dir = tmp_path / "ev_in"
    in_dir.mkdir()
    pdf = ev.toPandas().sort_values("event_id")
    half = len(pdf) // 2
    # micros: pandas defaults to ns-typed parquet, unreadable as
    # Spark timestamp
    pdf.iloc[:half].to_parquet(in_dir / "part0.parquet", index=False,
                               coerce_timestamps="us",
                               allow_truncated_timestamps=True)
    pdf.iloc[half:].to_parquet(in_dir / "part1.parquet", index=False,
                               coerce_timestamps="us",
                               allow_truncated_timestamps=True)
    store = str(tmp_path / "cnt_store")
    ckpt = str(tmp_path / "cnt_ckpt")

    q = stream_daily_counts(spark, str(in_dir), store, ckpt)
    q.awaitTermination(120)

    ptr = _read_pointer(spark, store)
    assert ptr == {"version": 1, "parent": 0}
    got = _sorted(score_daily_counts(
        current_store(spark, store)).toPandas())
    want = _sorted(daily_anomalies(ev).toPandas())
    pd.testing.assert_frame_equal(got, want)

    # exactly-once: re-drain commits nothing
    q2 = stream_daily_counts(spark, str(in_dir), store, ckpt)
    q2.awaitTermination(120)
    assert _read_pointer(spark, store) == ptr


def test_stream_stream_attribution_join(spark, sf_dir, event_files):
    """Stream-stream inner join with watermarks on both sides: replay
    the events in two time-ordered files; the attributed click/purchase
    pairs must equal the batch twin over the whole input (the time-bound
    condition lets state expire, not change results on this in-order
    replay)."""
    from cspirit_ontology_information_extraction_opus4plan_spark.streaming.pipeline import (
        attributed_purchases,
    )

    in_dir, _ = event_files

    def _side(event_type):
        return (spark.readStream.schema(EVENTS_SCHEMA).parquet(in_dir)
                .filter(F.col("event_type") == event_type)
                .withWatermark("ts", LATE_WATERMARK))

    out = attributed_purchases(_side("click"), _side("purchase"))
    q = (out.writeStream.format("memory").queryName("mem_attr")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.table("mem_attr").toPandas()

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = attributed_purchases(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase")).toPandas()
    assert len(want) > 0
    for df in (got, want):
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime"):
                df[c] = df[c].astype("datetime64[us]")
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))


# --- the store protocol under maintenance, new checkpoints and replay -------

def _store_tables(spark, store):
    """Every table of every version dir under `store`, as sorted frames
    keyed by path relative to the store."""
    import os
    out = {}
    for root, _, files in os.walk(store):
        if any(f.endswith(".parquet") for f in files):
            out[os.path.relpath(root, store)] = _sorted(
                spark.read.parquet(root).toPandas())
    return out


def _assert_counts_match_rows(spark, store, hist):
    for h in hist:
        assert spark.read.parquet(f"{store}/v={h['version']}").count() \
            == h["n_rows"], h


@pytest.mark.parametrize("action", ["retract", "compact"])
def test_maintenance_commit_is_parent_of_next_batch(spark, sf_dir, staged,
                                                    tmp_path, action):
    """A maintenance commit between two ingest runs of one stream is
    built on by the next micro-batch, never replayed over: it stays in
    history as the new version's parent, and a retracted doc's triples
    stay out of the store."""
    import os

    from cspirit_ontology_information_extraction_opus4plan_spark.operators.relations import (  # noqa: E501
        dedup_triples,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.streaming.pipeline import (  # noqa: E501
        _read_pointer,
        compact_store_version,
        current_store,
        retract_store_version,
        store_history,
        stream_merge_triples,
    )

    in_dir, out_dir, ckpt = staged
    store = out_dir + "_store"
    held = str(tmp_path / "held.parquet")
    os.replace(f"{in_dir}/part1.parquet", held)
    stream_merge_triples(spark, in_dir, store, ckpt).awaitTermination(120)

    full = triples_from_docs(
        spark.read.parquet(f"{sf_dir}/documents.parquet"))
    if action == "retract":
        ev_dir = str(tmp_path / "evidence")
        triples_from_docs(spark.read.parquet(in_dir)).write.parquet(ev_dir)
        victim = (spark.read.parquet(ev_dir).select("doc_id")
                  .orderBy("doc_id").first()["doc_id"])
        commit = retract_store_version(spark, store, ev_dir, [victim])
        want = dedup_triples(full.filter(F.col("doc_id") != victim))
    else:
        commit = compact_store_version(spark, store, target_files=2)
        want = dedup_triples(full)
    assert commit["version"] == 1 and commit["parent"] == 0

    os.replace(held, f"{in_dir}/part1.parquet")
    stream_merge_triples(spark, in_dir, store, ckpt).awaitTermination(120)

    assert _read_pointer(spark, store) == {"version": 2, "parent": 1}
    hist = store_history(spark, store)
    assert [h["version"] for h in hist] == [2, 1, 0]
    assert hist[0]["parent"] == 1
    assert {k: hist[1][k] for k in commit} == commit
    got = _sorted(current_store(spark, store).toPandas())
    pd.testing.assert_frame_equal(got, _sorted(want.toPandas()))
    if action == "retract":     # non-vacuous: the takedown changed rows
        assert not got.equals(_sorted(dedup_triples(full).toPandas()))
    _assert_counts_match_rows(spark, store, hist)


@pytest.mark.parametrize("n_files", [1, 2])
def test_fresh_checkpoint_keeps_earlier_versions(spark, sf_dir, staged,
                                                 tmp_path, n_files):
    """A new checkpoint over an existing store starts its batch ids at
    0 but commits above every committed version: version 0 and its
    marker stay as they were. With one earlier file the old stream's
    last commit is also batch 0, so only the stream id in its marker
    tells the new batch 0 from a replay."""
    import os

    from cspirit_ontology_information_extraction_opus4plan_spark.streaming.pipeline import (  # noqa: E501
        _read_pointer,
        store_at_version,
        store_history,
        stream_merge_triples,
    )

    in_dir, out_dir, ckpt = staged
    store = out_dir + "_store"
    if n_files == 1:
        os.remove(f"{in_dir}/part1.parquet")
    stream_merge_triples(spark, in_dir, store, ckpt).awaitTermination(120)
    v0 = _sorted(store_at_version(spark, store, 0).toPandas())
    m0 = store_history(spark, store)[-1]

    more = tmp_path / "more"
    more.mkdir()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    docs.iloc[: len(docs) // 4].to_parquet(more / "part2.parquet",
                                           index=False)
    stream_merge_triples(spark, str(more), store,
                         ckpt + "_new").awaitTermination(120)

    assert _read_pointer(spark, store) == {"version": n_files,
                                           "parent": n_files - 1}
    hist = store_history(spark, store)
    assert [h["version"] for h in hist] == list(range(n_files, -1, -1))
    assert hist[-1] == {**m0, "is_current": False}
    pd.testing.assert_frame_equal(
        _sorted(store_at_version(spark, store, 0).toPandas()), v0)
    _assert_counts_match_rows(spark, store, hist)


@pytest.mark.parametrize("writer", ["stream_merge_triples",
                                    "stream_fused_triples"])
def test_stream_replays_its_own_commit(spark, staged, writer):
    """A real crash replay: with the stream checkpoint's last
    commits/<n> removed, Spark re-runs batch n on restart. The batch
    finds its own commit as the latest one and rewrites it from the
    same parent: rows, pointer and history are unchanged."""
    import os

    from cspirit_ontology_information_extraction_opus4plan_spark.streaming import (  # noqa: E501
        pipeline as SP,
    )

    run = getattr(SP, writer)
    in_dir, out_dir, ckpt = staged
    store = out_dir + "_store"
    run(spark, in_dir, store, ckpt).awaitTermination(120)
    tables = _store_tables(spark, store)
    ptr = SP._read_pointer(spark, store)
    hist = SP.store_history(spark, store)
    assert ptr == {"version": 1, "parent": 0}
    marker = f"{store}/_commit_v1.json"
    inode = os.stat(marker).st_ino

    os.remove(f"{ckpt}/commits/1")
    os.remove(f"{ckpt}/commits/.1.crc")
    run(spark, in_dir, store, ckpt).awaitTermination(120)

    assert os.stat(marker).st_ino != inode     # batch 1 did re-run
    assert SP._read_pointer(spark, store) == ptr
    assert SP.store_history(spark, store) == hist
    again = _store_tables(spark, store)
    assert again.keys() == tables.keys()
    for path, df in tables.items():
        pd.testing.assert_frame_equal(again[path], df)


@pytest.mark.parametrize("crash", ["after_pointer", "before_pointer"])
def test_replay_after_maintenance_applies_batch_once(spark, sf_dir, staged,
                                                      crash):
    """The driver dies after batch 1's commit (after the pointer flip,
    or between the marker and the pointer), and a compaction runs
    before the restart. The replayed batch 1 commits nothing when the
    compaction built on its commit, and commits on top of the
    compaction when it did not: either way it is applied once."""
    import os

    from cspirit_ontology_information_extraction_opus4plan_spark.operators.relations import (  # noqa: E501
        dedup_triples,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.plans.checkpointing import (  # noqa: E501
        _fs_write_json_atomic,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.streaming.pipeline import (  # noqa: E501
        _read_pointer,
        compact_store_version,
        current_store,
        store_history,
        stream_merge_triples,
    )

    in_dir, out_dir, ckpt = staged
    store = out_dir + "_store"
    stream_merge_triples(spark, in_dir, store, ckpt).awaitTermination(120)
    os.remove(f"{ckpt}/commits/1")
    os.remove(f"{ckpt}/commits/.1.crc")
    if crash == "before_pointer":
        _fs_write_json_atomic(spark, f"{store}/_latest.json",
                              {"version": 0, "parent": None})
    compact = compact_store_version(spark, store, target_files=2)
    stream_merge_triples(spark, in_dir, store, ckpt).awaitTermination(120)

    if crash == "after_pointer":
        assert compact["parent"] == 1
        want_ptr = {"version": 2, "parent": 1}
    else:
        assert compact["parent"] == 0
        want_ptr = {"version": 3, "parent": 2}
    assert _read_pointer(spark, store) == want_ptr
    assert store_history(spark, store)[0]["version"] == want_ptr["version"]
    want = dedup_triples(triples_from_docs(
        spark.read.parquet(f"{sf_dir}/documents.parquet")))
    pd.testing.assert_frame_equal(
        _sorted(current_store(spark, store).toPandas()),
        _sorted(want.toPandas()))


def test_commit_the_pointer_never_reached_leaves_history(spark, staged):
    """The driver dies between batch 1's marker and its pointer, and a
    compaction of v0 runs before the restart, which replays batch 1 on
    top of it. Version 1 was never current and no later version holds
    its rows: it is not in the history and not readable by time travel,
    and its number is not reused."""
    import os

    from cspirit_ontology_information_extraction_opus4plan_spark.plans.checkpointing import (  # noqa: E501
        _fs_write_json_atomic,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.streaming.pipeline import (  # noqa: E501
        _read_pointer,
        compact_store_version,
        current_store,
        store_at_version,
        store_history,
        stream_merge_triples,
    )

    in_dir, out_dir, ckpt = staged
    store = out_dir + "_store"
    stream_merge_triples(spark, in_dir, store, ckpt).awaitTermination(120)
    os.remove(f"{ckpt}/commits/1")
    os.remove(f"{ckpt}/commits/.1.crc")
    _fs_write_json_atomic(spark, f"{store}/_latest.json",
                          {"version": 0, "parent": None})
    compact_store_version(spark, store, target_files=2)
    stream_merge_triples(spark, in_dir, store, ckpt).awaitTermination(120)

    assert _read_pointer(spark, store) == {"version": 3, "parent": 2}
    hist = store_history(spark, store)
    assert [h["version"] for h in hist] == [3, 2, 0]
    assert [h["parent"] for h in hist] == [2, 0, None]
    with pytest.raises(ValueError, match="not a committed snapshot"):
        store_at_version(spark, store, 1)
    assert store_at_version(spark, store, 2).count() == hist[1]["n_rows"]
    assert current_store(spark, store).agg(
        F.sum("support")).first()[0] == 496
