"""Structured Streaming pipelines: micro-batch file-source streams driven
with availableNow, validated against the equivalent batch computation on the
same rows (the core lambda-architecture invariant: stream == batch)."""

from __future__ import annotations

import uuid
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from gridiron_spark.streaming.pipelines import (
    EVENT_SCHEMA,
    dedup_within_watermark,
    run_available_now,
    session_agg,
    sliding_counts,
    stateful_running_totals,
    stream_events,
    tumbling_agg,
)


def _ts(minute: float) -> datetime:
    return datetime.fromtimestamp(1_700_000_000 + minute * 60, tz=timezone.utc)


@pytest.fixture(scope="module")
def source_dir(spark, tmp_path_factory):
    """Two parquet files (= two micro-batches with maxFilesPerTrigger=1)."""
    d = tmp_path_factory.mktemp("events_stream")
    batch1 = [
        (1, 10, "click", _ts(0), 1.0),
        (2, 10, "click", _ts(1), 2.0),
        (3, 20, "view", _ts(2), 3.0),
        (3, 20, "view", _ts(2), 3.0),  # duplicate event_id
        (4, 20, "click", _ts(6), 4.0),
    ]
    batch2 = [
        (5, 10, "view", _ts(7), 5.0),
        (6, 20, "click", _ts(11), 6.0),
        (7, 30, "view", _ts(50), 7.0),  # far later: new session for u30
        (8, 10, "click", _ts(95), 8.0),  # >30 min after u10's last event
    ]
    for i, rows in enumerate((batch1, batch2)):
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.parquet(
            str(d / f"b{i}"), mode="overwrite"
        )
    # file source wants a flat dir of files: point at the glob instead
    return str(d / "b*")


def _drain(df, mode="complete"):
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)


def test_tumbling_agg_stream_equals_batch(spark, source_dir):
    stream_res = {
        (r.window_start, r.event_type): (r.n, r.sum_value)
        for r in _drain(tumbling_agg(stream_events(spark, source_dir))).collect()
    }
    batch = spark.read.schema(EVENT_SCHEMA).parquet(source_dir)
    batch_res = {
        (r.window_start, r.event_type): (r.n, r.sum_value)
        for r in tumbling_agg(batch).collect()
    }
    assert stream_res == batch_res
    assert len(stream_res) > 2


def test_sliding_windows_double_count(spark, source_dir):
    res = _drain(sliding_counts(stream_events(spark, source_dir))).collect()
    total_events = spark.read.schema(EVENT_SCHEMA).parquet(source_dir).count()
    # 10-min window sliding by 5: every event lands in exactly 2 windows
    assert sum(r.n for r in res) == 2 * total_events


def test_session_agg_gap_semantics(spark, source_dir):
    res = _drain(session_agg(stream_events(spark, source_dir))).collect()
    by_user = {}
    for r in res:
        by_user.setdefault(r.user_id, []).append(r)
    # user 10: events at minutes 0,1,7,95 → the 95' event opens session 2
    assert len(by_user[10]) == 2
    # user 20: 2,2,6,11 all within 30-min gaps → one session
    assert len(by_user[20]) == 1
    assert by_user[20][0].n_events == 4


def test_dedup_within_watermark(spark, source_dir):
    res = _drain(
        dedup_within_watermark(stream_events(spark, source_dir)), mode="append"
    ).collect()
    ids = [r.event_id for r in res]
    assert len(ids) == len(set(ids)) == 8  # 9 rows, one duplicated event_id


def test_watermark_drops_late_data_in_append_mode(spark, tmp_path):
    """The late-data SLA is real: an event arriving after the watermark has
    passed its window must be dropped, not silently merged. (Complete-mode
    drains keep everything — this is the append-mode contract that bounds
    state at 100 TB.)"""
    src = tmp_path / "src"
    src.mkdir()
    # Spark filters late rows with the PREVIOUS batch's watermark and evicts
    # with the current one (SPARK-24156 two-watermark design), so the late
    # arrival goes in batch 3: batch 1 advances event time to minute 200
    # (watermark → minute 190 after it), batch 2 lets that watermark become
    # the late-filter bound, batch 3 delivers the too-late row.
    batches = (
        [
            (1, 10, "click", _ts(0), 1.0),
            (2, 10, "click", _ts(6), 1.0),
            (3, 10, "click", _ts(200), 1.0),
        ],
        [(4, 10, "click", _ts(201), 1.0)],
        [(5, 20, "click", _ts(1), 100.0)],  # 190+ minutes behind watermark
    )
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.parquet(
            str(src / f"b{i}"), mode="overwrite"
        )
    stream = stream_events(spark, str(src / "b*"), max_files_per_trigger=1)
    agg = tumbling_agg(stream, window="5 minutes", watermark="10 minutes")
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")  # emits a window only once its watermark passes
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {(r.window_start, r.n, r.sum_value) for r in spark.table(name).collect()}
    base = 1_700_000_000 - 1_700_000_000 % 300
    # the minute-0 window emitted with ONLY the on-time event; the late
    # arrival (value 100.0) was dropped, and the still-open minute-200
    # window was withheld by append mode
    assert (base, 1, 1.0) in rows
    assert not any(sv == 100.0 or sv == 101.0 for _, _, sv in rows)


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Restarting a stateful query from its checkpoint must (a) NOT reprocess
    already-committed input files and (b) resume accumulated state — the
    exactly-once contract a 100 TB backfill-then-tail pipeline rests on."""
    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    collected: list[tuple] = []

    def run_once():
        stream = stream_events(spark, str(src))
        q = (
            stateful_running_totals(stream)
            .writeStream.foreachBatch(
                lambda df, _bid: collected.extend(tuple(r) for r in df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    batch1 = [
        (1, 10, "click", _ts(0), 1.0),
        (2, 10, "click", _ts(1), 2.0),
        (3, 20, "view", _ts(2), 3.0),
    ]
    spark.createDataFrame(batch1, EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    run_once()
    assert {(r[0], r[1], r[2]) for r in collected} == {(10, 2, 3.0), (20, 1, 3.0)}

    collected.clear()
    batch2 = [(4, 10, "view", _ts(3), 5.0)]
    spark.createDataFrame(batch2, EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    run_once()
    got = {(r[0], r[1], r[2]) for r in collected}
    # user 20 absent: batch1's file was NOT reprocessed (a fresh query would
    # re-emit it); user 10 at n=3 / 8.0: state carried across the restart
    assert got == {(10, 3, 8.0)}


def test_stateful_running_totals_across_batches(spark, source_dir):
    """applyInPandasWithState carries state between micro-batches: with
    maxFilesPerTrigger=1 the final update per user equals the batch total."""
    stream = stream_events(spark, source_dir, max_files_per_trigger=1)
    updates = _drain(stateful_running_totals(stream), mode="update").collect()
    final = {}
    for r in updates:  # update-mode memory sink appends every update row
        if r.user_id not in final or r.n_events > final[r.user_id][0]:
            final[r.user_id] = (r.n_events, r.total_value)
    batch = spark.read.schema(EVENT_SCHEMA).parquet(source_dir)
    expected = {
        r.user_id: (r.n, r.s)
        for r in batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert final == expected


def test_foreach_batch_idempotent_replay(spark, source_dir, tmp_path):
    """Replaying the stream from scratch (fresh checkpoint, same input) must
    not duplicate rows: dynamic partition overwrite keyed on event time
    makes each batch rewrite its own partitions."""
    from gridiron_spark.streaming.pipelines import (
        stream_events,
        write_idempotent_partitioned,
    )

    out = str(tmp_path / "sink")
    write_idempotent_partitioned(
        stream_events(spark, source_dir), out, str(tmp_path / "cp1")
    )
    first = spark.read.parquet(out)
    # materialize NOW: the replay below overwrites the files this plan reads
    first_rows = sorted(map(tuple, first.collect()))
    assert len(first_rows) == 9
    assert "event_date" in first.columns

    # simulated reprocessing: new checkpoint, same source, same sink
    write_idempotent_partitioned(
        stream_events(spark, source_dir), out, str(tmp_path / "cp2")
    )
    second_rows = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert second_rows == first_rows, "replay changed or duplicated rows"


def test_tws_user_stats_matches_batch(spark, source_dir):
    """Spark 4 transformWithStateInPandas: running per-user stats must match
    the batch groupBy on the same rows. The TWS Python<->JVM state protocol
    needs protobuf (not shipped in this container), so the test gates on it —
    the pipeline itself is cluster-ready."""
    pytest.importorskip("google.protobuf")
    from gridiron_spark.streaming.pipelines import tws_user_stats

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        res = _drain(
            tws_user_stats(stream_events(spark, source_dir)), mode="update"
        ).collect()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    # update mode re-emits a key per micro-batch and the memory sink keeps
    # every emission in no guaranteed order; n_events is cumulative, so the
    # max-n emission per key is the final running stats
    final = {}
    for r in res:
        if r.user_id not in final or r.n_events > final[r.user_id][0]:
            final[r.user_id] = (r.n_events, r.first_us, r.last_us)
    batch = spark.read.schema(EVENT_SCHEMA).parquet(source_dir)
    want = {
        r.user_id: (r.n, r.mn, r.mx)
        for r in batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.unix_micros("ts_ts")).alias("mn"),
            F.max(F.unix_micros("ts_ts")).alias("mx"),
        )
        .collect()
    }
    assert final == want


def test_late_data_e2e_drop_accounting(spark):
    """The catalog e2e's planted stragglers must ALL be dropped by the
    armed watermark filter: numRowsDroppedByWatermark over the run equals
    the planted-late count, and none of their window keys leak into the
    sink unless on-time rows also populated that window."""
    import uuid

    from pyspark.sql import functions as F

    from gridiron_spark.io.tables import load_table
    from gridiron_spark.queries.streaming_batch import (
        _LATE_BEHIND_US,
        _stage_late_arrival_events,
    )
    from gridiron_spark.streaming.pipelines import stream_events, tumbling_agg
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    max_us = ev.agg(F.max(F.unix_micros("ts_ts"))).collect()[0][0]
    n_late = ev.filter(
        (F.col("event_id") % 97 == 0)
        & (F.unix_micros("ts_ts") < max_us - _LATE_BEHIND_US)
    ).count()
    assert n_late > 0, "planted-late split is empty at this sf"

    stage = _stage_late_arrival_events(spark, SF_SMALL)
    name = f"late_test_{uuid.uuid4().hex[:8]}"
    q = (
        tumbling_agg(stream_events(spark, stage, max_files_per_trigger=1),
                     watermark="1 minute")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for so in p["stateOperators"]
    )
    assert dropped == n_late, (dropped, n_late)


def test_minhash_sidecar_dedup_stream_equals_batch(spark, tmp_path):
    """The round-11 streaming incremental dedup: duplicates split ACROSS
    micro-batches (one file per doc, maxFilesPerTrigger=1) must produce
    the same final flag table as a one-shot batch screen — including the
    later-arrival re-flag path, where the LARGER-id member of a dup pair
    arrives in an earlier batch than its smaller-id partner and its
    keep flag must flip when that partner lands."""
    from gridiron_spark.streaming.pipelines import (
        minhash_sidecar_dedup_available_now,
        stream_documents,
    )

    text_dup = "the quick brown fox jumps over the lazy dog again and again"
    text_other = "completely different words about streaming state machines"
    # doc 9 (the dup pair's GREATER id) is written FIRST, its partner doc 1
    # second, the unrelated doc 5 last — three files, three micro-batches.
    src = tmp_path / "docs"
    src.mkdir()
    for fname, (did, text) in (
        ("a.parquet", (9, text_dup)),
        ("b.parquet", (1, text_dup)),
        ("c.parquet", (5, text_other)),
    ):
        spark.createDataFrame(
            [(did, text, "en", "unit", len(text))],
            "doc_id bigint, text string, lang string, source string, n_chars bigint",
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "tmp1"))
        import glob
        import shutil

        part = glob.glob(str(tmp_path / "tmp1" / "*.parquet"))[0]
        shutil.copy(part, str(src / fname))

    flags = minhash_sidecar_dedup_available_now(
        stream_documents(spark, str(src), max_files_per_trigger=1),
        str(tmp_path / "sigs"),
        str(tmp_path / "flags"),
        str(tmp_path / "ckpt"),
    )
    got = {r["doc_id"]: r.asDict() for r in flags.collect()}
    assert set(got) == {1, 5, 9}
    # pair (1, 9) attributed to the greater id: 9 is dropped even though it
    # arrived before its partner; 1 (the pair's keeper) and 5 survive
    assert got[9]["keep"] == 0 and got[9]["n_matches"] == 1
    assert got[9]["min_partner"] == 1 and got[9]["max_est"] == 1.0
    assert got[1]["keep"] == 1 and got[1]["n_matches"] == 0
    assert got[5]["keep"] == 1

    # replay idempotency — TRUE at-least-once replay: delete the LAST
    # batch's commit record from the ORIGINAL checkpoint (exactly the
    # crash window between state write and checkpoint commit) and
    # re-drain the same checkpoint. The engine replays that batch — same
    # id, same composition, guaranteed by the checkpoint's offset log —
    # against the already-written state. Batch-partitioned overwrites
    # make the replay a no-op: no doubled n_matches, no duplicated
    # signature rows. (A fresh-checkpoint re-drain would NOT pin this:
    # batch ids/composition across independent drains are an accident of
    # listing order, and the strictly-earlier state filter is only
    # guaranteed sound within one checkpoint.)
    commits = sorted(
        (tmp_path / "ckpt" / "commits").iterdir(),
        key=lambda p: int(p.name) if p.name.isdigit() else -1,
    )
    last = commits[-1]
    assert last.name.isdigit() and int(last.name) > 0, [p.name for p in commits]
    last.unlink()
    # the local ChecksumFileSystem keeps a .<name>.crc side-car; a stale
    # one fails the replay's re-write of the commit record
    crc = last.parent / f".{last.name}.crc"
    if crc.exists():
        crc.unlink()
    replay = minhash_sidecar_dedup_available_now(
        stream_documents(spark, str(src), max_files_per_trigger=1),
        str(tmp_path / "sigs"),
        str(tmp_path / "flags"),
        str(tmp_path / "ckpt"),
    )
    got2 = {r["doc_id"]: r.asDict() for r in replay.collect()}
    assert got2 == got

    # round-12 side-car layout: the per-trigger candidate join must
    # partition-prune the accumulated side-car to the arriving batch's
    # colliding band-key buckets — the banded state is written under
    # bucket=<first-8-hex(md5(band_key)) mod n_buckets> subdirs, and the
    # merge's prior read filters bucket IN (batch's buckets). Re-create
    # that read here and pin the filter lands as a PartitionFilter on
    # the scan (pruned at planning, not post-scan).
    from gridiron_spark.streaming.pipelines import _batch_parts

    sig_dir = str(tmp_path / "sigs")
    parts = _batch_parts(spark, sig_dir)
    assert len(parts) == 3, parts  # one per micro-batch
    prior = (
        spark.read.option("basePath", sig_dir)
        .parquet(*parts)
        .filter(F.col("bucket").isin([0, 3]))
    )
    plan = prior._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan.split(
        "PartitionFilters"
    )[1][:200], plan
    # and the banded rows carry the signature inline (no join-back table)
    assert {"doc_id", "sig", "band_idx", "band_key"} <= set(prior.columns)
    # quantitative: the pruned read touches strictly fewer files than the
    # side-car holds (input_file_name reflects post-pruning scan input)
    all_files = (
        spark.read.option("basePath", sig_dir).parquet(*parts)
        .select(F.input_file_name()).distinct().count()
    )
    pruned_files = prior.select(F.input_file_name()).distinct().count()
    assert pruned_files < all_files, (pruned_files, all_files)


def test_minhash_sidecar_compaction_preserves_layout_and_flags(spark, tmp_path):
    """The side-car's small-file maintenance path: compact_pool over the
    banded signature state with partition_cols=("batch", "bucket") must
    preserve the batch/bucket layout (ids stay — the strictly-earlier
    replay contract depends on them) and leave the signature rows
    byte-identical, so a drain resumed after compaction sees the same
    state."""
    from gridiron_spark.pool import compact_pool
    from gridiron_spark.streaming.pipelines import (
        _batch_parts,
        minhash_sidecar_dedup_available_now,
        stream_documents,
    )

    src = tmp_path / "docs"
    src.mkdir()
    for i, (did, text) in enumerate(
        [(9, "alpha beta gamma delta epsilon zeta"),
         (1, "alpha beta gamma delta epsilon zeta"),
         (5, "totally different words entirely here now")]
    ):
        spark.createDataFrame(
            [(did, text, "en", "unit", len(text))],
            "doc_id bigint, text string, lang string, source string, n_chars bigint",
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "w"))
        import glob
        import shutil

        part = glob.glob(str(tmp_path / "w" / "*.parquet"))[0]
        shutil.copy(part, str(src / f"{i}.parquet"))

    sig_dir = str(tmp_path / "sigs")
    minhash_sidecar_dedup_available_now(
        stream_documents(spark, str(src), max_files_per_trigger=1),
        sig_dir,
        str(tmp_path / "flags"),
        str(tmp_path / "ckpt"),
    )
    before = sorted(
        map(tuple, spark.read.option("basePath", sig_dir)
            .parquet(*_batch_parts(spark, sig_dir))
            .select("doc_id", "band_idx", "band_key", "sig").collect())
    )
    compact_pool(spark, sig_dir, partition_cols=("batch", "bucket"))
    parts_after = _batch_parts(spark, sig_dir)
    assert len(parts_after) == 3, parts_after  # batch ids preserved
    after = sorted(
        map(tuple, spark.read.option("basePath", sig_dir)
            .parquet(*parts_after)
            .select("doc_id", "band_idx", "band_key", "sig").collect())
    )
    assert after == before


def test_minhash_sidecar_survives_zero_row_micro_batch(spark, tmp_path):
    """A zero-ROW file in the stream (empty parquet, valid schema) must
    not kill the drain: a partitionBy write of an empty frame emits no
    part files, so the batch writes no sig subdir at all (an
    all-_SUCCESS dir would fail later batches' prior-read schema
    inference) and later batches screen against the remaining state
    normally."""
    from gridiron_spark.streaming.pipelines import (
        minhash_sidecar_dedup_available_now,
        stream_documents,
    )

    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    src = tmp_path / "docs"
    src.mkdir()
    import glob
    import shutil

    for fname, rows in (
        ("a.parquet", []),  # batch 0: zero rows
        ("b.parquet", [(9, "the quick brown fox jumps over the lazy dog", "en", "u", 44)]),
        ("c.parquet", [(1, "the quick brown fox jumps over the lazy dog", "en", "u", 44)]),
    ):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "w"))
        shutil.copy(
            glob.glob(str(tmp_path / "w" / "*.parquet"))[0], str(src / fname)
        )

    flags = minhash_sidecar_dedup_available_now(
        stream_documents(spark, str(src), max_files_per_trigger=1),
        str(tmp_path / "sigs"),
        str(tmp_path / "flags"),
        str(tmp_path / "ckpt"),
    )
    got = {r["doc_id"]: r.asDict() for r in flags.collect()}
    assert set(got) == {1, 9}
    # the cross-batch pair still forms despite the empty leading batch
    assert got[9]["keep"] == 0 and got[9]["min_partner"] == 1
    assert got[1]["keep"] == 1


def test_minhash_sidecar_empty_drain_returns_empty_flags(spark, tmp_path):
    """A drained stream that produced zero micro-batches (empty source
    dir) must return an empty, correctly-typed flags frame — not throw
    on the empty state read (round-11 ADVICE)."""
    from gridiron_spark.streaming.pipelines import (
        minhash_sidecar_dedup_available_now,
        stream_documents,
    )

    src = tmp_path / "docs"
    src.mkdir()  # no files: availableNow drains zero batches
    flags = minhash_sidecar_dedup_available_now(
        stream_documents(spark, str(src), max_files_per_trigger=1),
        str(tmp_path / "sigs"),
        str(tmp_path / "flags"),
        str(tmp_path / "ckpt"),
    )
    assert flags.count() == 0
    assert flags.columns == [
        "doc_id", "n_matches", "min_partner", "max_est", "keep"
    ]


def _write_doc_file(spark, tmp_path, src, fname, rows):
    import glob
    import shutil

    spark.createDataFrame(
        rows,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "_w"))
    part = glob.glob(str(tmp_path / "_w" / "*.parquet"))[0]
    shutil.copy(part, str(src / fname))


def test_sidecar_fold_bounds_listing_and_preserves_flags(spark, tmp_path):
    """The round-13 compaction fold: after fold_sidecar_state, the
    side-car's batch listing is bounded (one folded dir + live dirs), a
    drain CONTINUED on the same checkpoint sees exactly the
    strictly-earlier state it would have seen unfolded (the folded dir
    sorts where its newest constituent did), and the final flags equal
    an unfolded reference drain on the same input."""
    from gridiron_spark.streaming.pipelines import (
        _batch_parts,
        fold_sidecar_state,
        minhash_sidecar_dedup_available_now,
        stream_documents,
    )

    dup = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different words about streaming state machines"
    third = "yet another unrelated document with its own vocabulary set"
    files = [
        ("a.parquet", [(9, dup)]),
        ("b.parquet", [(7, other)]),
        ("c.parquet", [(1, dup), (5, third)]),  # arrives AFTER the fold
    ]

    def mkrows(pairs):
        return [(d, t, "en", "unit", len(t)) for d, t in pairs]

    # reference: unfolded drain over all three files
    ref_src = tmp_path / "ref_docs"
    ref_src.mkdir()
    for fname, pairs in files:
        _write_doc_file(spark, tmp_path, ref_src, fname, mkrows(pairs))
    ref = {
        r["doc_id"]: r.asDict()
        for r in minhash_sidecar_dedup_available_now(
            stream_documents(spark, str(ref_src), max_files_per_trigger=1),
            str(tmp_path / "ref_sigs"),
            str(tmp_path / "ref_flags"),
            str(tmp_path / "ref_ckpt"),
        ).collect()
    }

    # folded run: drain a+b, fold, then c arrives and the SAME checkpoint
    # continues
    src = tmp_path / "docs"
    src.mkdir()
    for fname, pairs in files[:2]:
        _write_doc_file(spark, tmp_path, src, fname, mkrows(pairs))
    sig_dir, flags_dir = str(tmp_path / "sigs"), str(tmp_path / "flags")
    ckpt = str(tmp_path / "ckpt")
    minhash_sidecar_dedup_available_now(
        stream_documents(spark, str(src), max_files_per_trigger=1),
        sig_dir, flags_dir, ckpt,
    )
    assert len(_batch_parts(spark, sig_dir)) == 2
    n = fold_sidecar_state(spark, sig_dir, flags_dir)
    assert n == 4  # 2 sig dirs + 2 flag dirs retired
    assert len(_batch_parts(spark, sig_dir)) == 1      # bounded listing
    assert len(_batch_parts(spark, flags_dir)) == 1
    # idempotent: nothing left to fold
    assert fold_sidecar_state(spark, sig_dir, flags_dir) == 0

    _write_doc_file(spark, tmp_path, src, files[2][0], mkrows(files[2][1]))
    got = {
        r["doc_id"]: r.asDict()
        for r in minhash_sidecar_dedup_available_now(
            stream_documents(spark, str(src), max_files_per_trigger=1),
            sig_dir, flags_dir, ckpt,
        ).collect()
    }
    assert got == ref
    # the continued drain added exactly one live batch dir per root
    assert len(_batch_parts(spark, sig_dir)) == 2
    # layout preserved: folded sig dir still bucket-partitioned (pruning
    # contract intact)
    folded = _batch_parts(spark, sig_dir)[0]
    pruned = (
        spark.read.option("basePath", sig_dir).parquet(folded)
        .filter(F.col("bucket") == 0)
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_sidecar_fold_resume_and_stale_tmp(spark, tmp_path):
    """Crash-window contracts: an INCOMPLETE .folding tmp (no _SUCCESS)
    is deleted on the next fold; a COMPLETE tmp whose publish was
    interrupted is finished (inputs <= its target retired, dir
    renamed), with the folded rows intact."""
    import os

    from gridiron_spark.streaming.pipelines import (
        _batch_parts,
        fold_sidecar_state,
        minhash_sidecar_dedup_available_now,
        stream_documents,
    )

    src = tmp_path / "docs"
    src.mkdir()
    texts = ["alpha beta gamma delta epsilon", "zeta eta theta iota kappa",
             "completely different words here now"]
    for i, t in enumerate(texts):
        _write_doc_file(spark, tmp_path, src, f"{i}.parquet",
                        [(i * 2 + 1, t, "en", "unit", len(t))])
    sig_dir, flags_dir = str(tmp_path / "sigs"), str(tmp_path / "flags")
    minhash_sidecar_dedup_available_now(
        stream_documents(spark, str(src), max_files_per_trigger=1),
        sig_dir, flags_dir, str(tmp_path / "ckpt"),
    )
    before = sorted(
        map(tuple, spark.read.option("basePath", sig_dir)
            .parquet(*_batch_parts(spark, sig_dir))
            .select("doc_id", "band_idx", "band_key").collect())
    )
    # stale incomplete tmp is swept, then the fold proceeds normally
    os.makedirs(f"{sig_dir}/batch=1.folding/bucket=0", exist_ok=True)
    assert fold_sidecar_state(spark, sig_dir, flags_dir) == 6
    assert not os.path.exists(f"{sig_dir}/batch=1.folding")
    after = sorted(
        map(tuple, spark.read.option("basePath", sig_dir)
            .parquet(*_batch_parts(spark, sig_dir))
            .select("doc_id", "band_idx", "band_key").collect())
    )
    assert after == before

    # simulate the publish crash window: demote the folded dir back to a
    # complete tmp — the next fold must finish the rename, not refold
    folded = _batch_parts(spark, sig_dir)[0].removeprefix("file:")
    os.rename(folded, folded + ".folding")
    assert fold_sidecar_state(spark, sig_dir, flags_dir) == 0
    assert os.path.exists(folded)
    resumed = sorted(
        map(tuple, spark.read.option("basePath", sig_dir)
            .parquet(*_batch_parts(spark, sig_dir))
            .select("doc_id", "band_idx", "band_key").collect())
    )
    assert resumed == before

    # and the READ path heals too: with the inputs retired and only the
    # complete tmp on disk (the worst crash window — a drain here would
    # otherwise see an EMPTY side-car and commit wrong flags), a plain
    # _batch_parts listing publishes the pending fold before serving
    os.rename(folded, folded + ".folding")
    parts = _batch_parts(spark, sig_dir)
    assert parts and parts[0].removeprefix("file:") == folded
    assert os.path.exists(folded)
    healed = sorted(
        map(tuple, spark.read.option("basePath", sig_dir)
            .parquet(*parts)
            .select("doc_id", "band_idx", "band_key").collect())
    )
    assert healed == before
