"""Real Structured Streaming executions: exactly-once file ingest
(checkpoint survives restart), watermark late-data drop, stateful
applyInPandasWithState, and batch≡stream window agreement."""

from __future__ import annotations

import itertools
import os
import time

from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.catalog import table
from end_to_end_aws_data_pipeline_spark.streaming.ingest_stream import StreamingIngest
from end_to_end_aws_data_pipeline_spark.streaming.stateful import user_session_tracker
from end_to_end_aws_data_pipeline_spark.streaming.windows import tumbling_counts
from tests.conftest import SF_SMOKE

_names = (f"__t{i}" for i in itertools.count())


def _write_csv(root, folder, name, text):
    d = os.path.join(root, folder)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as f:
        f.write(text)


def test_streaming_ingest_exactly_once_across_restarts(spark, tmp_path):
    root = str(tmp_path / "in")
    wh = str(tmp_path / "wh")
    _write_csv(root, "20250101_000000", "T.csv", "K,V\n1,a\n2,a\n")

    si = StreamingIngest(spark, root, wh, schema="K long, V string", keys=["K"], table_name="T")
    si.start()
    t1 = spark.read.parquet(os.path.join(wh, "T"))
    assert sorted((r.K, r.V) for r in t1.collect()) == [(1, "a"), (2, "a")]

    # second delivery + RESTARTED stream on the same checkpoint:
    # only the new file is processed (source log = exactly-once),
    # and the keyed upsert applies it
    _write_csv(root, "20250101_000001", "T.csv", "K,V\n2,b\n3,b\n")
    si2 = StreamingIngest(spark, root, wh, schema="K long, V string", keys=["K"], table_name="T")
    si2.start()
    t2 = spark.read.parquet(os.path.join(wh, "T"))
    assert sorted((r.K, r.V) for r in t2.collect()) == [(1, "a"), (2, "b"), (3, "b")]

    # re-running with NO new files must be a no-op
    si3 = StreamingIngest(spark, root, wh, schema="K long, V string", keys=["K"], table_name="T")
    si3.start()
    t3 = spark.read.parquet(os.path.join(wh, "T"))
    assert t3.count() == 3


def test_streaming_ingest_many_versions(spark, tmp_path):
    """20 versioned deliveries with overlapping keys drain through one
    availableNow run in FIFO order; the table converges to last-writer-
    wins per key with no duplicates."""
    root = str(tmp_path / "in")
    wh = str(tmp_path / "wh")
    for v in range(20):
        _write_csv(
            root,
            f"20250101_{v:06d}",
            "T.csv",
            f"K,V\n{v % 5},v{v}\n{(v + 1) % 5},v{v}\n",
        )
    si = StreamingIngest(spark, root, wh, schema="K long, V string", keys=["K"], table_name="T")
    si.start()
    rows = {r.K: r.V for r in spark.read.parquet(os.path.join(wh, "T")).collect()}
    assert len(rows) == 5  # one row per key, ever
    # key k last written by version max{v : v%5==k or (v+1)%5==k}
    expect = {}
    for v in range(20):
        for k in (v % 5, (v + 1) % 5):
            expect[k] = f"v{v}"
    assert rows == expect


def test_watermark_drops_late_rows(spark, tmp_path):
    src_dir = str(tmp_path / "events_src")
    os.makedirs(src_dir)
    sink = next(_names)
    # batch 1: events at 12:00-13:00 → watermark advances to ~12:50
    _write_csv(src_dir, ".", "b1.csv",
               "ts,user_id,value\n2024-01-01 12:00:00,1,1.0\n2024-01-01 13:00:00,1,1.0\n")
    q = (
        spark.readStream.schema("ts timestamp, user_id long, value double")
        .option("header", True)
        .option("maxFilesPerTrigger", 1)
        .csv(src_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    # batch 2: an 11:00 event — older than watermark (13:00 − 10min) → dropped
    _write_csv(src_dir, ".", "b2.csv", "ts,user_id,value\n2024-01-01 11:00:00,1,9.0\n")
    # batch 3: push event time forward so the 12:00 window finalizes/appends
    _write_csv(src_dir, ".", "b3.csv", "ts,user_id,value\n2024-01-01 15:00:00,1,1.0\n")
    q.processAllAvailable()
    q.stop()
    finalized = {
        (r["window"].start.hour, r.n) for r in spark.table(sink).collect()
    }
    # the 11:00 late event must NOT have created an 11:00 window
    assert all(h != 11 for h, _ in finalized)
    assert (12, 1) in finalized  # on-time window finalized with 1 event


def test_stateful_tracker_accumulates_across_batches(spark, tmp_path):
    src_dir = str(tmp_path / "ev")
    os.makedirs(src_dir)
    sink = next(_names)
    _write_csv(src_dir, ".", "b1.csv",
               "user_id,ts,value\n7,2024-01-01 10:00:00,1.5\n7,2024-01-01 10:05:00,2.5\n")
    events = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("header", True)
        .option("maxFilesPerTrigger", 1)
        .csv(src_dir)
    )
    q = (
        user_session_tracker(events)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .start()
    )
    q.processAllAvailable()
    _write_csv(src_dir, ".", "b2.csv", "user_id,ts,value\n7,2024-01-01 10:10:00,6.0\n")
    q.processAllAvailable()
    q.stop()
    rows = spark.table(sink).collect()
    # update mode: one emission per batch; the LAST reflects folded state
    last = max(rows, key=lambda r: r.n_events)
    assert last.n_events == 3
    assert abs(last.total_value - 10.0) < 1e-9
    assert last.first_ts.minute == 0 and last.last_ts.minute == 10


def test_stream_equals_batch_for_tumbling_windows(spark, tmp_path):
    # same builder, batch vs streaming execution → identical results
    batch = tumbling_counts(table(spark, SF_SMOKE, "events"))
    expected = {tuple(r) for r in batch.collect()}

    from end_to_end_aws_data_pipeline_spark.streaming.queries import stream_dir_for

    path = os.path.join(SF_SMOKE, "events.parquet")
    schema = spark.read.parquet(path).schema
    from end_to_end_aws_data_pipeline_spark.catalog import normalize_event_ts

    src = normalize_event_ts(
        spark.readStream.schema(schema).parquet(stream_dir_for(path))
    )
    sink = next(_names)
    q = (
        tumbling_counts(src)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {tuple(r) for r in spark.table(sink).collect()}
    assert got == expected


def test_python_datasource_streaming_exactly_once(spark, tmp_path):
    """The custom Python DataSource's streaming face: micro-batches
    advance a cursor offset until the bounded feed is exhausted;
    processAllAvailable() drains it. Complete-mode counts must equal
    the deterministic generator's arithmetic EXACTLY — any dropped or
    duplicated micro-batch shows up as a count/checksum error."""
    from pyspark.sql import functions as F

    from end_to_end_aws_data_pipeline_spark.operators.sources import (
        SyntheticEventsDataSource,
    )

    if SyntheticEventsDataSource is None:
        import pytest

        pytest.skip("pyspark.sql.datasource requires Spark 4+")
    spark.dataSource.register(SyntheticEventsDataSource)
    n = 5000
    ev = (
        spark.readStream.format("synthetic_events")
        .option("n_rows", n)
        .option("batch_rows", 700)  # 8 uneven micro-batches
        .load()
    )
    agg = ev.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_cents").alias("cents"),
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("pyds_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.kind: (r.n_events, r.cents)
        for r in spark.sql("SELECT * FROM pyds_stream").collect()
    }
    kinds = ("view", "click", "purchase", "refund", "idle")
    exp = {}
    for i, kind in enumerate(kinds):
        ids = range(i, n, 5)
        exp[kind] = (len(ids), sum((e * e) % 10_000 for e in ids))
    assert got == exp


def test_transform_with_state_env_gate(spark):
    """transformWithStateInPandas (State API v2) needs google.protobuf
    in the Python env; the query registers only where it exists. Where
    protobuf IS present, this test EXECUTES the query end-to-end
    against its batch oracle — so the gate cannot silently rot into a
    never-run feature. Where protobuf is absent, the skip is explicit
    and version-asserted: PySpark itself must still expose
    transformWithStateInPandas (proving the gate is about the missing
    dependency, not a vanished API)."""
    import importlib

    import pytest
    from pyspark.sql import GroupedData

    import __spark_entry__ as ent
    from end_to_end_aws_data_pipeline_spark.streaming import queries as sq

    # the API this gate protects must exist in this PySpark build —
    # if it ever disappears, the gate is hiding a real break, not a
    # missing optional dependency
    assert hasattr(GroupedData, "transformWithStateInPandas"), (
        "PySpark no longer exposes transformWithStateInPandas; the "
        "protobuf env gate is masking an API regression"
    )
    assert callable(sq.q_stream_transform_with_state)

    has_pb = importlib.util.find_spec("google") is not None and sq._has_protobuf()
    assert ("q_stream_transform_with_state" in ent.queries()) == has_pb
    if not has_pb:
        pytest.skip(
            "google.protobuf absent: transformWithStateInPandas's Python "
            "worker hard-imports pyspark.sql.streaming.proto."
            "StateMessage_pb2; State API v2 query is version-refused, "
            "v1 (q_stream_stateful_user_aggs) carries the contract"
        )

    # dependency present → run it for real against the batch oracle
    from tests.conftest import SF_SMOKE

    got = {
        r.user_id: (r.n_events, r.total_c, r.first_event_id)
        for r in sq.q_stream_transform_with_state(spark, SF_SMOKE).collect()
    }
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF_SMOKE}/events.parquet'"
    )
    exp = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(sq._TWS_ORACLE).fetchall()
    }
    con.close()
    assert got == exp


def test_python_datasource_partitioned_stream_reader(spark, tmp_path):
    """The default streaming face is the PARTITIONED
    DataSourceStreamReader: each micro-batch's offset range fans out
    across multiple InputPartitions (executor-side reads), and the
    end-to-end result is identical to the driver-side simple reader —
    same offset log semantics, N× the read parallelism."""
    from pyspark.sql import functions as F

    from end_to_end_aws_data_pipeline_spark.operators.sources import (
        SyntheticEventsDataSource,
        SyntheticEventsPartitionedStreamReader,
    )

    if SyntheticEventsDataSource is None:
        import pytest

        pytest.skip("pyspark.sql.datasource requires Spark 4+")

    # unit contract: every non-empty micro-batch plans >1 partition
    r = SyntheticEventsPartitionedStreamReader(
        {"n_rows": "5000", "batch_rows": "700", "stream_parts": "8"}
    )
    parts = r.partitions({"cursor": 0}, {"cursor": 700})
    assert len(parts) == 8
    covered = sorted((p.start, p.end) for p in parts)
    assert covered[0][0] == 0 and covered[-1][1] == 700
    assert all(a[1] == b[0] for a, b in zip(covered, covered[1:]))
    # backwards range (restart before cursor catch-up) plans no tasks
    assert r.partitions({"cursor": 2100}, {"cursor": 700}) == []

    # end-to-end: partitioned run == simple-reader run == generator math
    spark.dataSource.register(SyntheticEventsDataSource)
    n = 5000
    results = {}
    for mode in ("partitioned", "simple"):
        ev = spark.readStream.format("synthetic_events").options(
            n_rows=n, batch_rows=700, reader_mode=mode
        ).load()
        agg = ev.groupBy("kind").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value_cents").alias("cents"),
        )
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(f"pyds_{mode}")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{mode}"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        results[mode] = {
            r.kind: (r.n_events, r.cents)
            for r in spark.sql(f"SELECT * FROM pyds_{mode}").collect()
        }
    kinds = ("view", "click", "purchase", "refund", "idle")
    exp = {}
    for i, kind in enumerate(kinds):
        ids = range(i, n, 5)
        exp[kind] = (len(ids), sum((e * e) % 10_000 for e in ids))
    assert results["partitioned"] == exp
    assert results["simple"] == exp


def test_stream_equals_batch_for_ohlc_bars(spark, tmp_path):
    """OHLC via min_by/max_by aggregates: the streaming execution must
    land on the exact bars of the batch run (deterministic open/close
    through the (ts, event_id) ordering struct), and those must equal
    the ranking-window batch twin q_window_ohlc."""
    from end_to_end_aws_data_pipeline_spark.catalog import normalize_event_ts
    from end_to_end_aws_data_pipeline_spark.operators.windows import q_window_ohlc
    from end_to_end_aws_data_pipeline_spark.streaming.queries import stream_dir_for
    from end_to_end_aws_data_pipeline_spark.streaming.windows import ohlc_bars

    batch = ohlc_bars(table(spark, SF_SMOKE, "events"))
    expected = {tuple(r) for r in batch.collect()}
    # aggregate form ≡ ranking-window form
    twin = {tuple(r) for r in q_window_ohlc(spark, SF_SMOKE).collect()}
    assert expected == twin

    path = os.path.join(SF_SMOKE, "events.parquet")
    schema = spark.read.parquet(path).schema
    src = normalize_event_ts(
        spark.readStream.schema(schema).parquet(stream_dir_for(path))
    )
    sink = next(_names)
    q = (
        ohlc_bars(src)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {tuple(r) for r in spark.table(sink).collect()}
    assert got == expected


def test_sketch_stream_restart_exactly_once(spark, tmp_path):
    """Kill the sketch-maintenance stream after 2 of 4 micro-batches,
    resume from the checkpoint, and require (a) the resumed run
    processes each remaining bucket exactly once, (b) the summary
    store's content is BIT-IDENTICAL to an uninterrupted run's — the
    determinism + idempotent-overwrite contract under restart — and
    (c) the merged rollup equals the uninterrupted merge row-for-row."""
    import os

    from end_to_end_aws_data_pipeline_spark.streaming.sketch import (
        merge_sketches,
        run_sketch_stream,
        staged_bucket_dir,
    )

    staged = staged_bucket_dir(os.path.join(SF_SMOKE, "events.parquet"))

    acc1, ck1 = str(tmp_path / "acc1"), str(tmp_path / "ck1")
    run_sketch_stream(spark, staged, acc1, ck1)  # clean run
    clean = sorted(
        tuple(r)
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(acc1)
        .collect()
    )
    assert {r[0] for r in clean} == {0, 1, 2, 3}  # all buckets summarized

    acc2, ck2 = str(tmp_path / "acc2"), str(tmp_path / "ck2")
    run_sketch_stream(spark, staged, acc2, ck2, stop_after_batches=2)
    done_mid = {
        int(d[1:]) for d in os.listdir(acc2) if d.startswith("g")
    }
    assert 0 < len(done_mid) <= 3  # genuinely interrupted mid-stream
    run_sketch_stream(spark, staged, acc2, ck2)  # resume, same checkpoint
    resumed = sorted(
        tuple(r)
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(acc2)
        .collect()
    )
    assert resumed == clean

    n = spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet")).count()
    m1 = sorted(tuple(r) for r in merge_sketches(spark, acc1, n).collect())
    m2 = sorted(tuple(r) for r in merge_sketches(spark, acc2, n).collect())
    assert m1 == m2 and len(m1) == 4


def test_sketch_batch_rank_route_invariance(spark, tmp_path, monkeypatch):
    """The per-batch rank path is routed by micro-batch size
    (trigger-bounded single sorted partition vs banded
    segmented_group_rank). Both routes must write the bit-identical
    level-1 summary — forcing the banded path via _SK_LOCAL_ROWS=0
    and diffing the summary stores proves route invariance."""
    import os

    from end_to_end_aws_data_pipeline_spark.streaming import sketch as sk

    staged = sk.staged_bucket_dir(os.path.join(SF_SMOKE, "events.parquet"))

    acc1, ck1 = str(tmp_path / "a1"), str(tmp_path / "c1")
    sk.run_sketch_stream(spark, staged, acc1, ck1)  # local-window route

    monkeypatch.setattr(sk, "_SK_LOCAL_ROWS", 0)  # force banded route
    acc2, ck2 = str(tmp_path / "a2"), str(tmp_path / "c2")
    sk.run_sketch_stream(spark, staged, acc2, ck2)

    read = lambda p: sorted(
        tuple(r)
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(p)
        .collect()
    )
    assert read(acc1) == read(acc2)


def test_hh_stream_restart_exactly_once(spark, tmp_path):
    """Kill the heavy-hitters stream after 2 of 4 micro-batches, resume
    from the checkpoint, and require the summary store to be
    BIT-IDENTICAL to an uninterrupted run's — same canonical-summary +
    idempotent-overwrite contract the sketch stream proves, now for the
    counts member of the mergeable family."""
    import os

    from end_to_end_aws_data_pipeline_spark.streaming.sketch import (
        run_hh_stream,
        staged_bucket_dir,
    )

    staged = staged_bucket_dir(os.path.join(SF_SMOKE, "events.parquet"))

    acc1, ck1 = str(tmp_path / "acc1"), str(tmp_path / "ck1")
    run_hh_stream(spark, staged, acc1, ck1)  # clean run
    clean = sorted(
        tuple(r)
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(acc1)
        .collect()
    )
    assert {r[0] for r in clean} == {0, 1, 2, 3}

    acc2, ck2 = str(tmp_path / "acc2"), str(tmp_path / "ck2")
    run_hh_stream(spark, staged, acc2, ck2, stop_after_batches=2)
    done_mid = {int(d[1:]) for d in os.listdir(acc2) if d.startswith("g")}
    assert 0 < len(done_mid) <= 3  # genuinely interrupted mid-stream
    run_hh_stream(spark, staged, acc2, ck2)  # resume, same checkpoint
    resumed = sorted(
        tuple(r)
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(acc2)
        .collect()
    )
    assert resumed == clean
    # per-batch summary invariant: every stored count >= its batch's t
    for _g, _k, cnt, t in clean:
        assert cnt >= t


def test_pattern_stream_resume_matches_batch(spark, tmp_path):
    """Streaming MATCH_RECOGNIZE survives a drain/resume split: the
    first drain sees only the first half of the time-ordered chunks,
    the second drain (same checkpoint) the rest — per-user run state
    must carry across the restart, and the union of the two drains'
    final rows must equal the batch composition exactly (including
    matches whose click/view/purchase runs STRADDLE the restart)."""
    import shutil as _sh

    from end_to_end_aws_data_pipeline_spark.operators.sweep import (
        q_events_pattern_match,
    )
    from end_to_end_aws_data_pipeline_spark.streaming.pattern import (
        final_matches,
        run_pattern_stream,
        staged_time_dir,
    )
    from tests.conftest import SF_SMOKE

    full = staged_time_dir(os.path.join(SF_SMOKE, "events.parquet"))
    chunks = sorted(f for f in os.listdir(full) if f.endswith(".parquet"))
    assert len(chunks) == 4
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    ckpt = str(tmp_path / "ckpt")

    def _arrive(names, t0):
        for i, f in enumerate(names):
            dst = os.path.join(staged, f)
            _sh.copyfile(os.path.join(full, f), dst)
            os.utime(dst, (t0 + 10 * i, t0 + 10 * i))

    _arrive(chunks[:2], 1_000_000)
    s1 = str(tmp_path / "out_a")
    run_pattern_stream(spark, staged, s1, ckpt)

    _arrive(chunks[2:], 2_000_000)
    s2 = str(tmp_path / "out_b")
    run_pattern_stream(spark, staged, s2, ckpt)

    got = sorted(
        tuple(r) for r in final_matches(spark, [s1, s2]).collect()
    )
    want = sorted(
        tuple(r)
        for r in q_events_pattern_match(spark, SF_SMOKE)
        .select(
            "user_id",
            "n_matches",
            "views_matched",
            "longest_view_run",
            F.col("first_match_start"),
        )
        .collect()
    )
    assert got == want and len(want) > 0


def test_pattern_rle_restart_and_equivalence(spark, tmp_path):
    """The JVM-RLE pattern stream must (a) equal the batch composition
    on a clean drain, and (b) survive a mid-stream kill after 2 of 4
    batches + checkpoint resume with the identical final state — the
    batch-id-keyed snapshot makes a replayed batch rewrite its
    predecessor-derived state byte-identically."""
    from end_to_end_aws_data_pipeline_spark.operators.sweep import (
        q_events_pattern_match,
    )
    from end_to_end_aws_data_pipeline_spark.streaming.pattern import (
        rle_final_matches,
        run_pattern_stream_rle,
        staged_time_dir,
    )
    from tests.conftest import SF_SMOKE

    staged = staged_time_dir(os.path.join(SF_SMOKE, "events.parquet"))

    want = sorted(
        tuple(r)
        for r in q_events_pattern_match(spark, SF_SMOKE)
        .select(
            "user_id",
            "n_matches",
            "views_matched",
            "longest_view_run",
            "first_match_start",
        )
        .collect()
    )
    assert len(want) > 0

    clean_store = str(tmp_path / "clean")
    run_pattern_stream_rle(spark, staged, clean_store)
    got_clean = sorted(
        tuple(r) for r in rle_final_matches(spark, clean_store).collect()
    )
    assert got_clean == want

    # bucketed + retained store layout: after the 4-batch drain only the
    # last store.RETAIN snapshots survive, each sharded into
    # bucket=K partition dirs (parallel write, no coalesce(1) task)
    from end_to_end_aws_data_pipeline_spark.streaming import store

    snaps = sorted(
        int(d[1:]) for d in os.listdir(clean_store) if d.startswith("b")
    )
    assert snaps == list(range(4 - store.RETAIN, 4))
    newest = os.path.join(clean_store, f"b{snaps[-1]}")
    assert any(n.startswith("bucket=") for n in os.listdir(newest))

    store2, ck2 = str(tmp_path / "killed"), str(tmp_path / "ck2")
    run_pattern_stream_rle(spark, staged, store2, ck2, stop_after_batches=2)
    done_mid = {int(d[1:]) for d in os.listdir(store2) if d.startswith("b")}
    assert 0 < len(done_mid) <= 3  # genuinely interrupted mid-stream
    run_pattern_stream_rle(spark, staged, store2, ck2)  # resume
    got_resumed = sorted(
        tuple(r) for r in rle_final_matches(spark, store2).collect()
    )
    assert got_resumed == want


def test_rle_store_guards(spark, tmp_path):
    """A checkpoint that resumes against a cleaned store must FAIL
    loudly (empty-state fallback would silently under-count matches),
    and reading an empty store names the problem instead of a bare
    ValueError from max()."""
    import shutil as _sh

    import pytest

    from end_to_end_aws_data_pipeline_spark.streaming.pattern import (
        rle_final_matches,
        run_pattern_stream_rle,
        staged_time_dir,
    )
    from tests.conftest import SF_SMOKE

    with pytest.raises(RuntimeError, match="no snapshots"):
        rle_final_matches(spark, str(tmp_path / "never_written"))

    staged = staged_time_dir(os.path.join(SF_SMOKE, "events.parquet"))
    store, ck = str(tmp_path / "st"), str(tmp_path / "ck")
    run_pattern_stream_rle(spark, staged, store, ck, stop_after_batches=2)
    _sh.rmtree(store)  # checkpoint now points at a vanished store
    with pytest.raises(Exception, match="missing"):
        run_pattern_stream_rle(spark, staged, store, ck)


def test_fresh_run_dir_reaps_stale(tmp_path):
    """fresh_run_dir removes dead-pid and own-pid leftovers for its
    prefix, leaves live other-process dirs and other prefixes alone."""
    from end_to_end_aws_data_pipeline_spark.streaming.store import (
        fresh_run_dir,
    )

    base = str(tmp_path)
    dead = os.path.join(base, "pattern_rle_999999999_0")
    mine = os.path.join(base, f"pattern_rle_{os.getpid()}_7")
    other_prefix = os.path.join(base, "pattern_out_999999999_0")
    for d in (dead, mine, other_prefix):
        os.makedirs(d)
    fresh = fresh_run_dir(base, "pattern_rle")
    assert not os.path.exists(dead)
    assert not os.path.exists(mine)
    assert os.path.exists(other_prefix)  # different prefix untouched
    assert os.path.basename(fresh).startswith(f"pattern_rle_{os.getpid()}_")


def test_pattern_quantified_batch_stream_equal_and_nonvacuous(spark):
    """The bounded quantifier view{2,4} must (a) actually reject some
    candidates AND accept some (non-vacuous on the fixture), (b) keep
    every accepted run inside the bound, and (c) produce identical
    per-user stats from the batch composition and the streaming RLE
    fold — including runs that span micro-batch boundaries, whose
    effective length is accumulated before the bound is tested.
    Runs at SF_ORACLE: the sf0.001 fixture's candidate view runs are
    ALL length 1, so the {2,4} bound is only non-vacuous in both
    directions (some accepted AND some rejected) at sf0.01 — the SF
    the driver gate verifies at."""
    from end_to_end_aws_data_pipeline_spark.operators.rowpattern import (
        QUANTIFIED,
    )
    from end_to_end_aws_data_pipeline_spark.operators.sweep import (
        q_events_pattern_quantified,
    )
    from end_to_end_aws_data_pipeline_spark.streaming.pattern import (
        q_stream_pattern_quantified,
    )
    from tests.conftest import SF_ORACLE

    rows = q_events_pattern_quantified(spark, SF_ORACLE).collect()
    assert sum(r["n_quant_rejected"] for r in rows) > 0
    assert sum(r["n_matches"] for r in rows) > 0
    for r in rows:
        if r["n_matches"] > 0:
            assert QUANTIFIED.lo <= r["longest_view_run"] <= QUANTIFIED.hi

    want = sorted(
        (
            r["user_id"],
            r["n_matches"],
            r["views_matched"],
            r["longest_view_run"],
            r["first_match_start"],
        )
        for r in rows
        if r["n_matches"] > 0
    )
    got = sorted(
        tuple(r)
        for r in q_stream_pattern_quantified(spark, SF_ORACLE).collect()
    )
    assert got == want and len(want) > 0


def test_ann_index_stream_restart_and_batch_equality(spark, tmp_path):
    """The maintained IVF index must (a) equal itself across a
    mid-stream kill + checkpoint resume (bit-identical snapshot fold),
    and (b) be non-trivial: multiple buckets, shortlists capped at K,
    checksums consistent with membership."""
    from end_to_end_aws_data_pipeline_spark.streaming.ann_index import (
        _AI_TOPK,
        final_index,
        run_ann_index_stream,
        staged_vec_dir,
    )
    from tests.conftest import SF_SMOKE

    staged = staged_vec_dir(os.path.join(SF_SMOKE, "embeddings.parquet"))

    clean = str(tmp_path / "clean")
    run_ann_index_stream(spark, SF_SMOKE, staged, clean)
    got_clean = sorted(tuple(r) for r in final_index(spark, clean).collect())
    assert len(got_clean) > 0
    n_buckets = len({r[0] for r in got_clean})
    assert n_buckets > 1
    per_bucket = {}
    for cent_id, n_members, _cs, rank, _mid, _dot in got_clean:
        per_bucket.setdefault(cent_id, []).append(rank)
        assert rank <= min(_AI_TOPK, n_members)
    assert all(sorted(v) == list(range(1, len(v) + 1))
               for v in per_bucket.values())

    store2, ck2 = str(tmp_path / "killed"), str(tmp_path / "ck")
    run_ann_index_stream(
        spark, SF_SMOKE, staged, store2, ck2, stop_after_batches=2
    )
    run_ann_index_stream(spark, SF_SMOKE, staged, store2, ck2)  # resume
    got_resumed = sorted(
        tuple(r) for r in final_index(spark, store2).collect()
    )
    assert got_resumed == got_clean


def test_pattern_alternation_batch_stream_equal_and_nonvacuous(spark):
    """The terminal alternation (purchase|signup) must (a) fire through
    BOTH branches at sf0.01 (alternation non-vacuous, the quantified
    form's planted-fixture doctrine), (b) reject some candidates (the
    alphabet-or-bound test actually excludes something), and (c)
    produce identical per-user stats from the batch composition and
    the streaming RLE fold with the alphabet passed down — including
    batch-boundary-spanning runs closed by either terminal symbol."""
    from end_to_end_aws_data_pipeline_spark.operators.sweep import (
        q_events_pattern_alternation,
    )
    from end_to_end_aws_data_pipeline_spark.streaming.pattern import (
        q_stream_pattern_alternation,
    )
    from tests.conftest import SF_ORACLE

    rows = q_events_pattern_alternation(spark, SF_ORACLE).collect()
    assert sum(r["n_branch_purchase"] for r in rows) > 0
    assert sum(r["n_branch_signup"] for r in rows) > 0
    assert sum(r["n_alt_rejected"] for r in rows) > 0
    for r in rows:
        assert r["n_matches"] == r["n_branch_purchase"] + r["n_branch_signup"]

    want = sorted(
        (
            r["user_id"],
            r["n_matches"],
            r["views_matched"],
            r["longest_view_run"],
            r["first_match_start"],
        )
        for r in rows
        if r["n_matches"] > 0
    )
    got = sorted(
        tuple(r)
        for r in q_stream_pattern_alternation(spark, SF_ORACLE).collect()
    )
    assert got == want and len(want) > 0


def test_ann_index_twolevel_mass_conservation_and_distinct_routing(spark):
    """The two-level-routed maintained index must (a) conserve mass —
    Σ n_members equals the corpus size and Σ id_checksum equals
    Σ vec_id (every vector lands in exactly ONE bucket: the live-super
    guard means no vector drops when a super owns no centroid), and
    (b) actually route differently from the single-level index for
    SOME vectors (the router is an approximation, not a rename) while
    drawing buckets from the same fine codebook."""
    from end_to_end_aws_data_pipeline_spark.streaming.ann_index import (
        q_stream_ann_index,
        q_stream_ann_index_twolevel,
    )
    from tests.conftest import SF_SMOKE

    one = q_stream_ann_index(spark, SF_SMOKE).collect()
    # materialize fully before re-invoking into the same staged base
    # (fresh_run_dir result-lifetime contract)
    two = q_stream_ann_index_twolevel(spark, SF_SMOKE).collect()

    import duckdb

    con = duckdb.connect()
    n, vid_sum = con.execute(
        f"SELECT count(*), sum(vec_id) FROM "
        f"'{SF_SMOKE}/embeddings.parquet'"
    ).fetchone()

    def per_bucket(rows):
        return {
            r["cent_id"]: (r["n_members"], r["id_checksum"]) for r in rows
        }

    b1, b2 = per_bucket(one), per_bucket(two)
    for b in (b1, b2):
        assert sum(v[0] for v in b.values()) == n
        assert sum(v[1] for v in b.values()) == vid_sum
    assert b1 != b2  # routing differs somewhere
    # same id space: every bucket is one of the first-ceil(√N) fine
    # centroids in BOTH forms (the router changes assignment, not the
    # codebook)
    import math

    n_cent = math.ceil(math.sqrt(n))
    assert all(c < n_cent for c in b1)
    assert all(c < n_cent for c in b2)
