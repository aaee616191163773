"""Streaming-vs-batch parity for the ops the DuckDB oracle can't
express: session windows (gaps-and-islands batch twin)."""

from __future__ import annotations

import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F

from flink_luad_pipeline_spark.catalog import load, table_path
from flink_luad_pipeline_spark.streaming import ops


def batch_sessions(events, gap_minutes=30):
    """Gaps-and-islands sessionization: a new session starts when the
    gap to the previous event of the same user exceeds the threshold."""
    w = Window.partitionBy("user_id").orderBy("ts")
    # ts is TIMESTAMP_NTZ, which can't cast straight to long — go via
    # session-TZ TIMESTAMP (pinned UTC) for the epoch-seconds gap.
    sec = F.col("ts").cast("timestamp").cast("long")
    gap = sec - F.lag(sec).over(w)
    marked = events.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return marked.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
    )


def test_get_spark_restarts_callback_server_below_fd_1024(spark):
    """foreachBatch calls back into the driver through py4j's callback
    server, whose accept loop waits with select.select: a listening
    socket at descriptor >= 1024 makes the loop die and the stream hang.
    get_spark starts the server while few descriptors are open and
    replaces one whose loop is gone. No stream is started.

    The dead server is a stand-in with py4j's post-shutdown state
    (``thread`` None): shutting the live server down would block on
    the callback connections earlier streams left open."""
    from types import SimpleNamespace

    from flink_luad_pipeline_spark.session import get_spark

    gateway = spark.sparkContext._gateway
    live = gateway.__dict__["_callback_server"]
    dead = SimpleNamespace(thread=None)
    gateway._callback_server = dead
    try:
        assert get_spark("flps-tests") is spark
        server = gateway.__dict__["_callback_server"]
        assert server is not dead
        assert server.thread is not None and server.thread.is_alive()
        assert server.server_socket.fileno() < 1024
    finally:
        # leave a live server for the suite's later streams either way
        if gateway.__dict__["_callback_server"] is dead:
            gateway._callback_server = live


def test_watermark_seals_windows_append_mode(spark, tmp_path):
    """Real watermark semantics over multi-batch file replay (append
    mode): only windows fully below the final watermark are emitted;
    an unsealed window is withheld. Note Spark's documented guarantee
    is one-directional — within-delay data is never dropped, while
    beyond-delay stragglers are dropped only best-effort (observed:
    an old straggler in a later micro-batch may still aggregate and,
    being below the watermark, seal immediately)."""
    import datetime as dt

    src = tmp_path / "stream_src"
    src.mkdir()

    def write_file(name, hours):
        rows = [
            (i, dt.datetime(2024, 1, 1, h, m), 1.0)
            for i, (h, m) in enumerate(hours)
        ]
        spark.createDataFrame(
            rows, "event_id LONG, ts TIMESTAMP, value DOUBLE"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    # batch 1 (listed first alphabetically): on-time data around 10:00
    write_file("a_ontime", [(10, 0), (10, 10), (10, 20), (11, 30)])
    # batch 2: straggler from 01:00 — far below the watermark by then
    write_file("b_late", [(1, 0)])

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = (
        spark.readStream.schema("event_id LONG, ts TIMESTAMP, value DOUBLE")
        .option("maxFilesPerTrigger", 1)  # force separate micro-batches
        .parquet(f"{src}/*")
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("ws"), "n"
        )
    )
    got = ops.run_available_now(stream, "late_drop_test", "append")
    windows = {r.ws: r.n for r in got.collect()}
    # sealed window emitted intact (all within-delay rows aggregated)
    assert windows.get("2024-01-01 10:00:00") == 3
    # final watermark is 11:00 -> the 11:00-12:00 window is NOT sealed
    # and must be withheld in append mode
    assert "2024-01-01 11:00:00" not in windows


def test_session_windows_match_batch(spark, sf_dir):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = ops.session_window_agg(ops.read_events_stream(spark, sf_dir))
    got = ops.run_available_now(stream, "test_sessions", "append")
    streamed = {
        (r.user_id, r.session_start): r.n_events for r in got.collect()
    }
    events = load(spark, sf_dir, "events")
    expected_df = batch_sessions(events)
    expected = {
        (r.user_id, r.session_start): r.n_events for r in expected_df.collect()
    }
    # append mode withholds sessions not sealed by the final watermark
    # (max ts - 1h): streamed must be a subset of batch, matching counts
    assert streamed, "no sessions emitted"
    assert set(streamed) <= set(expected)
    for k, n in streamed.items():
        assert expected[k] == n
    # and nearly all sessions should be sealed (only the last hour open)
    assert len(streamed) >= 0.8 * len(expected)


def test_stream_readers_replay_directory_tables(spark, sf_dir, tmp_path):
    """A table stored as a directory of part files streams every row,
    as a single-file table does."""
    readers = {
        "documents": ops.read_documents_stream,
        "events": ops.read_events_stream,
    }
    for table, read_stream in readers.items():
        rows = pq.read_table(table_path(sf_dir, table))
        parts = tmp_path / f"{table}.parquet"
        parts.mkdir()
        half = rows.num_rows // 2
        pq.write_table(rows.slice(0, half), parts / "part-0.parquet")
        pq.write_table(rows.slice(half), parts / "part-1.parquet")
        drained = ops.run_available_now(
            read_stream(spark, str(tmp_path)), f"test_{table}_parts", "append"
        )
        assert drained.count() == load(spark, str(tmp_path), table).count() > 0


def test_transform_with_state_totals(spark, sf_dir):
    """Spark 4 transformWithStateInPandas twin of ss5. The protobuf
    gate locates a pure-Python google.protobuf runtime when no pip
    package exists (see streaming/protobuf_gate.py); skips only if
    none is found anywhere."""
    import pytest

    from flink_luad_pipeline_spark.streaming import protobuf_gate

    if not protobuf_gate.ensure_protobuf(spark):
        pytest.skip("no google.protobuf runtime available")
    from pyspark.sql import functions as F

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        totals = ops.transform_with_state_totals(
            ops.read_events_stream(spark, sf_dir)
        )
        sink = ops.run_available_now(totals, "tws_test", "update")
        final = sink.groupBy("user_id").agg(
            F.max("n_events").alias("n_events")
        )
        batch = (
            load(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        assert final.exceptAll(batch).isEmpty()
        assert batch.exceptAll(final).isEmpty()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_ss23_gc_compacts_deletes_and_preserves_answer(spark):
    """VERDICT r11 item 2 for the ANN ingest loop: drive ss23's REAL
    foreachBatch fold at a multi-batch grain with the compact-then-
    DELETE policy on, and assert (a) the codes-path list stays
    bounded, (b) the superseded roots are GONE from disk, (c) the
    manifest mirrors the live state, and (d) the probe answer equals
    an uncompacted run over the identical feed/batching (compaction is
    layout, never rows). Also pins the r11 retry hazard fix: replaying
    an already-folded batch (its path pre-registered) is skipped whole
    — paths and answer unchanged."""
    import json
    import os

    from flink_luad_pipeline_spark.catalog import load
    from flink_luad_pipeline_spark.operators import similarity
    from flink_luad_pipeline_spark.plans.relational_queries import sink_path
    from flink_luad_pipeline_spark.plans.streaming_queries import _ss23_drain

    sf = "/root/testdata/sf0.001"
    emb = load(spark, sf, "embeddings")
    # one shared pre-written feed -> both runs see identical batches
    feed = sink_path("ss23gc_feed", sf)
    emb.where(F.col("vec_id") % 5 == 0).repartition(6).write.mode(
        "overwrite"
    ).parquet(feed)

    def probe(state):
        folded = dict(
            state["index"],
            codes=spark.read.parquet(*state["code_paths"]),
        )
        return similarity.residual_ann_index_topk(
            emb.where(F.col("vec_id") < 5), folded, k=10,
            train_iters=2, train_mod=4,
        ).orderBy("query_id", "rank").collect()

    gc = _ss23_drain(
        spark, sf, compact_every=3, feed_path=feed, max_files_per_trigger=1
    )
    nogc = _ss23_drain(spark, sf, feed_path=feed, max_files_per_trigger=1)

    assert len(nogc["state"]["code_paths"]) > 3  # the grain really is multi-batch
    assert len(gc["state"]["code_paths"]) <= 3  # bounded by the policy
    assert gc["state"]["gone"], "GC never fired"
    for dead in gc["state"]["gone"]:
        assert not os.path.exists(dead), f"superseded root survives: {dead}"
    with open(gc["manifest"]) as fh:
        man = json.load(fh)
    assert man["root"] == gc["state"]["root"]
    assert man["code_paths"] == gc["state"]["code_paths"]
    assert probe(gc["state"]) == probe(nogc["state"])

    # retry replay: re-deliver the last folded batch id — skipped whole
    last_batch = max(gc["state"]["folded"])
    paths_before = list(gc["state"]["code_paths"])
    answer_before = probe(gc["state"])
    gc["fold"](gc["delta"], last_batch)
    assert gc["state"]["code_paths"] == paths_before
    assert probe(gc["state"]) == answer_before


def test_ss21_gc_bounds_roots_deletes_superseded_and_preserves_state(spark):
    """VERDICT r11 item 2 for the curation loop: ss21's fold at a
    multi-batch grain with compact-then-DELETE on — root list bounded,
    superseded roots deleted from disk, manifest mirrors state, and
    BOTH the curated output and the full materialized state view equal
    an uncompacted run over the identical feed/batching."""
    import json
    import os

    from flink_luad_pipeline_spark.plans.llm_queries import (
        _ll100_fixture,
        _ll100_state_reads,
    )
    from flink_luad_pipeline_spark.plans.relational_queries import sink_path
    from flink_luad_pipeline_spark.plans.streaming_queries import _ss21_drain

    sf = "/root/testdata/sf0.001"
    _, delta, _ = _ll100_fixture(spark, sf)
    feed = sink_path("ss21gc_feed", sf)
    delta.repartition(5).write.mode("overwrite").parquet(feed)

    gc = _ss21_drain(
        spark, sf, compact_every=2, feed_path=feed, max_files_per_trigger=1
    )
    nogc = _ss21_drain(spark, sf, feed_path=feed, max_files_per_trigger=1)

    assert len(nogc["state"]["roots"]) > 2  # multi-batch grain for real
    assert len(gc["state"]["roots"]) <= 2  # bounded by the policy
    assert gc["state"]["gone"], "GC never fired"
    for dead in gc["state"]["gone"]:
        assert not os.path.exists(dead), f"superseded root survives: {dead}"
    with open(gc["manifest"]) as fh:
        man = json.load(fh)
    assert man["roots"] == gc["state"]["roots"]

    out_a = sorted(map(tuple, gc["out"].collect()))
    out_b = sorted(map(tuple, nogc["out"].collect()))
    assert out_a == out_b
    st_a = _ll100_state_reads(spark, gc["state"]["roots"])
    st_b = _ll100_state_reads(spark, nogc["state"]["roots"])
    assert set(st_a) == set(st_b)
    for name in st_a:
        ra = sorted(map(tuple, st_a[name].collect()))
        rb = sorted(map(tuple, st_b[name].collect()))
        assert ra == rb, f"state frame {name} diverged after GC"


def test_ss23_manifest_resume_after_restart(spark):
    """The manifest is READ, not just written (ADVICE r11): after a
    simulated driver restart — checkpoint preserved, in-memory state
    lost — the resumed drain rebuilds the index/path state from the
    manifest, folds ONLY the new day's batches, and the final probe
    equals a one-shot run over the full delta (the fold is associative
    and pure per-vector, so any batching/restart split is exact)."""
    from flink_luad_pipeline_spark.catalog import load
    from flink_luad_pipeline_spark.operators import similarity
    from flink_luad_pipeline_spark.plans.relational_queries import sink_path
    from flink_luad_pipeline_spark.plans.streaming_queries import _ss23_drain

    sf = "/root/testdata/sf0.001"
    emb = load(spark, sf, "embeddings")
    d1 = emb.where(F.col("vec_id") % 10 == 0)
    d2 = emb.where((F.col("vec_id") % 5 == 0) & (F.col("vec_id") % 10 != 0))
    feed = sink_path("ss23res_feed", sf)
    d1.repartition(2).write.mode("overwrite").parquet(feed)

    run1 = _ss23_drain(spark, sf, feed_path=feed, name="ss23res")
    n_paths_day1 = len(run1["state"]["code_paths"])
    assert run1["state"]["folded"]  # day 1 really folded something

    # "restart": day-2 files appended, new process state, SAME
    # checkpoint — committed day-1 batches must not replay
    d2.repartition(2).write.mode("append").parquet(feed)
    run2 = _ss23_drain(spark, sf, feed_path=feed, name="ss23res", resume=True)
    assert run1["state"]["folded"] <= run2["state"]["folded"]
    assert len(run2["state"]["folded"]) > len(run1["state"]["folded"])
    # day-1 partitions came from the manifest, day-2 ones are new
    assert len(run2["state"]["code_paths"]) > n_paths_day1

    def probe(state):
        folded = dict(
            state["index"],
            codes=spark.read.parquet(*state["code_paths"]),
        )
        return similarity.residual_ann_index_topk(
            emb.where(F.col("vec_id") < 5), folded, k=10,
            train_iters=2, train_mod=4,
        ).orderBy("query_id", "rank").collect()

    oneshot = _ss23_drain(spark, sf)  # full delta, one lifetime
    assert probe(run2["state"]) == probe(oneshot["state"])


def test_ss21_manifest_resume_after_restart(spark):
    """ss21's restart story: day-2 resumes from the manifest (fold
    roots + folded ids + max_id) with the checkpoint preserved, and
    the two-lifetime output/state equal a single-process run that saw
    the identical day-1-then-day-2 batch split."""
    from flink_luad_pipeline_spark.plans.llm_queries import (
        _ll100_fixture,
        _ll100_state_reads,
    )
    from flink_luad_pipeline_spark.plans.relational_queries import sink_path
    from flink_luad_pipeline_spark.plans.streaming_queries import _ss21_drain

    sf = "/root/testdata/sf0.001"
    _, delta, _ = _ll100_fixture(spark, sf)
    mid = delta.approxQuantile("doc_id", [0.5], 0.0)[0]
    d1 = delta.where(F.col("doc_id") <= mid)
    d2 = delta.where(F.col("doc_id") > mid)

    def write_feed(path):
        d1.repartition(2).write.mode("overwrite").parquet(path)
        d2.repartition(2).write.mode("append").parquet(path)

    # two-lifetime run: day 1, "restart", day 2 via manifest resume
    feed = sink_path("ss21res_feed", sf)
    d1.repartition(2).write.mode("overwrite").parquet(feed)
    run1 = _ss21_drain(
        spark, sf, feed_path=feed, name="ss21res", max_files_per_trigger=2
    )
    assert run1["state"]["folded"] == {0}
    d2.repartition(2).write.mode("append").parquet(feed)
    run2 = _ss21_drain(
        spark, sf, feed_path=feed, name="ss21res", resume=True,
        max_files_per_trigger=2,
    )
    assert run2["state"]["folded"] == {0, 1}
    assert len(run2["state"]["roots"]) == 3  # day-0 + two fold roots

    # single-lifetime reference over the SAME d1-then-d2 batch split
    # (oldest-files-first: d1's files carry earlier mtimes)
    ref_feed = sink_path("ss21ref_feed", sf)
    write_feed(ref_feed)
    ref = _ss21_drain(
        spark, sf, feed_path=ref_feed, name="ss21ref",
        max_files_per_trigger=2,
    )
    assert sorted(map(tuple, run2["out"].collect())) == sorted(
        map(tuple, ref["out"].collect())
    )
    st_a = _ll100_state_reads(spark, run2["state"]["roots"])
    st_b = _ll100_state_reads(spark, ref["state"]["roots"])
    for name in st_a:
        ra = sorted(map(tuple, st_a[name].collect()))
        rb = sorted(map(tuple, st_b[name].collect()))
        assert ra == rb, f"state frame {name} diverged across restart"


def test_ss24_streaming_retrain_gate_matches_batch_arc(spark):
    """ss24 = the detect→act loop run against the STREAMING-folded
    index. Because ss23's fold is associative and pure per-vector, the
    whole arc must equal ll110's batch chain row-for-row — the
    registered oracle asserts it against DuckDB; this pins it engine-
    internally (and the retrain branch firing on the synthetic
    corpus's sub-threshold recall)."""
    from flink_luad_pipeline_spark.plans.llm_queries import (
        ll110_ann_retrain_on_drift,
    )
    from flink_luad_pipeline_spark.plans.streaming_queries import (
        ss24_streaming_ann_retrain_gate,
    )

    sf = "/root/testdata/sf0.001"
    a = sorted(map(tuple, ss24_streaming_ann_retrain_gate(spark, sf).collect()))
    b = sorted(map(tuple, ll110_ann_retrain_on_drift(spark, sf).collect()))
    assert a == b
    assert a, "empty report"
    # retrain branch fired (versioned past the probed snapshot)
    assert all(r[1] == 2 and r[4] is True for r in a)


def test_ss25_publish_swaps_manifest_deletes_v1_day2_folds_v2(spark):
    """THE TWO-DAY SNAPSHOT HANDOFF (VERDICT r12 item 1): day-1's
    drain breaches recall and retrains; the publish swaps the drain's
    manifest to the v2 root (index_version 1 → 2, durable BEFORE the
    GC) and DELETES the superseded v1 root; day-2 resumes from the
    manifest with the preserved checkpoint — nothing replays, the feed
    is not rewritten (ADVICE r12), and the fresh delta folds against
    the RETRAINED v2 quantizers into a batch-keyed partition under the
    v2 root. The day-2 probe equals the batch chain over the same
    corpus (v2 index + batch-side encode of delta2)."""
    import json
    import os

    from flink_luad_pipeline_spark.operators import similarity
    from flink_luad_pipeline_spark.plans.relational_queries import sink_path
    from flink_luad_pipeline_spark.plans.streaming_queries import (
        _publish_retrained_snapshot,
        _ss23_drain,
    )

    sf = "/root/testdata/sf0.001"
    emb = load(spark, sf, "embeddings")

    day1 = _ss23_drain(
        spark, sf, name="ss25t", delta_pred=F.col("vec_id") % 10 == 0
    )
    state = day1["state"]
    v1_root = state["root"]
    feed_files_day1 = sorted(os.listdir(day1["feed"]))
    folded = dict(
        state["index"], codes=spark.read.parquet(*state["code_paths"])
    )
    corpus1 = emb.where(
        (F.col("vec_id") % 5 != 0) | (F.col("vec_id") % 10 == 0)
    )
    v2_root = sink_path("ss25t_index_v2", sf)
    res = similarity.ann_index_retrain_on_drift(
        emb.where(F.col("vec_id") < 5), corpus1, folded,
        root=v2_root, threshold=0.9, k=10, train_iters=2, train_mod=4,
    )
    assert res["retrained"]  # synthetic corpus sits far below 0.9
    _publish_retrained_snapshot(state, day1["manifest"], res, v2_root)

    # the swap is durable and versioned; the superseded root is GONE
    with open(day1["manifest"]) as fh:
        man = json.load(fh)
    assert man["root"] == v2_root
    assert man["code_paths"] == [f"{v2_root}/codes.parquet"]
    assert man["index_version"] == 2
    assert state["index_version"] == 2
    assert not os.path.exists(v1_root), "superseded v1 root survives"

    # day 2: fresh delta lands in the same feed; resume reads the
    # manifest and folds against the PUBLISHED v2 quantizers
    delta2 = emb.where(
        (F.col("vec_id") % 5 == 0) & (F.col("vec_id") % 10 != 0)
    )
    delta2.repartition(2).write.mode("append").parquet(day1["feed"])
    day2 = _ss23_drain(spark, sf, name="ss25t", resume=True)
    st2 = day2["state"]
    # resume did NOT rewrite the feed: day-1's part files are intact
    files_after = sorted(os.listdir(day2["feed"]))
    assert set(feed_files_day1) <= set(files_after)
    assert st2["index_version"] == 2
    assert st2["root"] == v2_root
    new_paths = [
        p for p in st2["code_paths"] if p != f"{v2_root}/codes.parquet"
    ]
    assert new_paths, "day-2 never folded"
    assert all(p.startswith(f"{v2_root}/codes_b") for p in new_paths)
    assert len(st2["folded"]) > len(state["folded"])

    # day-2 probe == batch chain: v2 index + batch encode of delta2
    final = dict(
        st2["index"], codes=spark.read.parquet(*st2["code_paths"])
    )
    got = (
        similarity.residual_ann_index_topk(
            emb.where(F.col("vec_id") < 5), final, k=10,
            train_iters=2, train_mod=4,
        )
        .orderBy("query_id", "rank")
        .collect()
    )
    v2 = {
        n: spark.read.parquet(f"{v2_root}/{n}.parquet")
        for n in ("cents", "codebook", "codes", "meta")
    }
    d2_codes = similarity.residual_ann_index_encode_delta(
        v2, delta2, train_iters=2, train_mod=4
    )
    expected = dict(v2, codes=v2["codes"].unionByName(d2_codes))
    want = (
        similarity.residual_ann_index_topk(
            emb.where(F.col("vec_id") < 5), expected, k=10,
            train_iters=2, train_mod=4,
        )
        .orderBy("query_id", "rank")
        .collect()
    )
    assert got == want


def test_ss25_publish_noop_when_recall_holds(spark):
    """The no-trigger branch of the publish: when the detect probe
    does NOT breach, nothing was retrained, and the publish must be a
    strict no-op — manifest byte-identical, v1 root intact, version
    unchanged."""
    import os
    import shutil

    from flink_luad_pipeline_spark.operators import similarity
    from flink_luad_pipeline_spark.plans.relational_queries import sink_path
    from flink_luad_pipeline_spark.plans.streaming_queries import (
        _publish_retrained_snapshot,
        _ss23_drain,
    )

    sf = "/root/testdata/sf0.001"
    emb = load(spark, sf, "embeddings")
    day1 = _ss23_drain(
        spark, sf, name="ss25n", delta_pred=F.col("vec_id") % 10 == 0
    )
    state = day1["state"]
    v1_root = state["root"]
    with open(day1["manifest"]) as fh:
        man_before = fh.read()
    folded = dict(
        state["index"], codes=spark.read.parquet(*state["code_paths"])
    )
    v2_root = sink_path("ss25n_index_v2", sf)
    shutil.rmtree(v2_root, ignore_errors=True)  # stale prior-run root
    # threshold 0.0: any recall holds -> the decide step says no
    res = similarity.ann_index_retrain_on_drift(
        emb.where(F.col("vec_id") < 5), emb, folded,
        root=v2_root, threshold=0.0, k=10, train_iters=2, train_mod=4,
    )
    assert not res["retrained"]
    _publish_retrained_snapshot(state, day1["manifest"], res, v2_root)
    with open(day1["manifest"]) as fh:
        assert fh.read() == man_before
    assert os.path.exists(v1_root)
    assert state["index_version"] == 1
    assert not os.path.exists(v2_root), "no-op publish wrote a root"


def test_ss22_delete_after_swap_single_codes_version(spark):
    """VERDICT r12 item 4: ss22's wholesale codes_v{n} rewrites now
    DELETE the superseded version after the state swap — after the
    drain exactly ONE codes table is on disk (the last codes_v; the
    base codes.parquet is v0 and superseded by the first swap), and
    the probe answer still reads fine from it."""
    import glob
    import os

    from flink_luad_pipeline_spark.plans.relational_queries import sink_path
    from flink_luad_pipeline_spark.plans.streaming_queries import (
        ss22_streaming_ann_ingest,
    )

    sf = "/root/testdata/sf0.001"
    out = ss22_streaming_ann_ingest(spark, sf)
    rows = out.collect()
    assert rows, "probe read a deleted path?"
    parent = os.path.dirname(sink_path("probe", sf))
    roots = sorted(
        glob.glob(os.path.join(parent, "ss22_index_*")),
        key=os.path.getmtime,
    )
    assert roots, "no ss22 index root found"
    root = roots[-1]
    codes = sorted(
        p for p in os.listdir(root) if p.startswith("codes")
    )
    assert len(codes) == 1, f"superseded codes versions survive: {codes}"
    assert codes[0].startswith("codes_v"), codes


def test_ss21_resume_does_not_rewrite_feed(spark):
    """ADVICE r12 low: resume with the default feed_path must NOT
    rewrite the feed — mode('overwrite') would produce new part
    filenames under the preserved checkpoint and the whole delta
    would replay as new batches (ss21's fold has no row-level overlap
    guard, so replayed rows would re-enter the day-N pass)."""
    import os

    from flink_luad_pipeline_spark import phases
    from flink_luad_pipeline_spark.plans.streaming_queries import _ss21_drain

    sf = "/root/testdata/sf0.001"
    phases.take()
    r1 = _ss21_drain(spark, sf, name="ss21nr")
    # the drain times its own phases; a resume builds no day-0 state
    assert set(phases.take()) == {"day0_build_s", "drain_fold_s"}
    files1 = sorted(os.listdir(r1["feed"]))
    folded1 = set(r1["state"]["folded"])
    assert folded1, "day 1 folded nothing"
    r2 = _ss21_drain(spark, sf, name="ss21nr", resume=True)
    assert set(phases.take()) == {"drain_fold_s"}
    assert sorted(os.listdir(r2["feed"])) == files1
    assert set(r2["state"]["folded"]) == folded1  # nothing replayed
