"""Structured Streaming operators: batch/stream parity + stateful ops.

Strategy: write the driver events table into a multi-file parquet dir,
stream it with availableNow into a memory sink, and compare against the
BATCH run of the same transform — the unified-semantics guarantee.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from uofi_payroll_etl_main_demo_spark.io.readers import read_parquet_table
from uofi_payroll_etl_main_demo_spark.session import scoped_conf
from uofi_payroll_etl_main_demo_spark.streaming import (
    correlate_streams,
    dedup_events,
    enrich_stream,
    event_type_rollup,
    read_events_stream,
    sessionize,
    windowed_event_counts,
    write_stream_foreach_batch,
)
from uofi_payroll_etl_main_demo_spark.streaming.events import _write_batch


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("events_stream") / "events")
    read_parquet_table(spark, sf_dir, "events").repartition(4).write.parquet(path)
    return path


@pytest.fixture(scope="module")
def events_batch(spark, events_dir):
    return spark.read.parquet(events_dir)


def run_stream(spark, stream_df, name, mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def _sorted_rows(df, cols):
    return [tuple(r[c] for c in cols) for r in df.orderBy(*cols).collect()]


def test_windowed_counts_stream_matches_batch(spark, events_dir, events_batch):
    stream = read_events_stream(spark, events_dir, max_files_per_trigger=2)
    got = run_stream(
        spark, windowed_event_counts(stream), "win_counts", "append"
    )
    want = windowed_event_counts(events_batch)
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    got_rows, want_rows = _sorted_rows(got, cols), _sorted_rows(want, cols)
    # Append mode only emits windows the watermark has passed: the tail
    # windows near max(ts) are correctly withheld at stream end. Finalized
    # output must match the batch result exactly; anything missing must
    # lie within watermark (30m) + window (10m) of the stream's end.
    assert set(got_rows) <= set(want_rows)
    max_ts = events_batch.agg(F.max("ts")).first()[0]
    from datetime import timedelta

    cutoff = max_ts - timedelta(minutes=40)
    missing = set(want_rows) - set(got_rows)
    assert all(w[0] >= cutoff for w in missing)
    finalized = [w for w in want_rows if w[0] < cutoff]
    assert [w for w in got_rows if w[0] < cutoff] == finalized
    assert len(finalized) > 10  # the comparison is not vacuous


def test_stream_static_join_matches_batch(spark, sf_dir, events_dir, events_batch):
    cust = read_parquet_table(spark, sf_dir, "customer")
    stream = read_events_stream(spark, events_dir, max_files_per_trigger=2)
    on, payload = {"user_id": "c_custkey"}, ["c_mktsegment"]
    got = run_stream(
        spark, enrich_stream(stream, cust, on, payload), "enriched", "append"
    )
    want = enrich_stream(events_batch, cust, on, payload)
    cols = ["event_id", "user_id", "c_mktsegment"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)
    # left semantics: every event survives, matched or not
    assert got.count() == events_batch.count()


def test_foreach_batch_sink_exactly_once(spark, events_dir, events_batch, tmp_path):
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = read_events_stream(spark, events_dir, max_files_per_trigger=1)
        q = write_stream_foreach_batch(stream, out, ckpt)
        q.awaitTermination(120)
        assert q.exception() is None
        back = spark.read.parquet(out)
        # several micro-batches landed, union of partitions == source exactly
        assert back.select("__batch_id").distinct().count() > 1
        assert back.count() == events_batch.count()
        assert (
            back.select("event_id")
            .exceptAll(events_batch.select("event_id"))
            .count()
            == 0
        )
        return q, back

    run()
    # idempotency through the real sink: drop the last commit (a crash
    # after the sink wrote, before the commit) and restart the same
    # query on the same checkpoint; Spark replays that batch, whose
    # write must replace its own directory, not append to it
    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    q, back = run()
    assert last in [p["batchId"] for p in q.recentProgress]  # replayed
    assert os.path.exists(os.path.join(commits, str(last)))
    assert back.groupBy("event_id").count().filter("count > 1").count() == 0


def _offset_conf(ckpt, batch_id):
    """The session conf a checkpoint's offset log records for a batch."""
    with open(os.path.join(ckpt, "offsets", str(batch_id))) as f:
        f.readline()  # log version
        return json.loads(f.readline())["conf"]


def _last_batch(ckpt):
    return max(
        int(f) for f in os.listdir(os.path.join(ckpt, "offsets")) if f.isdigit()
    )


def _state_partitions(ckpt):
    root = os.path.join(ckpt, "state", "0")
    return sorted(int(d) for d in os.listdir(root) if d.isdigit())


def test_stateful_stream_starts_at_core_count_and_keeps_checkpoint_width(
    spark, events_dir, events_batch, tmp_path, monkeypatch
):
    """A new query's dedup state runs at defaultParallelism shuffle
    partitions, not the session's batch width; the caller's session is
    untouched; a checkpoint begun at another width restarts at it."""
    cores = spark.sparkContext.defaultParallelism
    assert cores < 32
    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "32"}):
        q = write_stream_foreach_batch(
            dedup_events(read_events_stream(spark, events_dir)), out, ckpt
        )
        assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
        q.awaitTermination(120)
    assert q.exception() is None
    assert _offset_conf(ckpt, 0)["spark.sql.shuffle.partitions"] == str(cores)
    assert _state_partitions(ckpt) == list(range(cores))
    batch_dirs = glob.glob(f"{out}/__batch_id=*")
    assert batch_dirs
    for d in batch_dirs:
        assert len(glob.glob(f"{d}/*.parquet")) <= cores
    assert spark.read.parquet(out).count() == events_batch.count()

    # a checkpoint begun at width 8 (a session whose defaultParallelism
    # is 8) keeps 8 state partitions when restarted on this session.
    # The source files are time-ordered halves, so no event of the
    # second half falls behind the first half's watermark.
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "sink8", "ckpt8"))
    os.makedirs(src)
    mid = events_batch.orderBy("ts").collect()[500]["ts"]

    def add_file(name, frame):
        staged = str(tmp_path / f"staged_{name}")
        frame.coalesce(1).write.parquet(staged)
        (part,) = glob.glob(f"{staged}/part-*.parquet")
        shutil.move(part, f"{src}/{name}.parquet")

    def run():
        q = write_stream_foreach_batch(
            dedup_events(read_events_stream(spark, src)), out, ckpt
        )
        q.awaitTermination(120)
        assert q.exception() is None

    add_file("a", events_batch.filter(F.col("ts") < mid))
    with monkeypatch.context() as m:
        m.setattr(
            type(spark.sparkContext),
            "defaultParallelism",
            property(lambda self: 8),
        )
        run()
    assert _offset_conf(ckpt, 0)["spark.sql.shuffle.partitions"] == "8"
    first_last = _last_batch(ckpt)
    add_file("b", events_batch.filter(F.col("ts") >= mid))
    run()
    last = _last_batch(ckpt)
    assert last > first_last  # the restart ran new batches
    assert _offset_conf(ckpt, last)["spark.sql.shuffle.partitions"] == "8"
    assert _state_partitions(ckpt) == list(range(8))
    # every one of the 8 state partitions wrote the restart's version
    for p in range(8):
        assert os.path.exists(f"{ckpt}/state/0/{p}/{last + 1}.delta")
    got = [r["event_id"] for r in spark.read.parquet(out).collect()]
    want = {
        r["event_id"]
        for r in dedup_events(spark.read.parquet(src)).collect()
    }
    assert len(got) == len(set(got))
    assert set(got) == want


def test_transform_with_state_totals(spark, events_dir, events_batch):
    """transformWithStateInPandas accumulator: state carries across
    micro-batches; the last per-user snapshot equals the batch totals."""
    from uofi_payroll_etl_main_demo_spark.streaming.events import (
        user_totals_batch,
        user_totals_stateful,
    )

    # batch mode of the same transform is the batch aggregate itself
    assert (
        user_totals_stateful(events_batch)
        .exceptAll(user_totals_batch(events_batch))
        .count()
        == 0
    )

    stream = read_events_stream(spark, events_dir, max_files_per_trigger=1)
    try:
        import google.protobuf.descriptor  # noqa: F401
    except ImportError:
        # container lacks protobuf: the operator must fail loud + early
        with pytest.raises(ImportError, match="google.protobuf"):
            user_totals_stateful(stream)
        return
    got = run_stream(
        spark, user_totals_stateful(stream), "tws_totals", "append"
    ).toPandas()
    # several micro-batches -> several snapshots for at least one user
    assert got.groupby("user_id").size().max() > 1
    last = got.loc[got.groupby("user_id")["n_events"].idxmax()]
    want = user_totals_batch(events_batch).toPandas()
    a = last.sort_values("user_id").reset_index(drop=True)
    b = want.sort_values("user_id").reset_index(drop=True)
    assert list(a["user_id"]) == list(b["user_id"])
    assert list(a["n_events"]) == list(b["n_events"])
    assert all(abs(x - y) < 1e-6 for x, y in zip(a["total_value"], b["total_value"]))


def test_rollup_complete_mode(spark, events_dir, events_batch):
    stream = read_events_stream(spark, events_dir)
    got = run_stream(spark, event_type_rollup(stream), "rollup", "complete")
    want = event_type_rollup(events_batch)
    cols = ["event_type", "n_events", "sum_value"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_dedup_stream(spark, events_dir, events_batch):
    stream = read_events_stream(spark, events_dir)
    got = run_stream(spark, dedup_events(stream), "dedup_ev", "append")
    assert got.count() == dedup_events(events_batch).count()
    assert got.select("event_id").distinct().count() == got.count()


def test_interval_join_stream_matches_batch(spark, events_dir, events_batch):
    # single-trigger ingest: no cross-micro-batch arrivals, so the
    # streaming interval join emits every batch pair (state eviction
    # only withholds pairs when the watermark advances past them
    # mid-stream)
    def split(df):
        return (
            df.filter(F.col("event_type") == "view"),
            df.filter(F.col("event_type") == "click"),
        )

    sv, sc = split(read_events_stream(spark, events_dir))
    got = run_stream(
        spark, correlate_streams(sv, sc), "interval_join", "append"
    )
    bv, bc = split(events_batch)
    want = correlate_streams(bv, bc)
    cols = ["user_id", "l_event_id", "r_event_id", "lag_us"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)
    assert want.count() > 0  # not vacuous
    assert want.filter(
        (F.col("lag_us") < 0) | (F.col("lag_us") > 600_000_000)
    ).count() == 0


def test_sessionize_batch_gap_semantics(spark):
    # user 1: two events 5 min apart (one session), then 2h gap (new session)
    rows = [
        (1, "2024-01-01 00:00:00", 1, "click", 1.0, None),
        (2, "2024-01-01 00:05:00", 1, "click", 2.0, None),
        (3, "2024-01-01 02:05:00", 1, "view", 4.0, None),
        (4, "2024-01-01 00:00:00", 2, "view", 8.0, None),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = sessionize(df, gap="30 minutes")
    got = {
        (r["user_id"], str(r["session_start"])): (r["n_events"], r["sum_value"])
        for r in out.collect()
    }
    assert got == {
        (1, "2024-01-01 00:00:00"): (2, 3.0),
        (1, "2024-01-01 02:05:00"): (1, 4.0),
        (2, "2024-01-01 00:00:00"): (1, 8.0),
    }


def test_sessionize_streaming_stateful(spark, tmp_path):
    # stream the same micro-corpus; closed sessions emit on timeout —
    # with availableNow the final batch triggers timeouts at shutdown
    # only for state whose timeout elapsed, so assert the operator runs
    # and emits a valid (possibly empty) append result with the right
    # schema rather than full convergence.
    rows = [
        (1, "2024-01-01 00:00:00", 1, "click", 1.0, None),
        (2, "2024-01-01 00:05:00", 1, "click", 2.0, None),
        (3, "2024-01-01 02:05:00", 1, "view", 4.0, None),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "sess_events")
    df.write.parquet(src)
    stream = read_events_stream(spark, src)
    q = (
        sessionize(stream, timeout_ms=1)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # ProcessingTimeTimeout state makes every trigger run another
    # (no-data) batch to check timeouts, so this availableNow query
    # never terminates on its own, and processAllAvailable() never
    # returns: wait until the input rows are consumed, then stop it —
    # left running, it spins no-data batches for the rest of the session
    deadline = time.monotonic() + 120
    try:
        while (
            sum(p["numInputRows"] for p in q.recentProgress) < len(rows)
            and time.monotonic() < deadline
        ):
            q.awaitTermination(0.2)
        assert q.exception() is None
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM sessions")
    assert got.columns == [
        "user_id", "session_start", "session_end", "n_events", "sum_value"
    ]


def test_quality_filter_on_stream_matches_batch(spark, tmp_path):
    """Corpus curation on a stream: quality_classifier is a narrow
    projection, so the SAME operator runs unchanged on a readStream
    source — stream output must equal the batch run exactly."""
    from uofi_payroll_etl_main_demo_spark.ext.curation import (
        quality_classifier,
    )
    from uofi_payroll_etl_main_demo_spark.io.readers import (
        read_parquet_table,
    )

    docs = read_parquet_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "docs_stream")
    docs.repartition(3).write.parquet(path)
    batch = spark.read.parquet(path)
    stream = spark.readStream.schema(batch.schema).parquet(path)
    got = run_stream(
        spark, quality_classifier(stream), "stream_quality", "append"
    )
    want = quality_classifier(batch)
    cols = ["doc_id", "logit_ppm", "keep"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)
    assert want.count() > 0


def test_ingest_dedup_stream_builds_near_dup_free_corpus(spark, tmp_path):
    """Streaming corpus ingestion: documents arrive over three
    micro-batches; the accumulated corpus must contain no near-dup pair
    at the configured threshold (within-batch OR cross-batch), keep at
    least one representative of every near-dup cluster, and never drop
    a unique document."""
    from uofi_payroll_etl_main_demo_spark.ext.clusters import dedup_survivors
    from uofi_payroll_etl_main_demo_spark.ext.dedup import (
        minhash_near_dup_pairs,
    )
    from uofi_payroll_etl_main_demo_spark.streaming.corpus import (
        ingest_dedup_stream,
    )

    docs = read_parquet_table(
        spark, "/root/testdata/sf0.001", "documents"
    ).select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)
    batch = spark.read.parquet(src)
    stream = spark.readStream.schema(batch.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    corpus_path = str(tmp_path / "corpus")
    q = ingest_dedup_stream(
        stream, corpus_path, str(tmp_path / "ckpt"), threshold=0.2
    )
    q.awaitTermination(300)

    corpus = spark.read.parquet(corpus_path)
    assert corpus.select("__batch_id").distinct().count() == 3
    # 1) near-dup-free at the threshold
    leftover = minhash_near_dup_pairs(
        corpus, k=3, threshold=0.2, hash_family="portable"
    )
    assert leftover.count() == 0
    # 2) nothing unique was lost: batch-mode global dedup keeps a
    #    known-size survivor set; streaming (greedy arrival order) must
    #    keep at least that many and at most the full corpus
    pairs = minhash_near_dup_pairs(
        docs, k=3, threshold=0.2, hash_family="portable"
    ).select("id_a", "id_b")
    global_kept = dedup_survivors(docs, pairs, id_col="doc_id").count()
    n = corpus.count()
    assert global_kept <= n <= docs.count()
    assert pairs.count() > 0  # the corpus genuinely had near-dups


def test_count_min_sketch_on_stream_matches_batch(spark, tmp_path):
    """Streaming sketch: count_min_sketch is explode + union + one
    bounded groupBy (depth×width counters max), so the SAME operator
    runs unchanged as a streaming aggregation in complete mode — the
    memory-bounded way to profile token heavy hitters on an unbounded
    corpus feed. Stream counters must equal the batch sketch exactly."""
    from uofi_payroll_etl_main_demo_spark.ext.sketches import (
        count_min_sketch,
    )
    from uofi_payroll_etl_main_demo_spark.io.readers import (
        read_parquet_table,
    )

    docs = read_parquet_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "docs_cms_stream")
    docs.repartition(3).write.parquet(path)
    batch = spark.read.parquet(path)
    stream = spark.readStream.schema(batch.schema).parquet(path)
    got = run_stream(
        spark,
        count_min_sketch(stream, width=256, depth=3),
        "stream_cms",
        "complete",
    )
    want = count_min_sketch(batch, width=256, depth=3)
    cols = ["row", "col", "cnt"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)
    assert want.count() > 0


def test_sliding_counts_stream_matches_batch(spark, events_dir, events_batch):
    """Sliding windows on a stream: every event in window/slide
    overlapping windows, watermark-finalized output equal to the batch
    run (same append-mode tail rules as the tumbling test)."""
    stream = read_events_stream(spark, events_dir, max_files_per_trigger=2)
    got = run_stream(
        spark,
        windowed_event_counts(stream, window="10 minutes", slide="5 minutes"),
        "slide_counts",
        "append",
    )
    want = windowed_event_counts(
        events_batch, window="10 minutes", slide="5 minutes"
    )
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    got_rows, want_rows = _sorted_rows(got, cols), _sorted_rows(want, cols)
    assert set(got_rows) <= set(want_rows)
    max_ts = events_batch.agg(F.max("ts")).first()[0]
    from datetime import timedelta

    cutoff = max_ts - timedelta(minutes=45)
    missing = set(want_rows) - set(got_rows)
    assert all(w[0] >= cutoff for w in missing)
    finalized = [w for w in want_rows if w[0] < cutoff]
    assert [w for w in got_rows if w[0] < cutoff] == finalized
    assert len(finalized) > 10
    # sliding doubles coverage: ~2x the tumbling row count
    tumbling = windowed_event_counts(events_batch).count()
    assert want.count() > 1.8 * tumbling


def test_ingest_dedup_stream_indexed_maintains_index(spark, tmp_path):
    """The streaming ingester that composes with the persisted MinHash
    index: after the stream drains, (a) the corpus is near-dup-free and
    matches what the index-free ingester would accept, and (b) the
    INDEX state answers queries exactly like an index freshly built
    from the final corpus — the exactly-once maintenance contract."""
    from uofi_payroll_etl_main_demo_spark.ext.dedup import (
        incremental_near_dup_pairs,
        minhash_near_dup_pairs,
    )
    from uofi_payroll_etl_main_demo_spark.ext.dedup_index import (
        minhash_index_load,
    )
    from uofi_payroll_etl_main_demo_spark.streaming.corpus import (
        ingest_dedup_stream_indexed,
    )

    docs = read_parquet_table(
        spark, "/root/testdata/sf0.001", "documents"
    ).select("doc_id", "text")
    probe = docs.filter(F.col("doc_id") % 7 == 3)
    feed = docs.filter(F.col("doc_id") % 7 != 3)
    src = str(tmp_path / "src")
    feed.repartition(3).write.parquet(src)
    batch = spark.read.parquet(src)
    stream = spark.readStream.schema(batch.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    corpus_path = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "mh_index")
    q = ingest_dedup_stream_indexed(
        stream, corpus_path, index_dir, str(tmp_path / "ckpt"), threshold=0.2
    )
    q.awaitTermination(300)

    corpus = spark.read.parquet(corpus_path)
    assert corpus.select("__batch_id").distinct().count() == 3
    # (a) corpus is near-dup-free at the threshold
    assert (
        minhash_near_dup_pairs(
            corpus, k=3, threshold=0.2, hash_family="portable"
        ).count()
        == 0
    )
    # (b) index state ≡ fresh build from the final corpus: a held-out
    # probe batch gets identical near-dup verdicts from the streamed
    # index and from the inline operator over the corpus parquet
    streamed = minhash_index_load(spark, index_dir)
    got = sorted(
        (r["new_id"], r["old_id"], round(r["jaccard"], 9))
        for r in streamed.query(probe, threshold=0.2).collect()
    )
    want = sorted(
        (r["new_id"], r["old_id"], round(r["jaccard"], 9))
        for r in incremental_near_dup_pairs(
            corpus.select("doc_id", "text"),
            probe,
            threshold=0.2,
            k=3,
            hash_family="portable",
        ).collect()
    )
    assert got == want and got


def test_ingest_dedup_stream_indexed_replay_heals(spark, tmp_path):
    """Crash-replay: re-running a batch's sink (at-least-once delivery)
    over index state that already contains that batch — including the
    half-written case — reproduces identical corpus AND index state
    instead of duplicating or self-matching."""
    from uofi_payroll_etl_main_demo_spark.ext.dedup_index import (
        minhash_index_add,
        minhash_index_load,
    )
    from uofi_payroll_etl_main_demo_spark.streaming.corpus import (
        ingest_dedup_stream_indexed,
    )

    docs = read_parquet_table(
        spark, "/root/testdata/sf0.001", "documents"
    ).select("doc_id", "text")
    feed = docs.filter(F.col("doc_id") % 7 != 3)
    src = str(tmp_path / "src")
    feed.repartition(2).write.parquet(src)
    batch = spark.read.parquet(src)
    corpus_path = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "mh_index")
    stream = spark.readStream.schema(batch.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = ingest_dedup_stream_indexed(
        stream, corpus_path, index_dir, str(tmp_path / "ckpt"), threshold=0.2
    )
    q.awaitTermination(300)

    def snapshot():
        c = sorted(
            r["doc_id"]
            for r in spark.read.parquet(corpus_path).collect()
        )
        b = spark.read.parquet(f"{index_dir}/bands").count()
        s = spark.read.parquet(f"{index_dir}/shingles").count()
        return c, b, s

    before = snapshot()
    # simulate the crashed-then-replayed LAST batch: its rows are
    # already in corpus+index; poison its index partition with a
    # half-written extra row first, then re-run the sink body exactly
    # as foreachBatch would
    last_id = spark.read.parquet(corpus_path).agg(
        F.max("__batch_id")
    ).collect()[0][0]
    last_tag = f"b{last_id:020d}"
    # materialize: the real sink reads the batch from the STREAM
    # source; a lazy read of the very corpus partition the replay
    # overwrites would race its own write
    last_batch = spark.createDataFrame(
        spark.read.parquet(corpus_path)
        .filter(F.col("__batch_id") == last_id)
        .select("doc_id", "text")
        .collect(),
        "doc_id bigint, text string",
    )
    poison = last_batch.limit(1).withColumn(
        "doc_id", F.col("doc_id") + 10_000_000
    )
    minhash_index_add(
        poison.unionByName(last_batch),
        index_dir,
        new_corpus_tag="crashed-attempt",
        batch_id=last_tag,
    )
    assert snapshot() != before  # the poison is visible pre-replay
    # replay the batch exactly as the sink body does (the engine
    # re-invokes foreachBatch with the same batch_id): query excluding
    # the batch's own tag, the sink's batch-directory write, idempotent add
    index = minhash_index_load(spark, index_dir)
    hits = (
        index.query(
            last_batch, threshold=0.2, exclude_batch=last_tag
        )
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
    )
    survivors = last_batch.join(hits, "doc_id", "left_anti")
    _write_batch(survivors, corpus_path, last_id)
    minhash_index_add(
        survivors.select("doc_id", "text"),
        index_dir,
        new_corpus_tag=last_tag,
        batch_id=last_tag,
    )
    assert snapshot() == before  # replay healed the poisoned state


def test_ingest_containment_stream_gates_and_maintains_index(
    spark, tmp_path
):
    """Containment-gated crawl triage: after the stream drains, (a) the
    corpus equals a sequential batch-mode simulation of the same gate
    (accept iff gated containment vs the EARLIER corpus ≤ threshold,
    within-batch law included), (b) the index holds exactly the final
    corpus' distinct chunk hashes, and (c) the gate genuinely rejected
    something."""
    from uofi_payroll_etl_main_demo_spark.ext.cdc import (
        cdc_chunks,
        containment_scores_within,
    )
    from uofi_payroll_etl_main_demo_spark.ext.cdc_index import (
        cdc_index_load,
    )
    from uofi_payroll_etl_main_demo_spark.streaming.corpus import (
        ingest_containment_stream,
    )

    docs = read_parquet_table(
        spark, "/root/testdata/sf0.001", "documents"
    ).select("doc_id", "text")
    # make cross-batch containment certain: append exact-content clones
    # of low-id docs under fresh ids (they chunk identically wherever
    # the stream's file split lands them)
    clones = docs.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"), "text"
    )
    feed = docs.unionByName(clones)
    src = str(tmp_path / "src")
    feed.repartition(3).write.parquet(src)
    batch = spark.read.parquet(src)
    stream = spark.readStream.schema(batch.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    corpus_path = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "cdc_index")
    q = ingest_containment_stream(
        stream,
        corpus_path,
        index_dir,
        str(tmp_path / "ckpt"),
        max_containment=0.5,
    )
    q.awaitTermination(300)

    corpus = spark.read.parquet(corpus_path)
    batch_ids = sorted(
        r["__batch_id"]
        for r in corpus.select("__batch_id").distinct().collect()
    )
    assert batch_ids == [0, 1, 2]
    # (a) sequential batch-mode simulation of the same gate, in the
    # ORDER the stream actually processed the files (recovered from
    # the corpus: batch b's accepted ids are a subset of exactly one
    # source file's ids — no assumption about the file source's
    # mtime/path ordering)
    import os as _os

    src_files = sorted(
        f for f in _os.listdir(src) if f.endswith(".parquet")
    )
    file_docs = {
        f: {
            r["doc_id"]
            for r in spark.read.parquet(f"{src}/{f}")
            .select("doc_id")
            .collect()
        }
        for f in src_files
    }
    ordered_files = []
    for b_id in batch_ids:
        acc_b = {
            r["doc_id"]
            for r in corpus.filter(F.col("__batch_id") == b_id)
            .select("doc_id")
            .collect()
        }
        matches = [f for f, s in file_docs.items() if acc_b and acc_b <= s]
        assert len(matches) == 1, (b_id, len(acc_b), matches)
        ordered_files.append(matches[0])
    accepted_ids: set = set()
    sim_corpus = None
    for fname in ordered_files:
        b = spark.read.parquet(f"{src}/{fname}")
        old = (
            cdc_chunks(sim_corpus).select("chunk_hash").distinct()
            if sim_corpus is not None
            else spark.createDataFrame([], "chunk_hash string")
        )
        scores = containment_scores_within(
            cdc_chunks(b), old, b.select("doc_id").distinct()
        )
        rej = scores.filter(F.col("containment") > 0.5).select(
            F.col("doc_id")
        )
        acc = b.join(rej, "doc_id", "left_anti")
        accepted_ids |= {r["doc_id"] for r in acc.select("doc_id").collect()}
        sim_corpus = acc if sim_corpus is None else sim_corpus.unionByName(acc)
    got_ids = {r["doc_id"] for r in corpus.select("doc_id").collect()}
    assert got_ids == accepted_ids
    # (c) the clones were genuinely gated out
    assert len(got_ids) < feed.count()
    # (b) index ≡ distinct chunk hashes of the final corpus
    stored = {
        r["chunk_hash"]
        for r in cdc_index_load(spark, index_dir).stored_hashes().collect()
    }
    want = {
        r["chunk_hash"]
        for r in cdc_chunks(corpus.select("doc_id", "text"))
        .select("chunk_hash")
        .distinct()
        .collect()
    }
    assert stored == want


def test_ingest_containment_stream_gates_within_batch(spark, tmp_path):
    """A document assembled from other documents in the SAME micro-batch
    is rejected — including on the very first batch, when no index
    exists yet (the cross-batch-only gap: the first batch used to be
    accepted wholesale). Source docs (smaller ids) and fresh content
    are accepted."""
    from uofi_payroll_etl_main_demo_spark.streaming.corpus import (
        ingest_containment_stream,
    )

    text_a = " ".join(f"alpha{(i * 7) % 997}" for i in range(120))
    text_b = " ".join(f"bravo{(i * 13) % 991}" for i in range(120))
    fresh = " ".join(f"charlie{(i * 17) % 983}" for i in range(120))
    rows = [
        (1, text_a),
        (2, text_b),
        (3, text_a + " " + text_b),  # assembled from batch-mates
        (4, fresh),
    ]
    feed = spark.createDataFrame(rows, "doc_id bigint, text string")
    src = str(tmp_path / "src")
    feed.coalesce(1).write.parquet(src)  # ONE file -> ONE micro-batch
    stream = spark.readStream.schema(feed.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    corpus_path = str(tmp_path / "corpus")
    q = ingest_containment_stream(
        stream,
        corpus_path,
        str(tmp_path / "cdc_index"),
        str(tmp_path / "ckpt"),
        max_containment=0.5,
    )
    q.awaitTermination(300)
    got = {
        r["doc_id"] for r in spark.read.parquet(corpus_path).collect()
    }
    assert got == {1, 2, 4}


def test_ingest_containment_stream_replay_heals(spark, tmp_path):
    """Replaying the last batch over index state poisoned by a crashed
    attempt reproduces identical corpus and index state."""
    from uofi_payroll_etl_main_demo_spark.ext.cdc_index import (
        cdc_index_add,
        cdc_index_load,
    )
    from uofi_payroll_etl_main_demo_spark.streaming.corpus import (
        ingest_containment_stream,
    )

    docs = read_parquet_table(
        spark, "/root/testdata/sf0.001", "documents"
    ).select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.repartition(2).write.parquet(src)
    batch = spark.read.parquet(src)
    corpus_path = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "cdc_index")
    stream = spark.readStream.schema(batch.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = ingest_containment_stream(
        stream, corpus_path, index_dir, str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)

    def snapshot():
        c = sorted(
            r["doc_id"] for r in spark.read.parquet(corpus_path).collect()
        )
        h = sorted(
            r["chunk_hash"]
            for r in spark.read.parquet(f"{index_dir}/chunks").collect()
        )
        return c, h

    before = snapshot()
    last_id = spark.read.parquet(corpus_path).agg(
        F.max("__batch_id")
    ).collect()[0][0]
    tag = f"b{last_id:020d}"
    # materialize: the real sink reads the batch from the STREAM
    # source; a lazy read of the very corpus partition the replay
    # overwrites would race its own write
    last_batch = spark.createDataFrame(
        spark.read.parquet(corpus_path)
        .filter(F.col("__batch_id") == last_id)
        .select("doc_id", "text")
        .collect(),
        "doc_id bigint, text string",
    )
    # poison: a crashed attempt wrote extra hashes into the batch's
    # own partition
    poison = last_batch.limit(1).select(
        (F.col("doc_id") + 9_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" poisoned tail")).alias("text"),
    )
    cdc_index_add(
        poison.unionByName(last_batch),
        index_dir,
        new_corpus_tag="crashed",
        batch_id=tag,
    )
    assert snapshot() != before
    # replay the sink body for the last batch
    index = cdc_index_load(spark, index_dir)
    scores = index.query_gated(last_batch, exclude_batch=tag)
    rejected = scores.filter(F.col("containment") > 0.5).select("doc_id")
    survivors = last_batch.join(rejected, "doc_id", "left_anti")
    _write_batch(survivors, corpus_path, last_id)
    cdc_index_add(
        survivors.select("doc_id", "text"),
        index_dir,
        new_corpus_tag=tag,
        batch_id=tag,
    )
    assert snapshot() == before


def test_ingest_media_dedup_stream(spark, tmp_path):
    """Streaming media ingestion: images arrive over micro-batches
    (twins split ACROSS batches); the accumulated signature corpus must
    be near-dup-free (no two stored hashes within the Hamming radius),
    keep one representative per twin group, and store signatures only
    (no payload re-decode of prior batches)."""
    from pyspark.sql import functions as F

    from uofi_payroll_etl_main_demo_spark.ext.dedup import hamming_pairs_64
    from uofi_payroll_etl_main_demo_spark.ext.multimodal import (
        synthetic_gradient_images,
    )
    from uofi_payroll_etl_main_demo_spark.streaming.corpus import (
        ingest_media_dedup_stream,
    )

    # exercise a NON-default id column name end-to-end
    media = synthetic_gradient_images(spark, n=24).select(
        F.col("media_id").alias("img_id"), "payload"
    )
    src = str(tmp_path / "src")
    # split twins across files: evens then odds -> cross-batch rejection
    media.filter(F.col("media_id") % 2 == 0).coalesce(1).write.parquet(src)
    media.filter(F.col("media_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    batch = spark.read.parquet(src)
    stream = spark.readStream.schema(batch.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    corpus_path = str(tmp_path / "corpus")
    q = ingest_media_dedup_stream(
        stream, corpus_path, str(tmp_path / "ckpt"), id_col="img_id"
    )
    q.awaitTermination(300)

    corpus = spark.read.parquet(corpus_path)
    assert set(corpus.columns) == {"img_id", "dhash", "__batch_id"}
    # near-dup-free accumulated corpus
    leftover = hamming_pairs_64(corpus, "img_id", "dhash", max_hamming=3)
    assert leftover.count() == 0
    # every twin group has exactly one representative among stored ids,
    # and it's the even (first-arrived) one
    kept = {r["img_id"] for r in corpus.collect()}
    for g in range(12):
        assert (2 * g in kept) and (2 * g + 1 not in kept)


def test_ingest_constrained_stream_gates_and_reports(spark, tmp_path):
    """Quality-gated ingestion over three micro-batches: corpus ∪
    quarantine == input exactly (nothing dropped, nothing duplicated),
    the split matches the batch predicate, every quarantined row
    violates some rule, the per-batch report carries the aggregate
    rules too, and aggregate-only rules are rejected as a gate."""
    import pytest as _pytest

    from uofi_payroll_etl_main_demo_spark.streaming.corpus import (
        ingest_constrained_stream,
    )
    from uofi_payroll_etl_main_demo_spark.validate import (
        in_range,
        not_null,
        unique,
    )

    docs = read_parquet_table(
        spark, "/root/testdata/sf0.001", "documents"
    ).select("doc_id", "text", "n_chars")
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)
    batch = spark.read.parquet(src)
    stream = spark.readStream.schema(batch.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)

    rules = [
        not_null("text"),
        in_range("n_chars", 0, 400),  # real violations in the fixture
        unique("doc_id"),  # aggregate rule: report-only
    ]
    corpus, quar = str(tmp_path / "corpus"), str(tmp_path / "quar")
    rep = str(tmp_path / "rep")
    q = ingest_constrained_stream(
        stream, corpus, quar, str(tmp_path / "ckpt"), rules,
        report_path=rep,
    )
    q.awaitTermination(300)

    got_c = spark.read.parquet(corpus)
    got_q = spark.read.parquet(quar)
    n_in = batch.count()
    assert got_c.count() + got_q.count() == n_in
    assert got_c.count() == batch.filter(
        "text IS NOT NULL AND n_chars BETWEEN 0 AND 400"
    ).count() > 0
    assert got_q.count() > 0  # the fixture has >400-char docs
    assert got_q.filter("n_chars <= 400 AND text IS NOT NULL").count() == 0

    report = spark.read.parquet(rep)
    assert report.select("__batch_id").distinct().count() == 3
    rules_seen = {r["rule"] for r in report.select("rule").distinct().collect()}
    assert rules_seen == {
        "not_null(text)", "in_range(n_chars, 0, 400)", "unique(doc_id)",
    }
    # per-batch totals reconcile with the input
    tot = report.filter("rule = 'not_null(text)'").agg(
        {"n_rows": "sum"}
    ).first()[0]
    assert tot == n_in

    with _pytest.raises(ValueError):
        ingest_constrained_stream(
            stream, corpus, quar, str(tmp_path / "ckpt2"), [unique("doc_id")]
        )


def test_ingest_ann_stream_maintains_index(spark, tmp_path):
    """Streaming IVF maintenance: vectors arrive in micro-batches, the
    first builds the store, the rest ivf_index_add — after the drain
    the index answers a full-probe query exactly like brute force over
    the WHOLE streamed corpus (stream ≡ batch serving state), and the
    store's membership is the corpus row for row."""
    from uofi_payroll_etl_main_demo_spark.ext.ann_index import (
        ivf_index_load,
    )
    from uofi_payroll_etl_main_demo_spark.ext.similarity import (
        brute_force_top_k,
    )
    from uofi_payroll_etl_main_demo_spark.streaming.corpus import (
        ingest_ann_stream,
    )

    emb = read_parquet_table(spark, "/root/testdata/sf0.001", "embeddings")
    feed = emb.select("vec_id", "embedding")
    src = str(tmp_path / "src")
    feed.repartition(3).write.parquet(src)
    batch = spark.read.parquet(src)
    stream = spark.readStream.schema(batch.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    corpus_path = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "ivf_index")
    q = ingest_ann_stream(
        stream,
        corpus_path,
        index_dir,
        str(tmp_path / "ckpt"),
        n_centroids=4,
    )
    q.awaitTermination(300)

    corpus = spark.read.parquet(corpus_path)
    assert corpus.select("__batch_id").distinct().count() == 3
    assert corpus.count() == feed.count()
    # index membership == corpus membership (every batch landed once)
    assigned = spark.read.parquet(f"{index_dir}/assigned")
    assert sorted(r["vec_id"] for r in assigned.select("vec_id").collect()) \
        == sorted(r["vec_id"] for r in corpus.select("vec_id").collect())
    # first batch trained; later batches were adds (distinct tags)
    assert assigned.select("__batch").distinct().count() == 3
    # full-probe serving over the streamed store == brute force over
    # the full streamed corpus
    QV = [((i * 37) % 19 - 9) / 10.0 for i in range(64)]
    index = ivf_index_load(spark, index_dir)
    got = [
        (r["vec_id"], round(r["score"], 9))
        for r in index.search(QV, k=10, nprobe=4).collect()
    ]
    want = [
        (r["vec_id"], round(r["score"], 9))
        for r in brute_force_top_k(feed, QV, k=10).collect()
    ]
    assert got == want


def test_ingest_ann_stream_replay_heals(spark, tmp_path):
    """Crash-replay: re-running a batch's sink over index state
    poisoned by a crashed attempt (extra half-written rows under the
    batch's own tag) reproduces identical corpus AND index state —
    the dynamic-overwrite idempotency contract, on the ANN store."""
    from uofi_payroll_etl_main_demo_spark.ext.ann_index import (
        ivf_index_add,
    )
    from uofi_payroll_etl_main_demo_spark.streaming.corpus import (
        ingest_ann_stream,
    )

    emb = read_parquet_table(spark, "/root/testdata/sf0.001", "embeddings")
    feed = emb.select("vec_id", "embedding")
    src = str(tmp_path / "src")
    feed.repartition(2).write.parquet(src)
    batch = spark.read.parquet(src)
    stream = spark.readStream.schema(batch.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    corpus_path = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "ivf_index")
    q = ingest_ann_stream(
        stream,
        corpus_path,
        index_dir,
        str(tmp_path / "ckpt"),
        n_centroids=4,
    )
    q.awaitTermination(300)

    def snapshot():
        c = sorted(
            r["vec_id"]
            for r in spark.read.parquet(corpus_path).collect()
        )
        a = sorted(
            (r["vec_id"], r["centroid"], r["__batch"])
            for r in spark.read.parquet(f"{index_dir}/assigned")
            .select("vec_id", "centroid", "__batch")
            .collect()
        )
        return c, a

    before = snapshot()
    last_id = spark.read.parquet(corpus_path).agg(
        F.max("__batch_id")
    ).collect()[0][0]
    last_tag = f"b{last_id:020d}"
    # materialize: the real sink reads the batch from the STREAM
    # source; a lazy read of the very corpus partition the replay
    # overwrites would race its own write
    last_batch = spark.createDataFrame(
        spark.read.parquet(corpus_path)
        .filter(F.col("__batch_id") == last_id)
        .select("vec_id", "embedding")
        .collect(),
        spark.read.parquet(corpus_path)
        .select("vec_id", "embedding")
        .schema,
    )
    # poison: a crashed attempt half-wrote EXTRA vectors under the
    # batch's own tag
    poison = last_batch.limit(1).withColumn(
        "vec_id", F.col("vec_id") + 10_000_000
    )
    ivf_index_add(
        poison.unionByName(last_batch),
        index_dir,
        new_corpus_tag="crashed-attempt",
        batch_id=last_tag,
    )
    assert snapshot() != before  # the poison is visible pre-replay
    # replay the sink body exactly as foreachBatch would
    _write_batch(last_batch, corpus_path, last_id)
    ivf_index_add(
        last_batch, index_dir, new_corpus_tag=last_tag, batch_id=last_tag
    )
    assert snapshot() == before  # replay healed the poisoned state


def test_ingest_ann_stream_pq_kind(spark, tmp_path):
    """kind='pq': the first batch trains the codebooks, later batches
    encode against them; after the drain the store's membership is the
    corpus row for row and full-margin reranked serving equals brute
    force over the whole streamed corpus."""
    from uofi_payroll_etl_main_demo_spark.ext.ann_index import (
        pq_index_load,
    )
    from uofi_payroll_etl_main_demo_spark.ext.similarity import (
        brute_force_top_k,
    )
    from uofi_payroll_etl_main_demo_spark.streaming.corpus import (
        ingest_ann_stream,
    )

    emb = read_parquet_table(spark, "/root/testdata/sf0.001", "embeddings")
    feed = emb.select("vec_id", "embedding")
    src = str(tmp_path / "src")
    feed.repartition(3).write.parquet(src)
    batch = spark.read.parquet(src)
    stream = spark.readStream.schema(batch.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    corpus_path = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "pq_index")
    q = ingest_ann_stream(
        stream,
        corpus_path,
        index_dir,
        str(tmp_path / "ckpt"),
        kind="pq",
    )
    q.awaitTermination(300)

    corpus = spark.read.parquet(corpus_path)
    codes = spark.read.parquet(f"{index_dir}/codes")
    assert codes.select("__batch").distinct().count() == 3
    assert sorted(r["vec_id"] for r in codes.select("vec_id").collect()) \
        == sorted(r["vec_id"] for r in corpus.select("vec_id").collect())
    QV = [((i * 37) % 19 - 9) / 10.0 for i in range(64)]
    index = pq_index_load(spark, index_dir)
    got = [
        (r["vec_id"], round(r["score"], 9))
        for r in index.search(
            QV, k=10, candidates=10**6, rerank_corpus=feed
        ).collect()
    ]
    want = [
        (r["vec_id"], round(r["score"], 9))
        for r in brute_force_top_k(feed, QV, k=10).collect()
    ]
    assert got == want

    import pytest as _pytest

    with _pytest.raises(ValueError, match="kind"):
        ingest_ann_stream(
            stream, corpus_path, index_dir, str(tmp_path / "c2"),
            kind="flat",
        )


def test_ingest_ann_stream_ivfpq_kind(spark, tmp_path):
    """kind='ivfpq': the first batch trains BOTH quantizers (coarse
    centroids + residual codebooks), later batches assign + encode
    against the frozen pair; after the drain the composed store's
    membership is the corpus row for row and full-probe/full-margin
    serving equals brute force over the whole streamed corpus."""
    from uofi_payroll_etl_main_demo_spark.ext.ann_index import (
        ivfpq_index_load,
    )
    from uofi_payroll_etl_main_demo_spark.ext.similarity import (
        brute_force_top_k,
    )
    from uofi_payroll_etl_main_demo_spark.streaming.corpus import (
        ingest_ann_stream,
    )

    emb = read_parquet_table(spark, "/root/testdata/sf0.001", "embeddings")
    feed = emb.select("vec_id", "embedding")
    src = str(tmp_path / "src")
    feed.repartition(3).write.parquet(src)
    batch = spark.read.parquet(src)
    stream = spark.readStream.schema(batch.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    corpus_path = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "ivfpq_index")
    q = ingest_ann_stream(
        stream,
        corpus_path,
        index_dir,
        str(tmp_path / "ckpt"),
        kind="ivfpq",
        n_lists=4,
    )
    q.awaitTermination(300)

    corpus = spark.read.parquet(corpus_path)
    codes = spark.read.parquet(f"{index_dir}/codes")
    assert codes.select("__batch").distinct().count() == 3
    assert sorted(r["vec_id"] for r in codes.select("vec_id").collect()) \
        == sorted(r["vec_id"] for r in corpus.select("vec_id").collect())
    QV = [((i * 37) % 19 - 9) / 10.0 for i in range(64)]
    index = ivfpq_index_load(spark, index_dir)
    assert index.meta["n_lists"] == 4
    got = [
        (r["vec_id"], round(r["score"], 9))
        for r in index.search(
            QV, k=10, nprobe=4, candidates=10**6, rerank_corpus=feed
        ).collect()
    ]
    want = [
        (r["vec_id"], round(r["score"], 9))
        for r in brute_force_top_k(feed, QV, k=10).collect()
    ]
    assert got == want
