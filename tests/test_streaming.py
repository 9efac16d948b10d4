"""Streaming tests: file-source micro-batches → memory sink, deterministic
fixtures exercising exact dedup, the near-dup signature store, and
watermark windows."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from llm_training_data_pipeline_spark.operators.dedup import MinHashConfig
from llm_training_data_pipeline_spark.streaming.dedup_stream import (
    streaming_exact_dedup,
    windowed_event_counts,
)

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("ts", TimestampType()),
    ]
)


def _write_docs(spark, path, rows):
    spark.createDataFrame(rows, DOC_SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _run_to_completion(q):
    q.processAllAvailable()
    q.stop()


@pytest.fixture()
def doc_rows():
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    return [
        (1, "The quick brown fox jumps over the lazy dog.", t0),
        (2, "The quick brown fox jumps over the lazy dog.", t0),  # exact dup
        (3, "Python is a great programming language for data.", t0),
        (4, "the quick brown fox jumps over the lazy dog.", t0),  # case dup
    ]


def test_streaming_exact_dedup(spark, tmp_path, doc_rows):
    src = str(tmp_path / "src")
    _write_docs(spark, src, doc_rows)
    stream = spark.readStream.schema(DOC_SCHEMA).parquet(src)
    deduped = streaming_exact_dedup(stream, watermark="1 minute")
    q = (
        deduped.writeStream.format("memory")
        .queryName("t_exact_dedup")
        .outputMode("append")
        .start()
    )
    _run_to_completion(q)
    got = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM t_exact_dedup").collect()}
    assert len(got) == 2  # one of {1,2,4} + doc 3
    assert 3 in got


def test_windowed_event_counts(spark, tmp_path):
    import datetime as dt

    from pyspark.sql.types import DoubleType

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    t = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (1, t, "click", 1.0),
        (2, t + dt.timedelta(minutes=20), "click", 2.0),
        (3, t + dt.timedelta(minutes=70), "click", 3.0),
        (4, t + dt.timedelta(minutes=75), "view", 4.0),
    ]
    src = str(tmp_path / "ev")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    win = windowed_event_counts(stream, window="1 hour", watermark="1 minute")
    q = (
        win.writeStream.format("memory")
        .queryName("t_win")
        .outputMode("append")
        .start()
    )
    _run_to_completion(q)
    # append mode only emits finalized windows; force completion via update
    got = spark.sql("SELECT * FROM t_win").collect()
    # at least the 10:00 window for clicks must finalize (watermark passed)
    if got:
        by = {(r["window_start"].hour, r["event_type"]): r["n_events"] for r in got}
        assert by.get((10, "click")) == 2


def test_partitioned_parquet_sink_prunes(spark, tmp_path):
    """Partitioned sink layout + partition pruning on read-back."""
    from llm_training_data_pipeline_spark.sources.sinks import write_parquet

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "bylang")
    write_parquet(docs, out, partition_by=["lang"])
    import os

    assert any(d.startswith("lang=") for d in os.listdir(out))
    back = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan  # pruning, not scan+filter
    assert back.count() == docs.filter(F.col("lang") == "en").count()


def test_windowed_counts_drop_late_data(spark, tmp_path):
    """An event older than the watermark horizon is dropped once later
    micro-batches advance the watermark past its window."""
    import datetime as dt

    from pyspark.sql.types import DoubleType

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    src = str(tmp_path / "late_ev")
    t = dt.datetime(2024, 1, 1, 10, 0, 0)
    batch1 = [(1, t, "click", 1.0), (2, t + dt.timedelta(hours=3), "click", 2.0)]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    win = windowed_event_counts(stream, window="1 hour", watermark="30 minutes")
    q = (
        win.writeStream.format("memory").queryName("t_late").outputMode("append").start()
    )
    q.processAllAvailable()
    # second batch: an event for the long-closed 10:00 window (very late)
    late = [(3, t + dt.timedelta(minutes=10), "click", 100.0)]
    spark.createDataFrame(late, schema).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    rows = {
        (r["window_start"].hour, r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM t_late").collect()
    }
    # the 10:00 window finalized with ONLY the on-time event
    assert rows.get((10, "click")) == 1


def test_batch_operators_run_unchanged_on_streams(spark, tmp_path):
    """The unified Dataset API in practice: the SAME clean_documents /
    with_quality / with_lang_id transforms used in batch apply verbatim
    to a streaming DataFrame (they are stateless column algebra), and a
    micro-batched run produces exactly the batch result."""
    from llm_training_data_pipeline_spark.operators import cleaning, quality, textstats

    rows = [
        (1, "Visit https://spam.example now! " + "word " * 60, None),
        (2, "A perfectly reasonable document. " * 30, None),
        (3, "short", None),
    ]
    src = os.path.join(tmp_path, "docs")
    _write_docs(spark, src, [(i, t, __import__("datetime").datetime(2024, 1, 1)) for i, t, _ in rows])

    def transform(df):
        cleaned = cleaning.clean_documents(
            df, "text", cleaning.CleanerConfig(min_length_chars=50), sql_only=True
        )
        labeled = textstats.with_lang_id(cleaned, "cleaned_text")
        return quality.with_quality(
            labeled, "cleaned_text", quality.QualityConfig(min_words=20),
            include_scores=False,
        ).select("doc_id", "detected_lang", "reason", "passed")

    batch = {r["doc_id"]: r for r in transform(spark.read.parquet(src)).collect()}

    stream = spark.readStream.schema(DOC_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        transform(stream)
        .writeStream.format("memory")
        .queryName("t_unified")
        .outputMode("append")
        .start()
    )
    _run_to_completion(q)
    streamed = {
        r["doc_id"]: r for r in spark.sql("SELECT * FROM t_unified").collect()
    }
    assert streamed == batch
    assert streamed[2]["passed"] is True


def test_clean_quality_stream_matches_batch(spark, tmp_path):
    """The stateless clean+quality front-end produces identical rows in
    streaming and batch mode over the same files."""
    from llm_training_data_pipeline_spark.operators import cleaning, quality
    from llm_training_data_pipeline_spark.streaming.pipeline_stream import (
        clean_quality_stream,
        stream_documents_dir,
    )

    good = ("informative sentence with many reasonable english words " * 6).strip()
    rows = [
        (1, good + " visit https://spam.example now"),
        (2, "short"),
        (3, good),
        (4, "1 2 3 4 5 6 7 8 9 0 " * 30),
    ]
    src = spark.createDataFrame(rows, "doc_id long, text string")
    in_dir = str(tmp_path / "landing")
    src.repartition(2).write.parquet(in_dir)

    ccfg = cleaning.CleanerConfig(min_length_chars=50)
    qcfg = quality.QualityConfig(min_words=10)

    batch = clean_quality_stream(
        spark.read.schema(src.schema).parquet(in_dir), "text", ccfg, qcfg
    )
    expected = {(r["doc_id"], r["text"]) for r in batch.collect()}
    assert expected  # the good docs survive

    stream = stream_documents_dir(spark, in_dir, src.schema, max_files_per_trigger=1)
    out = clean_quality_stream(stream, "text", ccfg, qcfg)
    q = (
        out.writeStream.format("memory")
        .queryName("cq_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["doc_id"], r["text"])
            for r in spark.sql("SELECT * FROM cq_stream").collect()
        }
    finally:
        q.stop()
    assert got == expected


def test_windowed_event_counts_stream_matches_batch(spark, tmp_path):
    """Replay the real events table through windowed_event_counts in
    time-ordered micro-batches (plus a far-future sentinel that closes
    every real window) and assert the streamed, finalized windows equal
    the batch aggregation of the same rows — the stream<->batch
    equivalence gate for the oracle-green tumbling-window query."""
    import datetime as dt
    import time as _time

    from llm_training_data_pipeline_spark.schemas import load_table

    events = (
        load_table(spark, "events", "/root/testdata/sf0.001")
        .select("event_id", "ts", "event_type", "value")
        .orderBy("ts", "event_id")
        .collect()
    )
    assert events
    schema = "event_id long, ts timestamp, event_type string, value double"
    src = str(tmp_path / "ev_replay")
    n = len(events)
    chunks = [events[: n // 3], events[n // 3 : 2 * n // 3], events[2 * n // 3 :]]
    sentinel_ts = max(r["ts"] for r in events) + dt.timedelta(days=1)
    chunks.append([(-1, sentinel_ts, "zz_sentinel", 0.0)])
    for chunk in chunks:
        spark.createDataFrame(
            [tuple(r) for r in chunk], schema
        ).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    win = windowed_event_counts(stream, window="1 hour", watermark="1 minute")
    q = (
        win.writeStream.format("memory")
        .queryName("t_equiv_win")
        .outputMode("append")
        .start()
    )
    _run_to_completion(q)
    streamed = {
        (r["window_start"], r["window_end"], r["event_type"]): (
            r["n_events"],
            r["total_value"],
        )
        for r in spark.sql("SELECT * FROM t_equiv_win").collect()
        if r["event_type"] != "zz_sentinel"
    }

    batch_df = spark.createDataFrame([tuple(r) for r in events], schema)
    batch = {
        (r["window_start"], r["window_end"], r["event_type"]): (
            r["n_events"],
            r["total_value"],
        )
        for r in windowed_event_counts(
            batch_df, window="1 hour", watermark="1 minute"
        ).collect()
    }
    assert streamed == batch


def test_session_window_counts_stream_matches_batch(spark, tmp_path):
    """Session windows over a time-ordered replay of the real events
    table (sentinel closes every session) must equal the batch
    F.session_window aggregation row-for-row — the stream<->batch gate
    for the oracle-green session-window query family."""
    import datetime as dt
    import time as _time

    from llm_training_data_pipeline_spark.schemas import load_table
    from llm_training_data_pipeline_spark.streaming.dedup_stream import (
        session_window_counts,
    )

    events = (
        load_table(spark, "events", "/root/testdata/sf0.001")
        .select("event_id", "ts", "event_type", "value")
        .orderBy("ts", "event_id")
        .collect()
    )
    schema = "event_id long, ts timestamp, event_type string, value double"
    src = str(tmp_path / "sess_replay")
    n = len(events)
    sentinel_ts = max(r["ts"] for r in events) + dt.timedelta(days=2)
    chunks = [events[: n // 2], events[n // 2 :], [(-1, sentinel_ts, "zz_sentinel", 0.0)]]
    for chunk in chunks:
        spark.createDataFrame([tuple(r) for r in chunk], schema).coalesce(
            1
        ).write.mode("append").parquet(src)
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = session_window_counts(stream, gap="30 minutes", watermark="1 minute")
    q = (
        out.writeStream.format("memory")
        .queryName("t_equiv_sess")
        .outputMode("append")
        .start()
    )
    _run_to_completion(q)
    key = lambda r: (r["session_start"], r["session_end"], r["event_type"])
    streamed = {
        key(r): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM t_equiv_sess").collect()
        if r["event_type"] != "zz_sentinel"
    }
    batch_df = spark.createDataFrame([tuple(r) for r in events], schema)
    batch = {
        key(r): (r["n_events"], r["total_value"])
        for r in session_window_counts(
            batch_df, gap="30 minutes", watermark="1 minute"
        ).collect()
    }
    assert streamed == batch
    assert streamed  # real sessions actually closed and were emitted


def test_incremental_minhash_single_batch_equals_batch_dedup(spark):
    """foreachBatch incremental near-dup, whole corpus in one batch, no
    history == the batch `minhash_dedup` operator exactly (both are
    min-id-winner over the same verified pair set, from bit-identical
    signatures)."""
    from llm_training_data_pipeline_spark.operators import dedup
    from llm_training_data_pipeline_spark.streaming.dedup_stream import (
        incremental_minhash_dedup_batch,
    )

    cfg = MinHashConfig(num_perm=32, threshold=0.8, shingle_size=5, num_bands=8)
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(200)
    )
    got = {
        r["doc_id"]
        for r in incremental_minhash_dedup_batch(docs, None, cfg).collect()
    }
    want = {r["doc_id"] for r in dedup.minhash_dedup(docs, cfg=cfg).collect()}
    assert got == want and len(want) > 0


def test_incremental_minhash_stream_rejects_history_dups(spark, tmp_path):
    """Two micro-batches through the foreachBatch deduper: a batch-2
    near-dup of a batch-1 winner is rejected via the signature-store
    probe, a novel batch-2 doc passes, and a warm restart from the
    durable epoch partitions still rejects a later duplicate."""
    import time as _time

    from llm_training_data_pipeline_spark.streaming.dedup_stream import (
        streaming_minhash_dedup_incremental,
    )

    cfg = MinHashConfig(num_perm=32, threshold=0.8, shingle_size=5, num_bands=8)
    schema = "doc_id long, text string"
    a = "the quick brown fox jumps over the lazy dog near the river bank today"
    b1 = [(1, a), (2, "completely different content about orbital mechanics")]
    b2 = [(3, a + "!"), (4, "a third subject entirely: baking sourdough bread")]
    src = str(tmp_path / "inc_src")
    for chunk in (b1, b2):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _time.sleep(1.1)

    state_dir = str(tmp_path / "inc_state")
    got: dict[int, set] = {}

    def sink(df, epoch_id):
        got[epoch_id] = {r["doc_id"] for r in df.collect()}

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = streaming_minhash_dedup_incremental(
        stream, state_dir=state_dir, sink=sink, cfg=cfg
    ).start()
    q.processAllAvailable()
    q.stop()
    accepted = set().union(*got.values())
    assert accepted == {1, 2, 4}, got  # 3 is a near-dup of accepted 1

    # warm restart: a new query over a THIRD batch must still see 1's
    # signature from the durable store
    b3 = [(5, a + "?"), (6, "and a genuinely new fourth document topic")]
    spark.createDataFrame(b3, schema).coalesce(1).write.mode("append").parquet(src)
    got2: dict[int, set] = {}

    def sink2(df, epoch_id):
        got2[epoch_id] = {r["doc_id"] for r in df.collect()}

    stream2 = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 8).parquet(src)
    )
    q2 = streaming_minhash_dedup_incremental(
        stream2, state_dir=str(tmp_path / "inc_state2"), sink=sink2, cfg=cfg
    )
    # seed the second state dir from the first (simulates restart/recovery)
    import shutil

    shutil.rmtree(str(tmp_path / "inc_state2"), ignore_errors=True)
    shutil.copytree(state_dir, str(tmp_path / "inc_state2"))
    q2 = streaming_minhash_dedup_incremental(
        stream2, state_dir=str(tmp_path / "inc_state2"), sink=sink2, cfg=cfg
    ).start()
    q2.processAllAvailable()
    q2.stop()
    accepted2 = set().union(*got2.values())
    # 1..4 replayed + 5 are near-dups of stored history; 6 is novel
    assert 6 in accepted2 and 5 not in accepted2 and 3 not in accepted2


def test_incremental_minhash_epoch_replay_idempotent(spark, tmp_path):
    """Checkpoint-restart replay of an epoch the signature store ALREADY
    holds (ADVICE r7): each previously-accepted doc must NOT match its
    own stored signature (self-id exclusion in the probe), so the sink
    re-receives the same accepted set and the rewritten epoch partition
    keeps the signatures — replaying must not erase history."""
    import time as _time

    from llm_training_data_pipeline_spark.streaming.dedup_stream import (
        streaming_minhash_dedup_incremental,
    )

    cfg = MinHashConfig(num_perm=32, threshold=0.8, shingle_size=5, num_bands=8)
    schema = "doc_id long, text string"
    a = "the quick brown fox jumps over the lazy dog near the river bank today"
    batch = [(1, a), (2, "completely different content about orbital mechanics"),
             (3, a + "!")]
    src = str(tmp_path / "replay_src")
    spark.createDataFrame(batch, schema).coalesce(1).write.parquet(src)
    state_dir = str(tmp_path / "replay_state")

    def run_once():
        got: dict[int, set] = {}

        def sink(df, epoch_id):
            got[epoch_id] = {r["doc_id"] for r in df.collect()}

        stream = spark.readStream.schema(schema).parquet(src)
        q = streaming_minhash_dedup_incremental(
            stream, state_dir=state_dir, sink=sink, cfg=cfg
        ).start()
        q.processAllAvailable()
        q.stop()
        return got

    first = run_once()
    assert first == {0: {1, 2}}, first  # 3 is a near-dup of 1
    # replay: fresh query, SAME state dir already containing epoch=0
    second = run_once()
    assert second == {0: {1, 2}}, second  # not {} — docs don't self-reject
    stored = {
        r["doc_id"] for r in spark.read.parquet(state_dir).select("doc_id").collect()
    }
    assert stored == {1, 2}  # signatures survived the partition rewrite
    # and the surviving history still rejects a later near-dup of doc 1
    src2 = str(tmp_path / "replay_src2")
    spark.createDataFrame([(9, a + "?"), (10, "new topic: sourdough")],
                          schema).coalesce(1).write.parquet(src2)
    got3: dict[int, set] = {}

    def sink3(df, epoch_id):
        got3[epoch_id] = {r["doc_id"] for r in df.collect()}

    _time.sleep(0.1)
    stream3 = spark.readStream.schema(schema).parquet(src2)
    q3 = streaming_minhash_dedup_incremental(
        stream3, state_dir=state_dir, sink=sink3, cfg=cfg
    ).start()
    q3.processAllAvailable()
    q3.stop()
    assert set().union(*got3.values()) == {10}, got3


def test_streaming_bloom_prefilter_matches_batch(spark, tmp_path):
    """The broadcast Bloom pre-filter is stateless, so it applies to a
    stream unchanged: incoming micro-batches are checked against a
    static corpus-history filter and the kept set must equal the batch
    anti-join composition."""
    import datetime as dt

    from llm_training_data_pipeline_spark.operators import bloom

    corpus = spark.createDataFrame(
        [(f"k{i}",) for i in range(200)], "digest string"
    )
    bf = bloom.build_bloom_filter(corpus, "digest", num_bits=8192)

    src = str(tmp_path / "in")
    t0 = dt.datetime(2026, 1, 1)
    rows = [(i, f"k{i}", t0) for i in range(150, 260)]  # 50 dup, 60 new
    spark.createDataFrame(rows, DOC_SCHEMA).selectExpr(
        "doc_id", "text AS digest", "ts"
    ).coalesce(1).write.mode("append").parquet(src)

    schema = "doc_id long, digest string, ts timestamp"
    stream = spark.readStream.schema(schema).parquet(src)
    flagged = bloom.with_bloom_maybe_contains(stream, "digest", bf)
    q = (
        flagged.filter(~F.col("maybe_dup"))
        .writeStream.format("memory")
        .queryName("bloom_stream")
        .outputMode("append")
        .start()
    )
    _run_to_completion(q)
    streamed = {r["digest"] for r in spark.sql("select digest from bloom_stream").collect()}

    batch = spark.createDataFrame(rows, DOC_SCHEMA).selectExpr("text AS digest")
    want = {
        r["digest"]
        for r in batch.join(corpus, on="digest", how="left_anti").collect()
    }
    # Bloom has no false negatives: everything the stream kept IS new,
    # and anything it dropped-but-new is only a false positive (none at
    # this sizing, so the sets are equal)
    assert streamed <= want
    assert len(want - streamed) <= 3  # FP slack at 8192 bits / 200 keys


def test_stream_stream_attribution_join_matches_batch(spark, tmp_path):
    """Replay real events as TWO file streams (clicks / purchases) and
    assert the time-bounded stream-stream inner join emits exactly the
    batch join of the same rows. Inner joins emit on match (the
    watermark only bounds state), so no sentinel row is needed."""
    import time as _time

    from llm_training_data_pipeline_spark.schemas import load_table
    from llm_training_data_pipeline_spark.streaming.join_stream import (
        attribution_join,
    )

    ev = (
        load_table(spark, "events", "/root/testdata/sf0.001")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("ts", "event_id")
        .collect()
    )
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    clicks = [tuple(r) for r in ev if r["event_type"] == "click"]
    purchases = [tuple(r) for r in ev if r["event_type"] == "purchase"]
    assert clicks and purchases
    c_src, p_src = str(tmp_path / "clicks"), str(tmp_path / "purch")
    for rows, src in ((clicks, c_src), (purchases, p_src)):
        half = len(rows) // 2
        for chunk in (rows[:half], rows[half:]):
            spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            _time.sleep(1.1)

    cs = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(c_src)
    ps = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(p_src)
    q = (
        attribution_join(cs, ps)
        .writeStream.format("memory")
        .queryName("t_attr_join")
        .outputMode("append")
        .start()
    )
    _run_to_completion(q)
    streamed = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM t_attr_join").collect()
    }

    batch = attribution_join(
        spark.createDataFrame(clicks, schema),
        spark.createDataFrame(purchases, schema),
    )
    expected = {
        (r.user_id, r.click_id, r.purchase_id) for r in batch.collect()
    }
    assert streamed == expected and expected


def test_streaming_source_cap_counts_match_batch(spark, tmp_path):
    """Per-stratum admitted counts equal min(cap, stratum size) — the
    same counts as the batch cap (membership differs by design: the
    stream admits first-arrived, the batch selects pseudo-uniformly)."""
    from llm_training_data_pipeline_spark.streaming.cap_stream import (
        streaming_source_cap,
    )

    cap_schema = "doc_id long, text string, lang string, source string"
    rows = [(i, f"text {i}", "en", f"s{i % 3}") for i in range(30)]
    src = str(tmp_path / "cap_src")
    spark.createDataFrame(rows, cap_schema).write.parquet(src)
    stream = spark.readStream.schema(cap_schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    admitted = streaming_source_cap(stream, cap=4)
    q = (
        admitted.writeStream.format("memory")
        .queryName("t_source_cap")
        .outputMode("append")
        .start()
    )
    _run_to_completion(q)
    got = spark.sql("SELECT source, doc_id FROM t_source_cap").collect()
    per: dict[str, int] = {}
    ids = set()
    for r in got:
        per[r["source"]] = per.get(r["source"], 0) + 1
        assert r["doc_id"] not in ids, "no row may be admitted twice"
        ids.add(r["doc_id"])
    assert per == {"s0": 4, "s1": 4, "s2": 4}
    # a small stratum survives whole
    from llm_training_data_pipeline_spark.operators.corpus import cap_per_stratum

    batch = cap_per_stratum(
        spark.createDataFrame(rows, cap_schema), cap=4
    )
    per_batch = {
        r["source"]: r["n"]
        for r in batch.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_batch == per


def test_streaming_copy_number_two_batches(spark, tmp_path, doc_rows):
    """Online soft dedup: every row is emitted; the k-th arrival of a
    digest carries copy_number k and weight 1e6 div k, counting across
    micro-batches."""
    from llm_training_data_pipeline_spark.streaming.dedup_stream import (
        streaming_copy_number,
    )

    src = str(tmp_path / "src_cn")
    # batch 1: docs 1-4 (1,2,4 share a normalized digest)
    _write_docs(spark, src, doc_rows)
    stream = spark.readStream.schema(DOC_SCHEMA).parquet(src)
    out = streaming_copy_number(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("t_copy_number")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    # batch 2: another copy of the dup text + a fresh doc
    import datetime as dt

    t1 = dt.datetime(2024, 1, 1, 12, 5, 0)
    more = [
        (5, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG.", t1),  # 4th copy
        (6, "An entirely new document about streaming state.", t1),
    ]
    _write_docs(spark, src, more)
    q.processAllAvailable()
    q.stop()
    got = {
        r["doc_id"]: (r["copy_number"], r["soft_weight_ppm"])
        for r in spark.sql("SELECT * FROM t_copy_number").collect()
    }
    assert got[1] == (1, 1000000)
    assert got[2] == (2, 500000)
    assert got[4] == (3, 333333)
    assert got[3] == (1, 1000000)
    assert got[5] == (4, 250000)  # cross-batch continuation
    assert got[6] == (1, 1000000)
    assert len(got) == 6  # nothing dropped


def test_streaming_copy_number_single_batch_equals_batch_row_number(
    spark, tmp_path, doc_rows
):
    """Single-batch replay == the batch row_number-over-digest analog."""
    from pyspark.sql import Window

    from llm_training_data_pipeline_spark.operators.dedup import exact_hash
    from llm_training_data_pipeline_spark.streaming.dedup_stream import (
        streaming_copy_number,
    )

    src = str(tmp_path / "src_cn1")
    _write_docs(spark, src, doc_rows)
    stream = spark.readStream.schema(DOC_SCHEMA).parquet(src)
    q = (
        streaming_copy_number(stream)
        .writeStream.format("memory")
        .queryName("t_copy_number_1b")
        .outputMode("append")
        .start()
    )
    _run_to_completion(q)
    got = {
        (r["doc_id"], r["copy_number"])
        for r in spark.sql("SELECT * FROM t_copy_number_1b").collect()
    }
    batch = spark.createDataFrame(doc_rows, DOC_SCHEMA)
    w = Window.partitionBy(exact_hash(F.col("text"))).orderBy("doc_id")
    want = {
        (r["doc_id"], r["copy_number"])
        for r in batch.select(
            "doc_id", F.row_number().over(w).cast("long").alias("copy_number")
        ).collect()
    }
    assert got == want


def test_streaming_cms_equals_batch_sketch(spark, tmp_path):
    """A CMS folded batch-by-batch (maxFilesPerTrigger=1) must equal the
    batch cms_sketch of the concatenated input bit-for-bit — addition
    commutes, and the epoch store's sum is the authoritative sketch."""
    from llm_training_data_pipeline_spark.operators.sketch import (
        cms_estimate,
        cms_sketch,
        word_counts,
    )
    from llm_training_data_pipeline_spark.streaming.sketch_stream import (
        read_sketch,
        streaming_cms,
    )

    schema = "doc_id long, text string"
    src = str(tmp_path / "cms_src")
    spark.createDataFrame(
        [(1, "alpha beta gamma alpha")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(2, "beta beta delta"), (3, "alpha epsilon")], schema
    ).coalesce(1).write.mode("append").parquet(src)

    state_dir = str(tmp_path / "cms_state")
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = streaming_cms(stream, state_dir=state_dir, width=16).start()
    q.processAllAvailable()
    q.stop()

    batch_df = spark.read.parquet(src)
    expected = cms_sketch(word_counts(batch_df), width=16)
    merged = read_sketch(spark, state_dir)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, expected.collect())
    )
    # and the merged sketch answers point queries like the batch one:
    # alpha occurs 3 times; CMS never undercounts
    probes = spark.createDataFrame([("alpha",)], "word string")
    est = cms_estimate(merged, probes, width=16).collect()[0]["est_cnt"]
    assert est >= 3


def test_streaming_cms_epoch_replay_idempotent(spark, tmp_path):
    """Rewriting an existing epoch partition (checkpoint-restart replay)
    must not double-count: the store sum equals the batch sketch after a
    second identical run over the same source."""
    from llm_training_data_pipeline_spark.operators.sketch import (
        cms_sketch,
        word_counts,
    )
    from llm_training_data_pipeline_spark.streaming.sketch_stream import (
        read_sketch,
        streaming_cms,
    )

    schema = "doc_id long, text string"
    src = str(tmp_path / "cms_replay_src")
    spark.createDataFrame(
        [(1, "alpha beta gamma alpha"), (2, "beta beta delta")], schema
    ).coalesce(1).write.parquet(src)
    state_dir = str(tmp_path / "cms_replay_state")

    for _ in range(2):  # second run replays epoch 0 into the same store
        stream = spark.readStream.schema(schema).parquet(src)
        q = streaming_cms(stream, state_dir=state_dir, width=16).start()
        q.processAllAvailable()
        q.stop()

    expected = cms_sketch(word_counts(spark.read.parquet(src)), width=16)
    merged = read_sketch(spark, state_dir)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, expected.collect())
    )

