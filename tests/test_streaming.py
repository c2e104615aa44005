"""Streaming: micro-batched file source → idempotent sink (exactly-once
semantics, SURVEY.md §4.3); watermarked event-time window; streaming RAG."""

import glob
import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from confluent_kafka_vector_search_prompt_inference_spark.models import HashingEmbedder, ModelRegistry, TemplateLLM
from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
    continuous_insert,
    file_stream_reader,
    idempotent_batch_writer,
    read_sink,
)
from confluent_kafka_vector_search_prompt_inference_spark.streaming.rag import RagPipeline


@pytest.fixture()
def events_dir(spark, tmp_path):
    """events subset split into 3 files → 3 micro-batches."""
    from tests.conftest import load_events

    ev = load_events(spark, "/root/testdata/sf0.001").limit(300)
    src = str(tmp_path / "events_src")
    ev.repartition(3).write.parquet(src)
    return src, ev.schema, ev.count()


def _drain(query):
    query.awaitTermination(120)


def test_continuous_insert_lands_all_rows(spark, tmp_path, events_dir):
    src, schema, n = events_dir
    stream = file_stream_reader(spark, src, schema, max_files_per_trigger=1)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = continuous_insert(stream, sink, ckpt, trigger_once=True)
    _drain(q)
    out = read_sink(spark, sink)
    assert out.count() == n


def test_idempotent_writer_skips_committed_batch(spark, tmp_path):
    df = spark.range(10).toDF("id")
    sink = str(tmp_path / "sink")
    writer = idempotent_batch_writer(sink)
    writer(df, 0)
    first = sorted(glob.glob(os.path.join(sink, "_batch=0", "*.parquet")))
    writer(df, 0)  # replay — must be a no-op
    second = sorted(glob.glob(os.path.join(sink, "_batch=0", "*.parquet")))
    assert first == second
    assert spark.read.parquet(os.path.join(sink, "_batch=0")).count() == 10


def test_windowed_agg_with_watermark(spark, tmp_path, events_dir):
    src, schema, _ = events_dir
    stream = file_stream_reader(spark, src, schema, max_files_per_trigger=3)
    windowed = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("ws"), "event_type", "n")
    )
    sink = str(tmp_path / "wsink")
    q = (
        windowed.writeStream.outputMode("append")
        .foreachBatch(idempotent_batch_writer(sink))
        .option("checkpointLocation", str(tmp_path / "wckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    # append mode emits only watermark-closed windows; with availableNow all
    # but the last open window close
    out = read_sink(spark, sink)
    batch = (
        spark.read.parquet(src)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .count()
    )
    assert 0 < out.count() <= batch


def test_streaming_rag_pipeline(spark, tmp_path, docs):
    registry = ModelRegistry()
    registry.create_model("vector_encoding", "embedding", HashingEmbedder(dim=16))
    registry.create_model("retail_assistant", "text_generation", TemplateLLM())
    pipe = RagPipeline(registry, k=2)
    corpus = registry.ml_predict(
        docs.limit(50).select(F.col("doc_id").alias("product_id"), F.col("text").alias("content")),
        "vector_encoding",
        "content",
    ).cache()

    questions = docs.limit(6).select(
        F.lit("user").alias("role"),
        F.col("text").alias("content"),
        F.col("doc_id").cast("string").alias("sessionid"),
    )
    src = str(tmp_path / "qsrc")
    questions.repartition(2).write.parquet(src)

    stream = file_stream_reader(spark, src, questions.schema, max_files_per_trigger=1)
    sink = str(tmp_path / "answers")
    q = continuous_insert(
        stream, sink, str(tmp_path / "ckpt"),
        transform=pipe.streaming_transform(corpus), trigger_once=True,
    )
    _drain(q)
    out = read_sink(spark, sink)
    assert out.count() == 6
    assert set(out.columns) >= {"role", "content", "sessionid", "json_response"}


def test_drop_duplicates_within_watermark(spark, tmp_path, events_dir):
    """Streaming dedup bounded by watermark state (SURVEY.md §2.9)."""
    src, schema, n = events_dir
    stream = file_stream_reader(spark, src, schema, max_files_per_trigger=3)
    deduped = (
        stream.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type", "event_id")
    )
    sink = str(tmp_path / "dsink")
    q = (
        deduped.writeStream.outputMode("append")
        .foreachBatch(idempotent_batch_writer(sink))
        .option("checkpointLocation", str(tmp_path / "dckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    out = read_sink(spark, sink)
    batch_keys = spark.read.parquet(src).select("user_id", "event_type").distinct().count()
    # watermark-bounded dedup can keep more than the global-distinct count
    # (duplicates far apart in event time) but never less, and never all rows
    assert batch_keys <= out.count() < n
    # within one watermark window no (user, type) pair may repeat more than
    # its event-time spread allows; sanity: no exact duplicate event_ids
    assert out.select("event_id").distinct().count() == out.count()


def test_stateful_running_profile(spark, tmp_path, events_dir):
    """Custom keyed state via applyInPandasWithState (SURVEY.md §2.9):
    running count/sum/EMA per event_type across micro-batches."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.stateful import running_profile

    src, schema, n = events_dir
    stream = file_stream_reader(spark, src, schema, max_files_per_trigger=1)
    profiles = running_profile(stream, "event_type", "value", alpha=0.3)
    sink = str(tmp_path / "profsink")
    q = (
        profiles.writeStream.outputMode("update")
        .foreachBatch(idempotent_batch_writer(sink))
        .option("checkpointLocation", str(tmp_path / "profckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    out = read_sink(spark, sink).toPandas()
    # last emission per key must equal the batch-computed totals
    final = out.sort_values("n_events").groupby("key").last()
    batch = (
        spark.read.parquet(src)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .toPandas()
        .set_index("event_type")
    )
    for key, row in final.iterrows():
        assert row.n_events == batch.loc[key].n
        assert abs(row.total - batch.loc[key].total) < 1e-6


def test_statement_phase(spark, tmp_path, events_dir):
    """Statement lifecycle phases (README.md:312-316, 544-547)."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import statement_phase

    src, schema, _ = events_dir
    stream = file_stream_reader(spark, src, schema, max_files_per_trigger=3)
    q = continuous_insert(stream, str(tmp_path / "s"), str(tmp_path / "c"), trigger_once=True)
    assert statement_phase(q) in ("PENDING", "RUNNING")
    _drain(q)
    assert statement_phase(q) == "COMPLETED"


def test_transform_with_state_keyed_totals(spark, tmp_path, events_dir):
    """Spark 4 typed-state API (transformWithStateInPandas): running
    count/total per event_type matches the batch aggregate."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.stateful import keyed_totals_tws

    # transformWithStateInPandas speaks a protobuf state-server protocol
    # between the JVM and the Python worker; protobuf is not shipped in
    # this environment and cannot be installed here. Explicit xfail (not
    # skip): the operator's semantics are still covered by the
    # applyInPandasWithState variant (test_keyed_running_totals), and this
    # test runs green on any cluster image that bundles protobuf.
    import importlib.util

    # find_spec on a dotted name imports the parent package, which itself
    # raises when absent — probe the parent first
    if (
        importlib.util.find_spec("google") is None
        or importlib.util.find_spec("google.protobuf") is None
    ):
        pytest.xfail(
            "transformWithStateInPandas requires protobuf (TWS state-server "
            "protocol); absent in this sandbox — semantics covered by the "
            "applyInPandasWithState keyed-state test"
        )
    src, schema, n = events_dir
    # transformWithStateInPandas requires the RocksDB state store
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = file_stream_reader(spark, src, schema, max_files_per_trigger=1)
    totals = keyed_totals_tws(stream, "event_type", "value")
    sink = str(tmp_path / "twssink")
    q = (
        totals.writeStream.outputMode("update")
        .foreachBatch(idempotent_batch_writer(sink))
        .option("checkpointLocation", str(tmp_path / "twsckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        _drain(q)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    out = read_sink(spark, sink).toPandas()
    final = out.sort_values("n_events").groupby("key").last()
    batch = (
        spark.read.parquet(src)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .toPandas()
        .set_index("event_type")
    )
    for key, row in final.iterrows():
        assert row.n_events == batch.loc[key].n
        assert abs(row.total - batch.loc[key].total) < 1e-6


def test_stream_stream_interval_join(spark, tmp_path, events_dir):
    """Purchases within 1 h after a click, per user — joined stream-to-stream
    with watermarks bounding both buffers; result equals the batch range
    join over the same data."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import stream_interval_join

    src, schema, _ = events_dir
    stream = file_stream_reader(spark, src, schema, max_files_per_trigger=3)
    clicks_s = stream.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("click_id")
    )
    purch_s = stream.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("purchase_id")
    )
    joined = stream_interval_join(
        clicks_s, purch_s, on="user_id", left_ts="c_ts", right_ts="p_ts", within="1 hour"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .option("checkpointLocation", str(tmp_path / "ssj_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("ssj_out").count()

    batch = spark.read.parquet(src)
    bc = batch.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("c_ts")
    )
    bp = batch.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("p_ts")
    )
    expected = bc.join(
        bp,
        (bc.cu == bp.pu)
        & (bp.p_ts > bc.c_ts)
        & (bp.p_ts <= bc.c_ts + F.expr("INTERVAL 1 HOUR")),
    ).count()
    assert got == expected and expected > 0


def test_incremental_dedup_insert(spark, tmp_path, docs):
    """Feeding the same documents twice across micro-batches lands each
    fingerprint exactly once; the second delivery is dropped by the
    anti-join against the sink."""
    from confluent_kafka_vector_search_prompt_inference_spark.functions.text import doc_fingerprint
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import dedup_insert

    base = docs.select("doc_id", "text").limit(100)
    src = str(tmp_path / "dedup_src")
    # file 1: docs as-is; file 2: the same texts under shifted ids (re-delivery)
    base.coalesce(1).write.parquet(src)
    base.select((F.col("doc_id") + 5000).alias("doc_id"), "text").coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = file_stream_reader(spark, src, base.schema, max_files_per_trigger=1)
    q = dedup_insert(
        stream,
        str(tmp_path / "dedup_sink"),
        str(tmp_path / "dedup_ckpt"),
        key_expr=doc_fingerprint("text"),
        trigger_once=True,
    )
    _drain(q)
    out = read_sink(spark, str(tmp_path / "dedup_sink"))
    n_unique = base.select(doc_fingerprint("text").alias("fp")).distinct().count()
    assert out.count() == n_unique
    assert out.select("__fp").distinct().count() == n_unique
    # round 10: the landed-keys side is served by per-epoch narrow `_ids`
    # sidecars (one key file per epoch), and losing one (the crash window
    # between the two writes) only costs the fallback, never correctness
    import shutil

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import read_sink_ids

    sink = str(tmp_path / "dedup_sink")
    side = sorted(glob.glob(os.path.join(sink, "_ids", "_batch=*")))
    assert side, "dedup_insert should land key sidecars per epoch"
    keys_narrow = {r["__fp"] for r in read_sink_ids(spark, sink, ["__fp"]).collect()}
    keys_full = {r["__fp"] for r in out.select("__fp").collect()}
    assert keys_narrow == keys_full
    shutil.rmtree(side[0])
    keys_narrow = {r["__fp"] for r in read_sink_ids(spark, sink, ["__fp"]).collect()}
    assert keys_narrow == keys_full


def test_stream_static_enrichment_join(spark, tmp_path, events_dir):
    """Stream-static join: an unbounded stream enriched against a static
    dimension — no watermark needed (the static side is re-resolvable per
    micro-batch), rows and categories match the batch join."""
    src, schema, n = events_dir
    dim = spark.createDataFrame(
        [("click", "engagement"), ("view", "engagement"),
         ("purchase", "revenue"), ("signup", "growth"), ("error", "ops")],
        ["event_type", "category"],
    )
    stream = file_stream_reader(spark, src, schema, max_files_per_trigger=3)
    enriched = stream.join(dim, "event_type")
    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched_out")
        .option("checkpointLocation", str(tmp_path / "enrich_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    got = spark.table("enriched_out")
    assert got.count() == n  # every event type has a dim row
    batch_counts = {
        r.category: r["count"]
        for r in spark.read.parquet(src).join(dim, "event_type").groupBy("category").count().collect()
    }
    stream_counts = {r.category: r["count"] for r in got.groupBy("category").count().collect()}
    assert stream_counts == batch_counts


def test_sink_retention_by_count_and_bytes(spark, tmp_path):
    """Retention drops whole oldest batches once count/byte budgets are
    exceeded — the reference's 1 h / 1 GB topic retention semantics
    (README.md:102) applied to the idempotent sink."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import enforce_retention

    sink = str(tmp_path / "sink")
    writer = idempotent_batch_writer(sink)
    for epoch in range(5):
        writer(spark.range(100).toDF("id"), epoch)

    removed = enforce_retention(sink, max_batches=3)
    assert removed == [0, 1]
    remaining = read_sink(spark, sink)
    assert remaining.count() == 300

    # byte budget: shrink until under ~2 batches' size
    import glob, os
    one = sum(os.path.getsize(f) for f in glob.glob(os.path.join(sink, "_batch=2", "*")) if os.path.isfile(f))
    removed2 = enforce_retention(sink, max_bytes=int(one * 2.5))
    assert removed2 == [2]
    assert read_sink(spark, sink).count() == 200


def _fake_epoch(sink, epoch, *, committed=True, part=None, nbytes=1000):
    """A hand-built sink epoch: one ``nbytes`` data file, under a
    ``part`` partition subdir when given (the ``ivf_insert`` /
    ``partition_by`` layout), stamped ``_SUCCESS`` when committed."""
    d = os.path.join(sink, f"_batch={epoch}")
    leaf = os.path.join(d, part) if part else d
    os.makedirs(leaf)
    with open(os.path.join(leaf, "part-0.parquet"), "wb") as fh:
        fh.write(b"x" * nbytes)
    if committed:
        open(os.path.join(d, "_SUCCESS"), "a").close()
    return d


def _retire(kind, spark, sink, **budget):
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        enforce_retention,
        enforce_retention_tombstoned,
    )

    if kind == "plain":
        return enforce_retention(sink, **budget)
    return enforce_retention_tombstoned(spark, sink, id_col="doc_id", **budget)


@pytest.mark.parametrize("kind", ["plain", "tombstoned"])
def test_retention_byte_budget_weighs_partitioned_epochs(spark, tmp_path, kind):
    """An epoch's bytes include its partition subdirs: an ``ivf_insert``
    corpus (``_batch=N/ivf_cluster=k/``) or a ``partition_by`` fold
    holds every data file one level down, and weighing only top-level
    files made such a store weigh 0 bytes — never retired by bytes."""
    sink = str(tmp_path / "sink")
    for e in range(3):
        _fake_epoch(sink, e, part="ivf_cluster=0")
    assert _retire(kind, spark, sink, max_bytes=1500) == [0, 1]
    assert sorted(os.listdir(sink)) == ["_batch=2"]


@pytest.mark.parametrize("kind", ["plain", "tombstoned"])
def test_retention_ignores_in_flight_epoch(spark, tmp_path, kind):
    """An epoch dir without ``_SUCCESS`` is in flight (or crashed before
    commit): ``read_sink`` never shows it, so it neither counts toward
    the budget nor is deleted — the live stream may be writing it."""
    sink = str(tmp_path / "sink")
    _fake_epoch(sink, 0)
    _fake_epoch(sink, 1)
    inflight = _fake_epoch(sink, 2, committed=False)
    before = sorted(os.listdir(inflight))
    assert _retire(kind, spark, sink, max_batches=2) == []
    assert sorted(os.listdir(sink)) == ["_batch=0", "_batch=1", "_batch=2"]
    assert sorted(os.listdir(inflight)) == before


@pytest.mark.slow
def test_stateful_transition_steps_match_batch_lag(spark, tmp_path):
    """Streaming transition mining with cross-batch keyed state equals the
    batch LEAD() transition matrix when micro-batches replay in event-time
    order (three sequential time slices, one file per trigger)."""
    import time as _time

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.stateful import transition_steps

    from tests.conftest import load_events

    ev = (
        load_events(spark, "/root/testdata/sf0.001")
        .select("user_id", "event_type", "ts", "event_id")
        .orderBy("ts", "event_id")
        .limit(300)
    )
    pdf = ev.toPandas().sort_values(["ts", "event_id"]).reset_index(drop=True)
    src = tmp_path / "trans_src"
    src.mkdir()
    # write time slices sequentially so file mod-times replay in order
    for i, lo in enumerate(range(0, 300, 100)):
        spark.createDataFrame(pdf.iloc[lo : lo + 100]).coalesce(1).write.parquet(
            str(src / f"slice={i}")
        )
        _time.sleep(0.2)
    schema = ev.schema
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(str(src) + "/slice=*")
    )
    steps = transition_steps(stream, "user_id", "event_type", "ts", "event_id")
    sink = str(tmp_path / "trans_sink")
    q = (
        steps.writeStream.outputMode("append")
        .foreachBatch(idempotent_batch_writer(sink))
        .option("checkpointLocation", str(tmp_path / "trans_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    got = (
        read_sink(spark, sink)
        .groupBy("cur", "nxt")
        .agg(F.count("*").alias("n"))
        .toPandas()
        .set_index(["cur", "nxt"])
        .n.to_dict()
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    batch = (
        spark.createDataFrame(pdf)
        .select(
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count("*").alias("n"))
        .toPandas()
        .set_index(["cur", "nxt"])
        .n.to_dict()
    )
    assert got == batch


@pytest.mark.slow
def test_near_dedup_insert_drops_within_and_across_batches(spark, tmp_path):
    """Streaming MinHash near-dedup: a near-copy in the same micro-batch
    and a near-copy of an already-landed doc both get dropped; distinct
    docs land. Replay of a committed batch stays a no-op."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import near_dedup_insert

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun"
    )
    other = (
        "spark executes declarative plans through catalyst producing "
        "vectorized stages that shuffle partitioned data across the cluster"
    )
    third = (
        "schema registries attach late bound data contracts to kafka "
        "topics so raw bytes decode into typed streaming tables"
    )
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = str(tmp_path / "src")
    # batch file 1 (part files land directly in src — the file source does
    # not recurse into nested directories): doc 3 near-copies doc 1
    spark.createDataFrame(
        [(1, base), (2, other), (3, base.replace("lazy", "sleepy"))], schema
    ).coalesce(1).write.mode("append").parquet(src)
    stream = file_stream_reader(spark, src, schema, max_files_per_trigger=1)
    sink = str(tmp_path / "ndsink")
    ckpt = str(tmp_path / "ndckpt")
    q = near_dedup_insert(
        stream, sink, ckpt, id_col="doc_id", text_col="text",
        threshold=0.5, trigger_once=True,
    )
    _drain(q)
    landed1 = {r.doc_id for r in read_sink(spark, sink).collect()}
    assert landed1 == {1, 2}  # 3 dropped within its batch
    # batch file 2: doc 4 near-copies the landed doc 1; doc 5 is new
    spark.createDataFrame(
        [(4, base.replace("quick", "swift")), (5, third)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    q = near_dedup_insert(
        stream, sink, ckpt, id_col="doc_id", text_col="text",
        threshold=0.5, trigger_once=True,
    )
    _drain(q)
    out = read_sink(spark, sink)
    assert {r.doc_id for r in out.collect()} == {1, 2, 5}  # 4 dropped vs sink
    # signatures landed alongside the rows (history never re-hashed)
    assert "__minhash" in out.columns


def test_compact_sink_folds_batches(spark, tmp_path):
    """compact_sink folds committed batch dirs into one base batch with
    identical data; keep_batches leaves the newest dirs untouched."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import compact_sink

    sink = str(tmp_path / "csink")
    writer = idempotent_batch_writer(sink)
    for epoch in range(5):
        writer(spark.range(epoch * 10, epoch * 10 + 10).toDF("id"), epoch)
    before = sorted(r.id for r in read_sink(spark, sink).collect())
    folded = compact_sink(spark, sink, keep_batches=1, target_partitions=2)
    assert folded == 4  # batches 0-3 folded, batch 4 kept
    dirs = sorted(glob.glob(os.path.join(sink, "_batch=*")))
    assert [os.path.basename(d) for d in dirs] == ["_batch=0", "_batch=4"]
    after = sorted(r.id for r in read_sink(spark, sink).collect())
    assert after == before == list(range(50))
    # idempotent: nothing left to fold under keep_batches=1
    assert compact_sink(spark, sink, keep_batches=1) == 0


def test_streaming_hybrid_rag_matches_batch(spark, tmp_path, docs):
    """The hybrid-retrieval pipeline (vector ⊕ BM25, RRF-fused) runs
    unchanged under foreachBatch and lands the same answers the batch
    path produces — the reference's continuous statements with the
    engine's extended retrieval."""
    registry = ModelRegistry()
    registry.create_model("vector_encoding", "embedding", HashingEmbedder(dim=16))
    registry.create_model("retail_assistant", "text_generation", TemplateLLM())
    pipe = RagPipeline(registry, k=2, retrieval="hybrid", strategy="broadcast_corpus")
    corpus = registry.ml_predict(
        docs.limit(50).select(F.col("doc_id").alias("product_id"), F.col("text").alias("content")),
        "vector_encoding",
        "content",
    ).cache()

    questions = docs.limit(4).select(
        F.lit("user").alias("role"),
        F.col("text").alias("content"),
        F.col("doc_id").cast("string").alias("sessionid"),
    )
    expected = {
        (r.sessionid, r.json_response)
        for r in pipe.run_batch(questions, corpus).collect()
    }

    src = str(tmp_path / "hqsrc")
    questions.repartition(2).write.parquet(src)
    stream = file_stream_reader(spark, src, questions.schema, max_files_per_trigger=1)
    sink = str(tmp_path / "hanswers")
    q = continuous_insert(
        stream, sink, str(tmp_path / "hckpt"),
        transform=pipe.streaming_transform(corpus), trigger_once=True,
    )
    _drain(q)
    got = {(r.sessionid, r.json_response) for r in read_sink(spark, sink).collect()}
    assert got == expected


def test_compact_sink_recovers_crashed_fold(spark, tmp_path):
    """A compaction that crashed PART-WAY through deleting the folded dirs
    (the worst window: tmp published, some sources deleted, some not) is
    completed by the next call via the fold manifest — no duplicates, no
    loss. keep_batches=0 is rejected (it would break idempotent replay)."""
    import json
    import shutil

    import pytest as _pytest

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import compact_sink

    sink = str(tmp_path / "crsink")
    writer = idempotent_batch_writer(sink)
    for epoch in range(3):
        writer(spark.range(epoch * 10, epoch * 10 + 10).toDF("id"), epoch)
    # simulate the crash: batches 0-1 folded into tmp (with _SUCCESS and the
    # manifest), _batch=0 already deleted, _batch=1 STILL PRESENT
    tmp = os.path.join(sink, "_compact_tmp")
    spark.read.parquet(
        os.path.join(sink, "_batch=0"), os.path.join(sink, "_batch=1")
    ).write.parquet(tmp)
    with open(os.path.join(tmp, "_fold_manifest.json"), "w") as fh:
        json.dump(["_batch=0", "_batch=1"], fh)
    shutil.rmtree(os.path.join(sink, "_batch=0"))
    # recovery deletes the surviving folded dir before the rename, so the
    # surviving dir's rows cannot appear twice
    assert compact_sink(spark, sink, keep_batches=1) == 0
    assert not os.path.exists(tmp)
    assert sorted(os.path.basename(d) for d in glob.glob(os.path.join(sink, "_batch=*"))) == [
        "_batch=0", "_batch=2",
    ]
    assert sorted(r.id for r in read_sink(spark, sink).collect()) == list(range(30))
    # a half-written tmp (no _SUCCESS/manifest) is just discarded
    os.makedirs(tmp)
    assert compact_sink(spark, sink, keep_batches=1) == 0
    assert not os.path.exists(tmp)
    # folding the newest committed dir is refused outright
    with _pytest.raises(ValueError, match="keep_batches"):
        compact_sink(spark, sink, keep_batches=0)


def test_compact_sink_preserves_evolved_union_schema(spark, tmp_path):
    """An evolved sink holds batch dirs with heterogeneous (add-only)
    schemas. Compaction is destructive — it must read with mergeSchema so
    columns present in only some batches survive the fold instead of
    being silently dropped with their source dirs."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import compact_sink

    sink = str(tmp_path / "evsink")
    writer = idempotent_batch_writer(sink)
    writer(spark.createDataFrame([(1, "a")], ["id", "x"]), 0)
    writer(spark.createDataFrame([(2, "b", 9.5)], ["id", "x", "score"]), 1)
    writer(spark.createDataFrame([(3, "c", 1.5)], ["id", "x", "score"]), 2)
    folded = compact_sink(spark, sink, keep_batches=1)
    assert folded == 2
    out = read_sink(spark, sink).toPandas().sort_values("id").reset_index(drop=True)
    assert set(out.columns) == {"id", "x", "score"}
    assert list(out["id"]) == [1, 2, 3]
    import math

    assert math.isnan(out["score"][0]) or out["score"][0] is None
    assert out["score"][1] == 9.5


def test_near_dedup_insert_rejects_foreign_sink(spark, tmp_path):
    """Pointing near_dedup_insert at a sink populated by a writer that did
    not land __minhash signatures must fail fast with a clear contract
    error, not an opaque unresolved-column AnalysisException."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import near_dedup_insert

    sink = str(tmp_path / "foreignsink")
    # landed by a plain continuous_insert: no __minhash column
    idempotent_batch_writer(sink)(
        spark.createDataFrame([(1, "already landed text")], ["doc_id", "text"]), 0
    )
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = str(tmp_path / "fsrc")
    spark.createDataFrame([(2, "incoming new text")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = file_stream_reader(spark, src, schema)
    q = near_dedup_insert(
        stream, sink, str(tmp_path / "fckpt"),
        id_col="doc_id", text_col="text", trigger_once=True,
    )
    import pyspark.errors

    with pytest.raises(pyspark.errors.StreamingQueryException, match="__minhash"):
        q.awaitTermination(120)


def test_sketch_insert_maintains_corpus_sketch(spark, tmp_path, docs):
    """sketch_insert lands rows AND accumulates a count-min sketch of the
    term column across micro-batches; the merged sketch equals the sketch
    built in one shot over everything landed, and replay double-counts
    nothing."""
    from confluent_kafka_vector_search_prompt_inference_spark.operators.sketches import countmin_build, countmin_lookup
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        read_corpus_sketch,
        sketch_insert,
    )

    d = docs.limit(60).select("doc_id", F.lower("text").alias("term"))
    # stream one word per row for a clean term column
    terms = d.select(
        "doc_id", F.explode(F.filter(F.split("term", r"\s+"), lambda t: t != "")).alias("term")
    )
    src = str(tmp_path / "src")
    terms.repartition(3).write.parquet(src)
    stream = file_stream_reader(spark, src, terms.schema, max_files_per_trigger=1)

    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = sketch_insert(
        stream, sink, ckpt, term_col="term", depth=4, width=128, trigger_once=True
    )
    _drain(q)

    landed = read_sink(spark, sink)
    assert landed.count() == terms.count()
    streamed = read_corpus_sketch(spark, sink)
    oneshot = countmin_build(landed, "term", depth=4, width=128)
    diff = (
        streamed.withColumnRenamed("cnt", "cnt_s")
        .join(oneshot, ["d", "bucket"], "full")
        .filter(F.coalesce("cnt_s", F.lit(-1)) != F.coalesce("cnt", F.lit(-2)))
        .count()
    )
    assert diff == 0

    # replay: restarting over the same source must not change the sketch
    q2 = sketch_insert(
        stream, sink, ckpt, term_col="term", depth=4, width=128, trigger_once=True
    )
    _drain(q2)
    total_before = oneshot.agg(F.sum("cnt")).collect()[0][0]
    total_after = read_corpus_sketch(spark, sink).agg(F.sum("cnt")).collect()[0][0]
    assert total_after == total_before

    # estimates over the streamed sketch never undercount the truth
    true = landed.groupBy("term").agg(F.count("*").alias("true_cnt"))
    est = countmin_lookup(streamed, true, "term", depth=4, width=128)
    assert est.filter(F.col("est") < F.col("true_cnt")).count() == 0


def test_sketch_deltas_compact_without_changing_estimates(spark, tmp_path, docs):
    """compact_sink on the _sketch delta dir folds deltas; merge-on-read
    gives identical cells before and after."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        compact_sink,
        read_corpus_sketch,
        sketch_insert,
    )

    terms = docs.limit(40).select(
        "doc_id",
        F.explode(F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")).alias("term"),
    )
    src = str(tmp_path / "src")
    terms.repartition(4).write.parquet(src)
    stream = file_stream_reader(spark, src, terms.schema, max_files_per_trigger=1)
    sink = str(tmp_path / "sink")
    q = sketch_insert(
        stream, sink, str(tmp_path / "ckpt"), term_col="term",
        depth=2, width=64, trigger_once=True,
    )
    _drain(q)
    before = {
        (r.d, r.bucket): r.cnt for r in read_corpus_sketch(spark, sink).collect()
    }
    folded = compact_sink(spark, os.path.join(sink, "_sketch"), keep_batches=1)
    assert folded >= 1
    after = {
        (r.d, r.bucket): r.cnt for r in read_corpus_sketch(spark, sink).collect()
    }
    assert before == after


_SUMMARY_LANES = {
    "sketch": ("sketch_insert", "_sketch", dict(term_col="k", depth=2, width=64)),
    "mg": ("mg_insert", "_mg", dict(item_col="k", k=8)),
    "bloom": ("bloom_insert", "_bloom", dict(key_col="k", m_bits=1024, k=3)),
    "kmv": ("kmv_insert", "_kmv", dict(key_col="k", k=16)),
    "quantile": ("quantile_insert", "_qsketch", dict(value_col="v", key_col="id", m=32)),
    "kll": (
        "quantile_insert", "_kllsketch",
        dict(value_col="v", key_col="id", m=32, method="kll"),
    ),
}


def _tree(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root)
        for f in files
    )


@pytest.mark.parametrize("lane", list(_SUMMARY_LANES))
def test_summary_lane_lands_rows_and_delta_replay_safe(spark, tmp_path, lane):
    """Every summary lane lands each epoch's rows under ``_batch=N`` and
    its summary delta under the lane's own subdir (the on-disk names
    existing stores are read by); a replay over the same source with a
    FRESH checkpoint re-delivers the same epoch ids and lands nothing —
    no row, no delta dir, no file."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming import pipeline
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import _committed_batch_dirs

    fn_name, subdir, kw = _SUMMARY_LANES[lane]
    lane_fn = getattr(pipeline, fn_name)
    rows = spark.range(90).select(
        "id",
        F.concat(F.lit("k-"), (F.col("id") % 30).cast("string")).alias("k"),
        (F.col("id") * 1.5).alias("v"),
    )
    src = str(tmp_path / "src")
    rows.repartition(2).write.parquet(src)
    sink = str(tmp_path / "sink")

    def run(ckpt):
        stream = file_stream_reader(spark, src, rows.schema, max_files_per_trigger=1)
        _drain(lane_fn(stream, sink, str(tmp_path / ckpt), trigger_once=True, **kw))

    run("ckpt")
    assert read_sink(spark, sink).count() == 90
    assert {n for n in os.listdir(sink) if not n.startswith("_batch=")} == {subdir}
    deltas = [os.path.basename(d) for d in _committed_batch_dirs(os.path.join(sink, subdir))]
    assert deltas == ["_batch=0", "_batch=1"]

    landed = _tree(sink)
    run("ckpt_fresh")
    assert _tree(sink) == landed
    assert read_sink(spark, sink).count() == 90


def test_ivf_insert_streaming_indexed_corpus(spark, tmp_path):
    """The always-indexed, continuously-inserted lifecycle: a vector
    stream lands as an IVF index (centroids trained on the first batch,
    frozen after), load_ivf_index reads the batched layout, search finds
    planted copies, replay adds nothing, and tombstone deletes apply."""
    from confluent_kafka_vector_search_prompt_inference_spark.operators.ivf import ivf_delete, load_ivf_index, topk_ivf
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import ivf_insert

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("vector")
    )
    src = str(tmp_path / "src")
    emb.repartition(3).write.parquet(src)
    stream = file_stream_reader(spark, src, emb.schema, max_files_per_trigger=1)
    idx = str(tmp_path / "ivf")
    q = ivf_insert(
        stream, idx, str(tmp_path / "ckpt"),
        vec_col="vector", n_clusters=8, trigger_once=True,
    )
    _drain(q)

    corpus, cents = load_ivf_index(spark, idx)
    assert corpus.count() == emb.count()
    assert cents.shape[0] == 8
    assert "ivf_cluster" in corpus.columns

    queries = emb.filter(F.col("cid") < 20).select(
        F.col("cid").alias("qid"), "vector"
    )
    out = topk_ivf(
        queries, corpus, cents, k=1, query_id="qid", corpus_id="cid",
        metric="cosine", n_probe=8,
    )
    assert all(r.qid == r.cid for r in out.collect())

    # replay: a second run over the same source must not grow the corpus
    q2 = ivf_insert(
        stream, idx, str(tmp_path / "ckpt"),
        vec_col="vector", n_clusters=8, trigger_once=True,
    )
    _drain(q2)
    corpus2, cents2 = load_ivf_index(spark, idx)
    assert corpus2.count() == emb.count()
    assert (cents2 == cents).all()  # frozen

    # tombstone deletes compose with the streaming layout
    ivf_delete(spark.createDataFrame([(0,), (1,)], "cid long"), idx)
    corpus3, _ = load_ivf_index(spark, idx)
    assert corpus3.filter(F.col("cid") < 2).count() == 0


def test_ivf_insert_embeds_each_feed_row_once(spark, tmp_path):
    """The first micro-batch trains the centroids on a sample and is then
    written: an upstream embedding UDF must run once per row, not once
    per read (a live embedder bills every call, and a nondeterministic one
    would train the centroids on other vectors than the stored ones)."""
    from confluent_kafka_vector_search_prompt_inference_spark.models import Provider
    from confluent_kafka_vector_search_prompt_inference_spark.operators.ivf import load_ivf_index
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import ivf_insert

    calls = str(tmp_path / "embed_calls.txt")

    class CountingEmbedder(Provider):
        """Appends one line per embedded row to ``calls``."""

        deterministic = False

        def embed_batch(self, texts):
            with open(calls, "a") as fh:
                fh.write("".join(f"{t}\n" for t in texts))
            return HashingEmbedder(dim=8).embed_batch(texts)

    feed = spark.createDataFrame(
        [(i, f"listing {i} colour {i % 7} size {i % 5}") for i in range(60)],
        "pid long, content string",
    )
    src = str(tmp_path / "feed")
    feed.repartition(2).write.parquet(src)
    reg = ModelRegistry()
    reg.create_model("vector_encoding", "embedding", CountingEmbedder())
    stream = reg.ml_predict(
        file_stream_reader(spark, src, feed.schema, max_files_per_trigger=1),
        "vector_encoding", "content",
    )
    idx = str(tmp_path / "ivf")
    _drain(ivf_insert(stream, idx, str(tmp_path / "ckpt"), n_clusters=4,
                      trigger_once=True))

    corpus, _ = load_ivf_index(spark, idx)
    assert corpus.count() == 60
    with open(calls) as fh:
        assert sorted(fh.read().splitlines()) == sorted(r.content for r in feed.collect())


def test_agg_insert_folds_to_batch_aggregate(spark, tmp_path, events_dir):
    """The continuously-maintained aggregate equals the one-shot batch
    aggregate over everything streamed, for count/sum/min/max; replay
    changes nothing."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import agg_insert, read_agg

    src, schema, _ = events_dir
    stream = file_stream_reader(spark, src, schema, max_files_per_trigger=1)
    sink = str(tmp_path / "aggsink")
    q = agg_insert(
        stream, sink, str(tmp_path / "ckpt"),
        group_cols=["event_type"],
        agg_exprs={
            "n": "count",
            "total": "sum(value)",
            "vmin": "min(value)",
            "vmax": "max(value)",
        },
        trigger_once=True,
    )
    _drain(q)
    got = {
        r.event_type: (r.n, round(r.total, 6), r.vmin, r.vmax)
        for r in read_agg(spark, sink).collect()
    }
    ev = spark.read.parquet(src)
    want = {
        r.event_type: (r.n, round(r.total, 6), r.vmin, r.vmax)
        for r in ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("total"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )
        .collect()
    }
    assert got == want

    q2 = agg_insert(
        stream, sink, str(tmp_path / "ckpt"),
        group_cols=["event_type"],
        agg_exprs={"n": "count", "total": "sum(value)", "vmin": "min(value)", "vmax": "max(value)"},
        trigger_once=True,
    )
    _drain(q2)
    again = {
        r.event_type: (r.n, round(r.total, 6), r.vmin, r.vmax)
        for r in read_agg(spark, sink).collect()
    }
    assert again == want


def test_agg_insert_writes_merge_plan_before_start(tmp_path):
    """The merge plan ``read_agg`` needs is on disk, whole, before the
    stream starts: a start that fails still leaves a parseable plan and
    no staging file."""
    import json

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import agg_insert

    class _NoStart:
        @property
        def writeStream(self):
            raise RuntimeError("start failed")

    sink = str(tmp_path / "aggsink")
    with pytest.raises(RuntimeError, match="start failed"):
        agg_insert(
            _NoStart(), sink, str(tmp_path / "ckpt"),
            group_cols=["event_type"], agg_exprs={"n": "count"},
        )
    with open(os.path.join(sink, "_merge_plan.json")) as fh:
        assert json.load(fh) == {
            "group_cols": ["event_type"], "merge": {"n": "sum"}, "specs": {"n": "count"}
        }
    assert os.listdir(sink) == ["_merge_plan.json"]


def test_agg_insert_refuses_another_merge_plan(spark, tmp_path, events_dir):
    """A sink's partials fold only by the plan they were built with: a
    start asking for another plan fails before it starts, naming both."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import agg_insert, read_agg

    src, schema, n = events_dir
    stream = file_stream_reader(spark, src, schema, max_files_per_trigger=1)
    sink, ckpt = str(tmp_path / "aggsink"), str(tmp_path / "ckpt")
    _drain(agg_insert(stream, sink, ckpt, group_cols=["event_type"],
                      agg_exprs={"n": "count"}, trigger_once=True))
    with pytest.raises(ValueError, match=r"'n': 'sum'.*'n': 'max'"):
        agg_insert(stream, sink, ckpt, group_cols=["event_type"],
                   agg_exprs={"n": "max(value)"}, trigger_once=True)
    with pytest.raises(ValueError, match="group_cols"):
        agg_insert(stream, sink, ckpt, group_cols=["user_id"],
                   agg_exprs={"n": "count"}, trigger_once=True)
    assert sum(r.n for r in read_agg(spark, sink).collect()) == n


def test_agg_insert_refuses_count_swapped_for_sum(spark, tmp_path):
    """``count`` and ``sum(value)`` merge alike, so only the recorded
    specs tell them apart: a restart that swaps one for the other on a
    sink with committed partials raises instead of folding counts and
    sums together."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import agg_insert, read_agg

    schema = "g string, value long"
    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "aggsink", "ckpt"))
    rows = spark.createDataFrame([(f"g{i % 2}", i) for i in range(30)], schema)
    rows.repartition(2).write.parquet(src)
    stream = file_stream_reader(spark, src, rows.schema, max_files_per_trigger=1)
    _drain(agg_insert(stream, sink, ckpt, group_cols=["g"],
                      agg_exprs={"n": "count"}, trigger_once=True))
    assert {r.g: r.n for r in read_agg(spark, sink).collect()} == {"g0": 15, "g1": 15}
    spark.createDataFrame([("g0", 100), ("g1", 200)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    with pytest.raises(ValueError, match=r"'n': 'count'.*'n': 'sum\(value\)'"):
        agg_insert(stream, sink, ckpt, group_cols=["g"],
                   agg_exprs={"n": "sum(value)"}, trigger_once=True)


def test_agg_insert_accepts_a_plan_recorded_without_specs(spark, tmp_path, events_dir):
    """A sink whose plan was recorded before the specs were restarts with
    the same group and merge columns, and folds its old partials."""
    import json

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import agg_insert, read_agg

    src, schema, n = events_dir
    stream = file_stream_reader(spark, src, schema, max_files_per_trigger=1)
    sink, ckpt = str(tmp_path / "aggsink"), str(tmp_path / "ckpt")
    _drain(agg_insert(stream, sink, ckpt, group_cols=["event_type"],
                      agg_exprs={"n": "count"}, trigger_once=True))
    plan_p = os.path.join(sink, "_merge_plan.json")
    with open(plan_p, "w") as fh:
        json.dump({"group_cols": ["event_type"], "merge": {"n": "sum"}}, fh)
    _drain(agg_insert(stream, sink, ckpt, group_cols=["event_type"],
                      agg_exprs={"n": "count"}, trigger_once=True))
    assert sum(r.n for r in read_agg(spark, sink).collect()) == n


def test_agg_insert_restarts_a_failed_start_with_another_plan(spark, tmp_path, events_dir):
    """A start that failed before any partial committed leaves a plan
    that no partial was built with: a corrected start on the same sink
    and checkpoint replaces it and folds everything."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import agg_insert, read_agg

    src, schema, _ = events_dir
    stream = file_stream_reader(spark, src, schema, max_files_per_trigger=1)
    sink, ckpt = str(tmp_path / "aggsink"), str(tmp_path / "ckpt")
    q = agg_insert(stream, sink, ckpt, group_cols=["event_type"],
                   agg_exprs={"total": "avg(value)"}, trigger_once=True)
    with pytest.raises(Exception, match="decomposable|avg"):
        q.awaitTermination(60)
        raise RuntimeError("expected stream failure for avg")
    _drain(agg_insert(stream, sink, ckpt, group_cols=["event_type"],
                      agg_exprs={"total": "sum(value)"}, trigger_once=True))
    got = {r.event_type: round(r.total, 6) for r in read_agg(spark, sink).collect()}
    want = {
        r.event_type: round(r.total, 6)
        for r in spark.read.parquet(src).groupBy("event_type")
        .agg(F.sum("value").alias("total")).collect()
    }
    assert got == want


def test_agg_insert_rejects_nondecomposable(spark, tmp_path, events_dir):
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import agg_insert

    src, schema, _ = events_dir
    stream = file_stream_reader(spark, src, schema, max_files_per_trigger=3)
    q = agg_insert(
        stream, str(tmp_path / "s"), str(tmp_path / "c"),
        group_cols=["event_type"], agg_exprs={"bad": "avg(value)"},
        trigger_once=True,
    )
    with pytest.raises(Exception, match="decomposable|avg"):
        q.awaitTermination(60)
        raise RuntimeError("expected stream failure for avg")


def test_sketch_insert_heals_partial_epoch(spark, tmp_path, docs):
    """Crash window between the two writes of one epoch: if the rows
    committed but the sketch delta didn't (or vice versa), the replay
    writes ONLY the missing half — no token double-counts, no row
    duplicates."""
    import shutil

    from confluent_kafka_vector_search_prompt_inference_spark.operators.sketches import countmin_build
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        read_corpus_sketch,
        sketch_insert,
    )

    terms = docs.limit(30).select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
        ).alias("term"),
    )
    src = str(tmp_path / "src")
    terms.repartition(2).write.parquet(src)
    stream = file_stream_reader(spark, src, terms.schema, max_files_per_trigger=1)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = sketch_insert(
        stream, sink, ckpt, term_col="term", depth=2, width=64, trigger_once=True
    )
    _drain(q)

    # simulate the crash: epoch 0's sketch delta vanishes after the rows
    # committed (delete it + the streaming checkpoint commit so the epoch
    # re-runs)
    shutil.rmtree(os.path.join(sink, "_sketch", "_batch=0"))
    shutil.rmtree(ckpt)
    rows_before = read_sink(spark, sink).count()
    q2 = sketch_insert(
        stream, sink, str(tmp_path / "ckpt2"), term_col="term",
        depth=2, width=64, trigger_once=True,
    )
    _drain(q2)
    assert read_sink(spark, sink).count() == rows_before  # rows not duplicated
    healed = read_corpus_sketch(spark, sink)
    oneshot = countmin_build(read_sink(spark, sink), "term", depth=2, width=64)
    diff = (
        healed.withColumnRenamed("cnt", "c1")
        .join(oneshot, ["d", "bucket"], "full")
        .filter(F.coalesce("c1", F.lit(-1)) != F.coalesce("cnt", F.lit(-2)))
        .count()
    )
    assert diff == 0


def test_read_sink_increment_delivers_each_epoch_once(spark, tmp_path, events_dir):
    """Chained-pipeline consumption: each committed epoch is delivered
    exactly once across acknowledged reads; an unacknowledged read
    re-delivers (at-least-once), and new epochs arrive incrementally."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import read_sink_increment

    src, schema, n = events_dir
    sink = str(tmp_path / "sink")
    state = str(tmp_path / "consumer.json")
    q = continuous_insert(
        file_stream_reader(spark, src, schema, max_files_per_trigger=2),
        sink, str(tmp_path / "ckpt"), trigger_once=True,
    )
    _drain(q)

    df1, commit1 = read_sink_increment(spark, sink, state)
    n1 = df1.count()
    assert n1 > 0
    # crash before commit: re-read delivers the same rows again
    df_again, commit_again = read_sink_increment(spark, sink, state)
    assert df_again.count() == n1
    commit_again()
    # acknowledged: nothing new
    df2, _ = read_sink_increment(spark, sink, state)
    assert df2 is None

    # a new epoch lands -> only its rows are delivered
    extra = spark.read.parquet(src).limit(7)
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import idempotent_batch_writer

    idempotent_batch_writer(sink)(extra, 999)
    df3, commit3 = read_sink_increment(spark, sink, state)
    assert df3.count() == 7
    commit3()
    df4, _ = read_sink_increment(spark, sink, state)
    assert df4 is None
    assert n1 == n  # first read saw everything the stream landed


def test_continuous_insert_dead_letter_routing(spark, tmp_path, events_dir):
    """Rows failing validation land in the DLQ sink (replayable, same
    epoch contract); valid rows flow through the transform to the main
    sink; nothing is lost and nothing is duplicated on replay."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import continuous_insert, read_sink

    src, schema, n = events_dir
    sink = str(tmp_path / "sink")
    dlq = str(tmp_path / "dlq")
    ckpt = str(tmp_path / "ckpt")
    ok_pred = F.col("value") >= 0
    q = continuous_insert(
        file_stream_reader(spark, src, schema, max_files_per_trigger=1),
        sink, ckpt,
        transform=lambda df: df.select("event_id", "user_id", "value"),
        validate=ok_pred,
        dead_letter_dir=dlq,
        trigger_once=True,
    )
    _drain(q)
    ev = spark.read.parquet(src)
    n_bad = ev.filter(~F.coalesce(ok_pred, F.lit(False))).count()
    good = read_sink(spark, sink)
    assert good.count() == n - n_bad
    assert set(good.columns) == {"event_id", "user_id", "value"}
    if n_bad:
        bad = read_sink(spark, dlq)
        assert bad.count() == n_bad
        assert set(bad.columns) == set(ev.columns)  # DLQ keeps raw rows

    # replay: neither sink grows
    q2 = continuous_insert(
        file_stream_reader(spark, src, schema, max_files_per_trigger=1),
        sink, ckpt,
        transform=lambda df: df.select("event_id", "user_id", "value"),
        validate=ok_pred,
        dead_letter_dir=dlq,
        trigger_once=True,
    )
    _drain(q2)
    assert read_sink(spark, sink).count() == n - n_bad

    import pytest as _pytest

    with _pytest.raises(ValueError, match="dead_letter_dir"):
        continuous_insert(
            file_stream_reader(spark, src, schema), sink, ckpt, validate=ok_pred
        )


def test_sink_profile_by_epoch(spark, tmp_path, events_dir):
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import sink_profile_by_epoch

    src, schema, n = events_dir
    sink = str(tmp_path / "sink")
    q = continuous_insert(
        file_stream_reader(spark, src, schema, max_files_per_trigger=1),
        sink, str(tmp_path / "ckpt"), trigger_once=True,
    )
    _drain(q)
    prof = sink_profile_by_epoch(spark, sink, columns=["user_id", "value"])
    rows = prof.collect()
    assert len(rows) == 3  # three micro-batches
    assert sum(r.n_rows for r in rows) == n
    for r in rows:
        assert r["user_id__nulls"] == 0
        assert r["user_id__ndv"] > 0


def test_chained_pipelines_exactly_once(spark, tmp_path, events_dir):
    """Two-stage chain: stage 1 is a continuous insert; stage 2 consumes
    incrementally (read_sink_increment) and lands into its OWN idempotent
    epoch sink. A crash between stage-2's write and its ack re-delivers,
    and the idempotent downstream write turns the at-least-once delivery
    into exactly-once — no row lost, none duplicated."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        idempotent_batch_writer,
        read_sink_increment,
    )

    src, schema, n = events_dir
    s1 = str(tmp_path / "stage1")
    s2 = str(tmp_path / "stage2")
    state = str(tmp_path / "consume.json")
    q = continuous_insert(
        file_stream_reader(spark, src, schema, max_files_per_trigger=1),
        s1, str(tmp_path / "ckpt"), trigger_once=True,
    )
    _drain(q)

    write2 = idempotent_batch_writer(s2)

    def stage2_once(epoch: int, ack: bool) -> None:
        df, commit = read_sink_increment(spark, s1, state)
        if df is None:
            return
        write2(df.select("event_id", "user_id"), epoch)
        if ack:
            commit()

    # first attempt writes downstream but CRASHES before the ack
    stage2_once(epoch=0, ack=False)
    # retry: same epochs re-delivered; idempotent write skips; ack lands
    stage2_once(epoch=0, ack=True)
    out = read_sink(spark, s2)
    assert out.count() == n
    assert out.select("event_id").distinct().count() == n
    # nothing left to consume
    df, _ = read_sink_increment(spark, s1, state)
    assert df is None


def test_streaming_positional_index_phrase_matches_batch(spark, tmp_path, docs):
    """Documents land batch by batch into the positional index; phrase +
    NEAR search over the committed epochs equal the batch operators over
    the full corpus."""
    from confluent_kafka_vector_search_prompt_inference_spark.operators.bm25 import phrase_search, proximity_search
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        phrase_search_streamed,
        positional_index_insert,
        proximity_search_streamed,
    )

    corpus = docs.select("doc_id", "text").limit(200)
    src = str(tmp_path / "pdocs")
    corpus.repartition(4).write.parquet(src)  # 4 files → 4 micro-batches
    stream = file_stream_reader(
        spark, src, corpus.schema, max_files_per_trigger=1
    )
    idx = str(tmp_path / "posidx")
    q = positional_index_insert(
        stream, idx, str(tmp_path / "posckpt"), trigger_once=True
    )
    _drain(q)
    import glob as g
    assert len(g.glob(os.path.join(idx, "_batch=*", "_SUCCESS"))) >= 2

    pq = corpus.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(
            F.slice(F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "), 1, 3),
            " ",
        ).alias("query_text"),
    )
    got = phrase_search_streamed(spark, idx, pq, k=10).toPandas()
    want = phrase_search(corpus, pq, k=10).toPandas()
    key = ["query_id", "doc_id", "n_matches", "rank"]
    import pandas as pd
    pd.testing.assert_frame_equal(
        got[key].sort_values(key).reset_index(drop=True),
        want[key].sort_values(key).reset_index(drop=True),
    )

    nq = corpus.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.element_at(F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "), 1).alias("term1"),
        F.element_at(F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "), 4).alias("term2"),
    )
    got_n = proximity_search_streamed(spark, idx, nq, k=10, max_span=20).toPandas()
    want_n = proximity_search(corpus, nq, k=10, max_span=20).toPandas()
    keyn = ["query_id", "doc_id", "min_span", "rank"]
    pd.testing.assert_frame_equal(
        got_n[keyn].sort_values(keyn).reset_index(drop=True),
        want_n[keyn].sort_values(keyn).reset_index(drop=True),
    )


def test_near_dedup_bucket_store_maintained_and_healed(spark, tmp_path):
    """Round 6: the landed-side join reads a materialized (id, bucket)
    store, one delta per committed epoch. The stream maintains it; a
    sink missing deltas (pre-upgrade layout, or a crash between the
    epoch's two writes) is backfilled on the next batch — and the
    dedup verdicts are identical either way."""
    import os
    import shutil

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import near_dedup_insert

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun"
    )
    third = (
        "schema registries attach late bound data contracts to kafka "
        "topics so raw bytes decode into typed streaming tables"
    )
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = str(tmp_path / "src")
    sink = str(tmp_path / "ndsink")
    ckpt = str(tmp_path / "ndckpt")
    spark.createDataFrame([(1, base)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = near_dedup_insert(
        file_stream_reader(spark, src, schema), sink, ckpt,
        id_col="doc_id", text_col="text", threshold=0.5, trigger_once=True,
    )
    _drain(q)
    # epoch 0's bucket delta exists beside the rows
    assert os.path.exists(os.path.join(sink, "_buckets", "_batch=0", "_SUCCESS"))

    # simulate a pre-upgrade sink / crashed second write: delete the store
    shutil.rmtree(os.path.join(sink, "_buckets"))
    # next batch: doc 4 near-copies LANDED doc 1 (only detectable via the
    # healed store), doc 5 is new
    spark.createDataFrame(
        [(4, base.replace("quick", "swift")), (5, third)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    q = near_dedup_insert(
        file_stream_reader(spark, src, schema), sink, ckpt,
        id_col="doc_id", text_col="text", threshold=0.5, trigger_once=True,
    )
    _drain(q)
    landed = {r.doc_id for r in read_sink(spark, sink).collect()}
    assert landed == {1, 5}, landed  # 4 dropped via the backfilled store
    # store healed: a delta per committed epoch
    for eid in (0, 1):
        assert os.path.exists(
            os.path.join(sink, "_buckets", f"_batch={eid}", "_SUCCESS")
        )


@pytest.mark.slow
def test_bucket_store_partitioned_pruned_and_compacted(spark, tmp_path):
    """Round 7: the near-dedup history store is (a) hash-partitioned by
    __bpart with the count pinned in _meta.json, (b) read PRUNED to the
    incoming batch's partitions (plan-asserted), (c) folded by
    compact_sink into a bounded directory count with absorbed epochs
    recorded in _folded_epochs.json — and near-dups of FOLDED history
    are still caught."""
    import glob
    import json
    import os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from confluent_kafka_vector_search_prompt_inference_spark.plans import formatted_plan
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        near_dedup_insert,
        read_bucket_store,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun",
        "schema registries attach late bound data contracts to kafka "
        "topics so raw bytes decode into typed streaming tables",
        "partition pruning reads only the directories a filter names "
        "which keeps history probes constant as the landed store grows",
        "minhash signatures approximate jaccard similarity by keeping "
        "the smallest hash of every shingle under many permutations",
    ]
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    buckets = os.path.join(sink, "_buckets")

    def run_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = near_dedup_insert(
            file_stream_reader(spark, src, schema),
            sink, str(tmp_path / "ckpt"),
            id_col="doc_id", text_col="text", threshold=0.5,
            bucket_partitions=8, compact_every=2, trigger_once=True,
        )
        _drain(q)

    run_batch([(1, texts[0])])
    run_batch([(2, texts[1])])
    run_batch([(3, texts[2])])

    # (a) pinned meta; the COMPACTED base is __bpart-partitioned while
    # live deltas stay flat (one file, __bpart as a sorted data column —
    # the per-epoch partitioned write measured ~2 s/micro-batch of pure
    # constant factor, see write_bucket_delta)
    with open(os.path.join(buckets, "_meta.json")) as fh:
        assert json.load(fh)["num_partitions"] == 8
    parted = glob.glob(os.path.join(buckets, "_batch=*", "__bpart=*"))
    assert parted, "compacted bucket base is not __bpart-partitioned"
    newest = max(
        glob.glob(os.path.join(buckets, "_batch=*")),
        key=lambda d: int(d.rsplit("=", 1)[1]),
    )
    assert not glob.glob(os.path.join(newest, "__bpart=*")), (
        "live delta should be flat (partitioned writes belong to compaction)"
    )

    # (b) a pruned read lists only the named partitions
    plan = formatted_plan(read_bucket_store(spark, buckets, "doc_id", parts=[0, 3]))
    assert "PartitionFilters" in plan and "__bpart" in plan.split(
        "PartitionFilters", 1
    )[1][:300], plan
    full = read_bucket_store(spark, buckets, "doc_id").count()
    pruned = read_bucket_store(
        spark, buckets, "doc_id", parts=list(range(4))
    ).count()
    assert 0 < pruned < full

    # (c) compaction bounded the dir count and recorded absorbed epochs
    # as RANGES (one [lo, hi] per contiguous run, not one int per epoch)
    dirs = sorted(glob.glob(os.path.join(buckets, "_batch=*")))
    assert len(dirs) <= 3, dirs  # compact_every=2 folds the tail
    sidecars = glob.glob(os.path.join(buckets, "_batch=*", "_folded_epochs.json"))
    assert sidecars, "compacted base lost its folded-epoch record"
    payload = json.load(open(sidecars[0]))
    assert "ranges" in payload, payload
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import covered_bucket_epochs

    assert len(covered_bucket_epochs(buckets)) >= 3

    # folded history still dedups: a near-copy of epoch 0's doc drops,
    # and a fresh doc lands
    run_batch([(9, texts[0].replace("quick", "swift")), (10, texts[3])])
    landed = {r.doc_id for r in read_sink(spark, sink).collect()}
    assert landed == {1, 2, 3, 10}, landed


def test_bucket_store_flat_layout_migrates(spark, tmp_path):
    """A pre-upgrade flat bucket delta (no __bpart COLUMN) is rewritten
    in place with the column the pruned read filters on — heal, don't
    crash, and the migrated history still catches its near-dups. Deltas
    are flat by design now; only the missing column marks pre-upgrade."""
    import glob
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from confluent_kafka_vector_search_prompt_inference_spark.operators.dedup import minhash_signatures
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        band_buckets,
        near_dedup_insert,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun"
    )
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    sink = str(tmp_path / "sink")
    buckets = os.path.join(sink, "_buckets")
    # pre-land epoch -1 rows + a FLAT (pre-upgrade) bucket delta
    landed = spark.createDataFrame([(1, base)], schema)
    sigs = minhash_signatures(landed, "doc_id", "text", num_hashes=64)
    keyed = landed.join(sigs.withColumnRenamed("minhash", "__minhash"), "doc_id")
    keyed.coalesce(1).write.parquet(os.path.join(sink, "_batch=-1"))
    keyed.select(
        "doc_id",
        F.explode(
            band_buckets(F.col("__minhash"), num_hashes=64, bands=16)
        ).alias("__bucket"),
    ).coalesce(1).write.parquet(os.path.join(buckets, "_batch=-1"))
    assert not glob.glob(os.path.join(buckets, "_batch=-1", "__bpart=*"))

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(4, base.replace("quick", "swift"))], schema
    ).coalesce(1).write.parquet(src)
    q = near_dedup_insert(
        file_stream_reader(spark, src, schema), sink, str(tmp_path / "ckpt"),
        id_col="doc_id", text_col="text", threshold=0.5, trigger_once=True,
    )
    _drain(q)
    # migrated in place: still flat (no partition dirs) but now carrying
    # the __bpart data column the pruned read filters on
    assert not glob.glob(os.path.join(buckets, "_batch=-1", "__bpart=*"))
    assert "__bpart" in spark.read.parquet(
        os.path.join(buckets, "_batch=-1")
    ).columns
    # ...and the near-copy of the pre-landed doc was dropped through it
    landed_ids = {r.doc_id for r in read_sink(spark, sink).collect()}
    assert landed_ids == {1}, landed_ids


def test_bucket_delta_layouts_read_identically(spark, tmp_path):
    """write_bucket_delta's two layouts — flat live delta vs partitioned
    base (the ladder's pre-land shape) — are pure physical variants: the
    same rows come back through read_bucket_store, pruned or not, and
    only the partitioned layout carries __bpart directories."""
    import glob
    import os

    from pyspark.sql import functions as F

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        bucket_store_partitions,
        read_bucket_store,
        write_bucket_delta,
    )

    delta = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.xxhash64("id").alias("__bucket"),
    )
    flat_dir = str(tmp_path / "flat")
    part_dir = str(tmp_path / "part")
    write_bucket_delta(
        delta, flat_dir, 0,
        num_partitions=bucket_store_partitions(flat_dir, 8),
    )
    write_bucket_delta(
        delta, part_dir, 0,
        num_partitions=bucket_store_partitions(part_dir, 8),
        layout="partitioned",
    )
    assert not glob.glob(os.path.join(flat_dir, "_batch=0", "__bpart=*"))
    assert glob.glob(os.path.join(part_dir, "_batch=0", "__bpart=*"))
    # one file per flat epoch; one file per partition dir in the base
    assert len(glob.glob(os.path.join(flat_dir, "_batch=0", "*.parquet"))) == 1
    for d in glob.glob(os.path.join(part_dir, "_batch=0", "__bpart=*")):
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1

    full_flat = {
        (r["doc_id"], r["__bucket"])
        for r in read_bucket_store(spark, flat_dir, "doc_id").collect()
    }
    full_part = {
        (r["doc_id"], r["__bucket"])
        for r in read_bucket_store(spark, part_dir, "doc_id").collect()
    }
    assert full_flat == full_part and len(full_flat) == 200
    pruned_flat = {
        (r["doc_id"], r["__bucket"])
        for r in read_bucket_store(spark, flat_dir, "doc_id", parts=[0, 3]).collect()
    }
    pruned_part = {
        (r["doc_id"], r["__bucket"])
        for r in read_bucket_store(spark, part_dir, "doc_id", parts=[0, 3]).collect()
    }
    assert pruned_flat == pruned_part
    assert 0 < len(pruned_part) < 200


def _bucket_rows(spark, store):
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import read_bucket_store

    return {
        (r["doc_id"], r["__bucket"])
        for r in read_bucket_store(spark, store, "doc_id").collect()
    }


def _land_bucket_epochs(spark, store, epochs, *, rows_per_epoch=40, n_parts=8):
    """Land one flat delta per epoch through the writer's own helper."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        bucket_store_partitions,
        write_bucket_delta,
    )

    n = bucket_store_partitions(store, n_parts)
    for e in epochs:
        delta = spark.range(rows_per_epoch).select(
            (F.col("id") + e * rows_per_epoch).alias("doc_id"),
            F.xxhash64("id", F.lit(e)).alias("__bucket"),
        )
        write_bucket_delta(delta, store, e, num_partitions=n)


def test_tiered_compact_folds_tail_without_refolding_base(spark, tmp_path):
    """Round 8: tiered compaction folds ONLY the flat tail into a new
    run; an established (larger) base run is left byte-identical — the
    round-7 full refold rewrote the entire store every trigger. Absorbed
    epochs survive as range sidecars and the reader sees the same rows
    throughout."""
    import json

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        _is_compacted_run,
        covered_bucket_epochs,
        tiered_compact_sink,
    )

    store = str(tmp_path / "buckets")
    # a big established base: epochs 0-9 (400 rows each) fold into one run
    _land_bucket_epochs(spark, store, range(10), rows_per_epoch=400)
    tiered_compact_sink(spark, store, keep_batches=1, partition_by=["__bpart"])
    base = os.path.join(store, "_batch=0")
    assert _is_compacted_run(base)
    with open(os.path.join(base, "_folded_epochs.json")) as fh:
        assert json.load(fh)["ranges"] == [[0, 8]]  # keep_batches spared 9
    base_stat = {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(os.path.join(base, "**", "*.parquet"), recursive=True)
    }
    before = _bucket_rows(spark, store)

    # SMALL tails land across two more triggers: each folds into its own
    # (or a merged small) run; the big base is NEVER rewritten
    _land_bucket_epochs(spark, store, range(10, 13), rows_per_epoch=10)
    tiered_compact_sink(spark, store, keep_batches=1, partition_by=["__bpart"])
    _land_bucket_epochs(spark, store, range(13, 16), rows_per_epoch=10)
    tiered_compact_sink(spark, store, keep_batches=1, partition_by=["__bpart"])

    after_stat = {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(os.path.join(base, "**", "*.parquet"), recursive=True)
    }
    assert after_stat == base_stat, "tiered compaction rewrote the base run"
    runs = [
        d
        for d in glob.glob(os.path.join(store, "_batch=*"))
        if _is_compacted_run(d)
    ]
    assert 2 <= len(runs) <= 3, runs  # base + O(log) small runs
    assert covered_bucket_epochs(store) == set(range(16))
    rows = _bucket_rows(spark, store)
    assert before <= rows and len(rows) == 10 * 400 + 6 * 10


def test_tiered_compact_eventually_merges_into_base(spark, tmp_path):
    """When accumulated small runs grow to within fanout× of the base,
    the geometric pass merges them — run count stays O(log history)."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        _is_compacted_run,
        covered_bucket_epochs,
        tiered_compact_sink,
    )

    store = str(tmp_path / "buckets")
    _land_bucket_epochs(spark, store, range(3), rows_per_epoch=20)
    tiered_compact_sink(spark, store, keep_batches=1, partition_by=["__bpart"])
    before = _bucket_rows(spark, store)
    # land tails of the SAME size class repeatedly; each fold should
    # cascade-merge rather than accumulate one run per trigger
    for start in (3, 6, 9, 12):
        _land_bucket_epochs(spark, store, range(start, start + 3), rows_per_epoch=20)
        tiered_compact_sink(spark, store, keep_batches=1, partition_by=["__bpart"])
    runs = [
        d
        for d in glob.glob(os.path.join(store, "_batch=*"))
        if _is_compacted_run(d)
    ]
    assert len(runs) <= 3, runs
    assert covered_bucket_epochs(store) == set(range(15))
    rows = _bucket_rows(spark, store)
    assert before <= rows and len(rows) == 15 * 20


def test_tiered_compact_recovers_crashed_merge(spark, tmp_path):
    """A die-mid-merge leaves either garbage tmp (sources intact) or a
    fully-written tmp + manifest (publish pending); the next call heals
    both and the reader never sees duplicated or lost rows."""
    import shutil

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        _recover_pending_fold,
        tiered_compact_sink,
    )

    store = str(tmp_path / "buckets")
    _land_bucket_epochs(spark, store, range(6))
    all_rows = _bucket_rows(spark, store)

    # crash A: tmp written WITHOUT manifest (mid-write) → discarded
    tmp = os.path.join(store, "_compact_tmp")
    os.makedirs(tmp)
    open(os.path.join(tmp, "part-garbage.parquet"), "a").close()
    tiered_compact_sink(spark, store, keep_batches=1, partition_by=["__bpart"])
    assert not os.path.exists(tmp)
    assert _bucket_rows(spark, store) == all_rows

    # crash B: a fold fully wrote tmp + manifest but died before publish
    # — simulate by moving the freshly-folded run back out as tmp
    run = os.path.join(store, "_batch=0")
    manifest_sources = ["_batch=0"]  # the run IS the folded product of 0..4
    shutil.move(run, tmp)
    import json

    with open(os.path.join(tmp, "_fold_manifest.json"), "w") as fh:
        json.dump(manifest_sources, fh)
    _recover_pending_fold(store)
    assert os.path.exists(run) and not os.path.exists(tmp)
    assert _bucket_rows(spark, store) == all_rows


def test_rebucket_bucket_store_migrates_partition_count(spark, tmp_path):
    """Round 8: rebucket re-mods __bpart to a larger N (the saturated-
    regime escape SCALING.md prescribes), atomically updates _meta.json,
    keeps rows identical, keeps the newest epoch replayable, and the
    pruned read plans directory-level pruning at the NEW N."""
    import json

    from confluent_kafka_vector_search_prompt_inference_spark.plans import formatted_plan
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        bucket_store_partitions,
        covered_bucket_epochs,
        read_bucket_store,
        rebucket_bucket_store,
        tiered_compact_sink,
    )

    store = str(tmp_path / "buckets")
    _land_bucket_epochs(spark, store, range(6), n_parts=4)
    tiered_compact_sink(spark, store, keep_batches=1, partition_by=["__bpart"])
    before = _bucket_rows(spark, store)

    n = rebucket_bucket_store(spark, store, 32)
    assert n == 2  # one run + the kept newest epoch
    assert bucket_store_partitions(store, 4) == 32
    with open(os.path.join(store, "_meta.json")) as fh:
        assert json.load(fh)["num_partitions"] == 32
    assert _bucket_rows(spark, store) == before
    assert covered_bucket_epochs(store) == set(range(6))
    # newest epoch still its own committed dir (idempotent replay guard)
    assert os.path.exists(os.path.join(store, "_batch=5", "_SUCCESS"))
    # stored __bpart matches the new modulus everywhere (per-leg raw
    # reads — read_bucket_store projects __bpart away, and the two
    # layouts can't share one read)
    for d in sorted(glob.glob(os.path.join(store, "_batch=*"))):
        raw = spark.read.option("basePath", store).parquet(d)
        assert (
            raw.filter(
                F.col("__bpart")
                != F.pmod(F.col("__bucket"), F.lit(32)).cast("int")
            ).count()
            == 0
        ), d
    # pruned read prunes at the new N (directory listing level)
    plan = formatted_plan(read_bucket_store(spark, store, "doc_id", parts=[0, 17]))
    assert "PartitionFilters" in plan and "__bpart" in plan.split(
        "PartitionFilters", 1
    )[1][:300], plan
    full = read_bucket_store(spark, store, "doc_id").count()
    pruned = read_bucket_store(spark, store, "doc_id", parts=[0, 17]).count()
    assert 0 < pruned < full


def test_rebucket_bucket_store_heals_crashes(spark, tmp_path):
    """Crash before the marker → live store untouched, re-run succeeds.
    Crash between the swap renames → next call finishes the publish."""
    import shutil

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        bucket_store_partitions,
        rebucket_bucket_store,
        tiered_compact_sink,
    )

    store = str(tmp_path / "buckets")
    _land_bucket_epochs(spark, store, range(4), n_parts=4)
    tiered_compact_sink(spark, store, keep_batches=1, partition_by=["__bpart"])
    before = _bucket_rows(spark, store)

    # crash A: half-written tmp, no marker — store stays on old N
    tmp = store + "__rebucket_tmp"
    os.makedirs(tmp)
    open(os.path.join(tmp, "junk.parquet"), "a").close()
    rebucket_bucket_store(spark, store, 16)
    assert bucket_store_partitions(store, 4) == 16
    assert _bucket_rows(spark, store) == before

    # crash B: committed tmp, store renamed away, second rename missed
    rebucket_done = store + "__rebucket_tmp"
    shutil.move(store, rebucket_done)
    open(os.path.join(rebucket_done, "_REBUCKET_COMMITTED"), "a").close()
    rebucket_bucket_store(spark, store, 16)
    assert os.path.isdir(store) and not os.path.exists(rebucket_done)
    assert bucket_store_partitions(store, 4) == 16
    assert _bucket_rows(spark, store) == before


@pytest.mark.slow
def test_near_dedup_still_catches_dups_after_rebucket(spark, tmp_path):
    """End-to-end: a store rebucketed to a larger N keeps catching
    near-dups of folded history through the stream's own pruned read."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        near_dedup_insert,
        rebucket_bucket_store,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun"
    )
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")

    def run_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = near_dedup_insert(
            file_stream_reader(spark, src, schema),
            sink, str(tmp_path / "ckpt"),
            id_col="doc_id", text_col="text", threshold=0.5,
            bucket_partitions=4, compact_every=1, trigger_once=True,
        )
        _drain(q)

    run_batch([(1, base)])
    run_batch([(2, "schema registries attach late bound data contracts "
                   "to kafka topics so raw bytes decode into typed tables")])
    rebucket_bucket_store(spark, os.path.join(sink, "_buckets"), 64)
    # near-copy of FOLDED + REBUCKETED history must still drop
    run_batch([(9, base.replace("quick", "swift"))])
    landed = {r.doc_id for r in read_sink(spark, sink).collect()}
    assert landed == {1, 2}, landed


def test_rag_streaming_warns_past_exact_lane_crossover(spark, docs, monkeypatch):
    """Round 8: preparing the exact broadcast lane over a corpus past the
    measured crossover warns (point the user at vector_index=); under it,
    silence. Threshold monkeypatched small so the test corpus is tiny."""
    import warnings

    from confluent_kafka_vector_search_prompt_inference_spark.streaming import rag as rag_mod

    registry = ModelRegistry()
    registry.create_model("vector_encoding", "embedding", HashingEmbedder(dim=8))
    registry.create_model("retail_assistant", "text_generation", TemplateLLM())
    corpus = registry.ml_predict(
        docs.select(
            F.col("doc_id").alias("product_id"), F.col("text").alias("content")
        ),
        "vector_encoding",
        "content",
    )
    pipe = RagPipeline(registry, k=2)

    monkeypatch.setattr(rag_mod, "EXACT_LANE_CROSSOVER_ROWS", 5)
    with pytest.warns(UserWarning, match="vector_index"):
        t = pipe.streaming_transform(corpus)
    if t.prepared is not None:
        t.prepared.unpersist()

    monkeypatch.setattr(rag_mod, "EXACT_LANE_CROSSOVER_ROWS", 10_000_000)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        t = pipe.streaming_transform(corpus)
    if t.prepared is not None:
        t.prepared.unpersist()


def test_committed_batch_dirs_sort_numerically(tmp_path):
    """Regression (round 8 review): the round-8 refactor pointed the
    compaction entry points at this helper, whose lexicographic sort
    ranks ``_batch=9`` after ``_batch=16`` — the "keep the newest"
    slice would fold the true newest epoch and break idempotent
    replay once ids pass one digit."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import _committed_batch_dirs

    store = str(tmp_path / "sink")
    for e in (0, 2, 9, 10, 16):
        d = os.path.join(store, f"_batch={e}")
        os.makedirs(d)
        open(os.path.join(d, "_SUCCESS"), "a").close()
    got = [int(d.rsplit("=", 1)[1]) for d in _committed_batch_dirs(store)]
    assert got == [0, 2, 9, 10, 16]


def test_tiered_compact_keeps_numerically_newest_epoch(spark, tmp_path):
    """With double-digit epoch ids in the tail, keep_batches must spare
    the true newest epoch (12), not the lexicographically-last (9)."""
    import json

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        _is_compacted_run,
        tiered_compact_sink,
    )

    store = str(tmp_path / "buckets")
    _land_bucket_epochs(spark, store, range(8, 13), rows_per_epoch=10)
    tiered_compact_sink(spark, store, keep_batches=1, partition_by=["__bpart"])
    newest = os.path.join(store, "_batch=12")
    assert os.path.exists(os.path.join(newest, "_SUCCESS"))
    assert not _is_compacted_run(newest)  # spared — replay stays a no-op
    with open(os.path.join(store, "_batch=8", "_folded_epochs.json")) as fh:
        assert json.load(fh)["ranges"] == [[8, 11]]


def test_rebucket_recovery_still_applies_requested_n(spark, tmp_path):
    """Regression (round 8 review): finishing a crashed PREVIOUS rebucket
    (committed tmp at its old target N) must not swallow the CURRENT
    call's different new_partitions — the caller would believe the
    store migrated while every pruned read kept the old N."""
    import shutil

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        bucket_store_partitions,
        rebucket_bucket_store,
        tiered_compact_sink,
    )

    store = str(tmp_path / "buckets")
    _land_bucket_epochs(spark, store, range(4), n_parts=4)
    tiered_compact_sink(spark, store, keep_batches=1, partition_by=["__bpart"])
    before = _bucket_rows(spark, store)
    rebucket_bucket_store(spark, store, 16)

    # simulate a crash between the two swap renames of a rebucket-to-16
    tmp = store + "__rebucket_tmp"
    shutil.move(store, tmp)
    open(os.path.join(tmp, "_REBUCKET_COMMITTED"), "a").close()

    # the NEXT call asks for 64: recovery publishes the pending 16-store,
    # then must fall through and perform the requested 16 -> 64 migration
    rebucket_bucket_store(spark, store, 64)
    assert bucket_store_partitions(store, 4) == 64
    assert _bucket_rows(spark, store) == before
    # the data columns were actually re-modded to the requested N: with
    # xxhash64 buckets, pmod 64 occupies parts >= 16 w.h.p. on 160 rows
    parts = set()
    for d in glob.glob(os.path.join(store, "_batch=*")):
        # runs are __bpart-partitioned, the kept tail is flat — read each
        # dir alone (a mixed-depth read raises CONFLICTING_PARTITION names)
        for r in (
            spark.read.option("basePath", d).parquet(d)
            .select("__bpart").distinct().collect()
        ):
            parts.add(r["__bpart"])
    assert all(0 <= p < 64 for p in parts)
    assert any(p >= 16 for p in parts)


def test_bloom_insert_maintains_corpus_bloom(spark, tmp_path):
    """bloom_insert lands rows AND a per-epoch bloom delta; the merged
    filter equals the one-shot bloom over everything landed (OR merge
    law), replay flips no bit, compacting the _bloom dir changes no
    bit, and every landed key tests positive — the no-false-negative
    theorem surviving epochs, folds, and replay."""
    from confluent_kafka_vector_search_prompt_inference_spark.operators.membership import bloom_build, bloom_contains
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        bloom_insert,
        compact_sink,
        read_corpus_bloom,
    )

    m_bits, kk = 2048, 4
    keys = spark.range(0, 120).select(F.concat(F.lit("url-"), F.col("id")).alias("k"))
    src = str(tmp_path / "src")
    keys.repartition(3).write.parquet(src)
    stream = file_stream_reader(spark, src, keys.schema, max_files_per_trigger=1)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = bloom_insert(stream, sink, ckpt, key_col="k", m_bits=m_bits, k=kk, trigger_once=True)
    _drain(q)

    landed = read_sink(spark, sink)
    assert landed.count() == 120
    streamed = read_corpus_bloom(spark, sink)
    oneshot = bloom_build(landed, "k", m_bits=m_bits, k=kk)
    assert streamed.exceptAll(oneshot).count() == 0
    assert oneshot.exceptAll(streamed).count() == 0

    # replay: restarting over the same source flips no bit
    q2 = bloom_insert(stream, sink, ckpt, key_col="k", m_bits=m_bits, k=kk, trigger_once=True)
    _drain(q2)
    assert read_corpus_bloom(spark, sink).exceptAll(oneshot).count() == 0

    # compacting the delta dir preserves the merged filter bit for bit
    folded = compact_sink(spark, os.path.join(sink, "_bloom"), keep_batches=1)
    assert folded >= 1
    after = read_corpus_bloom(spark, sink)
    assert after.exceptAll(oneshot).count() == 0
    assert oneshot.exceptAll(after).count() == 0

    # no false negatives across the whole landed history
    flagged = bloom_contains(after, landed, "k", m_bits=m_bits, k=kk)
    assert flagged.filter(~F.col("bloom_member")).count() == 0


def test_kmv_insert_maintains_corpus_distinct_sketch(spark, tmp_path):
    """kmv_insert lands rows AND a per-epoch KMV delta; the merged
    sketch equals the one-shot sketch over everything landed (bottom-k
    merge law), replay changes nothing (hash dedup collapses identical
    deltas), compaction preserves the sketch, and the distinct estimate
    is EXACT below k despite duplicate keys arriving across epochs."""
    from confluent_kafka_vector_search_prompt_inference_spark.operators.membership import kmv_distinct, kmv_sketch
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        compact_sink,
        kmv_insert,
        read_corpus_kmv,
    )

    k = 64
    # 90 distinct keys, each arriving twice (across different files ->
    # different epochs), so cross-epoch dedup is actually exercised
    keys = (
        spark.range(0, 90)
        .select(F.concat(F.lit("key-"), F.col("id")).alias("u"))
        .unionByName(
            spark.range(0, 90).select(F.concat(F.lit("key-"), F.col("id")).alias("u"))
        )
    )
    src = str(tmp_path / "src")
    keys.repartition(4).write.parquet(src)
    stream = file_stream_reader(spark, src, keys.schema, max_files_per_trigger=1)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = kmv_insert(stream, sink, ckpt, key_col="u", k=k, trigger_once=True)
    _drain(q)

    landed = read_sink(spark, sink)
    assert landed.count() == 180
    streamed = read_corpus_kmv(spark, sink, k=k)
    oneshot = kmv_sketch(landed, "u", k=k)
    assert streamed.exceptAll(oneshot).count() == 0
    assert oneshot.exceptAll(streamed).count() == 0

    # replay: restarting over the same source changes nothing
    q2 = kmv_insert(stream, sink, ckpt, key_col="u", k=k, trigger_once=True)
    _drain(q2)
    assert read_corpus_kmv(spark, sink, k=k).exceptAll(oneshot).count() == 0

    # folding the delta dir preserves the merged sketch row for row
    folded = compact_sink(spark, os.path.join(sink, "_kmv"), keep_batches=1)
    assert folded >= 1
    after = read_corpus_kmv(spark, sink, k=k)
    assert after.exceptAll(oneshot).count() == 0
    assert oneshot.exceptAll(after).count() == 0

    # 90 distinct > k=64 (estimator regime), despite every key arriving
    # twice — cross-epoch duplicates collapsed
    est = kmv_distinct(after, k=k).collect()[0]
    assert not est.is_exact
    assert abs(est.n_distinct_est / 90 - 1) <= 4 / (k - 2) ** 0.5


def test_quantile_insert_maintains_corpus_quantile_sketch(spark, tmp_path):
    """quantile_insert lands rows AND a per-epoch bottom-m delta; the
    merged sketch equals the one-shot sketch over everything landed,
    replay changes nothing, and compacting the delta dir leaves every
    estimate identical."""
    from confluent_kafka_vector_search_prompt_inference_spark.operators.sketches import (
        quantile_sketch_build,
        sample_quantiles,
    )
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        compact_sink,
        quantile_insert,
        read_corpus_quantile_sketch,
    )

    rows = spark.range(3_000).select(
        F.col("id").alias("key"),
        (F.xxhash64("id") % 997).cast("double").alias("v"),
    )
    src = str(tmp_path / "src")
    rows.repartition(3).write.parquet(src)
    stream = file_stream_reader(spark, src, rows.schema, max_files_per_trigger=1)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = quantile_insert(
        stream, sink, ckpt, value_col="v", key_col="key", m=128, trigger_once=True
    )
    _drain(q)

    landed = read_sink(spark, sink)
    assert landed.count() == 3_000
    key = lambda df: sorted((r["__h"], r["val"]) for r in df.collect())  # noqa: E731
    streamed = read_corpus_quantile_sketch(spark, sink, m=128)
    oneshot = quantile_sketch_build(landed, "v", "key", m=128)
    assert key(streamed) == key(oneshot)

    # replay with a FRESH checkpoint: every epoch re-fires and must hit
    # the skip-if-committed path on both writes (a same-checkpoint rerun
    # would process zero batches and assert nothing)
    import shutil

    shutil.rmtree(ckpt)
    q2 = quantile_insert(
        stream, sink, str(tmp_path / "ckpt2"), value_col="v", key_col="key",
        m=128, trigger_once=True,
    )
    _drain(q2)
    assert read_sink(spark, sink).count() == 3_000
    assert key(read_corpus_quantile_sketch(spark, sink, m=128)) == key(oneshot)

    # estimates survive compaction of the delta dir bit-for-bit
    before = {
        r.q: r.est
        for r in sample_quantiles(streamed, [0.1, 0.5, 0.9]).collect()
    }
    folded = compact_sink(spark, os.path.join(sink, "_qsketch"), keep_batches=1)
    assert folded >= 1
    after = {
        r.q: r.est
        for r in sample_quantiles(
            read_corpus_quantile_sketch(spark, sink, m=128), [0.1, 0.5, 0.9]
        ).collect()
    }
    assert before == after


@pytest.mark.slow
def test_prune_bucket_store_after_retention(spark, tmp_path):
    """Retention interplay: enforce_retention retires a sink epoch; the
    retired doc correctly stops suppressing near-dups (forgetting IS the
    semantics), but its bucket rows linger. prune_bucket_store drops
    exactly those rows; live history keeps deduping."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        enforce_retention,
        near_dedup_insert,
        prune_bucket_store,
    )

    old_text = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun"
    )
    new_text = (
        "schema registries attach late bound data contracts to kafka "
        "topics so raw bytes decode into typed tables for every consumer"
    )
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    buckets = os.path.join(sink, "_buckets")

    def run_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = near_dedup_insert(
            file_stream_reader(spark, src, schema),
            sink, str(tmp_path / "ckpt"),
            id_col="doc_id", text_col="text", threshold=0.5,
            bucket_partitions=4, compact_every=1, trigger_once=True,
        )
        _drain(q)

    run_batch([(1, old_text)])
    run_batch([(2, new_text)])

    removed = enforce_retention(sink, max_batches=1)
    assert removed == [0]  # doc 1's epoch retired
    landed = {r.doc_id for r in read_sink(spark, sink).collect()}
    assert landed == {2}
    store_ids = {i for i, _b in _bucket_rows(spark, buckets)}
    assert store_ids == {1, 2}  # doc 1's bucket rows are now stale

    rewritten = prune_bucket_store(spark, sink, id_col="doc_id")
    assert rewritten >= 1
    assert {i for i, _b in _bucket_rows(spark, buckets)} == {2}

    # forgotten semantics: a near-copy of the RETIRED doc lands...
    run_batch([(8, old_text.replace("quick", "swift"))])
    # ...while a near-copy of the LIVE doc still drops
    run_batch([(9, new_text.replace("schema", "scheme"))])
    landed = {r.doc_id for r in read_sink(spark, sink).collect()}
    assert landed == {2, 8}, landed


def test_rebucket_preserves_kept_partitioned_layout(spark, tmp_path):
    """A kept (newest) epoch that was PARTITIONED — a compacted run, or
    a ladder pre-land — keeps its directory layout through rebucket;
    the flat single-file rewrite is for micro-batch deltas only."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        rebucket_bucket_store,
        tiered_compact_sink,
        write_bucket_delta,
    )

    store = str(tmp_path / "buckets")
    _land_bucket_epochs(spark, store, range(3), n_parts=4)
    # fold EVERYTHING but epoch 2, then fold 2's tail too so the newest
    # committed dir is itself partitioned: land a partitioned epoch 3
    tiered_compact_sink(spark, store, keep_batches=1, partition_by=["__bpart"])
    delta = spark.range(30).select(
        (F.col("id") + 900).alias("doc_id"),
        F.xxhash64("id", F.lit(3)).alias("__bucket"),
    )
    write_bucket_delta(delta, store, 3, num_partitions=4, layout="partitioned")
    before = _bucket_rows(spark, store)

    rebucket_bucket_store(spark, store, 16)
    newest = os.path.join(store, "_batch=3")
    assert glob.glob(os.path.join(newest, "__bpart=*")), (
        "kept partitioned epoch degraded to a flat file through rebucket"
    )
    assert _bucket_rows(spark, store) == before


# ---------------------------------------------------------------------------
# Round 9: online store maintenance — tombstone prune + rebucket folded into
# the in-stream geometric merges (no stop-the-world window)


def _near_dedup_batch(spark, tmp_path, rows, **kw):
    """Feed one micro-batch through near_dedup_insert (availableNow)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import near_dedup_insert

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
    q = near_dedup_insert(
        file_stream_reader(spark, src, schema),
        str(tmp_path / "sink"), str(tmp_path / "ckpt"),
        id_col="doc_id", text_col="text", threshold=0.5,
        trigger_once=True, **kw,
    )
    _drain(q)


_DOC_A = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "watches from the warm windowsill in the late afternoon sun"
)
_DOC_B = (
    "schema registries attach late bound data contracts to kafka "
    "topics so raw bytes decode into typed tables for downstream jobs"
)
_DOC_C = (
    "geometric merge policies bound the amortized rewrite cost of an "
    "append only store to a logarithm of its total landed history"
)


@pytest.mark.slow
def test_online_prune_drains_tombstones_mid_stream(spark, tmp_path):
    """The round-9 headline: retention retires a document via
    enforce_retention_tombstoned while the stream keeps running; the
    stream's own geometric merges (a) drain the retired id's bucket rows
    out of the store, (b) never stop, (c) a near-copy of the retired doc
    lands (forgetting is what retention means), and (d) the tombstone is
    GC'd once every run has applied it."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        _live_tombstones,
        enforce_retention_tombstoned,
        read_bucket_store,
    )

    sink = str(tmp_path / "sink")
    store = os.path.join(sink, "_buckets")
    kw = dict(bucket_partitions=4, compact_every=1)
    _near_dedup_batch(spark, tmp_path, [(1, _DOC_A)], **kw)
    _near_dedup_batch(spark, tmp_path, [(2, _DOC_B)], **kw)
    _near_dedup_batch(spark, tmp_path, [(3, _DOC_C)], **kw)

    # retire the oldest epoch (doc 1) — tombstone lands BEFORE deletion
    removed = enforce_retention_tombstoned(
        spark, sink, id_col="doc_id", max_batches=2
    )
    assert removed == [0]
    assert _live_tombstones(store)

    # the stream keeps running: maintenance rides these batches' folds
    _near_dedup_batch(spark, tmp_path, [(4, _DOC_B + " extended tail")], **kw)
    _near_dedup_batch(spark, tmp_path, [(5, _DOC_C + " another tail")], **kw)
    _near_dedup_batch(spark, tmp_path, [(6, _DOC_B.replace("kafka", "queue"))], **kw)

    # (a) the retired id's bucket rows drained out through the merges
    ids_in_store = {
        r["doc_id"] for r in read_bucket_store(spark, store, "doc_id").collect()
    }
    assert 1 not in ids_in_store, ids_in_store
    # (d) and the tombstone itself was GC'd once fully applied
    assert not _live_tombstones(store)

    # (c) a near-copy of the RETIRED doc lands — retention semantics
    _near_dedup_batch(spark, tmp_path, [(9, _DOC_A.replace("quick", "swift"))], **kw)
    landed = {r.doc_id for r in read_sink(spark, sink).collect()}
    assert 9 in landed
    # while a near-copy of LIVE history still drops
    _near_dedup_batch(spark, tmp_path, [(10, _DOC_C.replace("store", "log"))], **kw)
    landed = {r.doc_id for r in read_sink(spark, sink).collect()}
    assert 10 not in landed


@pytest.mark.slow
def test_tombstone_reland_keeps_bucket_rows(spark, tmp_path):
    """A retired id that legitimately RE-LANDS must keep its new bucket
    rows: tombstone application re-verifies against the live sink, so
    near-copies of the re-landed doc stay suppressed."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        enforce_retention_tombstoned,
        read_bucket_store,
    )

    sink = str(tmp_path / "sink")
    store = os.path.join(sink, "_buckets")
    kw = dict(bucket_partitions=4, compact_every=1)
    _near_dedup_batch(spark, tmp_path, [(1, _DOC_A)], **kw)
    _near_dedup_batch(spark, tmp_path, [(2, _DOC_B)], **kw)
    enforce_retention_tombstoned(spark, sink, id_col="doc_id", max_batches=1)

    # doc 1 re-lands (its text is gone from the sink, so nothing
    # suppresses it), BEFORE the tombstone has been applied anywhere
    _near_dedup_batch(spark, tmp_path, [(1, _DOC_A)], **kw)
    landed = {r.doc_id for r in read_sink(spark, sink).collect()}
    assert 1 in landed

    # maintenance folds run on subsequent batches: the tombstone for id
    # 1 must NOT kill the re-landed doc's bucket rows (re-verify)
    _near_dedup_batch(spark, tmp_path, [(3, _DOC_C)], **kw)
    _near_dedup_batch(spark, tmp_path, [(4, _DOC_C + " more words")], **kw)
    ids_in_store = {
        r["doc_id"] for r in read_bucket_store(spark, store, "doc_id").collect()
    }
    assert 1 in ids_in_store, ids_in_store
    # and a near-copy of the re-landed doc is still suppressed
    _near_dedup_batch(spark, tmp_path, [(9, _DOC_A.replace("quick", "swift"))], **kw)
    landed = {r.doc_id for r in read_sink(spark, sink).collect()}
    assert 9 not in landed, landed


def test_tombstone_first_crash_gcs_noop_tombstone(spark, tmp_path):
    """Crash between tombstone landing and retention deletion leaves a
    tombstone whose ids are all still live: maintenance GCs it without
    touching a row (a later true retirement lands a fresh one)."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        _live_tombstones,
        maintain_bucket_store,
        read_bucket_store,
        retire_tombstone,
    )

    sink = str(tmp_path / "sink")
    store = os.path.join(sink, "_buckets")
    kw = dict(bucket_partitions=4, compact_every=1)
    _near_dedup_batch(spark, tmp_path, [(1, _DOC_A)], **kw)
    _near_dedup_batch(spark, tmp_path, [(2, _DOC_B)], **kw)
    before = {
        (r["doc_id"], r["__bucket"])
        for r in read_bucket_store(spark, store, "doc_id").collect()
    }
    # simulate the crash: tombstone landed for id 1, deletion never ran
    t = retire_tombstone(
        spark, sink,
        spark.createDataFrame([(1,)], "doc_id long"),
        id_col="doc_id", verified=True,
    )
    assert t is not None and _live_tombstones(store)
    stats = maintain_bucket_store(spark, sink, id_col="doc_id",
                                  bucket_partitions=4, compact_every=1)
    assert stats["tombstones_gcd"] >= 1
    assert not _live_tombstones(store)
    after = {
        (r["doc_id"], r["__bucket"])
        for r in read_bucket_store(spark, store, "doc_id").collect()
    }
    assert after == before


@pytest.mark.slow
def test_online_rebucket_migrates_without_stop(spark, tmp_path):
    """request_rebucket_online: the store migrates 4 → 32 partitions one
    run per maintenance call while batches keep landing; mid-migration
    the MIXED-N store still catches near-dups of old history (per-N
    pruned legs); the migration finalizes (meta bumped, request file
    gone) and every row ends keyed at the target N."""
    import json

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        _committed_batch_dirs,
        _dir_nparts,
        read_bucket_maintenance,
        request_rebucket_online,
    )

    sink = str(tmp_path / "sink")
    store = os.path.join(sink, "_buckets")
    kw = dict(bucket_partitions=4, compact_every=1)
    _near_dedup_batch(spark, tmp_path, [(1, _DOC_A)], **kw)
    _near_dedup_batch(spark, tmp_path, [(2, _DOC_B)], **kw)

    request_rebucket_online(store, 32)
    assert read_bucket_maintenance(store) == {"target_partitions": 32}

    # mid-migration: a near-copy of pre-migration history must drop
    _near_dedup_batch(spark, tmp_path, [(9, _DOC_A.replace("quick", "swift"))], **kw)
    landed = {r.doc_id for r in read_sink(spark, sink).collect()}
    assert 9 not in landed, landed

    # keep streaming until the migration drains and finalizes
    for i, doc in enumerate([_DOC_C, _DOC_C + " tail one", _DOC_B + " tail two"]):
        _near_dedup_batch(spark, tmp_path, [(20 + i, doc)], **kw)
        if not read_bucket_maintenance(store):
            break
    assert read_bucket_maintenance(store) == {}, "migration never finalized"
    with open(os.path.join(store, "_meta.json")) as fh:
        assert json.load(fh)["num_partitions"] == 32
    for d in _committed_batch_dirs(store):
        assert _dir_nparts(d, 32) == 32
    # every stored row keyed at the target N (read per layout group —
    # mixed flat/partitioned dirs cannot share one read)
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import _split_bucket_dirs

    for group in _split_bucket_dirs(_committed_batch_dirs(store)):
        if not group:
            continue
        rows = spark.read.option("basePath", store).parquet(*group)
        bad = rows.filter(
            F.col("__bpart") != F.pmod(F.col("__bucket"), F.lit(32)).cast("int")
        )
        assert bad.isEmpty()
    # and post-migration dedup still works end to end
    _near_dedup_batch(spark, tmp_path, [(30, _DOC_B.replace("kafka", "queue"))], **kw)
    landed = {r.doc_id for r in read_sink(spark, sink).collect()}
    assert 30 not in landed, landed


def test_read_bucket_store_mixed_n_prunes_per_leg(spark, tmp_path):
    """Unit: while a migration leaves the store MIXED-N, parts_for prunes
    each leg with ITS OWN N — a single parts list computed at one N
    would silently drop candidates from the other leg."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        bucket_store_dir_ns,
        read_bucket_store,
        write_bucket_delta,
    )

    store = str(tmp_path / "buckets")
    _land_bucket_epochs(spark, store, range(3), n_parts=8)  # meta N = 8
    # two deltas at the migration target N, sidecar-recorded
    for e in (3, 4):
        delta = spark.range(40).select(
            (F.col("id") + e * 40).alias("doc_id"),
            F.xxhash64("id", F.lit(e)).alias("__bucket"),
        )
        write_bucket_delta(
            delta, store, e, num_partitions=32, nparts_sidecar=True
        )
    assert bucket_store_dir_ns(store, 8) == [8, 32]
    full = {
        (r["doc_id"], r["__bucket"])
        for r in read_bucket_store(spark, store, "doc_id").collect()
    }
    assert len(full) == 200
    # prune to every partition per N → must equal the full read
    pruned_all = {
        (r["doc_id"], r["__bucket"])
        for r in read_bucket_store(
            spark, store, "doc_id",
            parts_for=lambda n: list(range(n)),
        ).collect()
    }
    assert pruned_all == full
    # prune to a strict subset per N → subset, and every surviving row's
    # pmod at ITS leg's N is in that leg's list
    keep = {8: [0, 1], 32: [0, 1, 2, 3, 4, 5]}
    pruned = read_bucket_store(
        spark, store, "doc_id", parts_for=lambda n: keep[n]
    ).collect()
    assert 0 < len(pruned) < 200
    got = {(r["doc_id"], r["__bucket"]) for r in pruned}
    assert got < full


def test_exact_lane_crossover_scales_with_host_probe(spark, monkeypatch):
    """Round 9: the crossover threshold is derived from a measured
    host-speed ratio (Spark-overhead / matmul unit cost), not pinned —
    a mocked probe moves it proportionally, and the scaling factor is
    clamped so a pathological sample can never effectively disable the
    warning."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming import rag as rag_mod

    ref = rag_mod._CROSSOVER_REF_RATIO
    base = rag_mod.EXACT_LANE_CROSSOVER_ROWS

    def with_ratio(r):
        import weakref

        cache = weakref.WeakKeyDictionary()
        cache[spark] = r
        monkeypatch.setattr(rag_mod, "_crossover_cache", cache)
        return rag_mod.exact_lane_crossover_rows(spark)

    assert with_ratio(ref) == base                 # reference host: as laddered
    assert with_ratio(ref * 4) == base * 4         # high-overhead host: up
    assert with_ratio(ref / 4) == base // 4        # fast-JVM host: down
    assert with_ratio(ref * 10_000) == base * 32   # clamp: never unreachable
    assert with_ratio(ref / 10_000) == int(base / 32)  # clamp: never zero


def test_kll_insert_maintains_deterministic_sketch(spark, tmp_path):
    """quantile_insert(method='kll') reuses the epoch contract: per-epoch
    KLL deltas land idempotently, the merged read-side sketch's tracked
    rank-error ceiling HOLDS against everything landed, replay with a
    fresh checkpoint re-lands nothing (epoch skip — the KLL rows carry no
    dedup key, so idempotency must come from the protocol), and folding
    the delta dir leaves every estimate identical (the merge is a pure
    function of the unioned delta rows)."""
    import math
    import shutil

    from confluent_kafka_vector_search_prompt_inference_spark.operators.sketches import kll_quantiles
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        compact_sink,
        quantile_insert,
        read_corpus_quantile_sketch,
    )

    rows = spark.range(3_000).select(
        F.col("id").alias("key"),
        (F.xxhash64("id") % 997).cast("double").alias("v"),
    )
    src = str(tmp_path / "src")
    rows.repartition(3).write.parquet(src)
    stream = file_stream_reader(spark, src, rows.schema, max_files_per_trigger=1)
    sink = str(tmp_path / "sink")
    q = quantile_insert(
        stream, sink, str(tmp_path / "ckpt"),
        value_col="v", key_col="key", m=64, method="kll", trigger_once=True,
    )
    _drain(q)
    landed = read_sink(spark, sink)
    assert landed.count() == 3_000

    def checks():
        sk = read_corpus_quantile_sketch(spark, sink, m=64, method="kll")
        srows = sk.collect()
        # merged weight = exact landed count (weight never drifts)
        assert sum(2 ** r["level"] for r in srows if r["level"] >= 0) == 3_000
        out = {}
        for r in kll_quantiles(sk, [0.1, 0.5, 0.9]).collect():
            assert r["n"] == 3_000
            target = math.floor(r["q"] * (r["n"] - 1)) + 1
            lo = landed.filter(F.col("v") < r["est"]).count()
            hi = landed.filter(F.col("v") <= r["est"]).count()
            assert lo - r["err_rank_bound"] <= target <= hi + r["err_rank_bound"], r
            out[r["q"]] = (r["est"], r["err_rank_bound"])
        return out

    before = checks()

    # fresh-checkpoint replay: every epoch re-fires, both writes skip
    q2 = quantile_insert(
        stream, sink, str(tmp_path / "ckpt2"),
        value_col="v", key_col="key", m=64, method="kll", trigger_once=True,
    )
    _drain(q2)
    assert read_sink(spark, sink).count() == 3_000
    assert checks() == before

    # folding the delta dir preserves every estimate and the bound
    folded = compact_sink(spark, os.path.join(sink, "_kllsketch"), keep_batches=1)
    assert folded >= 1
    assert checks() == before


def test_maintain_sweeps_crashed_tombstone_debris(spark, tmp_path):
    """A GC that crashes mid-rmtree can delete a tombstone's _SUCCESS
    first, leaving a dir _live_tombstones no longer sees; a crashed
    retire leaves _tomb_tmp. Maintenance sweeps both."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        _live_tombstones,
        _tombstones_dir,
        maintain_bucket_store,
    )

    sink = str(tmp_path / "sink")
    kw = dict(bucket_partitions=4, compact_every=1)
    _near_dedup_batch(spark, tmp_path, [(1, _DOC_A)], **kw)
    troot = _tombstones_dir(os.path.join(sink, "_buckets"))
    import time as _time

    os.makedirs(os.path.join(troot, "t=0"))  # half-deleted: no _SUCCESS
    open(os.path.join(troot, "t=0", "_tomb_meta.json"), "a").close()
    os.makedirs(os.path.join(troot, "_tomb_tmp_dead0"))  # crashed retire
    fresh = os.path.join(troot, "_tomb_tmp_live0")  # an IN-FLIGHT retire
    os.makedirs(fresh)
    old_mtime = _time.time() - 2 * 3600
    for d in ("t=0", "_tomb_tmp_dead0"):
        os.utime(os.path.join(troot, d), (old_mtime, old_mtime))
    assert not _live_tombstones(os.path.join(sink, "_buckets"))
    maintain_bucket_store(spark, sink, id_col="doc_id",
                          bucket_partitions=4, compact_every=1)
    assert not os.path.exists(os.path.join(troot, "t=0"))
    assert not os.path.exists(os.path.join(troot, "_tomb_tmp_dead0"))
    # the young staging dir (a concurrent retire mid-write) is spared
    assert os.path.exists(fresh)


@pytest.mark.slow
def test_online_rebucket_cancel_mid_migration_heals(spark, tmp_path):
    """Regression (round-9 review): cancelling an online rebucket
    mid-way (re-requesting the pinned N deletes the request) leaves
    target-keyed dirs behind; later folds must re-mod them BACK to the
    pinned N — without the fix they were folded verbatim, lost their
    sidecar, and read as meta-N keys forever (silent mis-pruning)."""
    import json

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        _committed_batch_dirs,
        _dir_nparts,
        _split_bucket_dirs,
        read_bucket_maintenance,
        request_rebucket_online,
    )

    sink = str(tmp_path / "sink")
    store = os.path.join(sink, "_buckets")
    kw = dict(bucket_partitions=4, compact_every=1)
    _near_dedup_batch(spark, tmp_path, [(1, _DOC_A)], **kw)
    _near_dedup_batch(spark, tmp_path, [(2, _DOC_B)], **kw)

    request_rebucket_online(store, 32)
    # land one delta keyed at the pending target WITHOUT running any
    # maintenance (the writer's own mid-migration shape, deterministic —
    # a streamed batch on this tiny store would finalize immediately)
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        bucket_store_write_partitions,
        write_bucket_delta,
    )

    wn, wsc = bucket_store_write_partitions(store, 4)
    assert (wn, wsc) == (32, True)
    delta = spark.range(30).select(
        (F.col("id") + 500).alias("doc_id"),
        F.xxhash64("id", F.lit(99)).alias("__bucket"),
    )
    write_bucket_delta(delta, store, -5, num_partitions=wn, nparts_sidecar=wsc)
    assert _dir_nparts(os.path.join(store, "_batch=-5"), 4) == 32
    # CANCEL: re-requesting the pinned N removes the request, leaving
    # the 32-keyed delta stranded with no migration pending
    request_rebucket_online(store, 4)
    assert read_bucket_maintenance(store) == {}

    # keep streaming until the store converges back to uniform N=4
    for i in range(6):
        _near_dedup_batch(
            spark, tmp_path, [(10 + i, _DOC_C + f" tail {i} words")], **kw
        )
        dirs = _committed_batch_dirs(store)
        if all(_dir_nparts(d, 4) == 4 for d in dirs):
            break
    dirs = _committed_batch_dirs(store)
    assert all(_dir_nparts(d, 4) == 4 for d in dirs), [
        (d, _dir_nparts(d, 4)) for d in dirs
    ]
    with open(os.path.join(store, "_meta.json")) as fh:
        assert json.load(fh)["num_partitions"] == 4
    # every stored row keyed at the pinned N again
    for group in _split_bucket_dirs(dirs):
        if not group:
            continue
        rows = spark.read.option("basePath", store).parquet(*group)
        bad = rows.filter(
            F.col("__bpart") != F.pmod(F.col("__bucket"), F.lit(4)).cast("int")
        )
        assert bad.isEmpty()
    # and near-dups of the history that crossed the cancelled migration
    # are still caught through the pruned read
    _near_dedup_batch(spark, tmp_path, [(30, _DOC_A.replace("quick", "swift"))], **kw)
    landed = {r.doc_id for r in read_sink(spark, sink).collect()}
    assert 30 not in landed, landed


# ---------------------------------------------------------------------------
# Round 10: narrow live-id sidecars, bounded nudges, idle-stream GC, and the
# composed crawl-curation streaming lane


@pytest.mark.slow
def test_ids_sidecar_narrow_reads_stay_exact_under_crashes(spark, tmp_path):
    """Every near-dedup epoch lands a narrow `_ids` sidecar; read_sink_ids
    equals the full-sink projection with sidecars present, with one
    missing (crash between the two writes), and with the whole store
    reset (pre-upgrade sink) — and retention deletes sidecars with their
    epochs."""
    import shutil

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        enforce_retention_tombstoned,
        read_sink_ids,
    )

    sink = str(tmp_path / "sink")
    kw = dict(bucket_partitions=4, compact_every=1)
    _near_dedup_batch(spark, tmp_path, [(1, _DOC_A)], **kw)
    _near_dedup_batch(spark, tmp_path, [(2, _DOC_B)], **kw)
    _near_dedup_batch(spark, tmp_path, [(3, _DOC_C)], **kw)
    side = sorted(glob.glob(os.path.join(sink, "_ids", "_batch=*")))
    assert len(side) == 3, side

    def narrow_ids():
        return {
            r["doc_id"] for r in read_sink_ids(spark, sink, ["doc_id"]).collect()
        }

    full = {r["doc_id"] for r in read_sink(spark, sink).select("doc_id").collect()}
    assert narrow_ids() == full == {1, 2, 3}
    # crash between sink epoch commit and sidecar write → fallback, exact
    shutil.rmtree(side[1])
    assert narrow_ids() == full
    # pre-upgrade sink (no sidecar store at all) → full fallback, exact
    shutil.rmtree(os.path.join(sink, "_ids"))
    assert narrow_ids() == full
    # a requested column outside the recorded sidecar schema must not
    # null-fill: it falls back to the sink wholesale
    _near_dedup_batch(spark, tmp_path, [(4, _DOC_B + " wholly new tail words")], **kw)
    texts = {
        r["text"]
        for r in read_sink_ids(spark, sink, ["doc_id", "text"]).collect()
    }
    assert all(t is not None for t in texts)
    # retention deletes the removed epochs' sidecars with the epochs
    removed = enforce_retention_tombstoned(
        spark, sink, id_col="doc_id", max_batches=2
    )
    assert removed
    live_eids = {
        int(d.rsplit("=", 1)[1])
        for d in glob.glob(os.path.join(sink, "_batch=*"))
    }
    side_eids = {
        int(d.rsplit("=", 1)[1])
        for d in glob.glob(os.path.join(sink, "_ids", "_batch=*"))
    }
    assert side_eids <= live_eids
    assert narrow_ids() == {
        r["doc_id"] for r in read_sink(spark, sink).select("doc_id").collect()
    }


@pytest.mark.slow
def test_maintain_honors_max_nudges_per_call(spark, tmp_path):
    """max_nudges_per_call bounds the per-call stale-dir rewrites AND
    proportionally shortens a migration's drain: a unit budget rewrites
    exactly one stale dir, a big budget clears every non-kept dir in ONE
    call (the kept newest delta drains when the next epoch lands — the
    running-stream contract), after which the migration finalizes."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        _committed_batch_dirs,
        _dir_nparts,
        maintain_bucket_store,
        read_bucket_maintenance,
        request_rebucket_online,
    )

    sink = str(tmp_path / "sink")
    store = os.path.join(sink, "_buckets")
    kw = dict(bucket_partitions=4, compact_every=1)
    docs = [_DOC_A, _DOC_B, _DOC_C]
    for i in range(9):
        _near_dedup_batch(
            spark, tmp_path, [(i + 1, docs[i % 3] + f" unique tail {i}")], **kw
        )
    request_rebucket_online(store, 8)

    def stale_count():
        dirs = _committed_batch_dirs(store)
        return sum(1 for d in dirs[:-1] if _dir_nparts(d, 4) != 8)

    before = stale_count()
    assert before >= 2, before  # a deep migration: several dirs to rewrite
    # unit budget: exactly one stale dir per call
    s1 = maintain_bucket_store(
        spark, sink, id_col="doc_id", bucket_partitions=4,
        compact_every=1, max_nudges_per_call=1,
    )
    assert s1["nudged"] == 1 and not s1["finalized"]
    assert stale_count() == before - 1
    # big budget: ONE call clears every remaining non-kept dir
    s2 = maintain_bucket_store(
        spark, sink, id_col="doc_id", bucket_partitions=4,
        compact_every=1, max_nudges_per_call=64,
    )
    assert s2["nudged"] >= 1
    assert stale_count() == 0
    # the kept newest delta migrates once the stream lands another epoch,
    # and the request finalizes (meta bumped, request file gone)
    _near_dedup_batch(spark, tmp_path, [(100, _DOC_A + " closing epoch")], **kw)
    maintain_bucket_store(
        spark, sink, id_col="doc_id", bucket_partitions=4,
        compact_every=1, max_nudges_per_call=64,
    )
    assert not read_bucket_maintenance(store)


@pytest.mark.slow
def test_idle_stream_gcs_fully_applied_tombstone(spark, tmp_path):
    """A tombstone on a stream that then goes IDLE: the newest kept flat
    delta predates the tombstone forever (no new epochs fold it), so the
    structural drain test alone would hold the tombstone — and its
    per-call re-reads — indefinitely. The disjoint-ids probe GCs it."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        _live_tombstones,
        enforce_retention_tombstoned,
        maintain_bucket_store,
        read_bucket_store,
    )

    sink = str(tmp_path / "sink")
    store = os.path.join(sink, "_buckets")
    kw = dict(bucket_partitions=4, compact_every=1)
    _near_dedup_batch(spark, tmp_path, [(1, _DOC_A)], **kw)
    _near_dedup_batch(spark, tmp_path, [(2, _DOC_B)], **kw)
    _near_dedup_batch(spark, tmp_path, [(3, _DOC_C)], **kw)
    removed = enforce_retention_tombstoned(
        spark, sink, id_col="doc_id", max_batches=2
    )
    assert removed == [0] and _live_tombstones(store)
    # NO new epochs land — only maintenance runs (an idle stream's
    # scheduler, or the next restart). A couple of calls must fully
    # apply AND GC the tombstone.
    for _ in range(3):
        maintain_bucket_store(
            spark, sink, id_col="doc_id", bucket_partitions=4, compact_every=1
        )
    assert not _live_tombstones(store)
    ids_in_store = {
        r["doc_id"] for r in read_bucket_store(spark, store, "doc_id").collect()
    }
    assert 1 not in ids_in_store
    # steady state afterwards: maintain is a no-op (no tombstone re-reads)
    stats = maintain_bucket_store(
        spark, sink, id_col="doc_id", bucket_partitions=4, compact_every=1
    )
    assert stats["tombstones_gcd"] == 0 and stats["nudged"] == 0
    # ...and a tombstone whose rows DO sit in the kept delta is NOT GC'd
    # by the probe (conservative side of the disjointness check)
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import retire_tombstone

    newest = {r.doc_id for r in read_sink(spark, sink).collect()}
    assert 3 in newest
    t = retire_tombstone(
        spark, sink, spark.createDataFrame([(999,)], "doc_id long"),
        id_col="doc_id", verified=True,
    )
    assert t is not None
    # id 999 never landed: kill set re-verifies to itself; the kept flat
    # delta holds id 3 only → disjoint → GC fires
    maintain_bucket_store(
        spark, sink, id_col="doc_id", bucket_partitions=4, compact_every=1
    )
    assert not _live_tombstones(store)


@pytest.mark.slow
def test_near_dedup_insert_composed_curation_lane(spark, tmp_path):
    """The crawl-curation chain as ONE streaming lane: WARC blobs stream
    in; the transform parses records, gates fetch status, extracts text
    and canonicalizes URLs; the exact stage dedups on the canonical URL
    (first-arrived-wins vs history); the near-dedup stage drops textual
    near-copies vs history; survivors land."""
    from pyspark.sql.types import BinaryType, StringType, StructField, StructType

    from confluent_kafka_vector_search_prompt_inference_spark.functions.text import canonical_url, html_to_text
    from confluent_kafka_vector_search_prompt_inference_spark.sources.warc import (
        http_response,
        read_warc,
        warc_encode,
    )
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import near_dedup_insert

    def blob(doc_id, page, text, status=200):
        html = f"<html><body><p>{text}</p><!-- note --></body></html>"
        uri = f"HTTPS://Crawl.Example/{page}?utm_source=s&gclid={doc_id}#f"
        return (
            f"warc://{doc_id}",
            warc_encode(
                [{"type": "response", "uri": uri,
                  "payload": http_response(html.encode(), status=status)}],
                gzip_members=doc_id % 2 == 1,
            ),
        )

    def curate(df):
        recs = read_warc(df).filter(
            (F.col("record_type") == "response") & (F.col("http_status") == 200)
        )
        return recs.select(
            F.regexp_extract("path", r"warc://(\d+)", 1)
            .cast("bigint")
            .alias("doc_id"),
            html_to_text(F.decode(F.col("body"), "UTF-8")).alias("text"),
            canonical_url(F.col("uri")).alias("canon_url"),
        )

    schema = StructType(
        [StructField("path", StringType()), StructField("content", BinaryType())]
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def run_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = near_dedup_insert(
            file_stream_reader(spark, src, schema),
            sink, ckpt,
            id_col="doc_id", text_col="text", threshold=0.5,
            bucket_partitions=4, compact_every=1, trigger_once=True,
            transform=curate, exact_key_col="canon_url",
        )
        _drain(q)

    # batch 1: two fetches of pageA (min id wins), one 404 (status gate)
    run_batch([
        blob(1, "pageA", _DOC_A),
        blob(2, "pageA", _DOC_B),
        blob(6, "pageZ", _DOC_C, status=404),
    ])
    landed = {r.doc_id for r in read_sink(spark, sink).collect()}
    assert landed == {1}
    # batch 2: pageA again (landed key drops it), a near-copy of doc 1's
    # text on a NEW page (URL stage passes, near-dedup drops it), and a
    # genuinely new page+text (lands)
    run_batch([
        blob(3, "pageA", _DOC_C),
        blob(4, "pageB", _DOC_A.replace("quick", "swift")),
        blob(5, "pageC", _DOC_B),
    ])
    landed = {r.doc_id for r in read_sink(spark, sink).collect()}
    assert landed == {1, 5}, landed
    # the sidecar carries the exact key beside the id
    import pyarrow.parquet as pq

    side = sorted(glob.glob(os.path.join(sink, "_ids", "_batch=*", "*.parquet")))
    assert side
    cols = set(pq.read_schema(side[0]).names)
    assert {"doc_id", "canon_url"} <= cols


def test_compacted_dedup_sink_keeps_key_sidecars_exact(spark, tmp_path, docs):
    """compact_sink on a dedup sink must not leave the min folded epoch's
    stale `_ids` sidecar behind under the base's name — it would read as
    the base's keys while holding one epoch's, and re-delivered dups
    would land. Post-fold the base reads by fallback until
    write_ids_sidecar regenerates its sidecar."""
    import shutil

    from confluent_kafka_vector_search_prompt_inference_spark.functions.text import doc_fingerprint
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        compact_sink,
        dedup_insert,
        read_sink_ids,
        write_ids_sidecar,
    )

    base = docs.select("doc_id", "text").limit(90)
    src = str(tmp_path / "src")
    for i in range(3):  # three micro-batches of 30 distinct docs
        base.filter((F.col("doc_id") >= i * 30) & (F.col("doc_id") < (i + 1) * 30)) \
            .coalesce(1).write.mode("append").parquet(src)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = dedup_insert(
            file_stream_reader(spark, src, base.schema, max_files_per_trigger=1),
            sink, ckpt, key_expr=doc_fingerprint("text"), trigger_once=True,
        )
        _drain(q)

    run()
    keys_before = {r["__fp"] for r in read_sink(spark, sink).select("__fp").collect()}
    folded = compact_sink(spark, sink, keep_batches=1)
    assert folded >= 2
    # the base's name collides with the min folded epoch: its old
    # one-epoch sidecar must never survive AS the base's. Since round
    # 10's post-fold regeneration, the base carries a FRESH sidecar
    # holding every folded key (the stale-sidecar hazard is prevented by
    # replacement, not absence) — prove freshness by content
    side = spark.read.parquet(os.path.join(sink, "_ids", "_batch=0"))
    base_keys = {
        r["__fp"]
        for r in spark.read.parquet(os.path.join(sink, "_batch=0"))
        .select("__fp")
        .collect()
    }
    assert {r["__fp"] for r in side.collect()} == base_keys
    assert len(base_keys) == 60  # epochs 0-1 folded; newest kept out
    keys_narrow = {
        r["__fp"] for r in read_sink_ids(spark, sink, ["__fp"]).collect()
    }
    assert keys_narrow == keys_before
    # re-delivering every doc under new ids must land NOTHING
    base.select((F.col("doc_id") + 9000).alias("doc_id"), "text").coalesce(1) \
        .write.mode("append").parquet(src)
    run()
    assert read_sink(spark, sink).count() == len(keys_before)
    # regenerating the base's sidecar keeps the narrow read exact
    write_ids_sidecar(spark, sink, 0, ["__fp"])
    assert os.path.exists(os.path.join(sink, "_ids", "_batch=0", "_SUCCESS"))
    keys_narrow = {
        r["__fp"] for r in read_sink_ids(spark, sink, ["__fp"]).collect()
    }
    assert keys_narrow == keys_before


@pytest.mark.slow
def test_compact_sink_regenerates_base_ids_sidecar(spark, tmp_path):
    """Round-10 adversarial-review find: folding the ROWS sink deletes
    the folded epochs' _ids sidecars at publish (correct — a stale one
    would describe one epoch while naming the base) but nothing gave the
    base a fresh one, so the folded bulk read full-width forever.
    compact_sink now regenerates missing sidecars after the fold; the
    narrow table stays exact and a folded key's re-delivery still
    drops."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        compact_sink,
        dedup_insert,
        read_sink_ids,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")

    def run_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = dedup_insert(
            file_stream_reader(spark, src, schema),
            sink, str(tmp_path / "ckpt"),
            key_expr=F.md5("text"), bucket_partitions=4,
            compact_every=10**9,  # rows-sink fold is OURS to trigger
            trigger_once=True,
        )
        _drain(q)

    run_batch([(1, "alpha"), (2, "beta")])
    run_batch([(3, "gamma")])
    run_batch([(4, "delta")])
    folded = compact_sink(spark, sink, keep_batches=1)
    assert folded >= 2
    base = min(
        int(d.rsplit("=", 1)[1])
        for d in glob.glob(os.path.join(sink, "_batch=*"))
        if os.path.exists(os.path.join(d, "_SUCCESS"))
    )
    # the folded base got a FRESH sidecar back
    assert os.path.exists(
        os.path.join(sink, "_ids", f"_batch={base}", "_SUCCESS")
    )
    # the narrow table is exact over the folded history
    ids = {r["__fp"] for r in read_sink_ids(spark, sink, ["__fp"]).collect()}
    truth = {r["__fp"] for r in read_sink(spark, sink).select("__fp").collect()}
    assert ids == truth and len(ids) == 4
    # and a folded key's re-delivery still drops
    run_batch([(5, "alpha"), (6, "epsilon")])
    landed = {r.doc_id for r in read_sink(spark, sink).collect()}
    assert 6 in landed and 5 not in landed


@pytest.mark.slow
def test_exact_dedup_bloom_gate_lifecycle(spark, tmp_path, monkeypatch):
    """Round 10 bloom gate on dedup_insert: a pre-gate sink upgrades by
    one-time backfill, cross-epoch duplicates still drop through the
    gate, a committed epoch whose bloom delta is lost to a crash is
    healed BEFORE the bloom is trusted (the superset invariant — a
    false negative would land a duplicate), folds ride the coverage
    sidecars, and a retired key's re-delivery lands through the
    bloom-positive exact path."""
    import shutil

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from confluent_kafka_vector_search_prompt_inference_spark.streaming import pipeline
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        dedup_insert,
        enforce_retention_tombstoned,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    bloom_dir = os.path.join(sink, "_bloomgate")

    def run_batch(rows, gate, m_bits=1 << 22):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        with monkeypatch.context() as m:
            m.setattr(pipeline, "bloom_gate_auto_m_bits", lambda _d: m_bits)
            q = dedup_insert(
                file_stream_reader(spark, src, schema),
                sink, str(tmp_path / "ckpt"),
                key_expr=F.md5("text"), bucket_partitions=4, compact_every=1,
                bloom_gate=gate, trigger_once=True,
            )
            _drain(q)

    def landed():
        return {r.doc_id for r in read_sink(spark, sink).collect()}

    # epochs 0-1 ungated (pre-gate sink shape: no _bloomgate at all)
    run_batch([(1, "alpha"), (2, "beta")], gate=False)
    run_batch([(3, "gamma")], gate=False)
    assert not os.path.isdir(bloom_dir)

    # upgrade: the first gated batch backfills the bloom from landed
    # epochs, and a cross-epoch duplicate must drop through the gate
    run_batch([(4, "alpha"), (5, "delta")], gate=True)
    assert landed() == {1, 2, 3, 5}
    assert glob.glob(os.path.join(bloom_dir, "_batch=*", "_SUCCESS"))

    # crash simulation: a committed epoch's bloom delta disappears
    # (crash between the rows commit and the bloom write); the next
    # gated batch must heal it BEFORE trusting the bloom, so epoch 2's
    # key ("delta") still dedups
    for d in glob.glob(os.path.join(bloom_dir, "_batch=*")):
        shutil.rmtree(d)
    run_batch([(6, "delta"), (7, "epsilon")], gate=True)
    assert landed() == {1, 2, 3, 5, 7}

    # retention: retire the oldest epochs' keys; the retired key is
    # still bloom-POSITIVE (the bloom never forgets), so it takes the
    # exact path where the tombstone re-verify lands it — which is what
    # retention means
    enforce_retention_tombstoned(spark, sink, id_col="__fp", max_batches=2)
    before = landed()
    run_batch([(8, "alpha"), (9, "epsilon")], gate=True)
    after = landed()
    assert 8 in after           # alpha retired -> lands again
    assert 9 not in after       # epsilon live -> still drops
    assert before - after == set()  # nothing else lost

    # width change across runs (the store doubled): a different width
    # probes DIFFERENT bit positions, so the gate resets the dir (meta sidecar
    # mismatch) and rebuilds from the sink instead of merging mixed
    # position spaces — the duplicate still drops
    run_batch([(10, "epsilon"), (11, "theta")], gate=True, m_bits=1 << 12)
    final = landed()
    assert 11 in final and 10 not in final
    import json as _json

    with open(os.path.join(bloom_dir, "_bloom_meta.json")) as fh:
        assert _json.load(fh)["m_bits"] == 1 << 12


def _xd_run(spark, tmp_path, name, rows, **kw):
    """Append rows as one micro-batch file and drain a dedup_insert lane
    (key: md5 of the text) over the named src, into the named sink."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import dedup_insert

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = str(tmp_path / f"{name}_src")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
    sink = str(tmp_path / f"{name}_sink")
    _drain(dedup_insert(
        file_stream_reader(spark, src, schema), sink, str(tmp_path / f"{name}_ckpt"),
        key_expr=F.md5("text"), bucket_partitions=4, compact_every=1,
        trigger_once=True, **kw,
    ))
    return sink


def test_exact_dedup_bloom_gate_preserves_landed_set(spark, tmp_path):
    """The exact lane through the shared gate lands the same rows as
    without it: a within-batch duplicate and a cross-epoch re-delivery
    drop either way, folded history (compact_every=1) included."""
    batches = [
        [(1, "alpha"), (2, "beta"), (3, "alpha")],
        [(4, "gamma"), (5, "beta")],
        [(6, "delta"), (7, "gamma")],
    ]
    sinks = {}
    for gate in (True, False):
        for rows in batches:
            sinks[gate] = _xd_run(spark, tmp_path, f"xg{gate}", rows, bloom_gate=gate)
    landed = {
        gate: {r.doc_id for r in read_sink(spark, sink).collect()}
        for gate, sink in sinks.items()
    }
    assert landed[True] == landed[False] == {1, 2, 4, 6}, landed
    assert glob.glob(os.path.join(sinks[True], "_bloomgate", "_batch=*", "_SUCCESS"))
    assert not os.path.isdir(os.path.join(sinks[False], "_bloomgate"))


def test_exact_dedup_bloom_gate_survives_torn_pin(spark, tmp_path):
    """A crash while the width pin was written leaves an empty
    ``_bloom_meta.json``. The next gated batch reads it as a mismatch:
    the gate resets, rebuilds from the sink, still drops the duplicate,
    and leaves a valid pin — the lane is not wedged."""
    import json

    sink = _xd_run(spark, tmp_path, "torn", [(1, "alpha")], bloom_gate=True)
    pin = os.path.join(sink, "_bloomgate", "_bloom_meta.json")
    open(pin, "w").close()
    _xd_run(spark, tmp_path, "torn", [(2, "alpha"), (3, "beta")], bloom_gate=True)
    assert {r.doc_id for r in read_sink(spark, sink).collect()} == {1, 3}
    with open(pin) as fh:
        assert json.load(fh) == {"m_bits": 1 << 20, "k": 4}
    assert not os.path.exists(pin + ".tmp")


@pytest.mark.parametrize("prune", [True, None], ids=["pruned", "auto"])
@pytest.mark.slow
def test_exact_dedup_bucket_store_prunes_and_forgets(spark, tmp_path, prune):
    """Round 10: dedup_insert's seen-set is the near-dedup bucket store
    with __bucket = xxhash64(key): dedup holds across batches through a
    compacted base, retention tombstones retire keys ONLINE (a retired
    key's re-delivery lands again), and the store GC's the tombstone
    through the stream's own maintenance. Parametrized over the pruning
    regimes — forced-pruned and auto (which full-scans at this size per
    the measured ladder crossover) must behave identically."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        _live_tombstones,
        dedup_insert,
        enforce_retention_tombstoned,
        read_bucket_store,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    store = os.path.join(sink, "_buckets")

    def run_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = dedup_insert(
            file_stream_reader(spark, src, schema),
            sink, str(tmp_path / "ckpt"),
            key_expr=F.md5("text"), bucket_partitions=4, compact_every=1,
            prune_store_read=prune, trigger_once=True,
        )
        _drain(q)

    run_batch([(1, "alpha"), (2, "beta")])
    run_batch([(3, "gamma"), (4, "delta")])
    run_batch([(5, "alpha"), (6, "epsilon")])  # 5 is an exact re-delivery
    landed = {r.doc_id for r in read_sink(spark, sink).collect()}
    assert landed == {1, 2, 3, 4, 6}
    # the store exists, holds one bucket row per landed key, and has a
    # compacted base (compact_every=1 → the pruned path engaged)
    store_keys = read_bucket_store(spark, store, "__fp").count()
    assert store_keys == 5
    assert glob.glob(os.path.join(store, "_batch=*", "__bpart=*"))

    # retire the oldest epoch's keys; its re-delivery must LAND again
    removed = enforce_retention_tombstoned(
        spark, sink, id_col="__fp", max_batches=2
    )
    assert removed == [0]
    run_batch([(7, "alpha"), (8, "zeta")])   # alpha retired → lands
    run_batch([(9, "gamma"), (10, "eta")])   # gamma still live → drops
    landed = {r.doc_id for r in read_sink(spark, sink).collect()}
    assert 7 in landed and 8 in landed and 10 in landed
    assert 9 not in landed, landed
    # tombstone drained and GC'd by the in-stream maintenance
    assert not _live_tombstones(store)


def test_spanclean_insert_online_semantics(spark, tmp_path):
    """Streaming span removal: a gram's first delivery lands intact;
    later deliveries (cross-batch via the gram store, within-batch via
    the batch rule) are cut. Order-robust: whichever batch carried the
    boilerplate first keeps it."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import spanclean_insert

    P = "subscribe to our newsletter for updates"  # 6 words -> two 5-grams
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, f"{P} and unique tail one")],
        ["doc_id", "text"],
    )
    b2 = spark.createDataFrame(
        [
            (3, f"{P} with another unique suffix"),
            (4, "echo echo echo echo echo echo echo"),  # within-batch repeat
            (5, "totally fresh words nobody repeated anywhere"),
        ],
        ["doc_id", "text"],
    )
    src = str(tmp_path / "span_src")
    b1.coalesce(1).write.parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    stream = file_stream_reader(spark, src, b1.schema, max_files_per_trigger=1)
    q = spanclean_insert(
        stream,
        str(tmp_path / "span_sink"),
        str(tmp_path / "span_ckpt"),
        id_col="doc_id",
        text_col="text",
        trigger_once=True,
    )
    _drain(q)
    out = {r["doc_id"]: r for r in read_sink(spark, str(tmp_path / "span_sink")).collect()}
    assert set(out) == {1, 2, 3, 4, 5}  # every doc lands, raw text preserved
    assert all(out[i]["text"] is not None for i in out)
    # exactly ONE of the two P-carrying docs keeps P (whichever arrived
    # first); the other has all 6 P-words cut and its unique words kept
    kept_p = [i for i in (2, 3) if P in out[i]["cleaned_text"]]
    assert len(kept_p) == 1
    cut = 5 - kept_p[0]  # the other of doc 2 / doc 3
    assert out[cut]["n_removed"] == 6
    expected_tail = {
        2: "and unique tail one",
        3: "with another unique suffix",
    }[cut]
    assert out[cut]["cleaned_text"] == expected_tail
    # within-batch repetition: the all-"echo" doc is fully covered
    assert out[4]["n_kept"] == 0 and out[4]["cleaned_text"] == ""
    # untouched docs
    assert out[1]["n_removed"] == 0 and out[5]["n_removed"] == 0


def test_spanclean_insert_single_batch_equals_batch_op_heals_and_folds(
    spark, tmp_path, docs
):
    """One drained batch == the batch operator exactly; a crash-lost gram
    delta heals from the landed raw text; the delta tail folds through
    compact_sink without changing downstream cleaning."""
    import shutil

    from confluent_kafka_vector_search_prompt_inference_spark.operators.dedup import repeated_span_removal
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import spanclean_insert

    base = docs.select("doc_id", "text").limit(60)
    src = str(tmp_path / "sc_src")
    base.coalesce(1).write.parquet(src)
    sink = str(tmp_path / "sc_sink")
    stream = file_stream_reader(spark, src, base.schema, max_files_per_trigger=1)
    q = spanclean_insert(
        stream, sink, str(tmp_path / "sc_ckpt"),
        id_col="doc_id", text_col="text", compact_every=1, trigger_once=True,
    )
    _drain(q)
    got = {
        r["doc_id"]: (r["cleaned_text"], r["n_removed"])
        for r in read_sink(spark, sink).collect()
    }
    want = {
        r["doc_id"]: (r["cleaned_text"], r["n_removed"])
        for r in repeated_span_removal(base, "doc_id", "text").collect()
    }
    assert got == want
    # crash window: lose epoch 0's gram delta, then stream a re-delivery —
    # the heal pass rebuilds the delta from the landed RAW text, so the
    # re-delivered boilerplate is still recognized and cut
    gram_deltas = sorted(glob.glob(os.path.join(sink, "_grams", "_batch=*")))
    assert gram_deltas, "spanclean_insert should land gram deltas"
    shutil.rmtree(gram_deltas[0])
    redeliver = base.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 9000).alias("doc_id"), "text"
    )
    redeliver.coalesce(1).write.mode("append").parquet(src)
    q = spanclean_insert(
        file_stream_reader(spark, src, base.schema, max_files_per_trigger=1),
        sink, str(tmp_path / "sc_ckpt"),
        id_col="doc_id", text_col="text", compact_every=1, trigger_once=True,
    )
    _drain(q)
    out = {r["doc_id"]: r for r in read_sink(spark, sink).collect()}
    for i in range(5):
        if (9000 + i) in out and out[9000 + i]["n_words"] >= 5:
            # every gram of a re-delivered doc is already in the store
            assert out[9000 + i]["n_kept"] == 0, f"doc {9000+i} not cut"
    # compact_every=1 forced folds: the store still answers (steady state)
    assert glob.glob(os.path.join(sink, "_grams", "_batch=*", "_SUCCESS"))


def test_keyed_upsert_insert_log_compaction_semantics(spark, tmp_path):
    """Kafka log-compaction as a sink: latest row per key wins by
    (seq, epoch); tombstones delete; a later-SEQ insert revives; a
    later-ARRIVING but smaller-seq row does NOT resurrect a tombstoned
    key (why the fold retains tombstone rows); the fold reduces the base
    without changing what read_upserted computes."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        keyed_upsert_insert,
        read_upserted,
    )

    cols = ["k", "seq", "val", "dead"]
    b1 = spark.createDataFrame(
        [("a", 1, "a1", False), ("b", 1, "b1", False), ("c", 1, "c1", False),
         ("a", 2, "a2", False)],  # within-batch: a2 supersedes a1
        cols,
    )
    b2 = spark.createDataFrame(
        [("b", 5, None, True),    # tombstone b at seq 5
         ("c", 2, "c2", False)],
        cols,
    )
    b3 = spark.createDataFrame(
        [("b", 3, "late", False),  # later arrival, SMALLER seq: b stays dead
         ("c", 9, None, True),     # tombstone c ...
         ("c", 10, "c10", False),  # ... revived by a later-seq insert
         ("d", 1, "d1", False)],
        cols,
    )
    src = str(tmp_path / "up_src")
    for b in (b1, b2, b3):
        b.coalesce(1).write.mode("append").parquet(src)
    sink = str(tmp_path / "up_sink")
    q = keyed_upsert_insert(
        file_stream_reader(spark, src, b1.schema, max_files_per_trigger=1),
        sink, str(tmp_path / "up_ckpt"),
        key_col="k", seq_cols=["seq"], tombstone_col="dead",
        compact_every=1,  # force folds inside the run
        trigger_once=True,
    )
    _drain(q)
    live = {
        r["k"]: (r["seq"], r["val"])
        for r in read_upserted(
            spark, sink, key_col="k", seq_cols=["seq"], tombstone_col="dead"
        ).collect()
    }
    # NOTE: file-source batch order follows write order here; the
    # seq-dominant semantics make every assertion below hold under ANY
    # interleaving except b-late-vs-b-tombstone, which seq also fixes
    # (5 > 3), so the test is order-robust anyway.
    assert live == {"a": (2, "a2"), "c": (10, "c10"), "d": (1, "d1")}
    # the folded base retained the b-tombstone row (drop would let the
    # smaller-seq late row resurrect b); raw store still shows b's marker
    raw = read_sink(spark, sink)
    assert raw.filter((F.col("k") == "b") & F.col("dead")).count() == 1
    # fold actually reduced: superseded a1 is gone from the store
    assert raw.filter((F.col("k") == "a")).count() == 1
    # a second read is stable (merge-on-read is a pure function of the store)
    live2 = {
        r["k"]: (r["seq"], r["val"])
        for r in read_upserted(
            spark, sink, key_col="k", seq_cols=["seq"], tombstone_col="dead"
        ).collect()
    }
    assert live2 == live


def test_keyed_upsert_read_equals_batch_reduction(spark, tmp_path):
    """Streamed-in-any-epoch-split == one batch reduction over the
    concatenated input: the per-epoch deltas + merge-on-read + folds are
    invisible to the view (the decomposable-partials law, max-struct as
    the merge)."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        _latest_per_key,
        keyed_upsert_insert,
        read_upserted,
    )

    rows = [
        (f"k{i % 37}", (i * 7919) % 101, f"v{i}", i % 11 == 0) for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["k", "seq", "val", "dead"])
    src = str(tmp_path / "eq_src")
    df.repartition(4).write.parquet(src)  # 4 files -> 4 micro-batches
    sink = str(tmp_path / "eq_sink")
    q = keyed_upsert_insert(
        file_stream_reader(spark, src, df.schema, max_files_per_trigger=1),
        sink, str(tmp_path / "eq_ckpt"),
        key_col="k", seq_cols=["seq", "val"], tombstone_col="dead",
        compact_every=2, trigger_once=True,
    )
    _drain(q)
    got = {
        (r["k"], r["seq"], r["val"])
        for r in read_upserted(
            spark, sink, key_col="k", seq_cols=["seq", "val"], tombstone_col="dead"
        ).collect()
    }
    want_df = _latest_per_key(
        df.withColumn("__epoch", F.lit(0)), "k", ["seq", "val"]
    ).filter(~F.col("dead"))
    want = {(r["k"], r["seq"], r["val"]) for r in want_df.collect()}
    assert got == want and got


def test_keyed_upsert_fold_bounds_files_and_recovers_crashes(spark, tmp_path):
    """The upsert fold honors fold_partitions (the base stays a handful of
    files however many tasks produced the inputs) and the fold_transform
    path inherits compact_sink's crash recovery: a crashed half-deleted
    fold is completed by the next call with the reduction applied and the
    view unchanged."""
    import json
    import shutil

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        compact_sink,
        keyed_upsert_insert,
        read_upserted,
    )

    rows = [(f"k{i % 19}", i, f"v{i}", False) for i in range(200)]
    df = spark.createDataFrame(rows, ["k", "seq", "val", "dead"])
    src = str(tmp_path / "fb_src")
    df.repartition(4).write.parquet(src)
    sink = str(tmp_path / "fb_sink")
    q = keyed_upsert_insert(
        file_stream_reader(spark, src, df.schema, max_files_per_trigger=1),
        sink, str(tmp_path / "fb_ckpt"),
        key_col="k", seq_cols=["seq"], tombstone_col="dead",
        compact_every=1, fold_partitions=2, trigger_once=True,
    )
    _drain(q)
    base = sorted(glob.glob(os.path.join(sink, "_batch=*")))[0]
    n_files = len(glob.glob(os.path.join(base, "*.parquet")))
    assert n_files <= 2, f"fold wrote {n_files} files, fold_partitions=2"
    before = {
        (r["k"], r["seq"])
        for r in read_upserted(
            spark, sink, key_col="k", seq_cols=["seq"], tombstone_col="dead"
        ).collect()
    }
    # crash window: a tmp holding the fold of the two oldest dirs, one
    # source already deleted — recovery must finish the fold, and the
    # NEXT fold (with the reduction) must leave the view unchanged
    dirs = sorted(
        glob.glob(os.path.join(sink, "_batch=*")),
        key=lambda d: int(d.rsplit("=", 1)[1]),
    )
    tmp = os.path.join(sink, "_compact_tmp")
    spark.read.parquet(dirs[0], dirs[1]).write.parquet(tmp)
    with open(os.path.join(tmp, "_fold_manifest.json"), "w") as fh:
        json.dump([os.path.basename(dirs[0]), os.path.basename(dirs[1])], fh)
    shutil.rmtree(dirs[0])
    compact_sink(
        spark, sink, keep_batches=1,
        fold_transform=lambda d: d, target_partitions=2,
    )
    after = {
        (r["k"], r["seq"])
        for r in read_upserted(
            spark, sink, key_col="k", seq_cols=["seq"], tombstone_col="dead"
        ).collect()
    }
    assert after == before and len(after) == 19


def test_mg_insert_maintains_corpus_heavy_hitters(spark, tmp_path):
    """Streaming MG: guarantees hold for the whole landed history after
    multi-batch ingest; folding the delta dirs through mg_compact leaves
    the summary's guarantees intact (merge law — the fold's own
    subtraction rides the tracked bound)."""
    from confluent_kafka_vector_search_prompt_inference_spark.operators.sketches import mg_compact
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        compact_sink,
        mg_insert,
        read_corpus_mg,
    )

    items = spark.range(6000).selectExpr(
        "concat('h', cast(floor(pow(pmod(xxhash64(id, 5), 100000) / 100000.0, 3) * 40) as int)) as item"
    )
    src = str(tmp_path / "mg_src")
    items.repartition(3).write.parquet(src)  # 3 files -> 3 micro-batches
    sink = str(tmp_path / "mg_sink")
    q = mg_insert(
        file_stream_reader(spark, src, items.schema, max_files_per_trigger=1),
        sink, str(tmp_path / "mg_ckpt"),
        item_col="item", k=16, trigger_once=True,
    )
    _drain(q)

    def _check():
        summ = read_corpus_mg(spark, sink, k=16).collect()
        exact = {
            r["item"]: r["c"]
            for r in items.groupBy("item").agg(F.count("*").alias("c")).collect()
        }
        bound, n = summ[0]["bound"], summ[0]["n"]
        assert n == sum(exact.values())
        est = {r["item"]: r["est"] for r in summ}
        assert len(est) <= 16
        for it, c in exact.items():
            assert est.get(it, 0) <= c
            assert c - est.get(it, 0) <= bound
            if c > bound:
                assert it in est
        return bound

    bound_raw = _check()
    folded = compact_sink(
        spark, os.path.join(sink, "_mg"), keep_batches=1,
        fold_transform=lambda d: mg_compact(d, k=16),
    )
    assert folded >= 2
    bound_folded = _check()
    # the fold may add its own subtraction to the bound, never shrink
    # correctness; storage tightened to <= k counters + meta per dir
    assert bound_folded >= bound_raw


def test_latest_per_key_validates_seq_cols_and_carries_maps(spark):
    """ADVICE round 10: the reduction must (a) reject unorderable seq
    columns with a clear error instead of failing mid-analysis, (b)
    raise on NULL seq values instead of ordering them undefined, and
    (c) still WORK when a non-seq column is a map — the row is returned
    via max_by, so only the ordering key needs a comparator."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import _latest_per_key

    df = spark.createDataFrame(
        [("k1", 1, {"a": 1}), ("k1", 2, {"b": 2}), ("k2", 5, {"c": 3})],
        "k string, seq long, attrs map<string,int>",
    ).withColumn("__epoch", F.lit(0).cast("long"))
    # (c) map-valued payload column rides along; latest seq wins
    out = {r["k"]: (r["seq"], dict(r["attrs"])) for r in _latest_per_key(df, "k", ["seq"]).collect()}
    assert out == {"k1": (2, {"b": 2}), "k2": (5, {"c": 3})}
    # (a) a map seq column is a configuration error, named in the message
    with _pytest.raises(ValueError, match="unorderable"):
        _latest_per_key(df, "k", ["attrs"])
    with _pytest.raises(ValueError, match="not in schema"):
        _latest_per_key(df, "k", ["nope"])
    # (b) a NULL seq value raises at execution, not silently sorted
    nulled = spark.createDataFrame(
        [("k1", None), ("k1", 2)], "k string, seq long"
    ).withColumn("__epoch", F.lit(0).cast("long"))
    with _pytest.raises(Exception, match="NULL"):
        _latest_per_key(nulled, "k", ["seq"]).collect()


# ---------------------------------------------------------------------------
# near-dedup bloom gate (round 11)
# ---------------------------------------------------------------------------

_ND_BASE = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "watches from the warm windowsill in the late afternoon sun"
)
_ND_OTHER = (
    "spark executes declarative plans through catalyst producing "
    "vectorized stages that shuffle partitioned data across the cluster"
)
_ND_THIRD = (
    "schema registries attach late bound data contracts to kafka "
    "topics so raw bytes decode into typed streaming tables"
)


def _nd_run(spark, tmp_path, name, rows, **kw):
    """Append rows as one micro-batch file and drain a near_dedup_insert
    lane over the shared src, into the named sink."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import near_dedup_insert

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = str(tmp_path / f"{name}_src")
    if rows:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    q = near_dedup_insert(
        file_stream_reader(spark, src, schema),
        str(tmp_path / f"{name}_sink"), str(tmp_path / f"{name}_ckpt"),
        id_col="doc_id", text_col="text", threshold=0.5,
        bucket_partitions=4, compact_every=1, trigger_once=True, **kw,
    )
    _drain(q)
    return str(tmp_path / f"{name}_sink")


@pytest.mark.slow
def test_near_dedup_bloom_gate_preserves_survivor_set(spark, tmp_path):
    """The gate's exactness claim: the same stream through a gated and an
    ungated lane lands the SAME survivor set — the gated-away buckets are
    exactly those the bucket equi-join could never match. Covers folded
    history (compact_every=1 forces a base, which also engages the
    default gate) and both drop directions (within-batch and vs landed)."""
    batches = [
        [(1, _ND_BASE), (2, _ND_OTHER)],
        [(3, _ND_BASE.replace("lazy", "sleepy")), (4, _ND_THIRD)],
        [(5, _ND_OTHER.replace("spark", "flink")), (6, _ND_BASE + " extra")],
    ]
    sinks = {}
    for mode, kw in (("on", {"bloom_gate": True}), ("off", {"bloom_gate": False})):
        for rows in batches:
            sinks[mode] = _nd_run(spark, tmp_path, f"bg_{mode}", rows, **kw)
    landed_on = {r.doc_id for r in read_sink(spark, sinks["on"]).collect()}
    landed_off = {r.doc_id for r in read_sink(spark, sinks["off"]).collect()}
    assert landed_on == landed_off, (landed_on, landed_off)
    assert landed_on == {1, 2, 4}, landed_on
    # the gate store exists, is meta-pinned, and covers every epoch
    import glob as _glob

    bg = os.path.join(sinks["on"], "_bloomgate")
    assert os.path.exists(os.path.join(bg, "_bloom_meta.json"))
    assert _glob.glob(os.path.join(bg, "_batch=*", "_SUCCESS"))


@pytest.mark.slow
def test_near_dedup_bloom_gate_heals_missing_delta(spark, tmp_path):
    """Crash between the epoch's rows commit and its bloom delta write:
    the next batch backfills the gap BEFORE trusting the gate, so a
    near-copy of the uncovered epoch's doc still drops (a missed key
    would be a false negative = a duplicate landing)."""
    import shutil

    sink = _nd_run(spark, tmp_path, "bh", [(1, _ND_BASE)], bloom_gate=True)
    _nd_run(spark, tmp_path, "bh", [(2, _ND_OTHER)], bloom_gate=True)
    # simulate the crash: epoch 1's bloom delta vanishes
    bg = os.path.join(sink, "_bloomgate")
    victims = [d for d in glob.glob(os.path.join(bg, "_batch=*")) if d.endswith("=1")]
    assert victims
    shutil.rmtree(victims[0])
    # near-copy of doc 2 (the uncovered epoch) must still drop
    _nd_run(
        spark, tmp_path, "bh",
        [(9, _ND_OTHER.replace("spark", "flink"))], bloom_gate=True,
    )
    landed = {r.doc_id for r in read_sink(spark, sink).collect()}
    assert landed == {1, 2}, landed


def test_near_dedup_bloom_gate_meta_mismatch_resets(spark, tmp_path, monkeypatch):
    """A width change (the auto-sizer crossing a power of two as the store
    doubles) must reset + rebuild the gate store — deltas built under
    different (m_bits, k) probe different bits and merging them would
    manufacture false negatives."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming import pipeline

    monkeypatch.setattr(pipeline, "bloom_gate_auto_m_bits", lambda _d: 1 << 20)
    sink = _nd_run(spark, tmp_path, "bm", [(1, _ND_BASE)], bloom_gate=True)
    # width changes: old deltas are untrustworthy, store resets, and the
    # near-copy of landed history still drops through the rebuilt gate
    monkeypatch.setattr(pipeline, "bloom_gate_auto_m_bits", lambda _d: 1 << 21)
    _nd_run(
        spark, tmp_path, "bm",
        [(7, _ND_BASE.replace("quick", "swift"))], bloom_gate=True,
    )
    landed = {r.doc_id for r in read_sink(spark, sink).collect()}
    assert landed == {1}, landed
    import json as _json

    with open(os.path.join(sink, "_bloomgate", "_bloom_meta.json")) as fh:
        assert _json.load(fh)["m_bits"] == 1 << 21


@pytest.mark.slow
def test_near_dedup_bloom_gate_survives_online_rebucket(spark, tmp_path):
    """Bucket VALUES survive a rebucket (only __bpart layout changes), so
    the gate bloom stays a superset across the migration and near-copies
    of folded + rebucketed history still drop with the gate forced on."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import request_rebucket_online

    sink = _nd_run(spark, tmp_path, "br", [(1, _ND_BASE)], bloom_gate=True)
    _nd_run(spark, tmp_path, "br", [(2, _ND_THIRD)], bloom_gate=True)
    request_rebucket_online(os.path.join(sink, "_buckets"), 64)
    _nd_run(
        spark, tmp_path, "br",
        [(9, _ND_BASE.replace("quick", "swift")), (10, _ND_OTHER)],
        bloom_gate=True,
    )
    landed = {r.doc_id for r in read_sink(spark, sink).collect()}
    assert landed == {1, 2, 10}, landed


@pytest.mark.slow
def test_near_dedup_bloom_gate_retired_redelivery_lands(spark, tmp_path):
    """Retention semantics are unchanged by the gate: a retired doc's
    buckets stay bloom-positive (over-approximation), its re-delivery
    takes the exact path, finds no live landed text, and LANDS — which is
    what retention means."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import enforce_retention_tombstoned

    sink = _nd_run(spark, tmp_path, "bt", [(1, _ND_BASE)], bloom_gate=True)
    _nd_run(spark, tmp_path, "bt", [(2, _ND_OTHER)], bloom_gate=True)
    removed = enforce_retention_tombstoned(
        spark, sink, id_col="doc_id", max_batches=1
    )
    assert removed
    _nd_run(spark, tmp_path, "bt", [(11, _ND_BASE)], bloom_gate=True)
    landed = {r.doc_id for r in read_sink(spark, sink).collect()}
    assert landed == {2, 11}, landed


@pytest.mark.slow
def test_keyed_upsert_shed_tombstones_watermark(spark, tmp_path):
    """Round 11: shed_tombstones_after sheds a tombstone at fold time
    only once the seq watermark (max seq in the fold − delay) passes it;
    a younger tombstone survives the fold and still dominates a
    later-ARRIVING smaller-seq row; the base stops carrying shed keys."""
    from pyspark.sql.types import (
        BooleanType, LongType, StringType, StructField, StructType,
    )

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        keyed_upsert_insert,
        read_upserted,
    )

    schema = StructType([
        StructField("k", StringType()),
        StructField("seq", LongType()),
        StructField("val", StringType()),
        StructField("dead", BooleanType()),
    ])
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")

    def run(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = keyed_upsert_insert(
            file_stream_reader(spark, src, schema),
            sink, str(tmp_path / "ckpt"),
            key_col="k", seq_cols=["seq"], tombstone_col="dead",
            shed_tombstones_after=50, compact_every=1, trigger_once=True,
        )
        _drain(q)

    # epoch 0: live rows; epoch 1: an OLD tombstone (k1@10) and a YOUNG
    # one (k2@95) beside a max seq of 100 -> wm = 50 at the next fold
    run([("k1", 5, "a", False), ("k2", 6, "b", False), ("k3", 7, "c", False)])
    run([("k1", 10, None, True), ("k2", 95, None, True), ("k3", 100, "c2", False)])
    # epoch 2 triggers the fold of epochs 0-1 (compact_every=1)
    run([("k4", 101, "d", False)])

    # both tombstoned keys are invisible to readers either way
    live = {r["k"]: r["seq"] for r in read_upserted(
        spark, sink, key_col="k", seq_cols=["seq"], tombstone_col="dead"
    ).collect()}
    assert live == {"k3": 100, "k4": 101}, live

    # the BASE carries k2's young tombstone but NOT k1's shed one
    base = spark.read.parquet(os.path.join(sink, "_batch=0"))
    base_keys = {(r["k"], bool(r["dead"])) for r in base.collect()}
    assert ("k2", True) in base_keys, base_keys
    assert all(k != "k1" for k, _ in base_keys), base_keys

    # a later-arriving SMALLER-seq row for k2 still loses to the kept
    # tombstone (the exactness the watermark preserves)
    run([("k2", 90, "stale", False)])
    live = {r["k"] for r in read_upserted(
        spark, sink, key_col="k", seq_cols=["seq"], tombstone_col="dead"
    ).collect()}
    assert "k2" not in live, live


def test_keyed_upsert_shed_requires_tombstone_col(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import keyed_upsert_insert

    schema = StructType([
        StructField("k", StringType()), StructField("seq", LongType()),
    ])
    src = str(tmp_path / "src")
    spark.createDataFrame([("k1", 1)], schema).write.parquet(src)
    with _pytest.raises(ValueError, match="tombstone_col"):
        keyed_upsert_insert(
            file_stream_reader(spark, src, schema),
            str(tmp_path / "s"), str(tmp_path / "c"),
            key_col="k", seq_cols=["seq"], shed_tombstones_after=10,
        )


# ---------------------------------------------------------------------------
# retention-integrated gram store (round 11)
# ---------------------------------------------------------------------------

_SC_BOILER = "alpha bravo charlie delta echo"


def _sc_run(spark, tmp_path, rows, **kw):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import spanclean_insert

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = str(tmp_path / "sc_src")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = spanclean_insert(
        file_stream_reader(spark, src, schema),
        str(tmp_path / "sc_sink"), str(tmp_path / "sc_ckpt"),
        id_col="doc_id", text_col="text", trigger_once=True, **kw,
    )
    _drain(q)
    return str(tmp_path / "sc_sink")


@pytest.mark.slow
def test_spanclean_carrier_counts_release_and_resight(spark, tmp_path):
    """Round 11 opt-in: when every carrier of a gram retires via
    enforce_retention_spanclean, the gram RELEASES — the next sighting
    lands intact — and then re-registers, so suppression resumes on the
    sighting after that. The never-forget default is untouched (mode is
    pinned per store)."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import enforce_retention_spanclean

    kw = dict(carrier_counts=True, compact_every=10**9)
    sink = _sc_run(
        spark, tmp_path, [(1, _SC_BOILER + " unique1a unique1b unique1c unique1d")], **kw
    )
    _sc_run(
        spark, tmp_path, [(2, _SC_BOILER + " unique2a unique2b unique2c unique2d")], **kw
    )
    by_id = {r["doc_id"]: r for r in read_sink(spark, sink).collect()}
    assert by_id[1]["n_removed"] == 0           # first delivery intact
    assert by_id[2]["n_removed"] == 5           # boilerplate cut
    assert _SC_BOILER not in by_id[2]["cleaned_text"]

    # retire BOTH carrier epochs: the boilerplate's live count hits 0
    removed = enforce_retention_spanclean(
        spark, sink, id_col="doc_id", text_col="text", max_batches=0
    )
    assert sorted(removed) == [0, 1], removed

    # released: the next sighting lands INTACT...
    _sc_run(
        spark, tmp_path, [(3, _SC_BOILER + " unique3a unique3b unique3c unique3d")], **kw
    )
    by_id = {r["doc_id"]: r for r in read_sink(spark, sink).collect()}
    assert set(by_id) == {3}
    assert by_id[3]["n_removed"] == 0, by_id[3]

    # ...and re-registers: suppression resumes on the sighting after
    _sc_run(
        spark, tmp_path, [(4, _SC_BOILER + " unique4a unique4b unique4c unique4d")], **kw
    )
    by_id = {r["doc_id"]: r for r in read_sink(spark, sink).collect()}
    assert by_id[4]["n_removed"] == 5, by_id[4]


def test_spanclean_carrier_counts_partial_retirement_keeps_suppressing(
    spark, tmp_path
):
    """A gram releases only when its LAST carrier retires: with one of
    two carrier epochs retired, the live count stays positive and the
    next sighting is still cut."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import enforce_retention_spanclean

    kw = dict(carrier_counts=True, compact_every=10**9)
    sink = _sc_run(
        spark, tmp_path, [(1, _SC_BOILER + " unique1a unique1b unique1c unique1d")], **kw
    )
    _sc_run(
        spark, tmp_path, [(2, _SC_BOILER + " unique2a unique2b unique2c unique2d")], **kw
    )
    removed = enforce_retention_spanclean(
        spark, sink, id_col="doc_id", text_col="text", max_batches=1
    )
    assert removed == [0]
    _sc_run(
        spark, tmp_path, [(3, _SC_BOILER + " unique3a unique3b unique3c unique3d")], **kw
    )
    by_id = {r["doc_id"]: r for r in read_sink(spark, sink).collect()}
    assert by_id[3]["n_removed"] == 5, by_id[3]


@pytest.mark.slow
def test_spanclean_carrier_counts_survive_folds(spark, tmp_path):
    """The tiered fold sums counts per gram (keeping un-met negatives,
    dropping exact zeros): releases computed through folded runs give
    the same answers as flat deltas."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import enforce_retention_spanclean

    kw = dict(carrier_counts=True, compact_every=1)
    sink = _sc_run(
        spark, tmp_path, [(1, _SC_BOILER + " unique1a unique1b unique1c unique1d")], **kw
    )
    _sc_run(
        spark, tmp_path, [(2, _SC_BOILER + " unique2a unique2b unique2c unique2d")], **kw
    )
    _sc_run(spark, tmp_path, [(5, "totally different words here now folks")], **kw)
    removed = enforce_retention_spanclean(
        spark, sink, id_col="doc_id", text_col="text", max_batches=1
    )
    assert sorted(removed) == [0, 1], removed
    # carriers 1 and 2 both retired (doc 5's epoch survives): released
    _sc_run(
        spark, tmp_path, [(6, _SC_BOILER + " unique6a unique6b unique6c unique6d")], **kw
    )
    by_id = {r["doc_id"]: r for r in read_sink(spark, sink).collect()}
    assert by_id[6]["n_removed"] == 0, by_id[6]


def test_spanclean_mode_pinning_and_retention_guard(spark, tmp_path):
    """Counted and uncounted deltas must never mix: a store created in
    one mode rejects a writer in the other, and the retention entry
    point refuses an uncounted store outright."""
    import pytest as _pytest

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import enforce_retention_spanclean

    sink = _sc_run(spark, tmp_path, [(1, _SC_BOILER + " u1 u2 u3 u4")])
    with _pytest.raises(ValueError, match="carrier-counted"):
        enforce_retention_spanclean(
            spark, sink, id_col="doc_id", text_col="text", max_batches=0
        )
    # a counted writer against the uncounted store fails the next batch
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import spanclean_insert

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    spark.createDataFrame([(9, "more words arrive here now")], schema).coalesce(
        1
    ).write.mode("append").parquet(str(tmp_path / "sc_src"))
    q = spanclean_insert(
        file_stream_reader(spark, str(tmp_path / "sc_src"), schema),
        sink, str(tmp_path / "sc_ckpt"),
        id_col="doc_id", text_col="text", carrier_counts=True,
        trigger_once=True,
    )
    with _pytest.raises(Exception, match="never mix"):
        q.awaitTermination(120)


def test_spanclean_retention_crash_between_delete_and_publish(spark, tmp_path):
    """Crash protocol step (2)->(3): a complete _retire_tmp whose sink
    epoch is gone publishes on the next retention call, completing the
    release."""
    import shutil

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import enforce_retention_spanclean

    kw = dict(carrier_counts=True, compact_every=10**9)
    sink = _sc_run(
        spark, tmp_path, [(1, _SC_BOILER + " unique1a unique1b unique1c unique1d")], **kw
    )
    grams = os.path.join(sink, "_grams")
    # manufacture the crash: stage the negative delta exactly as step (1)
    # writes it, delete the epoch (step 2), and DON'T publish
    from pyspark.sql import functions as F

    from confluent_kafka_vector_search_prompt_inference_spark.operators.dedup import gram_occurrences, span_tokenized

    epoch = os.path.join(sink, "_batch=0")
    rows = spark.read.parquet(epoch).select("doc_id", "text")
    (
        gram_occurrences(span_tokenized(rows, "doc_id", "text"), 5)
        .groupBy("__s")
        .agg((-F.count_distinct("__id")).cast("long").alias("__cnt"))
        .withColumn("__bucket", F.xxhash64("__s"))
        .withColumn("__bpart", F.pmod(F.col("__bucket"), F.lit(64)).cast("int"))
        .repartition(1)
        .write.mode("overwrite")
        .parquet(os.path.join(grams, "_retire_tmp_0"))
    )
    shutil.rmtree(epoch)
    # next retention call recovers: publishes the tmp, completing the release
    removed = enforce_retention_spanclean(
        spark, sink, id_col="doc_id", text_col="text", max_batches=10
    )
    assert removed == []  # nothing newly retired; recovery only
    assert os.path.exists(os.path.join(grams, "_batch=-1000", "_SUCCESS"))
    _sc_run(
        spark, tmp_path, [(7, _SC_BOILER + " unique7a unique7b unique7c unique7d")], **kw
    )
    by_id = {r["doc_id"]: r for r in read_sink(spark, sink).collect()}
    assert by_id[7]["n_removed"] == 0, by_id[7]


def test_mg_insert_grouped_maintains_per_domain_heavy_hitters(spark, tmp_path):
    """Round 11 grouped streaming MG: one independent sketch per group
    maintained across micro-batches; every MG guarantee holds PER GROUP
    over the whole landed history, and folding the deltas through the
    grouped mg_compact keeps them intact (merge law per group)."""
    from confluent_kafka_vector_search_prompt_inference_spark.operators.sketches import mg_compact
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        compact_sink,
        mg_insert,
        read_corpus_mg,
    )

    k = 8
    items = spark.range(6000).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS grp",
        """CASE
             WHEN id % 2 = 0 AND id % 3 = 0 THEN 'h'
             WHEN id % 2 = 1 AND id % 3 = 0 THEN 'g'
             ELSE concat('t', pmod(id, 97))
           END AS item""",
    )
    src = str(tmp_path / "mgg_src")
    items.repartition(3).write.parquet(src)
    sink = str(tmp_path / "mgg_sink")
    q = mg_insert(
        file_stream_reader(spark, src, items.schema, max_files_per_trigger=1),
        sink, str(tmp_path / "mgg_ckpt"),
        item_col="item", k=k, group_cols=["grp"], trigger_once=True,
    )
    _drain(q)

    exact = {
        (r["grp"], r["item"]): r["c"]
        for r in items.groupBy("grp", "item").agg(F.count("*").alias("c")).collect()
    }
    n_true = {
        r["grp"]: r["c"]
        for r in items.groupBy("grp").agg(F.count("*").alias("c")).collect()
    }

    def _check():
        summ = read_corpus_mg(spark, sink, k=k, group_cols=["grp"]).collect()
        per: dict = {}
        for r in summ:
            per.setdefault(r["grp"], []).append(r)
            assert r["est"] <= exact[(r["grp"], r["item"])]
            assert exact[(r["grp"], r["item"])] - r["est"] <= r["bound"]
            assert r["n"] == n_true[r["grp"]]
        assert set(per) == {"a", "b"}
        bounds = {}
        for grp, rs in per.items():
            assert len(rs) <= k
            retained = {r["item"] for r in rs}
            b = rs[0]["bound"]
            bounds[grp] = b
            for (g2, it), c in exact.items():
                if g2 == grp and c > b:
                    assert it in retained
            assert ("h" if grp == "a" else "g") in retained
        return bounds

    bounds_raw = _check()
    folded = compact_sink(
        spark, os.path.join(sink, "_mg"), keep_batches=1,
        fold_transform=lambda d: mg_compact(d, k=k, group_cols=["grp"]),
    )
    assert folded >= 2
    bounds_folded = _check()
    for grp in bounds_raw:
        assert bounds_folded[grp] >= bounds_raw[grp]


# ---------------------------------------------------------------------------
# bloom-gate delta width pinning (round 12, advice r11)
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_exact_dedup_disengaged_delta_respects_pinned_width(spark, tmp_path, monkeypatch):
    """The post-land bloom delta write is reachable with the gate
    DISENGAGED (bloom_gate=None, prune off, dir left by earlier gated
    batches). It must write at the dir's PINNED width, not a fresh auto
    recompute: a foreign-width delta OR-merged into the store probes
    the wrong words when the gate re-engages at the pinned width —
    false negatives, i.e. duplicates silently landing (advice r11)."""
    import json as _json
    import shutil as _sh

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from confluent_kafka_vector_search_prompt_inference_spark.streaming import pipeline
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import dedup_insert

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    bloom_dir = os.path.join(sink, "_bloomgate")

    def run_batch(rows, m_bits=None, **kw):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        with monkeypatch.context() as m:
            if m_bits is not None:
                m.setattr(pipeline, "bloom_gate_auto_m_bits", lambda _d: m_bits)
            q = dedup_insert(
                file_stream_reader(spark, src, schema),
                sink, str(tmp_path / "ckpt"),
                key_expr=F.md5("text"), bucket_partitions=4,
                compact_every=10**9, trigger_once=True, **kw,
            )
            _drain(q)

    # epoch 0: gated at a narrow width — pins m_bits=4096
    run_batch([(1, "alpha")], m_bits=1 << 12, bloom_gate=True)
    with open(os.path.join(bloom_dir, "_bloom_meta.json")) as fh:
        assert _json.load(fh)["m_bits"] == 1 << 12

    # epoch 1: AUTO gate, tiny store => gate disengaged, but the dir
    # exists so the post-land delta write still fires. Its width must
    # follow the 4096 pin, not bloom_gate_auto_m_bits' 2^20 floor.
    run_batch([(2, "beta")])
    with open(os.path.join(bloom_dir, "_bloom_meta.json")) as fh:
        assert _json.load(fh)["m_bits"] == 1 << 12  # pin untouched

    # epoch 2: gate re-engages at the pinned width and probes the
    # merged deltas — epoch 1's key must be bloom-POSITIVE so its
    # duplicate drops (a foreign-width epoch-1 delta reads negative)
    run_batch([(3, "beta"), (4, "gamma")], m_bits=1 << 12, bloom_gate=True)
    landed = {r.doc_id for r in read_sink(spark, sink).collect()}
    assert landed == {1, 2, 4}, landed

    # belt-and-braces: no committed delta in the dir may carry a word id
    # outside the pinned width's word space (32-bit packed words)
    words = spark.read.parquet(
        *glob.glob(os.path.join(bloom_dir, "_batch=*"))
    ).select("word").collect()
    assert all(0 <= r["word"] < (1 << 12) // 32 for r in words)
    _sh.rmtree(src, ignore_errors=True)


@pytest.mark.slow
def test_near_dedup_disengaged_delta_respects_pinned_width(spark, tmp_path, monkeypatch):
    """near_dedup_insert's band-bucket-value gate: same pinned-width
    contract as the exact lane — a disengaged-gate batch's delta must
    write at the meta pin so a later gated batch's probe still sees its
    bucket values (advice r11, the near-dedup face)."""
    import json as _json

    from confluent_kafka_vector_search_prompt_inference_spark.streaming import pipeline

    with monkeypatch.context() as m:
        m.setattr(pipeline, "bloom_gate_auto_m_bits", lambda _d: 1 << 12)
        sink = _nd_run(spark, tmp_path, "wpin", [(1, _ND_BASE)], bloom_gate=True)
    bg = os.path.join(sink, "_bloomgate")
    with open(os.path.join(bg, "_bloom_meta.json")) as fh:
        assert _json.load(fh)["m_bits"] == 1 << 12

    # disengaged (auto gate, tiny store) — delta still written, at the pin
    _nd_run(spark, tmp_path, "wpin", [(2, _ND_OTHER)])
    with open(os.path.join(bg, "_bloom_meta.json")) as fh:
        assert _json.load(fh)["m_bits"] == 1 << 12
    words = spark.read.parquet(
        *glob.glob(os.path.join(bg, "_batch=*"))
    ).select("word").collect()
    assert all(0 <= r["word"] < (1 << 12) // 32 for r in words)

    # gate re-engages at the pin: a near-copy of the DISENGAGED epoch's
    # doc must still be caught (its buckets probe positive)
    near = _ND_OTHER + " extra"
    with monkeypatch.context() as m:
        m.setattr(pipeline, "bloom_gate_auto_m_bits", lambda _d: 1 << 12)
        _nd_run(
            spark, tmp_path, "wpin", [(3, near), (4, _ND_THIRD)], bloom_gate=True,
        )
    landed = {r.doc_id for r in read_sink(spark, sink).collect()}
    assert landed == {1, 2, 4}, landed


@pytest.mark.slow
def test_spanclean_retention_backfills_uncovered_positive(spark, tmp_path):
    """Round-12 coverage guard (advice r11): retiring an epoch whose
    POSITIVE gram delta never landed (crash between the rows commit and
    the delta write, retention racing the next batch's heal pass) must
    backfill the positive before publishing the negative — otherwise
    the unmatched negative under-counts grams whose OTHER carriers are
    still live, and their next sighting lands uncut."""
    import shutil as _sh

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import enforce_retention_spanclean

    kw = dict(carrier_counts=True, compact_every=10**9)
    sink = _sc_run(
        spark, tmp_path, [(1, _SC_BOILER + " unique1a unique1b unique1c unique1d")], **kw
    )
    _sc_run(
        spark, tmp_path, [(2, _SC_BOILER + " unique2a unique2b unique2c unique2d")], **kw
    )
    # simulate the crash: epoch 0's positive delta vanishes before any
    # heal pass runs
    _sh.rmtree(os.path.join(sink, "_grams", "_batch=0"))

    # retire epoch 0 only — epoch 1 (a live boilerplate carrier) stays
    removed = enforce_retention_spanclean(
        spark, sink, id_col="doc_id", text_col="text", max_batches=1
    )
    assert removed == [0]

    # the boilerplate still has a live carrier (doc 2): the next
    # sighting must still be CUT. Without the guard the unmatched
    # negative drove its live sum to zero and doc 3 landed intact.
    _sc_run(
        spark, tmp_path, [(3, _SC_BOILER + " unique3a unique3b unique3c unique3d")], **kw
    )
    by_id = {r["doc_id"]: r for r in read_sink(spark, sink).collect()}
    assert by_id[3]["n_removed"] == 5, dict(by_id[3].asDict())


def test_sketch_insert_grouped_per_source(spark, tmp_path, docs):
    """sketch_insert(group_cols=) maintains one count-min PER SOURCE
    online: the merged grouped sketch equals the one-shot grouped build
    over everything landed, and each source's estimates answer from its
    own sketch (round 12 — completes the grouped streaming sketch
    matrix beside mg_insert/kmv_insert/bloom_insert)."""
    from confluent_kafka_vector_search_prompt_inference_spark.operators.sketches import countmin_build, countmin_lookup
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        read_corpus_sketch,
        sketch_insert,
    )

    terms = docs.limit(60).select(
        "source",
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
        ).alias("term"),
    )
    src = str(tmp_path / "src")
    terms.repartition(3).write.parquet(src)
    stream = file_stream_reader(spark, src, terms.schema, max_files_per_trigger=1)
    sink = str(tmp_path / "sink")
    q = sketch_insert(
        stream, sink, str(tmp_path / "ckpt"), term_col="term",
        depth=2, width=64, group_cols=["source"], trigger_once=True,
    )
    _drain(q)

    landed = read_sink(spark, sink)
    streamed = read_corpus_sketch(spark, sink, group_cols=["source"])
    oneshot = countmin_build(
        landed, "term", depth=2, width=64, group_cols=["source"]
    )
    diff = (
        streamed.withColumnRenamed("cnt", "c2")
        .join(oneshot, ["source", "d", "bucket"], "full")
        .filter(F.coalesce("cnt", F.lit(-1)) != F.coalesce("c2", F.lit(-2)))
        .count()
    )
    assert diff == 0
    true = landed.groupBy("source", "term").agg(F.count("*").alias("true_cnt"))
    est = countmin_lookup(
        streamed, true, "term", depth=2, width=64, group_cols=["source"]
    )
    assert est.filter(F.col("est") < F.col("true_cnt")).count() == 0


# ---------------------------------------------------------------------------
# lineclean_insert (round 12 — online line-level boilerplate removal)
# ---------------------------------------------------------------------------

def _lc_rows(spark, sink):
    return {
        r.doc_id: r
        for r in read_sink(spark, sink)
        .select("doc_id", "n_lines", "n_kept", "n_removed", "cleaned_text")
        .collect()
    }


def test_lineclean_one_batch_equals_batch_operator(spark, tmp_path):
    """A stream drained in ONE batch lands exactly the batch operator's
    output (the same contract spanclean_insert pins for grams)."""
    from confluent_kafka_vector_search_prompt_inference_spark.operators.repetition import remove_repeated_lines
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import lineclean_insert

    rows = [
        (1, "a", "nav\nalpha\nshared"),
        (2, "a", "nav\nshared\nbeta"),
        (3, "a", "nav\ngamma"),
        (4, "b", "nav\ndelta"),
        (5, "b", "nav\nepsilon"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "site", "text"])
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)
    sink = str(tmp_path / "sink")
    q = lineclean_insert(
        file_stream_reader(spark, src, df.schema),
        sink, str(tmp_path / "ckpt"),
        id_col="doc_id", text_col="text", group_cols=["site"],
        min_docs=2, max_doc_frac=0.5, trigger_once=True,
    )
    _drain(q)
    got = _lc_rows(spark, sink)
    want = {
        r["doc_id"]: r
        for r in remove_repeated_lines(
            df, "doc_id", "text", group_cols=["site"],
            min_docs=2, max_doc_frac=0.5,
        ).collect()
    }
    assert set(got) == set(want)
    for d in want:
        for c in ("n_lines", "n_kept", "n_removed", "cleaned_text"):
            assert got[d][c] == want[d][c], (d, c)


def test_lineclean_online_accumulation_and_no_retro_clean(spark, tmp_path):
    """Counts accumulate ACROSS batches: a banner below the gate in
    batch 1 lands intact there, crosses the cumulative gate in batch 2,
    and is cut from batch-2 docs only (history never retro-cleaned).
    The null group key forms one group online too."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        lineclean_insert,
        read_corpus_lines,
    )

    schema = spark.createDataFrame(
        [(0, "x", "y")], ["doc_id", "site", "text"]
    ).schema
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = lineclean_insert(
            file_stream_reader(spark, src, schema),
            sink, ckpt,
            id_col="doc_id", text_col="text", group_cols=["site"],
            min_docs=2, max_doc_frac=0.5, trigger_once=True,
        )
        _drain(q)

    # batch 1: banner on ONE of two site-s docs -> 1/2 under min_docs=2
    feed([
        (1, "s", "banner\none"),
        (2, "s", "two"),
        (10, None, "nullnav\nn1"),
    ])
    got = _lc_rows(spark, sink)
    assert got[1].cleaned_text == "banner\none"  # below the gate, intact
    assert got[10].cleaned_text == "nullnav\nn1"
    # batch 2: banner arrives on two more site-s docs -> cumulative 3/4
    # crosses both gates; batch-1 rows stay as landed
    feed([
        (3, "s", "banner\nthree"),
        (4, "s", "banner\nfour"),
        (11, None, "nullnav\nn2"),
    ])
    got = _lc_rows(spark, sink)
    assert got[3].cleaned_text == "three"
    assert got[4].cleaned_text == "four"
    assert got[1].cleaned_text == "banner\none"  # no retro-clean
    # null group accumulated to 2/2 -> its nav falls in batch 2
    assert got[11].cleaned_text == "n2"
    assert got[10].cleaned_text == "nullnav\nn1"
    # audit face: cumulative counts + group totals merge-on-read
    audit = {
        (r.site, r["__line"]): (r.doc_count, r.group_docs)
        for r in read_corpus_lines(
            spark, sink, group_cols=["site"]
        ).collect()
    }
    assert audit[("s", "banner")] == (3, 4)
    assert audit[(None, "nullnav")] == (2, 2)


def test_lineclean_heals_missing_deltas(spark, tmp_path):
    """Crash between the rows commit and the delta writes: the next
    batch's heal pass re-derives BOTH deltas from the landed raw text,
    so the banner still crosses the gate on schedule."""
    import shutil

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        lineclean_insert,
        read_corpus_lines,
    )

    schema = spark.createDataFrame(
        [(0, "x", "y")], ["doc_id", "site", "text"]
    ).schema
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = lineclean_insert(
            file_stream_reader(spark, src, schema),
            sink, ckpt,
            id_col="doc_id", text_col="text", group_cols=["site"],
            min_docs=2, max_doc_frac=0.5, trigger_once=True,
        )
        _drain(q)

    feed([(1, "s", "banner\none"), (2, "s", "banner\ntwo")])
    # simulate the crash window: epoch 0's deltas vanish
    shutil.rmtree(os.path.join(sink, "_lines"))
    shutil.rmtree(os.path.join(sink, "_linetotals"))
    feed([(3, "s", "banner\nthree")])
    got = _lc_rows(spark, sink)
    # healed store: banner was already on 2/2 docs -> doc 3 lands cut
    assert got[3].cleaned_text == "three"
    audit = {
        r["__line"]: (r.doc_count, r.group_docs)
        for r in read_corpus_lines(spark, sink, group_cols=["site"]).collect()
    }
    assert audit["banner"] == (3, 3)


@pytest.mark.slow
def test_lineclean_retention_releases_lines_and_totals(spark, tmp_path):
    """enforce_retention_lineclean retires the oldest epoch and writes
    NEGATIVE deltas to BOTH stores: the released banner stops being cut
    (its count returns below min_docs) and the fraction gate re-reads
    the LIVE corpus total."""
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        enforce_retention_lineclean,
        lineclean_insert,
        read_corpus_lines,
    )

    schema = spark.createDataFrame(
        [(0, "x", "y")], ["doc_id", "site", "text"]
    ).schema
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = lineclean_insert(
            file_stream_reader(spark, src, schema),
            sink, ckpt,
            id_col="doc_id", text_col="text", group_cols=["site"],
            min_docs=2, max_doc_frac=0.5, trigger_once=True,
        )
        _drain(q)

    feed([(1, "s", "banner\none"), (2, "s", "banner\ntwo")])
    feed([(3, "s", "three"), (4, "s", "four")])
    audit = {
        r["__line"]: (r.doc_count, r.group_docs)
        for r in read_corpus_lines(spark, sink, group_cols=["site"]).collect()
    }
    assert audit["banner"] == (2, 4)

    removed = enforce_retention_lineclean(
        spark, sink,
        id_col="doc_id", text_col="text", group_cols=["site"],
        max_batches=1,
    )
    assert removed == [0]
    assert not os.path.exists(os.path.join(sink, "_batch=0"))
    audit = {
        r["__line"]: (r.doc_count, r.group_docs)
        for r in read_corpus_lines(spark, sink, group_cols=["site"]).collect()
    }
    assert audit["banner"] == (0, 2)  # released; live total is 2

    # the released banner lands INTACT on re-sight (count back to 1 < 2)
    feed([(5, "s", "banner\nfive")])
    got = _lc_rows(spark, sink)
    assert got[5].cleaned_text == "banner\nfive"


def test_lineclean_retention_coverage_guard(spark, tmp_path):
    """A retiring epoch whose positive delta never landed (crash before
    the heal pass) is backfilled BEFORE its negative publishes — the
    line's live-carrier sum stays exact, never negative."""
    import shutil

    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        enforce_retention_lineclean,
        lineclean_insert,
        read_corpus_lines,
    )

    schema = spark.createDataFrame(
        [(0, "x", "y")], ["doc_id", "site", "text"]
    ).schema
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = lineclean_insert(
            file_stream_reader(spark, src, schema),
            sink, ckpt,
            id_col="doc_id", text_col="text", group_cols=["site"],
            min_docs=2, max_doc_frac=0.5, trigger_once=True,
        )
        _drain(q)

    feed([(1, "s", "banner\none"), (2, "s", "banner\ntwo")])
    feed([(3, "s", "banner\nthree")])
    # crash window: epoch 0's positive deltas never landed
    shutil.rmtree(os.path.join(sink, "_lines", "_batch=0"))
    shutil.rmtree(os.path.join(sink, "_linetotals", "_batch=0"))
    removed = enforce_retention_lineclean(
        spark, sink,
        id_col="doc_id", text_col="text", group_cols=["site"],
        max_batches=1,
    )
    assert removed == [0]
    audit = {
        r["__line"]: (r.doc_count, r.group_docs)
        for r in read_corpus_lines(spark, sink, group_cols=["site"]).collect()
    }
    assert audit["banner"] == (1, 1)  # epoch 1's carrier only — exact
