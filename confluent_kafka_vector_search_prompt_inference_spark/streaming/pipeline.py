"""Continuous INSERT-SELECT pipelines with idempotent sinks.

Flink's ``INSERT INTO ... SELECT`` gives exactly-once topic sinks
implicitly; Spark's ``foreachBatch`` re-delivers a batch after failure, so
the writer must be idempotent. Strategy: write each micro-batch under
``<sink>/_batch=<epoch_id>/`` and skip epochs whose directory already
committed — re-running a batch is a no-op, reproducing the reference's sink
contract at the semantic level (SURVEY.md §4.3). Readers see the sink as a
plain partitioned Parquet table.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType


def file_stream_reader(
    spark: SparkSession,
    path: str,
    schema: StructType,
    *,
    fmt: str = "parquet",
    max_files_per_trigger: int = 1,
):
    """Micro-batched file source — the test-friendly stand-in for a Kafka
    topic (same unbounded-table semantics, ``README.md:219``)."""
    return (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(path)
    )


def idempotent_batch_writer(sink_dir: str) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` function: batch-id-keyed, skip-if-committed."""

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        target = os.path.join(sink_dir, f"_batch={epoch_id}")
        if os.path.exists(os.path.join(target, "_SUCCESS")):
            return  # replay after failure — already committed
        batch_df.write.mode("overwrite").parquet(target)

    return write


def run_stateful_stream(
    df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    state_partitions: int | None = None,
    output_mode: str = "append",
    timeout_sec: float = 600,
) -> StreamingQuery:
    """Drain a NATIVE stateful streaming aggregation (window / session
    window through Spark's own state store) into an idempotent
    epoch-keyed sink, with the state-store partition count sized to the
    STATE instead of the session's corpus shuffle width (round 13).

    Spark fixes a stateful operator's store count from
    ``spark.sql.shuffle.partitions`` at the query's FIRST start and pins
    it in the checkpoint; the session default here is sized for corpus
    shuffles (``max(32, cores)``), while an event-window aggregate's
    state is (windows × keys) — usually orders of magnitude smaller —
    and every micro-batch pays a per-store open/commit/snapshot cost.
    Measured on the bench's 100k-row sliding-window lane (HDFS-backed
    provider, ~7k state rows): summed per-batch state commit 12.0 s
    across 32 stores vs 0.5 s across 8; p50 addBatch 813 → 300 ms; lane
    wall 8.5 → 3.9 s. Results are unchanged — partitioning never
    changes what a keyed aggregation emits.

    ``state_partitions=None`` keeps the session conf. The conf is set
    only for the query's lifetime (restored after the drain); because a
    stateful query re-reads the session conf when its first batch plans,
    the restore must — and does — happen only after ``awaitTermination``.
    Runs with ``availableNow``, so the call drains the source and
    returns the finished query (read throughput/progress off it)."""
    spark = df.sparkSession
    old = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(int(state_partitions)))
    try:
        q = (
            df.writeStream.outputMode(output_mode)
            .foreachBatch(idempotent_batch_writer(sink_dir))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout_sec)
        return q
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _parallel_postcommit(*thunks) -> None:
    """Run independent post-commit store writes concurrently (round 13,
    guide §2.6: Spark happily schedules several jobs at once — the
    per-batch delta/sidecar/bloom writes were only sequential because the
    driver called them sequentially, and each is a small driver-blocking
    job whose tail leaves the executors idle).

    ONLY for writes that are mutually independent under the store's
    crash contract: every write here is heal-covered if any other lands
    first and the process dies in between (bucket-store deltas backfill
    from the committed sink epoch via ``_heal_*``; missing bloom deltas
    backfill before the gate reads; a missing ids sidecar falls back to
    projecting the epoch dir) — so every interleaving a thread schedule
    can produce is a state the next batch already recovers from. The
    first exception re-raises after all thunks settle, so a failed write
    still fails the micro-batch and the checkpoint does not advance
    (partially-landed sibling writes are exactly the crash states the
    heals replay-idempotently absorb)."""
    thunks = [t for t in thunks if t is not None]
    if len(thunks) <= 1:
        for t in thunks:
            t()
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        errors = [f.exception() for f in futures]
    for e in errors:
        if e is not None:
            raise e


def _start_stream(
    stream_df: DataFrame, process, checkpoint_dir: str, trigger_once: bool
) -> StreamingQuery:
    """Start a lane: ``process(batch_df, epoch_id)`` is the stream's
    ``foreachBatch`` body, progress checkpoints under ``checkpoint_dir``
    (the replayable-source half of the exactly-once contract; the
    epoch-keyed sink writes are the idempotent half).
    ``trigger_once`` drains the available input then stops."""
    writer = stream_df.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def continuous_insert(
    stream_df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    validate=None,
    dead_letter_dir: str | None = None,
    trigger_once: bool = False,
) -> StreamingQuery:
    """The reference's continuous ``INSERT INTO sink SELECT ...`` shape
    (``README.md:286-288, 438-446``): unbounded source → transform →
    idempotent sink. ``trigger_once`` drains available input then stops
    (used by tests and backfills).

    ``transform`` runs inside ``foreachBatch`` on each micro-batch (a plain
    batch DataFrame), so it may use arbitrary batch operators — joins,
    aggregations, the full RAG pipeline — without streaming-mode
    restrictions; this is exactly how Flink's unbounded INSERT-SELECT
    statements are reproduced micro-batch-wise.

    ``validate`` (a boolean Column over the PRE-transform rows) routes
    failing rows to ``dead_letter_dir`` — its own idempotent epoch-keyed
    sink — instead of poisoning the batch: the DLQ pattern every
    production topic consumer runs (rows decode to NULL rather than
    crash per the wire contract; validation is where they get
    quarantined with replayability). Both sinks commit under the same
    epoch id, so replay is a no-op on each independently."""
    write_batch = idempotent_batch_writer(sink_dir)
    write_dead = (
        idempotent_batch_writer(dead_letter_dir) if dead_letter_dir else None
    )
    if validate is not None and write_dead is None:
        raise ValueError("validate requires dead_letter_dir")

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if validate is not None:
            from pyspark.sql import functions as F

            batch_df = batch_df.persist()
            try:
                ok = batch_df.filter(validate)
                bad = batch_df.filter(~F.coalesce(validate, F.lit(False)))
                write_dead(bad, epoch_id)
                batch_df_out = transform(ok) if transform is not None else ok
                write_batch(batch_df_out, epoch_id)
            finally:
                batch_df.unpersist()
            return
        if transform is not None:
            batch_df = transform(batch_df)
        write_batch(batch_df, epoch_id)

    return _start_stream(stream_df, process, checkpoint_dir, trigger_once)


def enforce_retention(
    sink_dir: str,
    *,
    max_batches: int | None = None,
    max_bytes: int | None = None,
) -> list[int]:
    """Drop the oldest committed ``_batch=`` directories beyond a count or
    byte budget — the engine-side analog of the reference's topic
    retention (1 h / 1 GB on ``user_questions``, ``README.md:102``):
    bounded sink state under a continuous INSERT. Returns the epoch ids
    removed. Oldest-first by epoch id; a batch is only dropped whole
    (mirroring segment deletion, not row-level expiry). Only committed
    epochs count toward either budget, each with every byte under it;
    an in-flight epoch (no ``_SUCCESS`` yet) is left alone."""
    doomed, _ = _retention_walk(sink_dir, max_batches, max_bytes)
    return [_drop_epoch(sink_dir, d) for d in doomed]


def _retention_walk(
    sink_dir: str, max_batches: int | None, max_bytes: int | None
) -> tuple[list[str], list[str]]:
    """The retention budget walk every ``enforce_retention*`` shares:
    over the COMMITTED epochs only (an in-flight epoch is invisible to
    readers, so it neither counts toward the budget nor is deleted),
    oldest-first, whole epochs, each weighed with everything under it
    (partitioned epochs keep their files in ``col=`` subdirs). Returns
    ``(doomed, survivors)``: the oldest dirs that must go for the rest
    to fit both budgets, and the rest."""
    dirs = _committed_batch_dirs(sink_dir)
    sizes = [_dir_bytes(d) if max_bytes is not None else 0 for d in dirs]
    total, n = sum(sizes), 0
    while n < len(dirs) and (
        (max_batches is not None and len(dirs) - n > max_batches)
        or (max_bytes is not None and total > max_bytes)
    ):
        total -= sizes[n]
        n += 1
    return dirs[:n], dirs[n:]


def _drop_epoch(sink_dir: str, batch_dir: str) -> int:
    """Delete one sink epoch and return its id. The epoch's live-id
    sidecar goes FIRST: a crash between the two deletes then leaves a
    sink epoch without a sidecar (readers fall back to the epoch itself
    — exact), never an orphaned sidecar."""
    import shutil

    eid = int(batch_dir.rsplit("=", 1)[1])
    shutil.rmtree(
        os.path.join(_ids_root(sink_dir), f"_batch={eid}"), ignore_errors=True
    )
    shutil.rmtree(batch_dir)
    return eid


def _retire_tmp(store: str, eid: int) -> str:
    return os.path.join(store, f"_retire_tmp_{eid}")


def _stage_retirement(delta: DataFrame, store: str, eid: int, nparts: int) -> None:
    """Write a retiring epoch's NEGATIVE bucket-store delta to the
    store's ``_retire_tmp_<e>``, laid out like a live delta (one file,
    rows sorted by their ``__bpart`` store partition)."""
    import shutil

    from pyspark.sql import functions as F

    tmp = _retire_tmp(store, eid)
    shutil.rmtree(tmp, ignore_errors=True)
    (
        delta.withColumn(
            "__bpart", F.pmod(F.col("__bucket"), F.lit(nparts)).cast("int")
        )
        .repartition(1)
        .sortWithinPartitions("__bpart")
        .write.mode("overwrite")
        .parquet(tmp)
    )


def _publish_retirement(store: str, eid: int) -> None:
    """Rename a complete retirement tmp to ``_batch=<-1000-e>``: negative
    ids, disjoint from every stream epoch (≥ 0) and ladder pre-land
    (−1, −2), so a replayed stream epoch can never be swallowed by a
    retirement dir."""
    import shutil

    target = os.path.join(store, f"_batch={-1000 - eid}")
    shutil.rmtree(target, ignore_errors=True)
    os.rename(_retire_tmp(store, eid), target)


def _recover_retirements(sink_dir: str, stores: list[str]) -> None:
    """Finish what a crashed negative-delta retention left: a COMPLETE
    tmp whose sink epoch is gone publishes; anything else is debris (its
    epoch is either still present — the caller re-derives it — or its
    raw text is lost and the conservative outcome is keep-suppressing)."""
    import re
    import shutil

    for store in stores:
        for name in os.listdir(store) if os.path.isdir(store) else []:
            m = re.fullmatch(r"_retire_tmp_(-?\d+)", name)
            if not m:
                continue
            eid, tmp = int(m.group(1)), os.path.join(store, name)
            epoch_gone = not os.path.exists(
                os.path.join(sink_dir, f"_batch={eid}", "_SUCCESS")
            )
            if epoch_gone and os.path.exists(os.path.join(tmp, "_SUCCESS")):
                _publish_retirement(store, eid)
            else:
                shutil.rmtree(tmp, ignore_errors=True)


def _backfill_positive(delta: DataFrame, store: str, eid: int, nparts: int) -> None:
    """Coverage guard before a negative publishes: land the retiring
    epoch's POSITIVE delta if a crash beat the stream's heal pass to it
    (idempotent — :func:`write_bucket_delta` skips a committed epoch).
    An unmatched negative would under-count keys whose other carriers
    are still live."""
    if not _ranges_contain(_covered_bucket_ranges(store), eid):
        write_bucket_delta(delta.repartition(1), store, eid, num_partitions=nparts)


#: exact-dedup store size above which the per-batch read prunes by
#: partition instead of full-scanning. Measured (SCALECHECK
#: exact_dedup_insert with embedded controls): the narrow (key, bucket)
#: store full-scans FASTER than the pruning machinery through 10M keys
#: (~330 MB; 133 vs 85 rows/s), because the probe job and the
#: 1-exp(-batch/N) fraction of partition-file opens are constant while
#: the scan is ~16 bytes/key and warm. The scan grows linearly and the
#: overhead doesn't, so past the projected ~4 GiB crossover (~250M keys
#: on the ladder host) pruning takes over — the asymptotically
#: mandatory shape for a 100 TB corpus' key set.
_EXACT_PRUNE_MIN_BYTES = 4 << 30


def _store_bytes(buckets_dir: str) -> int:
    """On-disk bytes of a bucket store's committed dirs: what the
    prune/gate crossover (:data:`_EXACT_PRUNE_MIN_BYTES`) and the gate
    width (:func:`bloom_gate_auto_m_bits`) are sized from."""
    return sum(_dir_bytes(d) for d in _committed_batch_dirs(buckets_dir))


def _store_past_crossover(buckets_dir: str) -> bool:
    """True once the store passes :data:`_EXACT_PRUNE_MIN_BYTES`: where
    the dedup lanes' pruned read and bloom gate engage by default."""
    return _store_bytes(buckets_dir) >= _EXACT_PRUNE_MIN_BYTES


def bloom_gate_auto_m_bits(buckets_dir: str) -> int:
    """Auto-sized width for the dedup lanes' bloom gate (:class:`_BloomGate`),
    from the bucket store's on-disk size: the narrow ``(key, bucket)`` store
    runs ~16 bytes/key, and ``m ≈ 16–32 bits/key`` keeps the gate's
    false-positive rate under ~0.5% at k=4 — a FIXED width would
    silently saturate as the store grows (measured: 2²² bits is
    all-positive by 10M keys, i.e. no gate at all, long before the
    ≥4 GiB regime where the gate engages by default). Power of two so
    the width only changes at store doublings; each change resets and
    rebuilds the bloom through the meta sidecar — an O(log n)-times
    amortized linear scan of the key column. Floor 2²⁰ (128 KB packed)
    so small stores don't thrash."""
    est_keys = max(1, _store_bytes(buckets_dir) // 16)
    m = 1 << 20
    while m < 16 * est_keys:
        m <<= 1
    return m


#: the gate bloom's hash count, pinned with its width in ``_bloom_meta.json``
_BLOOM_K = 4


def _bloom_pin(bloom_dir: str) -> dict | None:
    """The gate dir's pinned ``{"m_bits", "k"}``, or None when nothing is
    pinned or the pin cannot be read (a pin torn by a crash reads as a
    mismatch: the dir resets and rebuilds, never wedges the lane)."""
    import json

    try:
        with open(os.path.join(bloom_dir, "_bloom_meta.json")) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _bloomgate_sync_meta(bloom_dir: str, m_bits: int) -> None:
    """Pin a bloom-gate store's ``(m_bits, k)`` — the params are part of
    the bit positions themselves: deltas built under different params
    probe DIFFERENT bits, and merging them manufactures false negatives.
    On mismatch the whole dir resets and rebuilds from the sink (blooms
    are derived data) — the ``_ids`` schema-mismatch discipline, never a
    heterogeneous merge. The pin lands through tmp + ``os.replace``, so a
    crash never leaves a torn one."""
    import json
    import shutil

    want = {"m_bits": m_bits, "k": _BLOOM_K}
    if _bloom_pin(bloom_dir) == want:
        return
    shutil.rmtree(bloom_dir, ignore_errors=True)
    os.makedirs(bloom_dir, exist_ok=True)
    meta_path = os.path.join(bloom_dir, "_bloom_meta.json")
    with open(meta_path + ".tmp", "w") as fh:
        json.dump(want, fh)
    os.replace(meta_path + ".tmp", meta_path)


def _bloom_meta_m(bloom_dir: str) -> int | None:
    """The dir's PINNED bloom width, or None if nothing is pinned yet.

    Every delta write must use this, never a fresh auto-width recompute:
    the post-land delta path is reachable while the gate is DISENGAGED
    (``bloom_gate=None`` with the prune heuristic off but the dir left
    by earlier gated batches), and the auto width tracks CURRENT store
    bytes — across a shrink (fold/retention prune) and regrow it can
    pass through a different doubling and come back, so a recomputed
    width can differ from the pin while :func:`_bloomgate_sync_meta`
    later sees no mismatch. A foreign-width delta OR-merged into the
    dir probes the wrong words = FALSE NEGATIVES = duplicates landing
    (round-11 advice). Writing at the pinned width keeps every delta in
    a dir homogeneous by construction; the pin only moves through
    ``_bloomgate_sync_meta``'s reset-and-rebuild."""
    pin = _bloom_pin(bloom_dir)
    return int(pin["m_bits"]) if pin else None


def _bloomgate_batch_reduced(
    spark: SparkSession,
    bloom_dir: str,
    probes: DataFrame,
    key_col: str,
    m_bits: int,
) -> DataFrame:
    """The gate bloom, merged on read AND semi-reduced to the ≤
    ``|probes|·k`` packed words this batch will actually test — the
    small-probe / large-bloom regime: an auto-grown gate bloom can be
    store-scaled (100+ MB packed at 10M keys) and must not ship whole to
    every task for a micro-batch-sized probe set. Absent words read as
    unset bits, so membership semantics are unchanged (the 24 s/batch
    broadcast inversion the ladder caught, SCALING.md)."""
    from pyspark.sql import functions as F

    from confluent_kafka_vector_search_prompt_inference_spark.operators.membership import bloom_needed_words

    need = bloom_needed_words(probes, key_col, m_bits=m_bits, k=_BLOOM_K)
    return (
        spark.read.parquet(*_committed_batch_dirs(bloom_dir))
        .join(F.broadcast(need), "word", "left_semi")
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
    )


def _uncovered_epochs(sink_dir: str, store: str) -> list[tuple[int, str]]:
    """``(epoch id, dir)`` of every committed sink epoch that ``store``
    does not cover — neither a live ``_batch=`` dir nor a folded range.
    These are the gaps a heal pass backfills: a crash between the rows
    commit and the sidecar write, or a sink older than the store."""
    covered = _covered_bucket_ranges(store)
    out = []
    for d in _committed_batch_dirs(sink_dir):
        eid = int(d.rsplit("=", 1)[1])
        if not _ranges_contain(covered, eid):
            out.append((eid, d))
    return out


class _BloomGate:
    """The landed-values bloom gate of the two dedup lanes: per-epoch
    deltas under ``<sink>/_bloomgate`` (OR merge on read) over ``col`` —
    :func:`dedup_insert`'s exact key, :func:`near_dedup_insert`'s
    band-bucket values. ``values(spark, epoch_dir)`` gives a committed
    sink epoch's rows holding ``col``.

    A value the bloom rejects PROVABLY never landed. That needs the
    bloom to be a SUPERSET of every committed epoch's values (a missed
    one is a false negative: a duplicate landing), so a delta lands only
    AFTER its epoch's rows commit (:meth:`land`), and :meth:`positive`
    heals every uncovered epoch BEFORE it trusts the bloom. The width is
    :func:`bloom_gate_auto_m_bits` of the current store, looked up at
    each heal, and stays pinned through ``_bloom_meta.json``."""

    def __init__(
        self,
        sink_dir: str,
        col: str,
        values: Callable[[SparkSession, str], DataFrame],
    ):
        self.sink_dir = sink_dir
        self.dir = os.path.join(sink_dir, "_bloomgate")
        self.col = col
        self.values = values
        self._write = idempotent_batch_writer(self.dir)

    def _build(
        self, spark: SparkSession, epoch_dir: str, eid: int, m_bits: int
    ) -> None:
        from confluent_kafka_vector_search_prompt_inference_spark.operators.membership import bloom_build

        # duplicate values are free: bloom_build ORs bits
        rows = self.values(spark, epoch_dir).select(self.col)
        self._write(
            bloom_build(rows, self.col, m_bits=m_bits, k=_BLOOM_K).coalesce(1), eid
        )

    def heal(self, spark: SparkSession) -> int:
        """Pin the store's current auto width (a changed width resets the
        dir) and backfill every committed epoch the bloom does not cover.
        Returns the width."""
        m_bits = bloom_gate_auto_m_bits(os.path.join(self.sink_dir, "_buckets"))
        _bloomgate_sync_meta(self.dir, m_bits)
        for eid, d in _uncovered_epochs(self.sink_dir, self.dir):
            self._build(spark, d, eid, m_bits)
        return m_bits

    def positive(self, spark: SparkSession, probes: DataFrame) -> DataFrame:
        """The rows of ``probes`` whose ``col`` value the healed bloom
        holds: landed values plus the false-positive sliver."""
        from pyspark.sql import functions as F

        from confluent_kafka_vector_search_prompt_inference_spark.operators.membership import bloom_contains

        m_bits = self.heal(spark)
        bl = _bloomgate_batch_reduced(spark, self.dir, probes, self.col, m_bits)
        return (
            bloom_contains(bl, probes, self.col, m_bits=m_bits, k=_BLOOM_K)
            .filter(F.col("bloom_member"))
            .drop("bloom_member")
        )

    def land(
        self, spark: SparkSession, epoch_dir: str, eid: int, compact_every: int
    ) -> None:
        """Land a committed epoch's delta at the dir's PINNED width
        (:func:`_bloom_meta_m`; the auto width pins it only when nothing
        is pinned yet), then fold the OR-idempotent deltas once they
        outnumber the compaction cadence."""
        m_bits = _bloom_meta_m(self.dir)
        if m_bits is None:
            m_bits = bloom_gate_auto_m_bits(os.path.join(self.sink_dir, "_buckets"))
            _bloomgate_sync_meta(self.dir, m_bits)
        self._build(spark, epoch_dir, eid, m_bits)
        if len(_committed_batch_dirs(self.dir)) > compact_every:
            compact_sink(spark, self.dir, keep_batches=1)


def _heal_bucket_store(
    spark: SparkSession,
    sink_dir: str,
    delta: Callable[[SparkSession, str], DataFrame],
    n_parts: int,
    nparts_sidecar: bool,
) -> None:
    """Backfill the ``(id, __bucket)`` delta of every committed sink epoch
    the ``<sink>/_buckets`` store does not cover, from the epoch's own
    rows (``delta(spark, epoch_dir)``). ``repartition(1)``, not bare
    coalesce(1): a backfill may replay a LARGE pre-store epoch, and
    coalesce alone would collapse the whole read pipeline into one task —
    the shuffle keeps upstream parallelism while the flat write stays
    single-file. During an online rebucket ``n_parts`` is the migration
    target and each write records it (``nparts_sidecar``), same as the
    live delta path."""
    buckets_dir = os.path.join(sink_dir, "_buckets")
    for eid, d in _uncovered_epochs(sink_dir, buckets_dir):
        write_bucket_delta(
            delta(spark, d).repartition(1), buckets_dir, eid,
            num_partitions=n_parts, nparts_sidecar=nparts_sidecar,
        )


def _touched_parts(df: DataFrame, buckets_dir: str, bucket_partitions: int):
    """``parts_for`` for :func:`read_bucket_store`: the ``__bpart``
    partitions ``df``'s ``__bucket`` values touch, PER store N — one list
    in steady state, one per N while an online rebucket leaves the store
    mixed-N (pruning a target-N leg with meta-N parts would silently miss
    candidates). None for an N whose every partition is touched."""
    from pyspark.sql import functions as F

    parts_by_n: dict[int, list[int] | None] = {}
    for n in bucket_store_dir_ns(buckets_dir, bucket_partitions):
        vals = [
            r[0]
            for r in df.select(F.pmod(F.col("__bucket"), F.lit(n)).cast("int"))
            .distinct()
            .collect()
        ]
        parts_by_n[n] = vals if len(vals) < n else None
    return parts_by_n.get


def _land_epoch_sidecars(
    spark: SparkSession,
    sink_dir: str,
    epoch_id: int,
    *,
    delta: Callable[[SparkSession, str], DataFrame],
    id_col: str,
    ids_cols: list[str],
    gate: _BloomGate,
    gate_on: bool,
    bloom_gate: bool | None,
    bucket_partitions: int,
    compact_every: int,
    max_nudges: int = 1,
) -> None:
    """A dedup lane's writes after its epoch's rows commit: the epoch's
    bucket-store delta, its ``_ids`` sidecar and its bloom-gate delta,
    then the store's online maintenance (:func:`maintain_bucket_store`).

    The three sidecar writes are mutually independent under the heal
    contract — a missing store delta backfills through
    :func:`_heal_bucket_store` and a missing bloom delta through
    :meth:`_BloomGate.heal`, both BEFORE their consumers at the top of
    the next batch, and a missing ids sidecar means readers project the
    epoch dir — so they overlap (:func:`_parallel_postcommit`) instead of
    paying three sequential driver-blocking jobs per batch. The bloom
    delta lands when the gate ran this batch (``gate_on``), and also when
    it did not but its dir exists and ``bloom_gate`` does not force it
    off: the bloom must stay a superset of landed values for the batch
    that engages it next. Rows first, then sidecars: a crash between the
    two is exactly what the heals close; a committed replay skips every
    write idempotently."""
    target = os.path.join(sink_dir, f"_batch={epoch_id}")
    if not os.path.exists(os.path.join(target, "_SUCCESS")):
        return
    buckets_dir = os.path.join(sink_dir, "_buckets")
    n, sidecar = bucket_store_write_partitions(buckets_dir, bucket_partitions)
    land_bloom = gate_on or (bloom_gate is None and os.path.isdir(gate.dir))
    _parallel_postcommit(
        lambda: write_bucket_delta(
            delta(spark, target), buckets_dir, epoch_id,
            num_partitions=n, nparts_sidecar=sidecar,
        ),
        lambda: write_ids_sidecar(spark, sink_dir, epoch_id, ids_cols),
        (lambda: gate.land(spark, target, epoch_id, compact_every))
        if land_bloom
        else None,
    )
    # keep_batches=1 preserves idempotent replay of the newest epoch;
    # absorbed ids live on in _folded_epochs.json range sidecars
    maintain_bucket_store(
        spark, sink_dir, id_col=id_col,
        bucket_partitions=bucket_partitions,
        compact_every=compact_every, keep_batches=1,
        max_nudges_per_call=max_nudges,
    )


def dedup_insert(
    stream_df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    key_expr,
    key_name: str = "__fp",
    bucket_partitions: int = 64,
    compact_every: int = 16,
    prune_store_read: bool | None = None,
    bloom_gate: bool | None = None,
    trigger_once: bool = False,
) -> StreamingQuery:
    """Continuous INSERT that drops rows whose content key already landed —
    incremental exact dedup against the sink itself.

    Each micro-batch (a) dedups within itself (one surviving row per
    key), then (b) anti-joins the keys already landed. Unlike
    ``dropDuplicates`` in streaming mode, the seen-set lives in the
    sink, not executor state — it survives restarts and is unbounded
    without a watermark.

    Round 10 makes the landed-keys side the SAME bucket store the
    near-dedup lane runs (``<sink>/_buckets``), with ``__bucket =
    xxhash64(key)`` — exact dedup is near-dedup with one band. The
    anti-join's right side used to be a full scan AND a history-sized
    shuffle of every landed key per batch (left-anti can only broadcast
    its right side, and the seen-set is the side that grows forever);
    now the store read PRUNES to the ``__bpart`` partitions the batch's
    key hashes touch, a bucket semi-join narrows it to exact-match
    candidates (hash collisions only add rows, never drop them), and
    the candidate set — batch-sized, not history-sized — broadcasts
    into the anti-join. Per-batch history cost: a pruned narrow scan,
    no history-sized shuffle. Everything the near-dedup store earned
    rides along free: tiered geometric compaction, online rebucket
    (``request_rebucket_online``), retention tombstones
    (``enforce_retention_tombstoned(id_col=key_name)`` — a retired
    key's re-delivery lands again, which is what retention MEANS), the
    ``maintain_bucket_store`` lifecycle, and the narrow ``_ids``
    sidecars its re-verify reads. One addition the exact lane needs
    that near-dedup gets implicitly from its text re-attach: while a
    tombstone is un-GC'd the store can hold STALE rows for retired
    keys, so the candidate set re-verifies at query time (candidates ∩
    tombstoned, minus re-landed live keys, leave the seen set) — a
    retired key's re-delivery lands immediately, not after the folds
    drain. A pre-round-10 sink (no store) is self-healed: every
    committed epoch backfills its ``(key, bucket)`` delta from the
    epoch's own key column, once. Retention on this sink must run
    through ``enforce_retention_tombstoned`` (plain deletion would
    leave dead keys suppressing forever with no tombstone to drain
    them) — the same contract the near-dedup lane carries.

    ``prune_store_read`` — the pruning regime, MEASURED on the ladder
    (SCALECHECK ``exact_dedup_insert``, controls embedded): the store is
    so narrow (two long columns per key, ~16 bytes/row) that a full
    warm scan of a 10M-key store costs less than the pruning machinery
    (the touched-partition probe job plus opening ~``1-exp(-batch/N)``
    of N partition directories) — pruned LOST 85 vs 133 rows/s at 10M.
    The asymptotics reverse unconditionally: the overhead is constant
    while the scan grows linearly (a 1B-key store is ~16 GB per batch,
    a 100 TB corpus' key set is TBs), so ``None`` (default) gates by
    measured store size — full scan below
    :data:`_EXACT_PRUNE_MIN_BYTES`, pruned above (the projected
    crossover on the ladder host; the same young-store logic the
    near-dedup lane applies via ``has_base``). ``True``/``False`` force
    either mode (the ladder's A/B).

    ``bloom_gate`` (round 10): the dedup lanes' one bloom gate
    (:class:`_BloomGate`), here over every landed key, pre-screens the
    batch — keys the bloom rejects PROVABLY never landed, so they skip
    the store entirely and only the bloom-positive sliver (true
    re-deliveries + the fp rate) drives the candidate read. On a
    new-key-heavy stream this shrinks the pruned read's touched
    partitions from ~|batch| dirs to ~fp·|batch| — the file-open cost
    the prune ladder measured as its own bottleneck. Correctness is
    one-sided and crash-safe (deltas land after their epoch's rows,
    gaps heal before the bloom is trusted, a pre-gate sink backfills
    once), and false positives only cost the exact check they'd have
    done anyway. Retired keys stay in the bloom (over-approximation) —
    their re-deliveries take the exact path, where the tombstone
    re-verify lands them, which is what retention means. The width is
    :func:`bloom_gate_auto_m_bits` of the store's measured bytes
    (~16–32 bits/key, <~0.5% fp at k=4), reset + rebuilt at each
    power-of-two doubling; a fixed width would saturate toward
    all-positive as the store grows (measured: 2²² is all-positive by
    10M keys). ``bloom_gate=None`` (default) follows the prune decision
    — the regime where the win lives; ``True``/``False`` force (the
    ladder's A/B)."""
    from pyspark.sql import functions as F

    write_batch = idempotent_batch_writer(sink_dir)
    buckets_dir = os.path.join(sink_dir, "_buckets")
    gate = _BloomGate(sink_dir, key_name, lambda spark, d: spark.read.parquet(d))

    def _epoch_delta(spark: SparkSession, epoch_dir: str) -> DataFrame:
        rows = spark.read.parquet(epoch_dir)
        if key_name not in rows.columns:
            raise ValueError(
                f"dedup_insert sink {sink_dir!r} contains landed rows "
                f"without a {key_name!r} column (written by a different "
                "sink writer?). Point dedup_insert at its own sink dir."
            )
        return rows.select(
            key_name, F.xxhash64(key_name).alias("__bucket")
        ).dropDuplicates([key_name])

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        keyed = batch_df.withColumn(key_name, key_expr)
        keyed = keyed.dropDuplicates([key_name])
        # An empty sink (first batch) has no committed _batch=* dirs; any
        # other failure must propagate so the checkpoint retries the batch —
        # swallowing it would silently disable dedup and commit duplicates.
        gate_on = bool(bloom_gate)
        persisted: list[DataFrame] = []
        if _sink_has_batches(sink_dir):
            _heal_bucket_store(
                spark, sink_dir, _epoch_delta,
                *bucket_store_write_partitions(buckets_dir, bucket_partitions),
            )
            inc = keyed.select(
                key_name, F.xxhash64(key_name).alias("__bucket")
            ).persist()
            persisted.append(inc)
            prune = prune_store_read
            if prune is None:
                prune = _store_past_crossover(buckets_dir)
            gate_on = bloom_gate if bloom_gate is not None else prune
            if gate_on:
                # pre-screen against the landed-keys bloom: rejected
                # keys PROVABLY never landed and drop out of the
                # candidate derivation entirely; only the positive
                # sliver (re-deliveries + fp) touches the store below
                inc = gate.positive(spark, inc).persist()
                persisted.append(inc)
            parts_for = None
            if prune and _split_bucket_dirs(_committed_batch_dirs(buckets_dir))[0]:
                parts_for = _touched_parts(inc, buckets_dir, bucket_partitions)
            old = read_bucket_store(
                spark, buckets_dir, key_name, parts_for=parts_for
            )
            # exact-match candidates: store rows whose bucket appears in
            # the (gated) batch (collisions only WIDEN the set) —
            # batch-sized, so the anti-join's right side broadcasts
            seen = old.join(
                F.broadcast(inc.select("__bucket").distinct()),
                "__bucket",
                "left_semi",
            ).select(key_name).distinct()
            # the store may hold STALE rows for retired keys until the
            # maintenance folds drain a live retention tombstone — and a
            # retired key's re-delivery must LAND (forgetting is what
            # retention means). Re-verify exactly like the near-dedup
            # lane, but at query time and batch-bounded: candidates ∩
            # tombstoned, minus keys that re-landed (live again), leave
            # the seen set. Engages only while tombstones are un-GC'd —
            # a transient O(log history)-fold window.
            tombs = _live_tombstones(buckets_dir)
            if tombs:
                # candidates ∩ tombstoned with the TINY side broadcast
                # (a retirement tombstone can be epoch-sized; seen is
                # batch-bounded), then the re-land re-verify over the
                # narrow _ids sidecars
                tombstoned = spark.read.parquet(*tombs).select(key_name)
                dead = tombstoned.join(
                    F.broadcast(seen), key_name, "left_semi"
                ).distinct().join(
                    read_sink_ids(spark, sink_dir, [key_name]),
                    key_name,
                    "left_anti",
                )
                seen = seen.join(F.broadcast(dead), key_name, "left_anti")
            keyed = keyed.join(F.broadcast(seen), key_name, "left_anti")
        try:
            write_batch(keyed, epoch_id)
            _land_epoch_sidecars(
                spark, sink_dir, epoch_id, delta=_epoch_delta,
                id_col=key_name, ids_cols=[key_name], gate=gate,
                gate_on=gate_on, bloom_gate=bloom_gate,
                bucket_partitions=bucket_partitions, compact_every=compact_every,
            )
        finally:
            for df in reversed(persisted):
                df.unpersist()

    return _start_stream(stream_df, process, checkpoint_dir, trigger_once)


def _sink_has_batches(sink_dir: str) -> bool:
    """True iff the sink holds at least one committed ``_batch=<n>`` dir."""
    import glob

    return bool(glob.glob(os.path.join(sink_dir, "_batch=*", "_SUCCESS")))


def spanclean_insert(
    stream_df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    id_col: str,
    text_col: str,
    n: int = 5,
    gram_partitions: int = 64,
    compact_every: int = 16,
    prune_store_read: bool | None = None,
    carrier_counts: bool = False,
    trigger_once: bool = False,
) -> StreamingQuery:
    """Continuous INSERT with ONLINE repeated-span removal — the streaming
    face of :func:`operators.dedup.repeated_span_removal` (substring-level
    dedup, Lee et al.): each micro-batch's documents land with every word
    ``n``-gram the STREAM has already carried cut out of them.

    Online semantics (arrival-order, the streaming analog of the batch
    op's corpus-global count, and the same first-arrived-wins contract
    :func:`dedup_insert` gives whole keys): a gram's FIRST delivery lands
    intact — history is never retro-cleaned — and every later occurrence
    (cross-batch via the gram store, or a within-batch repeat, where the
    batch op's all-occurrences rule applies verbatim) is covered. A
    stream drained in ONE batch therefore lands exactly the batch
    operator's output (pytest-pinned).

    Rows land with BOTH the raw ``text_col`` and the cleaned columns
    (``cleaned_text``, ``n_words``/``n_kept``/``n_removed``/
    ``removed_frac``) — raw text is the provenance the crash heal needs
    (below) and what a re-run audit wants anyway; fully-boilerplate docs
    land with ``cleaned_text=''`` so survivor accounting stays exact
    (consumers filter ``n_kept > 0``).

    Seen-gram state = the same ``(key, __bucket)`` bucket-store shape the
    exact-dedup lane runs, keyed by the gram STRING under
    ``<sink>/_grams`` (``__bucket = xxhash64(gram)``; candidates
    re-verify by exact string match, so hash collisions can only widen
    the candidate read, never over-clean). Unlike the whole-doc-key
    lanes, partition pruning cannot engage: a batch carries ~n_words
    grams per doc, so even a small batch's hash set touches every
    ``__bpart`` partition — the honest per-batch history cost is a
    columnar scan of the store's two narrow columns, linear in store
    rows (``prune_store_read=True`` forces the dead prune machinery on,
    the ladder's A/B; default off). The candidate set is batch-bounded
    and broadcasts. The flat delta tail folds through
    :func:`tiered_compact_sink` every ``compact_every`` epochs — the
    gram store grows with the corpus, so the geometric policy (each byte
    rewritten O(log history) times) matters here, and its
    ``__bpart``-partitioned runs are the legs :func:`read_bucket_store`
    already unions (folded-epoch sidecars keep the heal's coverage check
    O(#runs)).

    Crash contract (mirrors :func:`dedup_insert`): the epoch's rows
    commit FIRST, its gram delta lands right after; the heal pass
    backfills any committed epoch missing its delta by re-deriving grams
    from the epoch's landed RAW text column — which is why raw text
    rides along. A replayed epoch recomputes cleaning against a store
    that may meanwhile include its own grams, but the idempotent writer
    discards the recompute (rows already committed), so the sink never
    sees the difference.

    At 100 TB the gram store is token-scale — far larger than a key
    store — which is exactly why the scan/prune crossover and the
    per-epoch delta shape (micro-batch-sized, folded geometrically)
    matter here more than anywhere else on the streaming shelf.

    ``carrier_counts`` (round 11, OPT-IN — the never-forget default is
    the right training-data-dedup semantics and stays the default):
    gram deltas carry ``__cnt`` = the number of carrier DOCUMENTS in
    that epoch (derived from raw text, exactly like the heal pass), so
    retention can RELEASE a gram once its last carrier retires:
    :func:`enforce_retention_spanclean` writes a NEGATIVE delta from a
    retiring epoch's raw text before deleting it, folds sum counts per
    gram (dropping exact zeros, keeping un-met negatives), and the
    candidate read treats a gram as seen only while its candidate-
    bounded sum is > 0. Released grams land intact on re-sight and
    re-register — suppression resumes automatically. Already-cleaned
    history is never retro-restored (same no-retro-clean contract as
    the base lane). The mode is pinned in ``_grams/_mode.json``:
    counted and uncounted deltas must never mix (a counted sum over
    rows missing ``__cnt`` would be garbage), so a mismatch raises.
    Cost: one extra long column in the store and a candidate-bounded
    per-batch aggregation — laddered beside the uncounted lane."""
    from pyspark.sql import functions as F

    from confluent_kafka_vector_search_prompt_inference_spark.operators.dedup import (
        gram_occurrences,
        span_clean,
        span_tokenized,
    )

    write_batch = idempotent_batch_writer(sink_dir)
    grams_dir = os.path.join(sink_dir, "_grams")
    grams_checked: set[int] = set()

    def _gram_delta(occ: DataFrame) -> DataFrame:
        """Gram-store delta rows from an occurrences table: distinct
        grams, plus per-gram carrier-DOC counts in counted mode (both
        pure functions of the raw text, so heal and live paths agree)."""
        if carrier_counts:
            return (
                occ.groupBy("__s")
                .agg(F.count_distinct("__id").cast("long").alias("__cnt"))
                .withColumn("__bucket", F.xxhash64("__s"))
            )
        return (
            occ.select("__s")
            .dropDuplicates(["__s"])
            .withColumn("__bucket", F.xxhash64("__s"))
        )

    def _epoch_grams(spark: SparkSession, epoch_dir: str) -> DataFrame:
        rows = spark.read.parquet(epoch_dir).select(id_col, text_col)
        return _gram_delta(
            gram_occurrences(span_tokenized(rows, id_col, text_col), n)
        ).repartition(1)

    def _heal_grams(spark: SparkSession) -> None:
        covered = _covered_bucket_ranges(grams_dir)
        for d in _committed_batch_dirs(sink_dir):
            eid = int(d.rsplit("=", 1)[1])
            if eid in grams_checked or _ranges_contain(covered, eid):
                grams_checked.add(eid)
                continue
            write_bucket_delta(
                _epoch_grams(spark, d), grams_dir, eid,
                num_partitions=gram_partitions,
            )
            grams_checked.add(eid)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        _spanclean_sync_mode(grams_dir, carrier_counts)
        # one row per id: a duplicated id would explode its words twice
        # into the same (id, pos) space and the rebuild would interleave
        # both texts — the same per-batch id-uniqueness contract the
        # other insert lanes carry
        batch_df = batch_df.dropDuplicates([id_col])
        base = span_tokenized(batch_df, id_col, text_col).persist()
        occ = gram_occurrences(base, n).persist()
        # within-batch duplicated grams: the batch operator's rule applies
        # verbatim (ALL occurrences covered, count >= 2)
        dup = (
            occ.groupBy("__s")
            .agg(F.count("*").alias("__cnt"))
            .filter(F.col("__cnt") >= 2)
            .select("__s")
        )
        inc = None
        try:
            if _sink_has_batches(sink_dir) or _committed_batch_dirs(grams_dir):
                _heal_grams(spark)
                inc = (
                    occ.select("__s")
                    .dropDuplicates(["__s"])
                    .withColumn("__bucket", F.xxhash64("__s"))
                    .persist()
                )
                # partition pruning CANNOT engage here the way it does for
                # whole-doc keys: a batch carries ~n_words grams per doc
                # (a 500-doc batch ≈ 13k gram hashes), so every one of the
                # N=64 partitions is touched and the parts list degenerates
                # to None — the prune machinery would pay its probe job +
                # byte walk per batch and then full-scan anyway
                # (SCALECHECK `spanclean_insert` carries the forced-prune
                # control). The honest per-batch history cost is the
                # columnar two-long-column scan of the store's bucket/gram
                # columns; default False skips the dead overhead, True is
                # the ladder's A/B.
                prune = bool(prune_store_read)
                parts = None
                if prune:
                    vals = [
                        r[0]
                        for r in inc.select(
                            F.pmod(F.col("__bucket"), F.lit(gram_partitions)).cast("int")
                        )
                        .distinct()
                        .collect()
                    ]
                    parts = vals if len(vals) < gram_partitions else None
                old = read_bucket_store(
                    spark, grams_dir, "__s", parts=parts,
                    extra_cols=("__cnt",) if carrier_counts else (),
                )
                # exact-match candidates: store grams whose bucket appears
                # in the batch (collisions only WIDEN) — batch-bounded, so
                # the semi-join's right side broadcasts; then exact string
                # verify against the batch's own gram set
                cand = old.join(
                    F.broadcast(inc.select("__bucket").distinct()),
                    "__bucket",
                    "left_semi",
                )
                if carrier_counts:
                    # a gram is seen only while its live carrier count is
                    # positive — negative retirement deltas subtract here;
                    # the aggregation is candidate-bounded (batch-sized),
                    # never store-wide
                    seen = (
                        cand.groupBy("__s")
                        .agg(F.sum("__cnt").alias("__c"))
                        .filter(F.col("__c") > 0)
                        .select("__s")
                    )
                else:
                    seen = cand.select("__s").dropDuplicates(["__s"])
                dup = dup.unionByName(seen).dropDuplicates(["__s"])
            cleaned = span_clean(base, occ, dup, id_col, n=n)
            rows = batch_df.select(id_col, text_col).join(cleaned, id_col)
            write_batch(rows, epoch_id)
            target = os.path.join(sink_dir, f"_batch={epoch_id}")
            if os.path.exists(os.path.join(target, "_SUCCESS")):
                # the epoch's own grams (already computed — identical to a
                # re-derivation from the landed raw text) append to the
                # store — unless a fold already swallowed this epoch's
                # delta (a REPLAYED epoch after compaction): re-creating
                # it would only widen candidate reads, but the widened
                # rows would never dedup out of the store
                if not _ranges_contain(
                    _covered_bucket_ranges(grams_dir), epoch_id
                ):
                    write_bucket_delta(
                        _gram_delta(occ).repartition(1),
                        grams_dir,
                        epoch_id,
                        num_partitions=gram_partitions,
                    )
                grams_checked.add(epoch_id)
                if len(_committed_batch_dirs(grams_dir)) > compact_every:
                    # tiered, NOT compact_sink: the gram store grows with
                    # the corpus (token-scale), so an everything-into-one-
                    # base fold would rewrite the whole store every
                    # compact_every epochs — O(history) per fold. The
                    # geometric policy bounds each byte's rewrites at
                    # O(log history), and its __bpart-partitioned runs are
                    # exactly the legs read_bucket_store already unions.
                    tiered_compact_sink(
                        spark, grams_dir, keep_batches=1,
                        partition_by=["__bpart"],
                        transform=(
                            _spanclean_fold_counts if carrier_counts else None
                        ),
                    )
        finally:
            base.unpersist()
            occ.unpersist()
            if inc is not None:
                inc.unpersist()

    return _start_stream(stream_df, process, checkpoint_dir, trigger_once)


def _spanclean_sync_mode(grams_dir: str, carrier_counts: bool) -> None:
    """Pin the gram store's mode in ``_grams/_mode.json``: counted and
    uncounted deltas must never mix (a count-sum over rows missing
    ``__cnt`` is garbage; ignoring counts silently reverts retention
    semantics), so a mismatch between the store and the caller raises
    instead of guessing."""
    import json

    os.makedirs(grams_dir, exist_ok=True)
    p = os.path.join(grams_dir, "_mode.json")
    want = {"carrier_counts": bool(carrier_counts)}
    if os.path.exists(p):
        with open(p) as fh:
            have = json.load(fh)
        if have != want:
            raise ValueError(
                f"spanclean gram store {grams_dir!r} was created with "
                f"{have} but this writer wants {want}: counted and "
                "uncounted gram deltas must never mix. Point the lane at "
                "a fresh sink or keep the store's mode."
            )
        return
    if carrier_counts and _committed_batch_dirs(grams_dir):
        # a pre-mode store holds UNCOUNTED deltas; a counted writer
        # cannot retrofit them (their carrier counts are gone with the
        # epochs that may already have been retained away)
        raise ValueError(
            f"spanclean gram store {grams_dir!r} predates carrier "
            "counting and already holds uncounted deltas: counted and "
            "uncounted gram deltas must never mix. Start carrier_counts "
            "from the sink's first epoch."
        )
    tmp = p + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(want, fh)
    os.replace(tmp, p)


def _spanclean_fold_counts(df: DataFrame) -> DataFrame:
    """Fold transform for a carrier-counted gram store: sum counts per
    gram, drop EXACT zeros (a fully-released gram), keep negatives — a
    retirement delta may fold before it meets its positives in an older
    run, and dropping the un-met negative would lose the subtraction.
    Grouping carries ``__bucket``/``__bpart`` (functions of the gram)
    so the folded run keeps the store layout."""
    from pyspark.sql import functions as F

    return (
        df.groupBy("__s", "__bucket", "__bpart")
        .agg(F.sum("__cnt").alias("__cnt"))
        .filter(F.col("__cnt") != 0)
    )


def _lineclean_tables(
    batch_df: DataFrame, id_col: str, text_col: str, g: list, line_sep: str
):
    """(base, lines, line-count delta, totals delta) for one batch of a
    :func:`lineclean_insert` stream — pure functions of the raw rows, so
    the heal pass and the live path derive identical deltas."""
    import re as _re

    from pyspark.sql import functions as F

    base = batch_df.select(
        F.col(id_col).alias("__id"),
        *[F.col(c) for c in g],
        F.split(F.col(text_col), _re.escape(line_sep)).alias("__ls"),
    )
    lines = base.select("__id", *g, F.posexplode("__ls").alias("__pos", "__line"))
    binc = (
        lines.groupBy(*g, "__line")
        .agg(F.count_distinct("__id").cast("long").alias("__cnt"))
        .withColumn("__bucket", F.xxhash64(*g, "__line"))
    )
    gk = (
        F.concat_ws(
            "\x1f",
            *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in g],
        )
        if g
        else F.lit("")
    )
    btot = (
        base.groupBy(*g)
        .agg(F.count_distinct("__id").cast("long").alias("__nd"))
        .withColumn("__gk", gk)
        .withColumn("__bucket", F.xxhash64("__gk"))
    )
    return base, lines, binc, btot


def _lineclean_fold(df: DataFrame) -> DataFrame:
    """Fold transform for the line store: counts are additive per
    (group…, line). Exact zeros (a fully-released line after
    :func:`enforce_retention_lineclean`) drop; negatives KEEP — a
    retirement delta may fold before it meets its positives in an older
    run, and dropping the un-met negative would lose the subtraction
    (same contract as the carrier-counted gram store)."""
    from pyspark.sql import functions as F

    keys = [c for c in df.columns if c not in ("__cnt",)]
    return (
        df.groupBy(*keys)
        .agg(F.sum("__cnt").alias("__cnt"))
        .filter(F.col("__cnt") != 0)
    )


def _linetotals_fold(df: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    keys = [c for c in df.columns if c not in ("__nd",)]
    return (
        df.groupBy(*keys)
        .agg(F.sum("__nd").alias("__nd"))
        .filter(F.col("__nd") != 0)
    )


def lineclean_insert(
    stream_df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    id_col: str,
    text_col: str,
    group_cols: list[str] | None = None,
    min_docs: int = 2,
    max_doc_frac: float = 0.5,
    line_sep: str = "\n",
    line_partitions: int = 64,
    compact_every: int = 16,
    trigger_once: bool = False,
) -> StreamingQuery:
    """Continuous INSERT with ONLINE line-level boilerplate removal — the
    streaming face of :func:`operators.repetition.remove_repeated_lines`
    (CCNet/RefinedWeb per-site line dedup): each micro-batch's documents
    land with every line the STREAM has seen in enough of the group's
    documents cut out of them.

    Online semantics (arrival-order, like :func:`spanclean_insert`'s
    gram contract): a line is boilerplate for THIS batch when its
    CUMULATIVE distinct-document count (line store + this batch) crosses
    BOTH gates — ``>= min_docs`` and ``>= max_doc_frac`` of the group's
    cumulative document total. Early deliveries land intact (history is
    never retro-cleaned); once a nav bar has been seen on enough of a
    site's pages, every later page of that site lands without it. A
    stream drained in ONE batch lands exactly the batch operator's
    output (pytest-pinned). Group membership is NULL-SAFE throughout —
    a null group key forms one group, exactly as in the batch operator.

    Rows land with the raw ``text_col`` (heal provenance) plus
    ``n_lines`` / ``n_kept`` / ``n_removed`` / ``cleaned_text``.

    State: a carrier-counted line store under ``<sink>/_lines`` —
    ``(*group_cols, __line, __cnt, __bucket)`` bucket-store deltas
    (``__bucket = xxhash64(group…, line)``; candidates re-verify by
    exact null-safe match, so collisions only widen the candidate read)
    — and the tiny per-group document totals under
    ``<sink>/_linetotals`` (|groups|-row deltas on the same bucket-store
    plumbing keyed by a group-key string). Both fold through
    :func:`tiered_compact_sink` (counts additive; every byte rewritten
    O(log history) times); as with grams, partition pruning cannot
    engage (a batch's line set hashes across every partition), so the
    honest per-batch history cost is the columnar scan of the line
    store's narrow columns.

    Crash contract (mirrors :func:`spanclean_insert`): the epoch's rows
    commit FIRST, then its line delta, then its totals delta; the heal
    pass backfills any committed epoch missing either delta by
    re-deriving it from the epoch's landed RAW text. Every crash point
    therefore degrades to UNDER-counting some lines for a batch or two
    (boilerplate cut later than ideal) — never to over-cleaning.

    At 100 TB: the line store is line-scale (far smaller than the gram
    store — one row per distinct (site, line), not per token n-gram),
    the per-batch candidate set is batch-bounded and broadcast, and the
    totals side stays |groups|-sized end to end."""
    from pyspark.sql import functions as F

    if min_docs < 1:
        raise ValueError("min_docs must be >= 1")
    if not (0.0 <= max_doc_frac <= 1.0):
        raise ValueError("max_doc_frac must be in [0, 1]")
    g = list(group_cols or [])
    write_batch = idempotent_batch_writer(sink_dir)
    lines_dir = os.path.join(sink_dir, "_lines")
    totals_dir = os.path.join(sink_dir, "_linetotals")
    healed: set[int] = set()

    def _heal(spark: SparkSession) -> None:
        cov_l = _covered_bucket_ranges(lines_dir)
        cov_t = _covered_bucket_ranges(totals_dir)
        for d in _committed_batch_dirs(sink_dir):
            eid = int(d.rsplit("=", 1)[1])
            if eid in healed:
                continue
            need_l = not _ranges_contain(cov_l, eid)
            need_t = not _ranges_contain(cov_t, eid)
            if need_l or need_t:
                rows = spark.read.parquet(d).select(id_col, text_col, *g)
                _, _, binc, btot = _lineclean_tables(
                    rows, id_col, text_col, g, line_sep
                )
                if need_l:
                    write_bucket_delta(
                        binc.repartition(1), lines_dir, eid,
                        num_partitions=line_partitions,
                    )
                if need_t:
                    write_bucket_delta(
                        btot.repartition(1), totals_dir, eid,
                        num_partitions=1,
                    )
            healed.add(eid)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.dropDuplicates([id_col]).persist()
        base, lines, binc, btot = _lineclean_tables(
            batch_df, id_col, text_col, g, line_sep
        )
        lines = lines.persist()
        binc = binc.persist()
        try:
            cum = binc.select(*g, "__line", "__cnt")
            tot = btot.select(*g, "__nd")
            if _sink_has_batches(sink_dir) or _committed_batch_dirs(lines_dir):
                _heal(spark)
                if _committed_batch_dirs(lines_dir):
                    old = read_bucket_store(
                        spark, lines_dir, "__line",
                        extra_cols=("__cnt", *g),
                    )
                    cand = old.join(
                        F.broadcast(binc.select("__bucket").distinct()),
                        "__bucket",
                        "left_semi",
                    )
                    # exact null-safe verify against the batch's own line
                    # set (batch-bounded, broadcasts) — collision-widened
                    # rows drop here
                    probe = F.broadcast(
                        binc.select(
                            *[F.col(c).alias(f"__p_{c}") for c in g],
                            F.col("__line").alias("__pline"),
                        ).distinct()
                    )
                    vcond = [cand["__line"] == probe["__pline"]] + [
                        cand[c].eqNullSafe(probe[f"__p_{c}"]) for c in g
                    ]
                    seen = cand.join(probe, vcond, "left_semi").select(
                        *g, "__line", "__cnt"
                    )
                    cum = cum.unionByName(seen)
                if _committed_batch_dirs(totals_dir):
                    oldt = read_bucket_store(
                        spark, totals_dir, "__gk", extra_cols=("__nd", *g)
                    )
                    tot = tot.unionByName(oldt.select(*g, "__nd"))
            cum = cum.groupBy(*g, "__line").agg(F.sum("__cnt").alias("__c"))
            tot = F.broadcast(
                tot.groupBy(*[F.col(c).alias(f"__t_{c}") for c in g]).agg(
                    F.sum("__nd").alias("__n")
                )
            )
            if g:
                tcond = [cum[c].eqNullSafe(tot[f"__t_{c}"]) for c in g]
                gated = cum.join(tot, tcond, "inner")
            else:
                gated = cum.crossJoin(tot)
            bp = F.broadcast(
                gated.filter(
                    (F.col("__c") >= F.lit(min_docs))
                    & (
                        F.col("__c").cast("double")
                        >= F.col("__n").cast("double") * F.lit(float(max_doc_frac))
                    )
                ).select(
                    *[F.col(c).alias(f"__b_{c}") for c in g],
                    F.col("__line").alias("__bline"),
                )
            )
            mcond = [lines["__line"] == bp["__bline"]] + [
                lines[c].eqNullSafe(bp[f"__b_{c}"]) for c in g
            ]
            marked = lines.join(bp, mcond, "left").withColumn(
                "__bp", F.col("__bline").isNotNull()
            )
            cleaned = (
                marked.groupBy("__id")
                .agg(
                    F.count("*").cast("bigint").alias("n_lines"),
                    F.sum(F.when(F.col("__bp"), 1).otherwise(0))
                    .cast("bigint")
                    .alias("n_removed"),
                    F.array_join(
                        F.transform(
                            F.array_sort(
                                F.collect_list(
                                    F.when(
                                        ~F.col("__bp"),
                                        F.struct(
                                            F.col("__pos").alias("p"),
                                            F.col("__line").alias("l"),
                                        ),
                                    )
                                )
                            ),
                            lambda s: s["l"],
                        ),
                        line_sep,
                    ).alias("cleaned_text"),
                )
                .withColumn(
                    "n_kept", (F.col("n_lines") - F.col("n_removed")).cast("bigint")
                )
            )
            rows = batch_df.join(
                cleaned.withColumnRenamed("__id", id_col), id_col
            )
            write_batch(rows, epoch_id)
            target = os.path.join(sink_dir, f"_batch={epoch_id}")
            if os.path.exists(os.path.join(target, "_SUCCESS")):
                # the lines and totals stores are independent legs of the
                # heal contract (_heal backfills need_l / need_t
                # separately from the committed epoch's raw text), so the
                # delta write + conditional fold of each leg overlap as
                # one thunk per store (_parallel_postcommit) instead of
                # up to four sequential driver-blocking jobs per batch
                def _w_lines() -> None:
                    if not _ranges_contain(
                        _covered_bucket_ranges(lines_dir), epoch_id
                    ):
                        write_bucket_delta(
                            binc.repartition(1), lines_dir, epoch_id,
                            num_partitions=line_partitions,
                        )
                    if len(_committed_batch_dirs(lines_dir)) > compact_every:
                        tiered_compact_sink(
                            spark, lines_dir, keep_batches=1,
                            partition_by=["__bpart"],
                            transform=_lineclean_fold,
                        )

                def _w_totals() -> None:
                    if not _ranges_contain(
                        _covered_bucket_ranges(totals_dir), epoch_id
                    ):
                        write_bucket_delta(
                            btot.repartition(1), totals_dir, epoch_id,
                            num_partitions=1,
                        )
                    if len(_committed_batch_dirs(totals_dir)) > compact_every:
                        tiered_compact_sink(
                            spark, totals_dir, keep_batches=1,
                            partition_by=["__bpart"],
                            transform=_linetotals_fold,
                        )

                _parallel_postcommit(_w_lines, _w_totals)
                healed.add(epoch_id)
        finally:
            batch_df.unpersist()
            lines.unpersist()
            binc.unpersist()

    return _start_stream(stream_df, process, checkpoint_dir, trigger_once)


def read_corpus_lines(
    spark: SparkSession,
    sink_dir: str,
    *,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """The cumulative per-(group…, line) distinct-document counts and
    per-group document totals of a :func:`lineclean_insert` sink,
    merge-on-read: ``(*group_cols, __line, doc_count, group_docs)`` —
    the audit face ("which lines does the store currently consider
    boilerplate for this site?")."""
    from pyspark.sql import functions as F

    g = list(group_cols or [])
    cnt = (
        read_bucket_store(
            spark, os.path.join(sink_dir, "_lines"), "__line",
            extra_cols=("__cnt", *g),
        )
        .groupBy(*g, "__line")
        .agg(F.sum("__cnt").alias("doc_count"))
    )
    tot = F.broadcast(
        read_bucket_store(
            spark, os.path.join(sink_dir, "_linetotals"), "__gk",
            extra_cols=("__nd", *g),
        )
        .groupBy(*[F.col(c).alias(f"__t_{c}") for c in g])
        .agg(F.sum("__nd").alias("group_docs"))
    )
    if g:
        cond = [cnt[c].eqNullSafe(tot[f"__t_{c}"]) for c in g]
        out = cnt.join(tot, cond, "inner")
    else:
        out = cnt.crossJoin(tot)
    return out.select(*g, "__line", "doc_count", "group_docs")


def enforce_retention_lineclean(
    spark: SparkSession,
    sink_dir: str,
    *,
    id_col: str,
    text_col: str,
    group_cols: list[str] | None = None,
    line_sep: str = "\n",
    line_partitions: int = 64,
    max_batches: int | None = None,
    max_bytes: int | None = None,
) -> list[int]:
    """Retention for a :func:`lineclean_insert` sink: drop the oldest
    committed epochs beyond a count/byte budget AND release their line
    counts — each retiring epoch writes NEGATIVE deltas to BOTH stores
    (per-line distinct-doc counts and per-group doc totals, re-derived
    from its landed RAW text, the exact mirror of the positives it
    landed with). This matters more here than for grams: the fraction
    gate divides by the group's CUMULATIVE doc total, so without
    retention an old site's total grows forever and NEW boilerplate
    needs ever more sightings to cross ``max_doc_frac`` — retention
    keeps the gate honest against the live corpus. Returns the epoch
    ids removed.

    Crash protocol (mirrors :func:`enforce_retention_spanclean`, both
    stores under one epoch walk):

    0. the retiring epoch's POSITIVE deltas are verified present in
       each store and backfilled from raw text if a crash beat the
       stream's heal pass (an unmatched negative would under-count
       lines whose other carriers are live);
    1. both negative deltas are fully written to
       ``<store>/_retire_tmp_<e>`` while the raw text still exists;
    2. the sink epoch is deleted;
    3. each tmp publishes by rename to ``_batch=<-1000-e>`` (negative
       ids, disjoint from stream epochs and ladder pre-lands).

    A crash before (2) re-derives next call; after (2), the recovery
    loop publishes any COMPLETE tmp whose epoch is gone and drops
    incomplete ones — a lost line-negative keeps suppressing (the
    lane's conservative default), a lost totals-negative keeps the
    gate HARDER to cross (under-cleaning, never over-cleaning)."""
    from pyspark.sql import functions as F

    g = list(group_cols or [])
    lines_dir = os.path.join(sink_dir, "_lines")
    totals_dir = os.path.join(sink_dir, "_linetotals")
    _recover_retirements(sink_dir, [lines_dir, totals_dir])
    doomed, _ = _retention_walk(sink_dir, max_batches, max_bytes)
    removed: list[int] = []
    for path in doomed:
        eid = int(path.rsplit("=", 1)[1])
        rows = spark.read.parquet(path).select(id_col, text_col, *g)
        _, _, binc, btot = _lineclean_tables(rows, id_col, text_col, g, line_sep)
        binc = binc.persist()
        btot = btot.persist()
        try:
            stores = (
                (lines_dir, binc, "__cnt", line_partitions),
                (totals_dir, btot, "__nd", 1),
            )
            # (0) coverage guards; (1) both negatives into tmps, raw
            # text still present
            for store, delta, _, nparts in stores:
                _backfill_positive(delta, store, eid, nparts)
            for store, delta, cnt_col, nparts in stores:
                _stage_retirement(
                    delta.withColumn(cnt_col, -F.col(cnt_col)), store, eid, nparts
                )
            # (2) the epoch leaves the sink; (3) publish both releases
            removed.append(_drop_epoch(sink_dir, path))
            for store, *_ in stores:
                _publish_retirement(store, eid)
        finally:
            binc.unpersist()
            btot.unpersist()
    return removed


def enforce_retention_spanclean(
    spark: SparkSession,
    sink_dir: str,
    *,
    id_col: str,
    text_col: str,
    n: int = 5,
    gram_partitions: int = 64,
    max_batches: int | None = None,
    max_bytes: int | None = None,
) -> list[int]:
    """Retention for a CARRIER-COUNTED :func:`spanclean_insert` sink:
    drop the oldest committed epochs beyond a count/byte budget AND
    release their grams — each retiring epoch writes a NEGATIVE gram
    delta (per-gram carrier-doc counts re-derived from its landed RAW
    text, the exact mirror of the positive delta the epoch landed with)
    so a gram's live sum reaches exactly zero when its last carrier
    retires. Suppression of that gram stops at the next batch; a later
    re-sight lands intact and re-registers it. Returns the epoch ids
    removed.

    Crash protocol (conservative in the direction the lane's semantics
    already point — a crash can only delay a release, never suppress a
    release that already happened or lose landed data):

    0. the retiring epoch's POSITIVE delta is verified present in the
       gram store (folded-range sidecars + live dirs) and backfilled
       from the epoch's raw text if a crash beat the stream's heal pass
       to it — publishing a negative with no matched positive would
       under-count grams whose OTHER carriers are still live (round-12,
       advice r11);
    1. the negative delta is fully written to ``_grams/_retire_tmp_<e>``
       (raw text still present — it is the only source);
    2. the sink epoch (and its ``_ids`` sidecar) is deleted;
    3. the tmp publishes by rename to ``_grams/_batch=<-1000-e>`` —
       retirement deltas live at NEGATIVE epoch ids disjoint from every
       stream epoch (≥ 0) and ladder pre-land (−1, −2), so a replayed
       stream epoch can never be swallowed by a retirement dir.

    A crash before (2) re-derives next call (epoch intact); between (2)
    and (3) the next call finds a complete tmp whose epoch is gone and
    just publishes it; an INCOMPLETE tmp whose epoch is gone is dropped
    — those grams stay suppressed forever, which is the lane's default
    semantics, stated in SCALING.md. Requires the store's pinned mode
    to be carrier-counted (raises otherwise — an uncounted store cannot
    subtract)."""
    import json

    from pyspark.sql import functions as F

    from confluent_kafka_vector_search_prompt_inference_spark.operators.dedup import (
        gram_occurrences,
        span_tokenized,
    )

    grams_dir = os.path.join(sink_dir, "_grams")
    mode_p = os.path.join(grams_dir, "_mode.json")
    have = None
    if os.path.exists(mode_p):
        with open(mode_p) as fh:
            have = json.load(fh)
    if have != {"carrier_counts": True}:
        raise ValueError(
            f"enforce_retention_spanclean needs a carrier-counted gram "
            f"store (mode {have!r} at {grams_dir!r}): an uncounted store "
            "has nothing to subtract from — run spanclean_insert with "
            "carrier_counts=True from the sink's first epoch"
        )

    _recover_retirements(sink_dir, [grams_dir])
    # budget walk: oldest-first, whole epochs — the enforce_retention
    # policy with the gram-release protocol spliced in
    doomed, _ = _retention_walk(sink_dir, max_batches, max_bytes)
    removed: list[int] = []
    for path in doomed:
        eid = int(path.rsplit("=", 1)[1])
        rows = spark.read.parquet(path).select(id_col, text_col)
        occ = gram_occurrences(span_tokenized(rows, id_col, text_col), n)
        counts = occ.groupBy("__s").agg(
            F.count_distinct("__id").cast("long").alias("__cnt")
        ).withColumn("__bucket", F.xxhash64("__s"))
        # (0) coverage guard (round-12, advice r11): the retiring
        # epoch's POSITIVE delta must be IN the gram store before its
        # negative can publish. A crash between the epoch's rows commit
        # and its delta write leaves the store un-backfilled until the
        # NEXT micro-batch's heal pass; retention running inside that
        # window would publish an unmatched negative — per-gram sums
        # skew below true live-carrier counts, a gram with live carriers
        # in OTHER epochs reads as released, and its next sighting lands
        # uncut, breaking the "every crash point degrades to
        # keep-suppressing" contract. Backfill here from the same raw
        # text the heal derivation uses.
        _backfill_positive(counts, grams_dir, eid, gram_partitions)
        # (1) negative delta from the epoch's raw text, into tmp
        _stage_retirement(
            counts.withColumn("__cnt", -F.col("__cnt")), grams_dir, eid,
            gram_partitions,
        )
        # (2) the epoch leaves the sink (sidecar first — orphaned
        # sidecars must never outlive their epoch); (3) publish
        removed.append(_drop_epoch(sink_dir, path))
        _publish_retirement(grams_dir, eid)
    return removed


def _orderable_type(dt) -> bool:
    """Whether Spark's binary comparator accepts the type — MapType is
    unorderable (at any nesting depth); everything else here is."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return False
    if isinstance(dt, ArrayType):
        return _orderable_type(dt.elementType)
    if isinstance(dt, StructType):
        return all(_orderable_type(f.dataType) for f in dt.fields)
    return True


def _latest_per_key(
    df: DataFrame, key_col: str, seq_cols: list[str]
) -> DataFrame:
    """One row per key — the max of ``(seq_cols..., __epoch, tie-break)``
    struct order. A single key-keyed aggregation with map-side partials
    (never a corpus window): the struct comparison is a TOTAL order over
    the ORDERABLE columns (the trailing struct of them breaks any
    remaining tie), so the survivor is a pure function of the row set,
    independent of partitioning.

    Schema contract, VALIDATED here instead of failing mid-analysis or
    ordering undefined: each ``seq_cols`` column must exist and be an
    orderable type (a MapType — at any nesting — has no comparator), and
    must be NON-NULL per row — a null sequence value has no defined
    place in the order, so it raises at execution (via ``coalesce`` into
    ``raise_error``, zero cost on the non-null path) rather than
    silently sorting somewhere. Unorderable NON-seq columns are carried
    in the output but excluded from the tie-break struct: two rows
    identical in every orderable column that differ only inside a map
    tie arbitrarily (documented; the alternative is an analysis error
    on every map-bearing schema)."""
    from pyspark.sql import functions as F

    cols = df.columns
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    for c in seq_cols:
        if c not in dtypes:
            raise ValueError(
                f"keyed upsert seq column {c!r} not in schema {cols}"
            )
        if not _orderable_type(dtypes[c]):
            raise ValueError(
                f"keyed upsert seq column {c!r} has unorderable type "
                f"{dtypes[c].simpleString()} (maps have no comparator); "
                "use an orderable sequence column"
            )
    tie_cols = [c for c in cols if _orderable_type(dtypes[c])]
    seq_guarded = [
        F.coalesce(
            F.col(c),
            F.raise_error(
                F.lit(
                    f"keyed upsert seq column {c!r} is NULL: a null "
                    "sequence value has no defined place in the "
                    "latest-per-key order"
                )
            ).cast(dtypes[c]),
        ).alias(f"s{i}")
        for i, c in enumerate(seq_cols)
    ]
    # max_by, not max-of-nested-struct: the RETURNED row may carry
    # unorderable columns; only the ORDERING struct needs a comparator.
    # Ties under the ordering key are rows identical in every orderable
    # column (the key embeds them all), so the pick is deterministic
    # whenever the schema is fully orderable and documented-arbitrary
    # only across map-valued differences.
    order_key = F.struct(
        *seq_guarded,
        F.col("__epoch").alias("e"),
        F.struct(*[F.col(c) for c in tie_cols]).alias("o"),
    )
    top = F.max_by(F.struct(*[F.col(c) for c in cols]), order_key).alias("r")
    return df.groupBy(key_col).agg(top).select("r.*")


def keyed_upsert_insert(
    stream_df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    key_col: str,
    seq_cols: list[str],
    tombstone_col: str | None = None,
    drop_tombstones_on_fold: bool = False,
    shed_tombstones_after: int | float | str | None = None,
    compact_every: int = 16,
    fold_partitions: int = 8,
    trigger_once: bool = False,
) -> StreamingQuery:
    """Continuous keyed UPSERT sink — Kafka LOG-COMPACTION semantics as a
    materialized table (the retention mode :func:`enforce_retention`'s
    count/byte budgets don't cover: ``cleanup.policy=compact`` keeps the
    LATEST record per key and a null-value tombstone deletes the key).

    Per micro-batch: reduce to the batch's latest row per ``key_col``
    (max ``(seq_cols..., whole-row)`` struct order — deterministic under
    any partitioning; within-batch ``seq`` ties resolve to the greatest
    remaining row, pinned by test), stamp ``__epoch``, and land the
    delta idempotently. The materialized view is merge-on-read
    (:func:`read_upserted`): one key-keyed max-struct aggregation over
    base + tail — never a window — then tombstoned keys drop out.

    Compaction IS the semantics here, not just small-files hygiene: once
    the flat tail passes ``compact_every`` epochs, :func:`compact_sink`
    folds it with a ``fold_transform`` that keeps only each key's latest
    row WITHIN the fold. Sound because the fold set is always a complete
    prefix of history (every kept/new epoch is strictly newer): a
    dropped row was dominated inside the fold by a row that still
    participates in the global max, so no reader can miss it. Tombstone
    ROWS are NOT dropped by the fold: under event-time ``seq_cols`` a
    later-ARRIVING row may carry a SMALLER seq, and the retained
    tombstone must still dominate it (the key stays deleted — pinned by
    test). Kafka itself only sheds tombstones because its order IS
    arrival order, and even then only after ``delete.retention.ms``;
    ``drop_tombstones_on_fold=True`` opts into that behavior for
    streams whose seq is monotone with arrival. The base therefore
    converges to ~|live keys + tombstoned keys| rows no matter how many
    updates ever flowed, and replay stays safe because
    ``keep_batches=1`` protects the only epoch a checkpoint crash can
    re-deliver.

    ``shed_tombstones_after`` (round 11) is the PROVABLY-SAFE middle
    ground between keep-forever (dead keys in the base forever) and
    ``drop_tombstones_on_fold`` (arrival-order streams only): a seq
    WATERMARK. At each fold the watermark is ``max(seq₀ over the fold's
    own input) − shed_tombstones_after`` (a number for numeric seq
    columns, an SQL interval string like ``'7 days'`` for timestamps),
    and a tombstone sheds only once its seq₀ falls strictly below it.
    The contract is exactly ``withWatermark``'s: the caller asserts no
    row arrives more than ``shed_tombstones_after`` behind the maximum
    seq already seen — under it, no later-arriving row the shed
    tombstone was still needed to dominate can exist, so shedding is
    exact (a row that violates the contract resurrects the key, the
    same failure Spark's own watermark has). The watermark is computed
    over the FOLD INPUT, which is a prefix of history — an
    underestimate of the true global max, so it only ever sheds LATER
    than allowed, never earlier. Tombstones younger than the watermark
    keep dominating later-arriving smaller-seq rows (pinned by test).
    Requires ``tombstone_col``; ``drop_tombstones_on_fold`` subsumes it
    when both are set. The base then converges to ~|live keys| +
    |tombstones younger than the watermark|.

    ``tombstone_col`` names a BOOLEAN column: true rows delete the key
    (a later-SEQ insert revives it, exactly like writing a new record
    after a Kafka tombstone). At 100 TB: deltas are micro-batch-sized,
    the fold rewrites O(|live keys|) rows every ``compact_every``
    epochs, and reads shuffle each key once — the same decomposable-
    partial contract as `agg_insert`, with max-struct as the merge."""
    from pyspark.sql import functions as F

    if shed_tombstones_after is not None and tombstone_col is None:
        raise ValueError(
            "shed_tombstones_after requires tombstone_col: the watermark "
            "sheds tombstone ROWS, and without the column nothing is one"
        )

    write_batch = idempotent_batch_writer(sink_dir)

    def _reduce(df: DataFrame) -> DataFrame:
        out = _latest_per_key(df, key_col, seq_cols)
        if tombstone_col is not None and drop_tombstones_on_fold:
            return out.filter(~F.coalesce(F.col(tombstone_col), F.lit(False)))
        if tombstone_col is not None and shed_tombstones_after is not None:
            # seq watermark over the fold's own input (a prefix of
            # history — an underestimate of the global max, so this only
            # sheds LATER than the contract allows, never earlier)
            s0 = F.col(seq_cols[0])
            delay = (
                F.expr(f"INTERVAL {shed_tombstones_after}")
                if isinstance(shed_tombstones_after, str)
                else F.lit(shed_tombstones_after)
            )
            wm = df.agg((F.max(s0) - delay).alias("__wm"))
            tomb = F.coalesce(F.col(tombstone_col), F.lit(False))
            return (
                out.crossJoin(F.broadcast(wm))
                .filter(~(tomb & (s0 < F.col("__wm"))))
                .drop("__wm")
            )
        return out

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        delta = _latest_per_key(
            batch_df.withColumn("__epoch", F.lit(int(epoch_id)).cast("long")),
            key_col,
            seq_cols,
        )
        write_batch(delta, epoch_id)
        target = os.path.join(sink_dir, f"_batch={epoch_id}")
        if (
            os.path.exists(os.path.join(target, "_SUCCESS"))
            and len(_committed_batch_dirs(sink_dir)) > compact_every
        ):
            # fold_partitions bounds the base's FILE count: the reduced
            # base is ~|live keys| rows however it arrived, but without a
            # repartition the fold inherits the unioned inputs' task count
            # and every subsequent fold re-opens that many small files —
            # request-priced on an object store (measured as the 10M-rung
            # write-decline in SCALECHECK before this bound)
            compact_sink(
                spark, sink_dir, keep_batches=1, fold_transform=_reduce,
                target_partitions=fold_partitions,
            )

    return _start_stream(stream_df, process, checkpoint_dir, trigger_once)


def read_upserted(
    spark: SparkSession,
    sink_dir: str,
    *,
    key_col: str,
    seq_cols: list[str],
    tombstone_col: str | None = None,
) -> DataFrame:
    """The live keyed table a :func:`keyed_upsert_insert` sink
    materializes: latest row per key across the compacted base + flat
    tail (one key-keyed max-struct aggregation — the log-compacted base
    is already reduced, so the shuffle carries ~|live keys| + tail
    rows), minus tombstoned keys. ``__epoch`` is dropped from the
    result (it exists to order same-seq rows across epochs)."""
    from pyspark.sql import functions as F

    out = _latest_per_key(read_sink(spark, sink_dir), key_col, seq_cols)
    if tombstone_col is not None:
        out = out.filter(~F.coalesce(F.col(tombstone_col), F.lit(False)))
    return out.drop("__epoch")


def band_buckets(sig_col, *, num_hashes: int, bands: int):
    """ARRAY of per-band bucket ids over a MinHash signature column —
    ``xxhash64`` of each band's signature slice, salted by band index so
    ids never collide across bands. Shared by :func:`near_dedup_insert`
    (live banding + bucket-store backfill) and by tools that pre-land
    sink history (the streaming ladder), so the store and the live path
    can never disagree on the hash."""
    from pyspark.sql import functions as F

    rows = num_hashes // bands
    return F.array(
        *[
            F.xxhash64(F.slice(sig_col, b * rows + 1, rows), F.lit(b))
            for b in range(bands)
        ]
    )


def bucket_store_partitions(buckets_dir: str, default: int) -> int:
    """The bucket store's pinned partition count. ``__bpart = pmod(bucket,
    N)`` must be computed with the SAME N for every epoch or partition
    pruning would silently miss landed candidates — so N is written to a
    ``_meta.json`` sidecar when the store is created and every later
    writer/reader uses the stored value, ignoring its own default."""
    import json

    meta_path = os.path.join(buckets_dir, "_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return int(json.load(fh)["num_partitions"])
    os.makedirs(buckets_dir, exist_ok=True)
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"num_partitions": default}, fh)
    os.replace(tmp, meta_path)
    return default


#: how long a non-committed dir under ``_tombstones/`` must sit
#: untouched before the maintenance sweep treats it as crash debris —
#: far past any retire_tombstone write, so a CONCURRENT retire's
#: in-flight staging dir is never swept out from under it
_TOMB_DEBRIS_AGE_S = 3600.0


def _maintenance_path(buckets_dir: str) -> str:
    return os.path.join(buckets_dir, "_maintenance.json")


def read_bucket_maintenance(buckets_dir: str) -> dict:
    """The store's pending-maintenance state: ``{}`` when none, else
    ``{"target_partitions": N}`` — a partition-count migration requested
    by :func:`request_rebucket_online` that the in-stream geometric
    merges complete incrementally (no stop-the-world rewrite)."""
    import json

    p = _maintenance_path(buckets_dir)
    if not os.path.exists(p):
        return {}
    with open(p) as fh:
        return json.load(fh)


def request_rebucket_online(buckets_dir: str, new_partitions: int) -> None:
    """Request an ONLINE partition-count migration: the store keeps
    serving and landing epochs while :func:`maintain_bucket_store`
    (called by the stream's own ``foreachBatch``) rewrites it to
    ``new_partitions`` one run at a time inside its normal compaction
    passes — the round-9 replacement for the stop-the-world
    :func:`rebucket_bucket_store` window, which the reference's
    forever-running INSERT-SELECT contract (``README.md:435``) cannot
    afford.

    While the migration is pending the store is MIXED-N: runs rewritten
    so far (and every new delta) carry the target N in a per-dir
    ``_nparts.json`` sidecar, untouched dirs stay at the pinned
    ``_meta.json`` N, and :func:`read_bucket_store` prunes each leg with
    parts computed at ITS OWN N — so candidate recall is exact at every
    intermediate state. When the last dir reaches the target,
    ``maintain_bucket_store`` atomically bumps ``_meta.json`` and
    removes the request. Idempotent; requesting the current pinned N is
    a no-op."""
    import json

    if new_partitions < 1:
        raise ValueError(f"new_partitions must be >= 1, got {new_partitions}")
    meta = os.path.join(buckets_dir, "_meta.json")
    if os.path.exists(meta):
        with open(meta) as fh:
            if int(json.load(fh)["num_partitions"]) == int(new_partitions):
                # already pinned at the target: clear any stale request
                if os.path.exists(_maintenance_path(buckets_dir)):
                    os.remove(_maintenance_path(buckets_dir))
                return
    os.makedirs(buckets_dir, exist_ok=True)
    tmp = _maintenance_path(buckets_dir) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"target_partitions": int(new_partitions)}, fh)
    os.replace(tmp, _maintenance_path(buckets_dir))


def _dir_nparts(d: str, meta_n: int) -> int:
    """The partition count a committed store dir's ``__bpart`` column was
    computed with: its ``_nparts.json`` sidecar if present (written
    atomically inside the fold/delta tmp before the publishing rename —
    no crash window), else the store-level pinned N. Pre-round-9 stores
    have no sidecars anywhere and read uniformly as the pinned N."""
    import json

    p = os.path.join(d, "_nparts.json")
    if os.path.exists(p):
        with open(p) as fh:
            return int(json.load(fh)["num_partitions"])
    return meta_n


def _tombstones_dir(buckets_dir: str) -> str:
    return os.path.join(buckets_dir, "_tombstones")


def _live_tombstones(buckets_dir: str) -> list[str]:
    """Committed tombstone dirs (``_SUCCESS``-stamped), oldest-first."""
    import glob

    return sorted(
        d
        for d in glob.glob(os.path.join(_tombstones_dir(buckets_dir), "t=*"))
        if os.path.exists(os.path.join(d, "_SUCCESS"))
    )


def _read_applied_sidecar(batch_dir: str) -> set[str]:
    """Tombstone dir NAMES a compacted run has already applied."""
    import json

    p = os.path.join(batch_dir, "_tombstones_applied.json")
    if not os.path.exists(p):
        return set()
    with open(p) as fh:
        return set(json.load(fh))


def retire_tombstone(
    spark: SparkSession,
    sink_dir: str,
    retired_ids: DataFrame,
    *,
    id_col: str,
    verified: bool = False,
) -> str | None:
    """Land a retirement tombstone for the near-dedup bucket store: the
    given ids (minus any that still exist in the live sink) are recorded
    under ``<sink>/_buckets/_tombstones/t=<seq>`` for the in-stream
    geometric merges to apply — each fold anti-joins the rows it
    rewrites against the tombstoned ids, so dead ``(id, bucket)`` width
    drains out of the store while the stream keeps running (the online
    replacement for :func:`prune_bucket_store`'s stop-the-world
    rewrite).

    Application-time safety: a tombstoned id that legitimately RE-LANDS
    later (same document id re-ingested after retention) must not lose
    its new bucket rows, so :func:`maintain_bucket_store` re-verifies
    the kill set against the CURRENTLY-landed sink ids at every
    application — the tombstone asserts "not live as of creation", never
    "dead forever". The creation-time anti-join here is only a size
    bound; ``verified=True`` skips it for callers that already bounded
    the set against the epochs that will SURVIVE
    (``enforce_retention_tombstoned`` tombstones BEFORE it deletes, so
    an anti-join against the still-complete sink here would wrongly
    empty the set). Returns the tombstone dir, or None if nothing to
    retire.

    Coordination contract (same as :func:`enforce_retention` itself):
    retention runs from ONE maintenance scheduler at a time — the
    tmp-then-rename write is atomic against the STREAM's concurrent
    reads/GC, but two concurrent retirements could race the sequence
    number."""
    import json

    buckets_dir = os.path.join(sink_dir, "_buckets")
    if not os.path.isdir(buckets_dir):
        return None  # no bucket store → nothing to prune, ever
    dead = retired_ids.select(id_col).distinct()
    if not verified and _sink_has_batches(sink_dir):
        # narrow live-id read: the `_ids` sidecars where they exist, the
        # epochs' own id column where they don't — flat in sink row width
        dead = dead.join(
            read_sink_ids(spark, sink_dir, [id_col]), id_col, "left_anti"
        )
    troot = _tombstones_dir(buckets_dir)
    os.makedirs(troot, exist_ok=True)
    seqs = [int(d.rsplit("=", 1)[1]) for d in _live_tombstones(buckets_dir)]
    target = os.path.join(troot, f"t={max(seqs) + 1 if seqs else 0}")
    # UNIQUE staging name: the stream's maintenance debris sweep runs
    # concurrently with this multi-second write, and a fixed name would
    # make an in-flight retire indistinguishable from a crashed one's
    # leftovers (the sweep additionally age-guards, but uniqueness means
    # a re-run after a crash never collides with its own debris either)
    import shutil
    import uuid

    tmp = os.path.join(troot, f"_tomb_tmp_{uuid.uuid4().hex[:12]}")
    dead.coalesce(1).write.mode("overwrite").parquet(tmp)
    if spark.read.parquet(tmp).isEmpty():
        shutil.rmtree(tmp)
        return None
    # created_after: the max committed BUCKET-store epoch at creation.
    # Flat deltas with a larger epoch id cannot need this tombstone (the
    # sink is insert-only; any re-land of a retired id is excluded by the
    # application-time re-verify anyway) — the GC pass uses this to know
    # when every dir that could hold tombstoned rows has been rewritten.
    dirs = _committed_batch_dirs(buckets_dir)
    created_after = max(
        (int(d.rsplit("=", 1)[1]) for d in dirs), default=-1
    )
    with open(os.path.join(tmp, "_tomb_meta.json"), "w") as fh:
        json.dump({"created_after_epoch": created_after}, fh)
    os.rename(tmp, target)
    return target


def enforce_retention_tombstoned(
    spark: SparkSession,
    sink_dir: str,
    *,
    id_col: str,
    max_batches: int | None = None,
    max_bytes: int | None = None,
) -> list[int]:
    """:func:`enforce_retention` for a near-dedup sink: before the doomed
    epochs are deleted, their document ids are landed as a bucket-store
    tombstone (:func:`retire_tombstone`), so the dead ``(id, bucket)``
    rows drain out through the stream's own compaction instead of
    lingering until an offline :func:`prune_bucket_store`. Tombstone
    FIRST, delete second: a crash between the two leaves a tombstone
    whose ids are still live — harmless, because every application
    re-verifies against the live sink (still-live ids are excluded);
    the reverse order would leave dead width with no tombstone at all
    until the next retention pass. The deletion removes EXACTLY the
    precomputed doomed set — re-running the selection after the
    (multi-second) tombstone write would race the live stream: an epoch
    committed in between shifts the count and the re-selection would
    delete one more epoch whose ids were never tombstoned, permanent
    dead width the tombstone can no longer record. Returns the epoch
    ids removed."""
    doomed, survivors = _retention_walk(sink_dir, max_batches, max_bytes)
    if doomed and os.path.isdir(os.path.join(sink_dir, "_buckets")):
        # both legs read NARROW: the per-epoch `_ids` sidecars where they
        # exist, the epochs' own id column where they don't
        retired = _narrow_epoch_reads(spark, sink_dir, doomed, [id_col]).distinct()
        if survivors:
            # size bound: an id also present in a SURVIVING epoch is not
            # retired. (The sink is still complete here — tombstone
            # lands before deletion — so retire_tombstone's default
            # anti-join against the whole sink would empty the set.)
            retired = retired.join(
                _narrow_epoch_reads(spark, sink_dir, survivors, [id_col]),
                id_col,
                "left_anti",
            )
        retire_tombstone(
            spark, sink_dir, retired, id_col=id_col, verified=True
        )
    return [_drop_epoch(sink_dir, d) for d in doomed]


def write_bucket_delta(
    delta: DataFrame,
    buckets_dir: str,
    epoch_id: int,
    *,
    num_partitions: int,
    layout: str = "flat",
    nparts_sidecar: bool = False,
) -> None:
    """Idempotently land one epoch's ``(id, __bucket)`` delta.

    ``layout='flat'`` (the LIVE per-epoch path): one file, ``__bpart =
    pmod(bucket, num_partitions)`` carried as a DATA column, rows sorted
    by it so parquet row-group stats can skip untouched partitions within
    the file. The first round-7 cut wrote every epoch partitioned —
    measured ~2.0 s per micro-batch for the ``repartition(__bpart)``
    shuffle plus a 64-directory dynamic-partition commit at micro-batch
    delta sizes (~10k rows), versus ~0.16 s for this flat write; the 1.6×
    per-batch slowdown it put on the streaming bench was the exact
    constant-factor regression ``tools/bench_compare.py`` gates. The
    directory-partitioned layout still exists — in the COMPACTED base,
    where its write cost is paid once per ``compact_every`` epochs and
    its listing-level pruning covers the store's unbounded part. The
    flat tail between compactions is bounded at ``compact_every`` epochs
    of micro-batch-sized deltas by construction.

    ``layout='partitioned'``: the compacted-base shape
    (``_batch=<epoch>/__bpart=<p>/``, one file per partition dir) — for
    tools that pre-land a large already-compacted history in one shot
    (the streaming ladder), so what they land matches what a
    long-running stream's store converges to.

    ``nparts_sidecar``: record ``num_partitions`` in a per-dir
    ``_nparts.json`` — set while an online rebucket is pending, when a
    delta's N (the migration target) differs from the pinned
    ``_meta.json`` N and the reader must know which N keyed it. The
    sidecar lands INSIDE a staging dir that is renamed into place, so a
    committed delta can never exist without it (a post-commit sidecar
    write would open a crash window where a target-N delta reads as
    meta-N and the pruned read silently misses candidates)."""
    import shutil

    from pyspark.sql import functions as F

    target = os.path.join(buckets_dir, f"_batch={epoch_id}")
    if os.path.exists(os.path.join(target, "_SUCCESS")):
        return  # replay after failure — already committed
    keyed = delta.withColumn(
        "__bpart", F.pmod(F.col("__bucket"), F.lit(num_partitions)).cast("int")
    )
    write_dir = target
    if nparts_sidecar:
        write_dir = os.path.join(buckets_dir, f"_delta_tmp_{epoch_id}")
        shutil.rmtree(write_dir, ignore_errors=True)
    if layout == "partitioned":
        (
            keyed.repartition(F.col("__bpart"))
            .write.partitionBy("__bpart")
            .mode("overwrite")
            .parquet(write_dir)
        )
    else:
        (
            keyed.coalesce(1)
            .sortWithinPartitions("__bpart")
            .write.mode("overwrite")
            .parquet(write_dir)
        )
    if nparts_sidecar:
        import json

        with open(os.path.join(write_dir, "_nparts.json"), "w") as fh:
            json.dump({"num_partitions": int(num_partitions)}, fh)
        shutil.rmtree(target, ignore_errors=True)  # partial pre-crash write
        os.rename(write_dir, target)


def _epochs_to_ranges(epochs: set[int]) -> list[list[int]]:
    """Collapse an epoch-id set into sorted inclusive ``[lo, hi]`` runs.
    Epoch ids from a live stream are contiguous, so the sidecar this
    feeds stays O(#folded runs) instead of one int per epoch forever —
    a year of 1-minute triggers is one range, not 500k ints re-read by
    every heal pass."""
    out: list[list[int]] = []
    for e in sorted(epochs):
        if out and e == out[-1][1] + 1:
            out[-1][1] = e
        else:
            out.append([e, e])
    return out


def _merge_ranges(ranges) -> list[list[int]]:
    """Merge inclusive ``[lo, hi]`` ranges (overlapping or ADJACENT runs
    coalesce) — O(n log n) in the number of RANGES, never expanding them
    to individual epoch ids."""
    out: list[list[int]] = []
    for lo, hi in sorted([int(lo), int(hi)] for lo, hi in ranges):
        if out and lo <= out[-1][1] + 1:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return out


def _ranges_contain(ranges: list[list[int]], eid: int) -> bool:
    """Membership test against MERGED sorted inclusive ranges — O(log n)
    bisect, so the per-batch heal pass stays O(#runs) even when a run
    covers a year of epochs."""
    import bisect

    i = bisect.bisect_right(ranges, [eid + 1]) - 1
    return i >= 0 and ranges[i][0] <= eid <= ranges[i][1]


def _sidecar_epochs(payload) -> set[int]:
    """Epoch ids recorded in a ``_folded_epochs.json`` payload, EXPANDED —
    test/introspection convenience; hot paths use
    :func:`_sidecar_ranges` and never materialize per-epoch ids."""
    if isinstance(payload, dict):
        ids: set[int] = set()
        for lo, hi in payload["ranges"]:
            ids.update(range(int(lo), int(hi) + 1))
        return ids
    return {int(e) for e in payload}


def _sidecar_ranges(payload) -> list[list[int]]:
    """``_folded_epochs.json`` payload as inclusive ranges — the current
    ``{"ranges": [[lo, hi], ...]}`` form passes through; the pre-round-8
    flat int list is collapsed (read-compatible; writers emit ranges
    only)."""
    if isinstance(payload, dict):
        return [[int(lo), int(hi)] for lo, hi in payload["ranges"]]
    return _epochs_to_ranges({int(e) for e in payload})


def _read_folded_sidecar(batch_dir: str) -> list[list[int]]:
    import json

    side = os.path.join(batch_dir, "_folded_epochs.json")
    if not os.path.exists(side):
        return []
    with open(side) as fh:
        return _sidecar_ranges(json.load(fh))


def _covered_bucket_ranges(buckets_dir: str) -> list[list[int]]:
    """Merged inclusive epoch-id ranges the store covers — the live
    ``_batch=`` dirs plus every range a compacted run absorbed. The
    per-batch heal pass tests membership against THIS (O(#runs) to
    build, O(log #runs) per probe); expanding to a per-epoch int set
    would re-materialize ~525k ids per micro-batch on a year-old
    1-minute-trigger store, defeating the range sidecar."""
    import glob

    ranges: list[list[int]] = []
    for p in glob.glob(os.path.join(buckets_dir, "_batch=*")):
        if not os.path.exists(os.path.join(p, "_SUCCESS")):
            continue
        eid = int(p.rsplit("=", 1)[1])
        ranges.append([eid, eid])
        ranges.extend(_read_folded_sidecar(p))
    return _merge_ranges(ranges)


def covered_bucket_epochs(buckets_dir: str) -> set[int]:
    """Epoch ids whose bucket rows are present in the store — the live
    ``_batch=`` dirs plus every id a compacted base absorbed (recorded in
    its ``_folded_epochs.json`` sidecar), EXPANDED to a set. Backfill
    compares SINK epochs against this coverage; without the sidecars
    every compaction would look like missing history and be recomputed
    from landed signatures. Introspection/test convenience — the hot
    path uses :func:`_covered_bucket_ranges` and never expands."""
    ids: set[int] = set()
    for lo, hi in _covered_bucket_ranges(buckets_dir):
        ids.update(range(lo, hi + 1))
    return ids


def _split_bucket_dirs(dirs: list[str]) -> tuple[list[str], list[str]]:
    """Partition the committed epoch dirs by layout: (partitioned bases
    with ``__bpart=`` subdirectories, flat deltas). The two layouts carry
    different partition-discovery depths, so they must be read in
    separate calls — one mixed read raises Spark's conflicting-directory-
    structures error."""
    import glob

    parted, flat = [], []
    for d in dirs:
        (parted if glob.glob(os.path.join(d, "__bpart=*")) else flat).append(d)
    return parted, flat


def bucket_store_dir_ns(buckets_dir: str, default: int) -> list[int]:
    """The distinct partition counts the store's committed dirs are keyed
    with — one value in steady state, two while an online rebucket is
    draining through the geometric merges. Callers compute one touched-
    partition list PER N so pruning stays exact across the migration."""
    meta_n = bucket_store_partitions(buckets_dir, default)
    return sorted(
        {_dir_nparts(d, meta_n) for d in _committed_batch_dirs(buckets_dir)}
        or {meta_n}
    )


def read_bucket_store(
    spark: SparkSession,
    buckets_dir: str,
    id_col: str,
    parts: list[int] | None = None,
    *,
    parts_for=None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The landed ``(id, __bucket)`` table, PRUNED to the given
    ``__bpart`` partitions. Two legs, unioned:

    - the COMPACTED bases (``__bpart=`` directory layout — the store's
      unbounded part): ``isin`` on the partition column prunes at file
      LISTING time, so the scan touches only ``len(parts)/N`` of the
      folded history (plan-asserted in ``tests/test_streaming.py``);
    - the flat per-epoch tail (≤ ``compact_every`` micro-batch-sized
      deltas by construction): the same ``isin`` on the stored
      ``__bpart`` DATA column, pushed to parquet row-group stats (deltas
      are written sorted by it).

    ``extra_cols`` keeps additional store columns in the projection
    (the carrier-counted gram store's ``__cnt``).

    ``parts_for`` (round 9, mutually exclusive with ``parts``): a
    callable ``N -> list[int] | None`` giving the touched-partition list
    for dirs keyed at partition count N — required while an online
    rebucket (:func:`request_rebucket_online`) leaves the store MIXED-N,
    where a single parts list computed at one N would prune the other
    N's legs to the WRONG partitions and silently miss candidates. Legs
    are grouped by (layout, dir N) and each filtered with its own list
    (None = that leg unpruned). Steady state has one N, so the grouping
    degenerates to the classic two legs.

    No ``mergeSchema``: the store schema is fixed by its single writer —
    a merge pass would re-read every file footer per micro-batch, an
    O(files) cost the store exists to avoid."""
    dirs = _committed_batch_dirs(buckets_dir)
    if not dirs:
        raise FileNotFoundError(f"no committed _batch=* epochs under {buckets_dir}")
    if parts is not None and parts_for is not None:
        raise ValueError("pass parts or parts_for, not both")
    from pyspark.sql import functions as F

    meta_n = None
    if parts_for is not None:
        import json

        with open(os.path.join(buckets_dir, "_meta.json")) as fh:
            meta_n = int(json.load(fh)["num_partitions"])
    parted, flat = _split_bucket_dirs(dirs)
    legs = []
    for group in (parted, flat):
        if not group:
            continue
        by_n: dict[int | None, list[str]] = {}
        for d in group:
            n = _dir_nparts(d, meta_n) if parts_for is not None else None
            by_n.setdefault(n, []).append(d)
        for n, subgroup in by_n.items():
            df = spark.read.option("basePath", buckets_dir).parquet(*subgroup)
            leg_parts = parts if parts_for is None else parts_for(n)
            if leg_parts is not None:
                df = df.filter(
                    F.col("__bpart").isin([int(p) for p in leg_parts])
                )
            legs.append(df.select(id_col, "__bucket", *extra_cols))
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def near_dedup_insert(
    stream_df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    bucket_partitions: int = 64,
    compact_every: int = 16,
    trigger_once: bool = False,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    exact_key_col: str | None = None,
    maintenance_nudges: int = 1,
    bloom_gate: bool | None = None,
) -> StreamingQuery:
    """Continuous INSERT that drops NEAR-duplicate documents — the
    streaming leg of the MinHash-LSH dedup family (the exact-key version
    is :func:`dedup_insert`).

    Per micro-batch:

    1. signatures: shuffle-free MinHash over the batch
       (``operators/dedup.minhash_signatures``);
    2. within-batch: banded LSH candidates → exact-Jaccard verify → a row
       drops if it has a ≥ threshold partner with a smaller id (greedy
       min-id survivor, deterministic at any parallelism);
    3. vs sink: incoming band-bucket hashes join the landed rows' stored
       signatures' buckets; candidate pairs verify with exact Jaccard on
       the stored text — an incoming row drops on any ≥ threshold match;
    4. survivors land WITH their ``__minhash`` column, so step 3 never
       recomputes signatures over history.

    Like ``dedup_insert``, the seen-state lives in the sink (restart-safe,
    unbounded without watermark state). Step 3's landed side reads a
    MATERIALIZED bucket store, not the sink rows: each epoch also lands
    its survivors' exploded ``(id, band-bucket)`` pairs under
    ``<sink>/_buckets/_batch=N`` (idempotent, same epoch key), so the
    per-batch history cost is a narrow two-long-column scan instead of
    re-reading every landed signature array and recomputing 16 band
    hashes over it — measured 1.7× per batch at 1M landed rows, and the
    gap widens with ``num_hashes``.

    Round 7 made the store O(landed rows) in a BOUNDED file count and
    its per-batch read PRUNED (the round-6 ladder measured the unpruned
    full-history scan at 1.49× per landed decade — the one lane whose
    per-batch cost grew without bound):

    - live deltas land FLAT (one file per epoch, ``__bpart =
      pmod(bucket, bucket_partitions)`` carried as a sorted data column;
      the count is pinned in ``_meta.json`` so epochs can never disagree
      on the hash) — a per-epoch ``partitionBy`` write measured ~2 s of
      pure constant factor per micro-batch, so the directory-partitioned
      layout lives where its write cost amortizes: the compacted base;
    - when the flat tail exceeds ``compact_every`` epochs it folds
      through ``tiered_compact_sink(partition_by=['__bpart'])`` into a
      new ``__bpart``-partitioned run, and runs merge GEOMETRICALLY —
      so a year of 1-minute triggers holds ``compact_every`` tail dirs
      plus O(log history) runs, each epoch's rows are rewritten
      O(log history) times over the stream's life (round 7's full
      refold rewrote the ENTIRE store every trigger — amortized
      O(history) per batch), and each run records its absorbed epoch
      ids as ranges in ``_folded_epochs.json`` so the heal pass knows
      they're covered;
    - once that base exists, the landed-side read prunes to the
      partitions the incoming batch's buckets actually touch
      (directory-level on the base — plan-asserted in tests — and
      row-group stats on the small flat tail), and the landed-verify
      join — with its linear sink text scan — is skipped entirely when
      the bucket probe yields zero candidate pairs (the steady-state
      common case for mostly-unique streams). While the store is still
      a handful of young flat deltas, both steps are skipped: their two
      extra driver-blocking jobs per batch are pure overhead against a
      tiny store (measured on the streaming bench), and pruning a
      micro-batch-sized history saves nothing;
    - the epoch's own delta is written directly after the sink commit (a
      survivors-sized read of the just-committed dir) instead of a
      second full two-tree glob.

    A sink whose bucket store is missing epochs (pre-upgrade, a crash
    between the two epoch writes) or holds pre-round-7 deltas (no
    ``__bpart`` column) is self-healed before the join: missing epochs
    backfill from their landed signatures, pre-upgrade deltas gain the
    column in a one-time in-place rewrite — so the fast path is also
    the only path. Candidate volume is banded-LSH-bounded exactly as in
    batch; document bodies never join until a candidate pair exists
    (the bucket join moves ids only; texts re-attach to candidates by
    id).

    Round 10 additions, composing the crawl-curation chain as ONE lane:

    - ``transform`` runs first on each micro-batch (a plain batch
      DataFrame — e.g. WARC parse → ``html_to_text`` →
      ``canonical_url``), producing the rows the dedup stages see;
    - ``exact_key_col`` inserts an EXACT dedup stage before the near
      dedup: within the batch the smallest-``id_col`` row per key
      survives, and keys already landed are dropped via an anti-join
      against the sink's NARROW ``_ids`` sidecar (first-arrived-wins —
      the streaming face of the batch pipeline's min-id-per-URL rule).
      The sidecar scan is O(landed keys) but ~tens of bytes/key — the
      exact-dedup ladder measured that shape FASTER than a pruned
      store read through 10M+ keys (SCALECHECK ``exact_dedup_insert``);
      a corpus whose key set outgrows it (≫100M keys) should run the
      key stage as its own :func:`dedup_insert` (whose store prunes
      past the measured crossover) feeding this lane;
    - every epoch also lands a ``<sink>/_ids/_batch=N`` sidecar
      (:func:`write_ids_sidecar`: ``id_col`` + the exact key when
      configured), so the exact-key anti-join and the maintenance
      tombstone re-verify scan one tiny column file per epoch instead
      of the full sink — flat in sink row width at 100 TB;
    - ``maintenance_nudges`` forwards to ``maintain_bucket_store
      (max_nudges_per_call=...)`` — the batch-latency ↔ migration-drain
      trade for slow trigger cadences.

    ``bloom_gate`` (round 11, SCALING.md's round-10 residual): the dedup
    lanes' one bloom gate (:class:`_BloomGate`, shared with
    :func:`dedup_insert`), here over the store's BAND-BUCKET VALUES,
    pre-screens the incoming batch's bucket hashes — a bucket the bloom
    rejects PROVABLY holds no landed row, so a novel doc whose 16 band
    buckets are all bloom-negative drives NO candidate read at all, and
    the pruned store read's touched-partition count falls from
    ~|batch|·bands dirs to ~(true bucket collisions + fp)·dirs — the
    per-request object-store economics the exact-dedup ladder measured
    as the gate's lever. Exactness is unconditional: the gated rows are
    exactly those the ``old ⋈ inc`` bucket equi-join could never match,
    so the candidate-pair set is IDENTICAL with the gate on or off
    (pytest-pinned, including across retention tombstones and an
    online rebucket — bucket VALUES survive both; folds and rebuckets
    change layout, never values, and a pruned tombstone only removes
    rows, keeping the bloom a superset). The crash contract and the
    width (:func:`bloom_gate_auto_m_bits` of the store's measured
    bytes, pinned in a meta sidecar) are the gate's; here gaps backfill
    from landed signatures. ``bloom_gate=None`` (default) engages once
    a compacted base exists AND the store passes the measured
    prune-crossover size (:data:`_EXACT_PRUNE_MIN_BYTES` — the
    exact-dedup ladder's honest negative: the gate's win is
    request-priced object-store dir opens, unmeasurable on warm local
    disk, so small stores never pay the per-batch bloom upkeep);
    ``True``/``False`` force (the ladder's A/B)."""
    from pyspark.sql import functions as F

    from confluent_kafka_vector_search_prompt_inference_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    write_batch = idempotent_batch_writer(sink_dir)

    def _band_buckets(sig_col):
        return band_buckets(sig_col, num_hashes=num_hashes, bands=bands)

    buckets_dir = os.path.join(sink_dir, "_buckets")
    # epochs whose on-disk layout this process has already vetted (or
    # itself wrote) — bounds the heal pass's pre-upgrade footer check to
    # one read per epoch per stream lifetime, not one per micro-batch
    layout_checked: set[int] = set()
    # the owns-its-sink contract check needs one footer read per STREAM,
    # not per micro-batch — every epoch after the first pass was written
    # by this very writer
    sink_contract_ok = False

    def _epoch_delta(spark: SparkSession, sink_epoch_dir: str) -> DataFrame:
        rows = spark.read.parquet(sink_epoch_dir)
        return rows.select(
            id_col,
            F.explode(_band_buckets(F.col("__minhash"))).alias("__bucket"),
        )

    gate = _BloomGate(sink_dir, "__bucket", _epoch_delta)

    def _upgrade_flat_deltas(
        spark: SparkSession, n_parts: int, nparts_sidecar: bool
    ) -> None:
        """Pre-round-7 deltas — flat files WITHOUT the ``__bpart``
        column — are rewritten in place once (same flat layout plus the
        column the pruned read filters on); deltas that already carry it
        are the native live format and read as-is, so the steady-state
        pass does no Spark work at all. During an online rebucket,
        ``n_parts`` is the migration TARGET and each rewrite records it
        in the per-dir ``_nparts.json`` sidecar (``nparts_sidecar``),
        same as the live delta path."""
        import json
        import shutil

        for p in _committed_batch_dirs(buckets_dir):
            eid = int(p.rsplit("=", 1)[1])
            if eid in layout_checked:
                continue  # this process already vetted (or wrote) it
            if _split_bucket_dirs([p])[0]:
                layout_checked.add(eid)
                continue  # compacted base — already partitioned
            first = spark.read.parquet(p)
            if "__bpart" in first.columns:
                layout_checked.add(eid)
                continue  # native flat delta
            mig = os.path.join(buckets_dir, f"_migrate_tmp_{eid}")
            shutil.rmtree(mig, ignore_errors=True)
            (
                first.select(id_col, "__bucket")
                .withColumn(
                    "__bpart", F.pmod(F.col("__bucket"), F.lit(n_parts)).cast("int")
                )
                .coalesce(1)
                .sortWithinPartitions("__bpart")
                .write.mode("overwrite")
                .parquet(mig)
            )
            if nparts_sidecar:
                with open(os.path.join(mig, "_nparts.json"), "w") as fh:
                    json.dump({"num_partitions": int(n_parts)}, fh)
            shutil.rmtree(p)
            os.rename(mig, p)

    sidecar_cols = [id_col] + (
        [exact_key_col] if exact_key_col and exact_key_col != id_col else []
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import Window

        from confluent_kafka_vector_search_prompt_inference_spark.operators.dedup import word_shingles

        nonlocal sink_contract_ok
        spark = batch_df.sparkSession
        if transform is not None:
            batch_df = transform(batch_df)
        if exact_key_col is not None:
            # exact stage: smallest-id row per key within the batch, then
            # keys already landed drop (narrow sidecar read, not the sink)
            w = Window.partitionBy(exact_key_col).orderBy(id_col)
            batch_df = (
                batch_df.withColumn("__krn", F.row_number().over(w))
                .filter(F.col("__krn") == 1)
                .drop("__krn")
            )
            if _sink_has_batches(sink_dir):
                batch_df = batch_df.join(
                    read_sink_ids(spark, sink_dir, [exact_key_col]),
                    exact_key_col,
                    "left_anti",
                )
        # NOTE: do NOT repartition the micro-batch here "to spread the
        # per-row-heavy signature stage" — measured on the round-6
        # ladder, the extra shuffle + 32-task scheduling across every
        # stage of this multi-join pipeline COSTS more than the spread
        # saves at micro-batch sizes (p50 2.8 s → 4.6 s at the 10k rung)
        # shingles feed the signature stage AND both exact-verify sides;
        # signatures feed the landed-rows join AND the candidate stage —
        # persist both for the batch (released in finally) so each
        # per-row-heavy stage runs once, mirroring the batch-side pipeline
        # (__spark_entry__.minhash_lsh_dups)
        sh = batch_df.select(
            id_col, text_col, word_shingles(text_col, shingle_n).alias("__sh")
        ).persist()
        sigs = minhash_signatures(
            sh, id_col, None, num_hashes=num_hashes, shingle_col="__sh"
        ).persist()
        keyed = batch_df.join(sigs.withColumnRenamed("minhash", "__minhash"), id_col)
        # (2) within-batch near-dedup: min-id survivor per verified pair
        cands = minhash_lsh_candidates(
            sigs, id_col, bands=bands, num_hashes=num_hashes, with_estimate=False
        )
        dups = ngram_jaccard_pairs(
            sh, id_col, None,
            threshold=threshold, candidates=cands, shingle_col="__sh",
        ).select(F.col("id_b").alias(id_col)).distinct()
        keyed = keyed.join(dups, id_col, "left_anti")
        # (3) vs already-landed rows: bucket join on band hashes, exact verify
        gate_on = bool(bloom_gate)  # resolved against store age below
        persisted: list[DataFrame] = [sh, sigs]
        if _sink_has_batches(sink_dir):
            # contract check from ONE footer (not a mergeSchema sweep of
            # every landed file), ONCE per stream (every later epoch was
            # written by this very writer): near_dedup_insert owns its
            # sink — a sink previously populated by dedup_insert /
            # continuous_insert has no stored signatures and must fail
            # fast, not mid-join.
            if not sink_contract_ok:
                first_epoch = _committed_batch_dirs(sink_dir)[0]
                if "__minhash" not in spark.read.parquet(first_epoch).columns:
                    raise ValueError(
                        f"near_dedup_insert sink {sink_dir!r} contains landed "
                        "rows without a __minhash column (written by a "
                        "different sink writer?). Point near_dedup_insert at "
                        "its own sink dir, or backfill signatures with "
                        "operators.dedup.minhash_signatures before resuming."
                    )
                sink_contract_ok = True
            write_n, write_sc = bucket_store_write_partitions(
                buckets_dir, bucket_partitions
            )
            _upgrade_flat_deltas(spark, write_n, write_sc)
            _heal_bucket_store(spark, sink_dir, _epoch_delta, write_n, write_sc)
            # the bucket join moves (id, bucket) ONLY — document bodies
            # re-attach to the few candidate pairs by id afterwards. The
            # landed side is the one input that GROWS for the stream's
            # lifetime. HOW it reads depends on the store's age: the
            # pruning machinery (collect this batch's touched partitions,
            # filter the store to them, probe for zero pairs before the
            # sink text scan) costs two extra driver-blocking jobs per
            # batch — pure overhead while the store is a handful of flat
            # micro-batch deltas, a rounding error once a compacted base
            # holds rung-scale history. So both engage exactly when a
            # partitioned base EXISTS (i.e. compaction has run at least
            # once): before that, this is the measured-cheapest young-
            # stream shape; after, the ladder-measured flat-in-history
            # steady state.
            has_base = bool(_split_bucket_dirs(_committed_batch_dirs(buckets_dir))[0])
            inc = keyed.select(
                F.col(id_col).alias("id_b"),
                F.explode(_band_buckets(F.col("__minhash"))).alias("__bucket"),
            )
            if bloom_gate is None:
                # default follows the measured regime, exactly like
                # exact-dedup's gate: engage only once the store passes
                # the prune-crossover size — the exact-dedup ladder's
                # honest negative says the gate's win is request-priced
                # (object-store dir opens), unmeasurable-to-negative on
                # warm local disk, so small stores never pay the
                # per-batch bloom upkeep
                gate_on = has_base and _store_past_crossover(buckets_dir)
            if has_base or gate_on:
                inc = inc.persist()
                persisted.append(inc)
            if gate_on:
                # bloom over the store's bucket VALUES: rejected buckets
                # PROVABLY hold no landed row, so they drop out of the
                # candidate derivation — the equi-join below could never
                # have matched them, so the pair set is unchanged while
                # the parts probe + pruned read see only the positive
                # sliver (true collisions + fp)
                inc = gate.positive(spark, inc).persist()
                persisted.append(inc)
            old = read_bucket_store(
                spark, buckets_dir, id_col,
                parts_for=(
                    _touched_parts(inc, buckets_dir, bucket_partitions)
                    if has_base
                    else None
                ),
            ).select(F.col(id_col).alias("id_a"), "__bucket")
            pairs = (
                old.join(F.broadcast(inc.select("id_b", "__bucket")), "__bucket")
                .select("id_a", "id_b")
                .dropDuplicates(["id_a", "id_b"])
                .persist()
            )
            persisted.append(pairs)
            # zero candidate pairs → no landed row can be a near-dup of
            # this batch: skip the verify joins AND the linear scan of the
            # sink's text column they would trigger (the steady-state
            # common case for mostly-unique streams). Only worth a probe
            # job when the sink scan it saves is big (has_base).
            if not has_base or pairs.limit(1).count() > 0:
                landed = read_sink(spark, sink_dir)
                cand_a = pairs.select(F.col("id_a").alias(id_col)).distinct().join(
                    landed.select(id_col, text_col), id_col
                )
                cand_b = pairs.select(F.col("id_b").alias(id_col)).distinct().join(
                    keyed.select(id_col, text_col), id_col
                )
                # a pair may only verify against a landed partner that
                # still EXISTS: the bucket store can hold stale rows for
                # retired ids (retention ran, tombstones not yet
                # drained), and for a RE-LANDED id the pair is
                # (X, X) — without this semi-join the verify's
                # re-attach-text-by-id step would hand the incoming
                # row's own text to the "landed" side and a document
                # would suppress itself (pytest-pinned:
                # test_tombstone_reland_keeps_bucket_rows). Pairs whose
                # id_a has no landed text die either way; self-pairs are
                # the case that needs it said explicitly.
                live_pairs = pairs.join(
                    cand_a.select(F.col(id_col).alias("id_a")),
                    "id_a",
                    "left_semi",
                )
                both = cand_a.unionByName(cand_b).dropDuplicates([id_col])
                hits = ngram_jaccard_pairs(
                    both, id_col, text_col,
                    shingle_n=shingle_n, threshold=threshold,
                    candidates=live_pairs.select("id_a", "id_b"),
                ).select(F.col("id_b").alias(id_col)).distinct()
                keyed = keyed.join(hits, id_col, "left_anti")
        try:
            write_batch(keyed, epoch_id)
            # this epoch's bucket delta is computed from the just-committed
            # epoch dir (a survivors-sized disk read, NOT a re-run of the
            # dedup joins). Round 9: the maintenance after it also carries
            # the store's pending maintenance (retirement tombstones from
            # enforce_retention_tombstoned, an online rebucket from
            # request_rebucket_online) on the geometric folds, so the
            # forever-running pipeline never stops for a store rewrite
            _land_epoch_sidecars(
                spark, sink_dir, epoch_id, delta=_epoch_delta,
                id_col=id_col, ids_cols=sidecar_cols, gate=gate,
                gate_on=gate_on, bloom_gate=bloom_gate,
                bucket_partitions=bucket_partitions, compact_every=compact_every,
                max_nudges=maintenance_nudges,
            )
            layout_checked.add(epoch_id)
        finally:
            for df in reversed(persisted):
                df.unpersist()

    return _start_stream(stream_df, process, checkpoint_dir, trigger_once)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_ts: str,
    right_ts: str,
    within: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream–stream equi join with an event-time interval band: each left
    row matches right rows with the same key whose timestamp falls in
    ``(left_ts, left_ts + within]``.

    Both sides carry a watermark, which is what lets Spark BOUND the join
    state: a buffered row can be dropped once the other side's watermark
    passes its end of the interval — without it, state grows with the
    stream. The column sets must be disjoint except for ``on``/timestamps
    (rename upstream); the key equality shuffles both streams once on the
    key, the band is a residual predicate — the same physical shape as the
    batch range join, so the operator behaves identically in either mode.
    """
    from pyspark.sql import functions as F

    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (l[on] == r[on])
        & (r[right_ts] > l[left_ts])
        & (r[right_ts] <= l[left_ts] + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, how)


def statement_phase(query: StreamingQuery) -> str:
    """The reference's statement phase machine (PENDING → RUNNING →
    COMPLETED/FAILED, ``README.md:312-316, 544-547``) read off a Spark
    StreamingQuery."""
    if query.exception() is not None:
        return "FAILED"
    if not query.isActive:
        return "COMPLETED"
    # A query that has not yet completed any micro-batch is still PENDING;
    # status["isDataAvailable"] is always present, so key off progress.
    return "RUNNING" if query.recentProgress else "PENDING"


def _committed_batch_dirs(sink_dir: str) -> list:
    """Committed (``_SUCCESS``-stamped) ``_batch=`` dirs only — a crashed
    or in-flight epoch's partial files must never reach a reader, or
    counts/sketches transiently double- or under-count until the epoch
    replays. Sorted NUMERICALLY by epoch id: the compaction/migration
    entry points slice "the newest ``keep_batches``" off this list to
    honor the idempotent-replay contract, and a lexicographic sort would
    rank ``_batch=9`` after ``_batch=16`` once ids pass one digit —
    folding the true newest epoch and re-landing its rows on replay."""
    import glob

    return sorted(
        (
            d
            for d in glob.glob(os.path.join(sink_dir, "_batch=*"))
            if os.path.exists(os.path.join(d, "_SUCCESS"))
        ),
        key=lambda d: int(d.rsplit("=", 1)[1]),
    )


def read_sink(spark: SparkSession, sink_dir: str) -> DataFrame:
    """Read an idempotent sink back as one table (the ``_batch`` bookkeeping
    partition column is internal and dropped). Committed epochs only
    (``_SUCCESS`` present) — an in-flight or crashed epoch's partial files
    are invisible until its idempotent replay commits. ``mergeSchema``
    because an evolved sink's batch dirs carry heterogeneous (add-only
    widened) schemas — a single-footer read would silently null columns
    that only newer batches carry."""
    dirs = _committed_batch_dirs(sink_dir)
    if not dirs:
        raise FileNotFoundError(f"no committed _batch=* epochs under {sink_dir}")
    df = (
        spark.read.option("basePath", sink_dir)
        .option("mergeSchema", "true")
        .parquet(*dirs)
    )
    return df.drop("_batch")


def _ids_root(sink_dir: str) -> str:
    return os.path.join(sink_dir, "_ids")


def write_ids_sidecar(
    spark: SparkSession, sink_dir: str, epoch_id: int, cols: list[str]
) -> None:
    """Land the narrow LIVE-ID sidecar for a just-committed sink epoch:
    ``<sink>/_ids/_batch=N`` holding only ``cols`` (the document id, plus
    an exact-dedup key when the pipeline carries one) as one small
    columnar file — the exact-dedup fingerprint-table shape. Consumers
    that only need ids (the tombstone re-verify in
    :func:`maintain_bucket_store`, :func:`retire_tombstone`'s creation
    bound, the exact-key anti-join of a keyed :func:`near_dedup_insert`)
    read this instead of projecting the full sink, so their per-call
    cost stays flat as sink ROW WIDTH grows — a 100 TB sink's id column
    may still be listed out of thousands of wide row groups; the sidecar
    is the pre-projected answer.

    Epoch-keyed idempotent (a replay skips); written FROM the committed
    epoch dir, so a replayed write would land identical rows anyway.
    Crash between the sink epoch commit and this write: the epoch simply
    has no sidecar and every reader falls back to projecting that epoch
    directly (:func:`read_sink_ids` enumerates from the SINK's committed
    epochs — the source of truth — so an orphaned sidecar whose epoch
    retention already deleted is never read). ``cols`` must match the
    sink's recorded sidecar schema: a config change resets the sidecars
    (they are derived data; the reset costs one fallback read per epoch
    until rewritten)."""
    import json
    import shutil

    root = _ids_root(sink_dir)
    os.makedirs(root, exist_ok=True)
    schema_p = os.path.join(root, "_schema.json")
    if os.path.exists(schema_p):
        with open(schema_p) as fh:
            recorded = json.load(fh)["cols"]
        if recorded != list(cols):
            # config changed: derived data, reset wholesale (readers fall
            # back to the sink until new sidecars land)
            for d in _committed_batch_dirs(root):
                shutil.rmtree(d, ignore_errors=True)
            os.remove(schema_p)
    if not os.path.exists(schema_p):
        tmp = schema_p + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"cols": list(cols)}, fh)
        os.replace(tmp, schema_p)
    target = os.path.join(root, f"_batch={epoch_id}")
    if os.path.exists(os.path.join(target, "_SUCCESS")):
        return
    src = os.path.join(sink_dir, f"_batch={epoch_id}")
    (
        spark.read.parquet(src)
        .select(*cols)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(target)
    )


def _sidecar_cols(sink_dir: str) -> list[str] | None:
    """The sink's recorded sidecar column set, or None when no sidecar
    store exists (pre-round-10 sink, or a reset in progress)."""
    import json

    p = os.path.join(_ids_root(sink_dir), "_schema.json")
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return list(json.load(fh)["cols"])


def _narrow_epoch_reads(
    spark: SparkSession, sink_dir: str, epoch_paths: list, cols: list[str]
) -> DataFrame:
    """Project ``cols`` from the given committed sink epoch dirs, reading
    each epoch's ``_ids`` sidecar when one is committed (a one-file
    narrow scan) and the epoch's own parquet otherwise. Exact under
    every crash interleaving: the caller's epoch list (derived from the
    SINK) is the source of truth, a missing sidecar falls back, an
    orphaned sidecar is never enumerated, and a sidecar store whose
    recorded schema lacks a requested column is ignored wholesale (no
    silent null-fill from a heterogeneous-schema parquet read)."""
    recorded = _sidecar_cols(sink_dir)
    usable = recorded is not None and set(cols) <= set(recorded)
    root = _ids_root(sink_dir)
    side, full = [], []
    for p in epoch_paths:
        sp = os.path.join(root, f"_batch={p.rsplit('=', 1)[1]}")
        if usable and os.path.exists(os.path.join(sp, "_SUCCESS")):
            side.append(sp)
        else:
            full.append(p)
    legs = []
    if side:
        legs.append(spark.read.parquet(*side).select(*cols))
    if full:
        legs.append(spark.read.parquet(*full).select(*cols))
    if not legs:
        raise FileNotFoundError(f"no committed epochs under {sink_dir}")
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def _regen_missing_sidecars(spark: SparkSession, sink_dir: str) -> int:
    """Regenerate ``_ids`` sidecars for committed sink epochs that lack
    one — called after a fold so the compacted base (whose folded
    sources' sidecars were deleted at publish) gets its pre-projected
    id table back instead of full-width fallback reads forever; also
    heals any epoch whose sidecar write was lost to a crash. No-op on
    sinks with no recorded sidecar schema (delta/sketch dirs, pre-
    sidecar sinks). Returns the number regenerated."""
    cols = _sidecar_cols(sink_dir)
    if cols is None:
        return 0
    root = _ids_root(sink_dir)
    n = 0
    for d in _committed_batch_dirs(sink_dir):
        name = f"_batch={d.rsplit('=', 1)[1]}"
        if not os.path.exists(os.path.join(root, name, "_SUCCESS")):
            write_ids_sidecar(
                spark, sink_dir, int(name.rsplit("=", 1)[1]), cols
            )
            n += 1
    return n


def read_sink_ids(
    spark: SparkSession, sink_dir: str, cols: list[str]
) -> DataFrame:
    """The sink's live narrow id table: ``cols`` over every committed
    epoch, served from the ``_ids`` sidecars where they exist and from
    the epochs themselves where they don't (pre-upgrade history, a
    crash between the two writes, a mid-reset sidecar store)."""
    dirs = _committed_batch_dirs(sink_dir)
    if not dirs:
        raise FileNotFoundError(f"no committed _batch=* epochs under {sink_dir}")
    return _narrow_epoch_reads(spark, sink_dir, dirs, cols)


def compact_sink(
    spark: SparkSession,
    sink_dir: str,
    *,
    keep_batches: int = 1,
    target_partitions: int | None = None,
    partition_by: list[str] | None = None,
    fold_transform=None,
) -> int:
    """Fold committed ``_batch=*`` dirs into one compacted base batch.

    A long-running ``foreachBatch`` sink accumulates one directory per
    micro-batch; every ``read_sink`` (and therefore every dedup
    anti-join / near-dedup signature probe) then lists and reads
    thousands of small files — the classic small-files decay. Compaction
    rewrites all committed batches as a single ``_batch=0`` (optionally
    repartitioned), preserving idempotent-replay semantics: epochs
    re-delivered after compaction still skip (their committed dirs are
    gone, but the checkpoint is what drives re-delivery, and re-written
    epochs target NEW batch ids above the compacted one — the data itself
    survives in batch 0). Run it from a maintenance job, not the hot
    path. Returns the number of batch dirs folded.

    ``keep_batches`` leaves the most recent N batch dirs uncompacted so a
    concurrently-running query's in-flight reads are not pulled out from
    under it (batch dirs are immutable once committed). It must be ≥ 1:
    folding the NEWEST committed dir would break idempotent replay — a
    crash after the sink commit but before the streaming checkpoint
    commit re-delivers that epoch, and the writer would re-create the
    (now folded) ``_batch=<epoch>`` dir, duplicating its rows.

    ``partition_by`` preserves a directory-partitioned layout through the
    fold (e.g. the near-dedup ``_buckets`` store's ``__bpart`` hash
    partitioning — folding it flat would destroy the partition pruning
    the store exists for); the fold repartitions by those columns first,
    so the compacted base holds one file per partition directory.

    ``fold_transform`` rewrites the unioned rows on their way into the
    folded base (e.g. :func:`keyed_upsert_insert`'s latest-per-key
    reduction). It must be sound on a COMPLETE PREFIX of history: the
    fold set is always the oldest epochs plus prior bases, and every
    kept/new epoch is strictly newer — so a transform that only drops
    rows DOMINATED by other rows in the same fold can never change what
    a full read computes.

    The compacted base records which epoch ids it absorbed in a
    ``_folded_epochs.json`` sidecar (underscore-prefixed — invisible to
    parquet readers), merging any sidecars of previously-compacted bases
    it folds. Consumers that track per-epoch coverage (the near-dedup
    bucket-store backfill) read the sidecars to know an epoch's rows
    live in a folded base even though its own ``_batch=`` dir is gone —
    without it, every compaction would look like missing history and be
    recomputed.

    Crash safety: before any deletion, the list of folded dirs is written
    as a MANIFEST inside tmp; the fold order is write-tmp(+manifest) →
    delete-folded → rename. A crash anywhere leaves a recoverable state
    the next call completes: manifest-listed survivors are deleted first,
    then the rename finishes — so folded rows can never appear twice and
    are never lost (they live in tmp until the rename)."""
    if keep_batches < 1:
        raise ValueError(
            "keep_batches must be >= 1: the newest committed batch dir must "
            "survive so idempotent replay of a checkpoint-uncommitted epoch "
            "stays a no-op"
        )
    _recover_pending_fold(sink_dir)
    dirs = _committed_batch_dirs(sink_dir)
    to_fold = dirs[: max(0, len(dirs) - keep_batches)]
    if len(to_fold) < 2:
        return 0
    folded = _fold_dirs(
        spark, sink_dir, to_fold,
        target_partitions=target_partitions, partition_by=partition_by,
        transform=fold_transform,
    )
    # the base's _ids sidecar was (correctly) deleted at publish; give
    # it back so the folded bulk keeps narrow reads (no-op for sinks
    # without a sidecar store)
    _regen_missing_sidecars(spark, sink_dir)
    return folded


def _finish_fold(sink_dir: str, folded_names: list[str]) -> None:
    """Publish a fully-written ``_compact_tmp``: delete any folded source
    dirs that still exist, then rename tmp to ``_batch=<min folded id>``.
    The manifest rides along through the rename (underscore-prefixed
    files are invisible to Spark's parquet reader) — removing it BEFORE
    the rename would open a crash window where tmp looks like a failed
    write and gets discarded with the folded data inside.

    Every folded epoch's ``_ids`` sidecar goes too — INCLUDING the min
    epoch whose NAME the base inherits: left in place, that sidecar
    would read as the base's ids while describing only one folded
    epoch's, and the exact-key anti-join / tombstone re-verify would
    silently miss every other folded key (re-delivered dups landing,
    live bucket rows killed). Deleting them strictly BEFORE the rename
    keeps every crash point exact: an epoch without a sidecar falls
    back to its own parquet. The base starts sidecar-less (fallback
    projection) until :func:`write_ids_sidecar` regenerates one for it
    — valid on any committed epoch, folded bases included."""
    import shutil

    tmp = os.path.join(sink_dir, "_compact_tmp")
    for name in folded_names:
        shutil.rmtree(
            os.path.join(_ids_root(sink_dir), name), ignore_errors=True
        )
    for name in folded_names:
        d = os.path.join(sink_dir, name)
        if os.path.exists(d):
            shutil.rmtree(d)
    base_id = min(int(n.rsplit("=", 1)[1]) for n in folded_names)
    base = os.path.join(sink_dir, f"_batch={base_id}")
    os.rename(tmp, base)
    os.remove(os.path.join(base, "_fold_manifest.json"))  # cosmetic


def _recover_pending_fold(sink_dir: str) -> None:
    """Heal a crashed fold: a ``_compact_tmp`` with ``_SUCCESS`` + manifest
    finished writing and only missed its publish — complete the deletion
    and rename; anything else in tmp is a failed mid-write and is
    discarded (its sources are all still live)."""
    import json
    import shutil

    tmp = os.path.join(sink_dir, "_compact_tmp")
    manifest_path = os.path.join(tmp, "_fold_manifest.json")
    if not os.path.exists(tmp):
        return
    if os.path.exists(os.path.join(tmp, "_SUCCESS")) and os.path.exists(
        manifest_path
    ):
        with open(manifest_path) as fh:
            _finish_fold(sink_dir, json.load(fh))
    else:
        shutil.rmtree(tmp)  # failed mid-write: tmp is garbage


def _read_epoch_dirs(spark: SparkSession, sink_dir: str, dirs: list[str]) -> DataFrame:
    """One DataFrame over a set of committed ``_batch=`` dirs, layout-safe.

    mergeSchema: an evolved sink (Catalog.insert_into(evolve=True)) holds
    batch dirs with heterogeneous (add-only widened) schemas. A plain
    read would take one footer's schema and silently null/drop columns
    present only in other batches — then a destructive rewrite would
    lose them permanently. basePath: batch dirs may themselves hold
    partition subdirs (partition_by layouts); reading them as bare roots
    makes Spark's partition discovery reject the ``_batch=*`` dir names;
    the ``_batch`` column the rooted read infers is bookkeeping and is
    dropped. Grouped read: a store whose live deltas are FLAT while its
    compacted bases are directory-partitioned (the near-dedup bucket
    store) mixes partition depths — one read over both raises Spark's
    conflicting-directory-structures error, so dirs are read per
    distinct first-level partition structure and unioned (the partition
    column re-materializes as a data column either way)."""

    def _partition_subdir_names(d: str) -> tuple:
        return tuple(
            sorted(
                {
                    name.split("=", 1)[0]
                    for name in os.listdir(d)
                    if "=" in name and os.path.isdir(os.path.join(d, name))
                }
            )
        )

    groups: dict[tuple, list[str]] = {}
    for d in dirs:
        groups.setdefault(_partition_subdir_names(d), []).append(d)
    legs = [
        spark.read.option("mergeSchema", "true")
        .option("basePath", sink_dir)
        .parquet(*dirs_of_group)
        .drop("_batch")
        for dirs_of_group in groups.values()
    ]
    df = legs[0]
    for leg in legs[1:]:
        df = df.unionByName(leg, allowMissingColumns=True)
    return df


def _fold_dirs(
    spark: SparkSession,
    sink_dir: str,
    to_fold: list[str],
    *,
    target_partitions: int | None = None,
    partition_by: list[str] | None = None,
    transform=None,
    applied_tombstones: list[str] | None = None,
    nparts_out: int | None = None,
) -> int:
    """Crash-safely fold EXACTLY the given committed dirs into one
    ``_batch=<min id>`` dir (the write-tmp(+manifest) → delete-folded →
    rename protocol of :func:`compact_sink`, which is one caller;
    :func:`tiered_compact_sink` folds selected subsets). Callers pick
    the fold set; this enforces only the mechanics.

    Round 9 — maintenance rides the fold (so a forever-running stream
    never stops for store upkeep):

    - ``transform(df)`` rewrites the rows on their way through (the
      bucket store's tombstone anti-join and/or ``__bpart`` re-mod for a
      pending online rebucket — built by :func:`maintain_bucket_store`);
    - ``applied_tombstones`` names the tombstone dirs this fold applied;
      the output's ``_tombstones_applied.json`` is their union with
      every source dir's sidecar (re-application is an idempotent
      anti-join, so union over-approximation is safe) — the GC pass
      reads these to know when a tombstone has drained everywhere;
    - ``nparts_out`` records the N the output's ``__bpart`` is keyed
      with in ``_nparts.json`` (written inside tmp before the rename —
      no crash window)."""
    import json

    _recover_pending_fold(sink_dir)
    tmp = os.path.join(sink_dir, "_compact_tmp")
    manifest_path = os.path.join(tmp, "_fold_manifest.json")
    df = _read_epoch_dirs(spark, sink_dir, to_fold)
    if transform is not None:
        df = transform(df)
    if target_partitions:
        df = df.repartition(target_partitions)
    if partition_by:
        # one file per partition directory (the IVF one-file-per-cluster
        # lesson: an unshuffled partitioned write spills a file per
        # task per directory)
        import glob as _glob

        from pyspark.sql import functions as F

        df = df.repartition(*[F.col(c) for c in partition_by])
        df.write.partitionBy(*partition_by).mode("overwrite").parquet(tmp)
        if not any(
            _glob.glob(os.path.join(tmp, f"{c}=*")) for c in partition_by
        ):
            # an EMPTY fold (a tombstone transform killed every row, or
            # the whole tail was zero-row deltas from fully-deduped
            # micro-batches) leaves a partitionBy dir with no parquet
            # footers — unreadable by every consumer. Rewrite flat
            # (single-partition writes always emit one schema-bearing
            # file); the coverage sidecar below still records what was
            # absorbed.
            import shutil

            shutil.rmtree(tmp)
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
    else:
        df.write.mode("overwrite").parquet(tmp)
    # epoch-coverage sidecar: the folded dirs' own ids plus any ranges a
    # previously-folded base among them had already absorbed — merged as
    # inclusive ranges end to end (O(#runs), never expanded per epoch)
    covered: list[list[int]] = []
    applied: set[str] = set(applied_tombstones or [])
    for d in to_fold:
        eid = int(d.rsplit("=", 1)[1])
        covered.append([eid, eid])
        covered.extend(_read_folded_sidecar(d))
        applied |= _read_applied_sidecar(d)
    with open(os.path.join(tmp, "_folded_epochs.json"), "w") as fh:
        json.dump({"ranges": _merge_ranges(covered)}, fh)
    if applied:
        with open(os.path.join(tmp, "_tombstones_applied.json"), "w") as fh:
            json.dump(sorted(applied), fh)
    if nparts_out is not None:
        with open(os.path.join(tmp, "_nparts.json"), "w") as fh:
            json.dump({"num_partitions": int(nparts_out)}, fh)
    folded_names = [os.path.basename(d) for d in to_fold]
    with open(manifest_path, "w") as fh:
        json.dump(folded_names, fh)
    _finish_fold(sink_dir, folded_names)
    return len(to_fold)


def _dir_bytes(d: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(d):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def _is_compacted_run(d: str) -> bool:
    """A committed dir that is a compaction RUN rather than a live
    micro-batch delta: directory-partitioned (any ``col=`` subdir — the
    partition_by fold shape, also the ladder's pre-landed base) or
    carrying a ``_folded_epochs.json`` sidecar (an unpartitioned fold)."""
    if os.path.exists(os.path.join(d, "_folded_epochs.json")):
        return True
    return any(
        "=" in name and os.path.isdir(os.path.join(d, name))
        for name in os.listdir(d)
    )


def tiered_compact_sink(
    spark: SparkSession,
    sink_dir: str,
    *,
    keep_batches: int = 1,
    partition_by: list[str] | None = None,
    fanout: int = 2,
    transform=None,
    applied_tombstones: list[str] | None = None,
    nparts_out: int | None = None,
) -> int:
    """LSM-style geometric compaction — the hot-path policy for stores a
    stream compacts FOREVER (the near-dedup bucket store under the
    reference's unbounded INSERT-SELECT, ``README.md:435``).

    :func:`compact_sink` folds everything into ONE base, so each run
    re-reads and re-writes the entire landed history — an amortized
    O(history / compact_every) write per micro-batch, linear and
    unbounded on a forever-running pipeline. This policy bounds it:

    1. the flat tail (every committed FLAT dir except the newest
       ``keep_batches`` — idempotent-replay contract unchanged) folds
       into one NEW directory-partitioned run; the prior runs are not
       touched;
    2. runs then merge geometrically: while an older adjacent run is
       smaller than ``fanout ×`` its newer neighbor, the two merge
       (newest violating pair first — the cheapest merge). Run sizes
       end ≥ ``fanout×`` apart, so a store of H landed bytes holds
       ≤ log_fanout(H/tail) runs and every byte is rewritten
       O(log H) times over its lifetime — amortized O(log history)
       write per batch instead of O(history).

    The read path (:func:`read_bucket_store` / :func:`read_sink`)
    already unions multiple partitioned legs, and every run carries the
    merged ``_folded_epochs.json`` ranges of what it absorbed, so
    nothing downstream changes. Each fold/merge is the same crash-safe
    manifest protocol as :func:`compact_sink`; a crash mid-merge heals
    on the next call (or the next :func:`compact_sink`/
    :func:`near_dedup_insert` batch). Returns the number of source dirs
    folded across all merges this call.

    ``transform`` / ``applied_tombstones`` / ``nparts_out`` pass through
    to every fold and merge this call performs (see :func:`_fold_dirs`)
    — the round-9 mechanism that piggybacks store maintenance (tombstone
    prune, online rebucket) on rewrites the compaction was doing
    anyway."""
    if keep_batches < 1:
        raise ValueError(
            "keep_batches must be >= 1: the newest committed batch dir must "
            "survive so idempotent replay of a checkpoint-uncommitted epoch "
            "stays a no-op"
        )
    if fanout < 2:
        raise ValueError(f"fanout must be >= 2, got {fanout}")
    _recover_pending_fold(sink_dir)
    dirs = _committed_batch_dirs(sink_dir)
    keep = set(dirs[len(dirs) - keep_batches :])
    tail = [d for d in dirs if d not in keep and not _is_compacted_run(d)]
    folded = 0
    maint = dict(
        transform=transform,
        applied_tombstones=applied_tombstones,
        nparts_out=nparts_out,
    )
    if len(tail) >= 2:
        folded += _fold_dirs(
            spark, sink_dir, tail, partition_by=partition_by, **maint
        )
    # geometric merge pass over the runs
    while True:
        runs = sorted(
            (
                d
                for d in _committed_batch_dirs(sink_dir)
                if d not in keep and _is_compacted_run(d)
            ),
            key=lambda d: int(d.rsplit("=", 1)[1]),
        )
        if len(runs) < 2:
            break
        sizes = [_dir_bytes(r) for r in runs]
        merged = False
        for i in range(len(runs) - 1, 0, -1):  # newest violating pair first
            if sizes[i - 1] < fanout * sizes[i]:
                folded += _fold_dirs(
                    spark, sink_dir, [runs[i - 1], runs[i]],
                    partition_by=partition_by, **maint,
                )
                merged = True
                break
        if not merged:
            break
    if folded:
        _regen_missing_sidecars(spark, sink_dir)
    return folded


def bucket_store_write_partitions(
    buckets_dir: str, default: int
) -> tuple[int, bool]:
    """``(N, sidecar)`` for NEW bucket deltas: the pending online-rebucket
    target if a migration is in flight (``sidecar=True`` — the delta must
    record its N because it differs from the pinned meta), else the
    pinned ``_meta.json`` N (no sidecar churn in steady state)."""
    t = read_bucket_maintenance(buckets_dir).get("target_partitions")
    if t is not None:
        return int(t), True
    return bucket_store_partitions(buckets_dir, default), False


def maintain_bucket_store(
    spark: SparkSession,
    sink_dir: str,
    *,
    id_col: str,
    bucket_partitions: int = 64,
    compact_every: int = 16,
    keep_batches: int = 1,
    fanout: int = 2,
    max_nudges_per_call: int = 1,
) -> dict:
    """ONLINE maintenance for a near-dedup bucket store — called by
    :func:`near_dedup_insert` at the end of every micro-batch, so a
    forever-running pipeline (the reference's unbounded INSERT-SELECT,
    ``README.md:435``, with 1-hour topic retention, ``README.md:102``)
    never stops for store upkeep. Round 9: this replaces the
    stop-the-world :func:`prune_bucket_store` / offline
    :func:`rebucket_bucket_store` window for the two recurring ops by
    piggybacking them on rewrites the tiered compaction performs anyway:

    1. **tail fold + geometric merges** (as before) — when the flat tail
       exceeds ``compact_every`` epochs, it folds and runs merge
       geometrically; every fold now applies the pending maintenance
       transform (tombstone anti-join, target-N re-mod);
    2. **bounded nudges per call** — if a pending online rebucket
       (:func:`request_rebucket_online`) or an unapplied tombstone
       leaves stale dirs that the geometric invariant would never touch
       (the oldest/biggest run is stable by design), up to
       ``max_nudges_per_call`` stale dirs are re-folded per call, newest
       (cheapest) first — so a full migration or prune drains in
       O(#runs / max_nudges) = O(log history) maintenance calls with
       per-call work bounded at ``max_nudges_per_call`` run rewrites.
       The knob is the batch-latency ↔ drain-wall-clock trade: a slow
       trigger cadence (one batch a minute) drains a deep migration
       proportionally faster at ``max_nudges_per_call > 1``, paying the
       extra rewrites inside each batch — mixed-N reads are exact at
       every intermediate state either way;
    3. **finalize** — when every committed dir carries the target N, the
       pinned ``_meta.json`` is bumped atomically and the request file
       removed (crash between the two: next call re-finalizes trivially);
    4. **tombstone GC** — a tombstone whose ids every run has applied
       (per ``_tombstones_applied.json``) is deleted once no remaining
       flat delta can hold its rows: a flat delta counts as clear when
       its epoch POSTDATES the tombstone (``created_after_epoch``) or —
       the idle-stream case, where the newest kept delta predates the
       tombstone forever because no new epochs arrive to fold it — when
       its ids are DISJOINT from the tombstone's (a micro-batch-sized
       semi-join probe; disjoint with the raw tombstoned set implies
       disjoint with any re-verified kill subset, so the check is
       conservative-exact). A tombstone whose RE-VERIFIED kill set is
       empty (all its ids are live again, e.g. the tombstone-first
       crash of :func:`enforce_retention_tombstoned`) is deleted
       immediately — safe because a later true retirement of those ids
       necessarily lands a fresh tombstone.

    Tombstone application re-verifies against the CURRENTLY-landed sink
    ids (``kill = tombstoned − live``) — read NARROW through the
    ``_ids`` sidecars (:func:`read_sink_ids`) where they exist, so the
    re-verify cost is flat in sink row width — and a retired id that
    re-landed keeps its new bucket rows while near-copies of it stay
    suppressed — pytest-pinned in ``tests/test_streaming.py``. Returns
    a stats dict (``folded``, ``nudged``, ``finalized``,
    ``tombstones_gcd``, ``pending_target``)."""
    import json
    import shutil

    from pyspark.sql import functions as F

    buckets_dir = os.path.join(sink_dir, "_buckets")
    stats = {
        "folded": 0, "nudged": 0, "finalized": False,
        "tombstones_gcd": 0, "pending_target": None,
    }
    if not os.path.isdir(buckets_dir):
        return stats
    meta_n = bucket_store_partitions(buckets_dir, bucket_partitions)
    target_n = read_bucket_maintenance(buckets_dir).get("target_partitions")
    if target_n is not None and int(target_n) == meta_n:
        os.remove(_maintenance_path(buckets_dir))  # already satisfied
        target_n = None
    out_n = int(target_n) if target_n is not None else meta_n
    stats["pending_target"] = target_n
    # sweep tombstone debris first: a crashed retire's _tomb_tmp_*, or a
    # half-deleted dir from a GC that crashed mid-rmtree (rmtree can
    # remove _SUCCESS first, leaving a dir _live_tombstones no longer
    # sees and nothing else would ever reclaim). AGE-GUARDED: retention
    # runs CONCURRENTLY with the stream, so a non-committed dir younger
    # than the guard may be a retire mid-write — only dirs untouched for
    # an hour (far past any retire's write time, and retires are unique-
    # named so a live one never shares a crashed one's path) are debris.
    troot = _tombstones_dir(buckets_dir)
    if os.path.isdir(troot):
        import glob as _glob
        import time as _time

        live_t = set(_live_tombstones(buckets_dir))
        cutoff = _time.time() - _TOMB_DEBRIS_AGE_S
        for d in _glob.glob(os.path.join(troot, "*")):
            if (
                os.path.isdir(d)
                and d not in live_t
                and os.path.getmtime(d) < cutoff
            ):
                shutil.rmtree(d, ignore_errors=True)
    tombs = _live_tombstones(buckets_dir)

    dirs = _committed_batch_dirs(buckets_dir)
    keep = set(dirs[len(dirs) - keep_batches :]) if dirs else set()
    flat_tail = [d for d in dirs if not _is_compacted_run(d)]
    tomb_names = {os.path.basename(t) for t in tombs}
    stale = [
        d
        for d in dirs
        if d not in keep
        and (
            _dir_nparts(d, meta_n) != out_n
            or (
                tomb_names
                and _is_compacted_run(d)
                and not tomb_names <= _read_applied_sidecar(d)
            )
        )
    ]
    will_fold = len(flat_tail) > compact_every
    if not (will_fold or stale or tombs or target_n is not None):
        return stats  # steady state: two globs and an existence check

    # the maintenance transform, shared by every fold this call performs
    kill = None
    if tombs and (will_fold or stale):
        tombstoned = (
            spark.read.parquet(*tombs).select(id_col).distinct()
        )
        if _sink_has_batches(sink_dir):
            # application-time re-verify: an id that RE-LANDED after its
            # retirement is live again — its bucket rows must survive.
            # The live side reads NARROW (_ids sidecars where present),
            # so this stays flat as the sink's row width grows.
            tombstoned = tombstoned.join(
                read_sink_ids(spark, sink_dir, [id_col]), id_col, "left_anti"
            )
        kill = tombstoned.persist()
        if kill.limit(1).count() == 0:
            # every tombstoned id is live again (tombstone-first crash):
            # each tombstone is a permanent no-op — GC now (a later true
            # retirement lands a fresh tombstone via retire_tombstone)
            kill.unpersist()
            kill = None
            for t in tombs:
                shutil.rmtree(t)
                stats["tombstones_gcd"] += 1
            tombs, tomb_names = [], set()
            stale = [
                d for d in stale if _dir_nparts(d, meta_n) != out_n
            ]
    # re-mod whenever ANY dir's N differs from out_n — not only while a
    # migration is pending: a migration CANCELLED mid-way (re-requesting
    # the pinned N deletes the request) leaves target-keyed dirs behind,
    # and folding those without the re-mod would emit rows keyed at the
    # old target under no sidecar, silently mis-pruned forever after
    remod = target_n is not None or any(
        _dir_nparts(d, meta_n) != out_n for d in dirs
    )
    transform = None
    if kill is not None or remod:
        def transform(df, _kill=kill):
            out = df
            if _kill is not None:
                out = out.join(_kill, id_col, "left_anti")
            if remod:
                out = out.drop("__bpart").withColumn(
                    "__bpart",
                    F.pmod(F.col("__bucket"), F.lit(out_n)).cast("int"),
                )
            return out

    maint = dict(
        transform=transform,
        applied_tombstones=sorted(tomb_names) or None,
        nparts_out=out_n if remod else None,
    )
    try:
        if will_fold:
            stats["folded"] = tiered_compact_sink(
                spark, buckets_dir, keep_batches=keep_batches,
                partition_by=["__bpart"], fanout=fanout, **maint,
            )
        # bounded nudges per call: re-fold the cheapest stale dirs the
        # geometric pass didn't touch (stale flat deltas all at once —
        # they are micro-batch-sized — else the NEWEST stale runs),
        # up to max_nudges_per_call run rewrites
        for _ in range(max(1, max_nudges_per_call)):
            dirs = _committed_batch_dirs(buckets_dir)
            keep = set(dirs[len(dirs) - keep_batches :]) if dirs else set()
            stale = [
                d
                for d in dirs
                if d not in keep
                and (
                    _dir_nparts(d, meta_n) != out_n
                    or (
                        tomb_names
                        and _is_compacted_run(d)
                        and not tomb_names <= _read_applied_sidecar(d)
                    )
                )
            ]
            if not stale:
                break
            stale_flat = [d for d in stale if not _is_compacted_run(d)]
            fold_set = stale_flat or [stale[-1]]
            stats["nudged"] += _fold_dirs(
                spark, buckets_dir, fold_set,
                partition_by=["__bpart"], **maint,
            )
    finally:
        if kill is not None:
            kill.unpersist()

    # finalize a completed migration: every committed dir at target N
    if target_n is not None:
        dirs = _committed_batch_dirs(buckets_dir)
        if dirs and all(_dir_nparts(d, meta_n) == out_n for d in dirs):
            tmp = os.path.join(buckets_dir, "_meta.json.tmp")
            with open(tmp, "w") as fh:
                json.dump({"num_partitions": out_n}, fh)
            os.replace(tmp, os.path.join(buckets_dir, "_meta.json"))
            os.remove(_maintenance_path(buckets_dir))
            stats["finalized"] = True

    # tombstone GC: drained when every run lists it applied and no
    # remaining flat delta can hold its rows (debris sweep happened up
    # top). A flat delta is clear when its epoch postdates the tombstone
    # — or, the IDLE-STREAM escape, when its ids are disjoint from the
    # tombstone's: the newest kept delta always predates a retention
    # tombstone (created_after is the max epoch at creation), so on a
    # stream that then goes quiet the structural test alone would hold
    # the tombstone (and its per-call re-reads here) forever. The probe
    # joins a micro-batch-sized delta id column against the tombstone's
    # parquet — and disjointness with the RAW tombstoned set implies
    # disjointness with any re-verified kill subset, so GC'ing on it
    # never drops a tombstone that still had rows to kill.
    if tombs:
        dirs = _committed_batch_dirs(buckets_dir)
        for t in _live_tombstones(buckets_dir):
            meta_p = os.path.join(t, "_tomb_meta.json")
            with open(meta_p) as fh:
                created_after = int(json.load(fh)["created_after_epoch"])
            name = os.path.basename(t)
            compacted_ok = all(
                name in _read_applied_sidecar(d)
                for d in dirs
                if _is_compacted_run(d)
            )
            if not compacted_ok:
                continue
            blockers = [
                d
                for d in dirs
                if not _is_compacted_run(d)
                and int(d.rsplit("=", 1)[1]) <= created_after
            ]
            drained = not blockers
            if blockers:
                probe = (
                    spark.read.parquet(*blockers)
                    .select(id_col)
                    .join(
                        spark.read.parquet(t).select(id_col),
                        id_col,
                        "left_semi",
                    )
                )
                drained = probe.isEmpty()
            if drained:
                shutil.rmtree(t)
                stats["tombstones_gcd"] += 1
    return stats


def rebucket_bucket_store(
    spark: SparkSession,
    buckets_dir: str,
    new_partitions: int,
    *,
    keep_batches: int = 1,
    keep_ids: DataFrame | None = None,
    id_col: str | None = None,
) -> int:
    """Crash-safe partition-count migration for a near-dedup bucket store.

    ``keep_ids`` (with ``id_col``) additionally FILTERS the rewrite to
    rows whose id appears in the given DataFrame — the mechanism behind
    :func:`prune_bucket_store` (dropping bucket rows whose documents
    were retired by :func:`enforce_retention`). When set, the recovery
    early-return below is skipped: a same-N call with a filter is a
    rewrite, not a no-op.

    ``__bpart = pmod(bucket, N)`` is pinned at store creation
    (:func:`bucket_store_partitions`) because every epoch must hash with
    the SAME N or pruning silently misses candidates. But the pruned
    regime requires N ≫ bands × batch_rows (SCALING.md): a deployment
    that guessed N=64 saturates — every batch touches all 64 partitions
    and the per-batch scan goes linear in history — with no escape,
    since raising N used to mean rebuilding the store from the sink.
    This op re-mods the WHOLE store (compacted runs and flat tail alike,
    including the newest replay-guard epoch — a tail delta whose stored
    ``__bpart`` kept the old N would silently escape every pruned read)
    to ``new_partitions`` and atomically updates ``_meta.json``.

    Consistency protocol — the data columns and the meta N must never be
    readable in a mixed state, so the rewrite happens in a SHADOW store
    and publishes by directory swap:

    1. heal any pending compaction fold, then rewrite every committed
       epoch into ``<store>__rebucket_tmp``: all dirs but the newest
       ``keep_batches`` fold into one ``__bpart``-partitioned run (new
       N, merged ``_folded_epochs`` ranges); the kept newest epochs are
       rewritten as flat single-file deltas UNDER THEIR OWN ids, so a
       checkpoint-driven replay of an uncommitted epoch still skips;
       ``_meta.json`` carries the new N; a ``_REBUCKET_COMMITTED``
       marker lands last;
    2. swap: ``store → store__rebucket_old``, ``tmp → store``, delete
       old.

    Crash anywhere before the marker: tmp is garbage, the live store is
    untouched — re-run. Crash between the two renames: the store path is
    briefly absent, and the next call finishes the swap from the marker
    (a concurrently RESTARTED stream that raced the gap instead rebuilds
    the store from landed sink signatures via ``_heal_bucket_store`` —
    correct, just unpruned until re-run). Run this as a maintenance op
    with the stream STOPPED, like a manual major compaction on any LSM
    store. Round 9: a RUNNING stream migrates without this window via
    :func:`request_rebucket_online` — the geometric merges rewrite one
    run at a time at the target N and :func:`maintain_bucket_store`
    finalizes; this offline one-shot remains for stopped stores and as
    the recovery-of-last-resort. Returns the number of committed epoch
    dirs rewritten."""
    import json
    import shutil

    from pyspark.sql import functions as F

    if new_partitions < 1:
        raise ValueError(f"new_partitions must be >= 1, got {new_partitions}")
    if keep_batches < 1:
        raise ValueError("keep_batches must be >= 1 (idempotent-replay guard)")
    if (keep_ids is None) != (id_col is None):
        raise ValueError("keep_ids and id_col must be passed together")
    root = buckets_dir.rstrip(os.sep)
    tmp = root + "__rebucket_tmp"
    old = root + "__rebucket_old"
    marker = os.path.join(tmp, "_REBUCKET_COMMITTED")

    if not os.path.isdir(buckets_dir):
        if os.path.exists(marker):
            # crashed between the two swap renames: finish publishing the
            # PREVIOUS rebucket first. Its target N may differ from this
            # call's — returning here would silently skip the requested
            # migration — so fall through to the normal path unless the
            # recovered store already carries the requested N.
            os.rename(tmp, buckets_dir)
            os.remove(os.path.join(buckets_dir, "_REBUCKET_COMMITTED"))
            shutil.rmtree(old, ignore_errors=True)
            with open(os.path.join(buckets_dir, "_meta.json")) as fh:
                if keep_ids is None and int(
                    json.load(fh)["num_partitions"]
                ) == int(new_partitions):
                    return len(_committed_batch_dirs(buckets_dir))
        elif os.path.isdir(old):
            # swap started but tmp was never committed — roll back
            os.rename(old, buckets_dir)
        else:
            raise FileNotFoundError(f"no bucket store at {buckets_dir}")
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    # a crash between the final rename and the marker removal leaves the
    # (Spark-invisible) marker inside the live store — clear it
    stale = os.path.join(buckets_dir, "_REBUCKET_COMMITTED")
    if os.path.exists(stale):
        os.remove(stale)
    _recover_pending_fold(buckets_dir)

    dirs = _committed_batch_dirs(buckets_dir)
    if not dirs:
        raise FileNotFoundError(f"no committed _batch=* epochs under {buckets_dir}")
    kept = dirs[len(dirs) - keep_batches :]
    to_fold = [d for d in dirs if d not in kept]

    def _rekeyed(df: DataFrame) -> DataFrame:
        if keep_ids is not None:
            df = df.join(
                keep_ids.select(id_col).distinct(), id_col, "left_semi"
            )
        return df.drop("__bpart").withColumn(
            "__bpart",
            F.pmod(F.col("__bucket"), F.lit(new_partitions)).cast("int"),
        )

    os.makedirs(tmp)
    if to_fold:
        import glob as _glob

        run_id = min(int(d.rsplit("=", 1)[1]) for d in to_fold)
        run_dir = os.path.join(tmp, f"_batch={run_id}")
        df = _rekeyed(_read_epoch_dirs(spark, buckets_dir, to_fold))
        df.repartition(F.col("__bpart")).write.partitionBy("__bpart").mode(
            "overwrite"
        ).parquet(run_dir)
        if not _glob.glob(os.path.join(run_dir, "__bpart=*")):
            # a keep_ids filter can empty the run, and an EMPTY
            # partitionBy write leaves a dir with no parquet footers —
            # unreadable by every consumer. Rewrite it as a zero-row
            # FLAT file (a single-partition write always emits one file
            # with the schema footer); the epoch-coverage sidecar below
            # still records what it absorbed so heal never re-backfills
            shutil.rmtree(run_dir)
            df.coalesce(1).write.mode("overwrite").parquet(run_dir)
        covered: list[list[int]] = []
        for d in to_fold:
            eid = int(d.rsplit("=", 1)[1])
            covered.append([eid, eid])
            covered.extend(_read_folded_sidecar(d))
        with open(os.path.join(run_dir, "_folded_epochs.json"), "w") as fh:
            json.dump({"ranges": _merge_ranges(covered)}, fh)
    for d in kept:
        import glob as _glob

        eid = int(d.rsplit("=", 1)[1])
        out = os.path.join(tmp, f"_batch={eid}")
        kept_df = _rekeyed(_read_epoch_dirs(spark, buckets_dir, [d]))
        if _split_bucket_dirs([d])[0]:
            # a kept epoch that was PARTITIONED (a compacted run landed
            # newest, or a ladder pre-land) keeps its layout — the flat
            # single-file rewrite below is sized for micro-batch deltas
            # and would funnel a run-sized epoch through one task and
            # strip its directory-level pruning
            kept_df.repartition(F.col("__bpart")).write.partitionBy(
                "__bpart"
            ).mode("overwrite").parquet(out)
            if not _glob.glob(os.path.join(out, "__bpart=*")):
                shutil.rmtree(out)  # emptied by keep_ids: flat fallback
                kept_df.coalesce(1).write.mode("overwrite").parquet(out)
        else:
            (
                kept_df.repartition(1)
                .sortWithinPartitions("__bpart")
                .write.mode("overwrite")
                .parquet(out)
            )
        side = _read_folded_sidecar(d)
        if side:
            with open(os.path.join(out, "_folded_epochs.json"), "w") as fh:
                json.dump({"ranges": _merge_ranges(side)}, fh)
    with open(os.path.join(tmp, "_meta.json"), "w") as fh:
        json.dump({"num_partitions": int(new_partitions)}, fh)
    # carry UNAPPLIED retirement tombstones into the shadow store (part
    # of the staged build — crash-safe): applying them here raw would be
    # wrong without sink access (a re-landed id must keep its rows; only
    # maintain_bucket_store's application-time re-verify knows), and
    # dropping them would leave dead width with no record. A pending
    # _maintenance.json is intentionally NOT carried: this offline
    # rewrite supersedes any online migration request.
    if os.path.isdir(_tombstones_dir(buckets_dir)):
        shutil.copytree(
            _tombstones_dir(buckets_dir), _tombstones_dir(tmp)
        )
    open(marker, "a").close()
    os.rename(buckets_dir, old)
    os.rename(tmp, buckets_dir)
    os.remove(os.path.join(buckets_dir, "_REBUCKET_COMMITTED"))
    shutil.rmtree(old, ignore_errors=True)
    return len(dirs)


def prune_bucket_store(
    spark: SparkSession,
    sink_dir: str,
    *,
    id_col: str,
    keep_batches: int = 1,
) -> int:
    """Maintenance: drop bucket-store rows whose documents no longer
    exist in the sink — the retention interplay of the near-dedup lane.

    :func:`enforce_retention` deletes whole sink epochs (the reference's
    topic-retention semantics, ``README.md:102``), and from that moment
    a retired document correctly stops suppressing near-duplicates (its
    text is gone, so candidate pairs naming it die in the verify join —
    forgetting is the semantics retention asks for). But its ``(id,
    bucket)`` pairs linger in ``_buckets`` forever: dead scan width on
    every batch plus candidate pairs that can never verify. This op
    semi-joins the whole store against the CURRENTLY-landed ids and
    rewrites it through the same shadow-store/marker/swap protocol as
    :func:`rebucket_bucket_store` (same N, same crash-safety envelope;
    run with the stream stopped). Returns the number of committed epoch
    dirs rewritten.

    Round 9: a RUNNING stream prunes without any stop via
    :func:`enforce_retention_tombstoned`, which lands the retired ids as
    tombstones that the stream's own geometric merges drain
    incrementally (:func:`maintain_bucket_store`) — use that for the
    reference's hourly-retention cadence (``README.md:102``); this
    offline one-shot remains for stopped stores, where one O(store)
    rewrite beats O(#runs) incremental folds."""
    buckets_dir = os.path.join(sink_dir, "_buckets")
    meta = os.path.join(buckets_dir, "_meta.json")
    if not os.path.exists(meta):
        raise FileNotFoundError(f"no bucket store meta at {meta}")
    import json

    with open(meta) as fh:
        n = int(json.load(fh)["num_partitions"])
    landed = read_sink(spark, sink_dir).select(id_col)
    return rebucket_bucket_store(
        spark, buckets_dir, n,
        keep_batches=keep_batches, keep_ids=landed, id_col=id_col,
    )


def _summary_insert(
    stream_df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    subdir: str,
    build: Callable[[DataFrame], DataFrame],
    transform: Callable[[DataFrame], DataFrame] | None,
    trigger_once: bool,
) -> StreamingQuery:
    """The summary lanes' one body: each micro-batch (after ``transform``)
    lands twice, both idempotently under the same epoch id — its rows
    under ``<sink>/_batch=N`` and ``build(batch)``, the batch's bounded
    summary DELTA, under ``<sink>/<subdir>/_batch=N``. A crashed epoch
    re-runs and each half that already committed is skipped, so replay
    never double-counts; readers merge the committed deltas on read.
    The batch is persisted once for its two writes."""
    write_rows = idempotent_batch_writer(sink_dir)
    write_delta = idempotent_batch_writer(os.path.join(sink_dir, subdir))

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if transform is not None:
            batch_df = transform(batch_df)
        batch_df = batch_df.persist()
        try:
            write_rows(batch_df, epoch_id)
            write_delta(build(batch_df), epoch_id)
        finally:
            batch_df.unpersist()

    return _start_stream(stream_df, process, checkpoint_dir, trigger_once)


def sketch_insert(
    stream_df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    term_col: str,
    depth: int = 4,
    width: int = 2048,
    weight_col: str | None = None,
    group_cols: list[str] | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    trigger_once: bool = False,
) -> StreamingQuery:
    """Continuous insert that also maintains a count-min sketch of a term
    column over everything ever landed — the streaming face of
    ``operators/sketches.py`` (corpus-vocabulary monitoring beside the
    reference's forever-running INSERT-SELECT, ``README.md:435``).
    ``group_cols`` (round 12) keeps one sketch per group — per-source
    vocabulary monitoring online, delta rows keyed
    ``(*group_cols, d, bucket)`` and additive exactly as before.

    Each micro-batch lands twice, both idempotently (skip-if-committed,
    keyed by the same epoch id): the rows under ``<sink>/_batch=N`` and
    the batch's ``depth×width``-bounded sketch DELTA under
    ``<sink>/_sketch/_batch=N``. Deltas instead of read-modify-write on
    one sketch file is what makes replay safe: a crashed epoch re-runs
    and each half that already committed is skipped, so no token is ever
    double-counted. The live sketch is :func:`read_corpus_sketch` —
    merge-on-read (one bounded groupBy-sum); because count-min cells are
    additive, delta dirs may be folded by the generic
    :func:`compact_sink` on the ``_sketch`` dir at any time without
    changing any estimate.
    """
    from confluent_kafka_vector_search_prompt_inference_spark.operators.sketches import countmin_build

    return _summary_insert(
        stream_df, sink_dir, checkpoint_dir, "_sketch",
        lambda b: countmin_build(
            b, term_col, depth=depth, width=width,
            weight_col=weight_col, group_cols=group_cols,
        ),
        transform, trigger_once,
    )


def read_corpus_sketch(
    spark: SparkSession, sink_dir: str, *, group_cols: list[str] | None = None
) -> DataFrame:
    """The current count-min sketch of a :func:`sketch_insert` sink:
    merge-on-read over the committed deltas (``(d, bucket, cnt)``,
    additive cells; ``(*group_cols, d, bucket, cnt)`` for a grouped
    sink — pass the same ``group_cols``). Feed it straight to
    ``operators.sketches.countmin_lookup``."""
    from pyspark.sql import functions as F

    deltas = read_sink(spark, os.path.join(sink_dir, "_sketch"))
    g = list(group_cols or [])
    return deltas.groupBy(*g, "d", "bucket").agg(F.sum("cnt").alias("cnt"))


def mg_insert(
    stream_df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    item_col: str,
    k: int = 64,
    group_cols: list[str] | None = None,
    max_groups_per_partition: int | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    trigger_once: bool = False,
) -> StreamingQuery:
    """Continuous insert that also maintains a Misra-Gries heavy-hitters
    sketch of an item column over everything ever landed — the
    undercount dual of :func:`sketch_insert`'s count-min (count-min
    answers "at most how often"; MG answers "at least how often", with
    every item above its tracked bound guaranteed present —
    ``operators/sketches.mg_sketch``).

    Same two idempotent epoch-keyed writes: rows under ``_batch=N``, the
    batch's raw MG sketch DELTA (≤ partitions×k counter rows + meta)
    under ``<sink>/_mg/_batch=N``. Raw-sketch UNION is the
    mergeable-summaries merge, so the live view is
    :func:`read_corpus_mg` (one :func:`~confluent_kafka_vector_search_prompt_inference_spark.operators.sketches.mg_summary`
    over all deltas), replay double-counts nothing (the epoch contract),
    and delta dirs may be folded at any time by
    ``compact_sink(fold_transform=lambda d: mg_compact(d, k=k))`` —
    summary-of-compact ≡ summary-of-raw by the merge law, pytest-pinned,
    with the fold's own subtraction folded into the tracked bound.

    ``group_cols`` (round 11) maintains an INDEPENDENT MG per group —
    the per-domain monitoring form (every delta, fold, and read reduces
    per group; pass the same ``group_cols`` to :func:`read_corpus_mg`
    and to a fold's ``mg_compact``). ``max_groups_per_partition``
    (round 12) threads the high-cardinality escape hatch through to the
    per-batch build — see :func:`~confluent_kafka_vector_search_prompt_inference_spark.operators.sketches.mg_sketch`:
    overflow groups spill exact batch-preaggregated rows into the delta
    instead of holding per-group dict state, so a group-column
    cardinality spike can grow a DELTA but never the executor's Python
    state."""
    from confluent_kafka_vector_search_prompt_inference_spark.operators.sketches import mg_sketch

    return _summary_insert(
        stream_df, sink_dir, checkpoint_dir, "_mg",
        lambda b: mg_sketch(
            b, item_col, k=k, group_cols=group_cols,
            max_groups_per_partition=max_groups_per_partition,
        ).coalesce(1),
        transform, trigger_once,
    )


def read_corpus_mg(
    spark: SparkSession,
    sink_dir: str,
    *,
    k: int = 64,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """The current heavy-hitters table of a :func:`mg_insert` sink:
    ``(item, est, bound, n)`` — per group when ``group_cols`` matches
    the writer's — via one merge-on-read reduction over the committed
    (possibly folded) deltas."""
    from confluent_kafka_vector_search_prompt_inference_spark.operators.sketches import mg_summary

    return mg_summary(
        read_sink(spark, os.path.join(sink_dir, "_mg")),
        k=k,
        group_cols=group_cols,
    )


def bloom_insert(
    stream_df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    key_col: str,
    m_bits: int = 1 << 20,
    k: int = 4,
    set_cols: list[str] | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    trigger_once: bool = False,
) -> StreamingQuery:
    """Continuous insert that also maintains a bloom filter of a key
    column over everything ever landed — the membership sibling of
    :func:`sketch_insert` (count-min answers "how often"; this answers
    "seen at all?", the cross-day gate that lets yesterday's seen-URL
    bitmap shrink today's exact anti-join to the bloom-positive sliver,
    ``operators/membership.py``).

    Same two idempotent epoch-keyed writes: rows under ``_batch=N``,
    the batch's ≤ ``m_bits/32``-row bloom DELTA under
    ``<sink>/_bloom/_batch=N``. The live filter is
    :func:`read_corpus_bloom` — merge-on-read (one bounded
    ``groupBy(word).bit_or``). Bloom OR is associative, commutative,
    and IDEMPOTENT, so this sketch is even more forgiving than the
    additive count-min: a hypothetically double-landed delta would not
    change a single bit (the epoch protocol still prevents it — the
    ROWS are not idempotent). Delta dirs may be folded by the generic
    :func:`compact_sink` on the ``_bloom`` dir at any time: the merge
    is a pure function of the unioned delta rows, which folding
    preserves. No false negatives ever, by construction, across any
    number of epochs, folds, and replays.

    ``set_cols`` (round 12) maintains one INDEPENDENT bloom per group —
    per-source seen-key bitmaps online, the membership sibling of
    ``kmv_insert(set_cols=)``: every delta, fold, and read reduces per
    ``(set_cols…, word)``; pass the same ``set_cols`` to
    :func:`read_corpus_bloom` and to grouped
    ``operators.membership.bloom_contains``."""
    from confluent_kafka_vector_search_prompt_inference_spark.operators.membership import bloom_build

    return _summary_insert(
        stream_df, sink_dir, checkpoint_dir, "_bloom",
        lambda b: bloom_build(b, key_col, m_bits=m_bits, k=k, set_cols=set_cols),
        transform, trigger_once,
    )


def read_corpus_bloom(
    spark: SparkSession,
    sink_dir: str,
    *,
    set_cols: list[str] | None = None,
) -> DataFrame:
    """The current bloom filter of a :func:`bloom_insert` sink:
    merge-on-read over the committed deltas (``(word, bits)``, OR'd —
    per ``(set_cols…, word)`` for a grouped build). Feed it straight to
    ``operators.membership.bloom_contains`` with the build's
    ``(m_bits, k)`` (and ``set_cols``)."""
    from pyspark.sql import functions as F

    sc = list(set_cols or [])
    deltas = read_sink(spark, os.path.join(sink_dir, "_bloom"))
    return deltas.groupBy(*sc, "word").agg(F.bit_or("bits").alias("bits"))


def kmv_insert(
    stream_df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    key_col: str,
    k: int = 256,
    set_cols: list[str] | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    trigger_once: bool = False,
) -> StreamingQuery:
    """Continuous insert that also maintains a KMV distinct sketch of a
    key column over everything ever landed — "how many DISTINCT keys
    has this stream carried", answerable day-over-day WITH SET ALGEBRA
    (yesterday's sketch ∩ today's = returning keys; ∪ = lifetime
    distinct) from k-row sketches (``operators/membership.py``).

    Same two idempotent epoch-keyed writes as the sketch/quantile
    lanes: rows under ``_batch=N``, the batch's ≤ k-row KMV delta under
    ``<sink>/_kmv/_batch=N``. The live sketch is
    :func:`read_corpus_kmv` — merge-on-read (union → dedup-by-hash →
    bottom-k re-cap). The merge is DOUBLY replay-safe: the epoch
    protocol skips committed halves, and even a hypothetically
    re-landed delta's rows are value-identical, so the hash dedup
    collapses them (distinct-count semantics cannot double-count a
    key). bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ bottom-k(B)), so
    delta dirs fold under the generic :func:`compact_sink` without
    changing any estimate."""
    from confluent_kafka_vector_search_prompt_inference_spark.operators.membership import kmv_sketch

    return _summary_insert(
        stream_df, sink_dir, checkpoint_dir, "_kmv",
        lambda b: kmv_sketch(b, key_col, k=k, set_cols=set_cols),
        transform, trigger_once,
    )


def read_corpus_kmv(
    spark: SparkSession,
    sink_dir: str,
    *,
    k: int = 256,
    set_cols: list[str] | None = None,
) -> DataFrame:
    """The current KMV sketch of a :func:`kmv_insert` sink: union of
    the committed per-epoch deltas, deduped by hash, re-capped at
    bottom-k. Feed it straight to ``operators.membership.kmv_distinct``
    / ``kmv_overlap`` / ``kmv_overlap_matrix``. ``k`` and ``set_cols``
    must match the build's (a smaller read-side k is a valid coarser
    sketch; a larger one cannot be reconstructed from capped deltas)."""
    from confluent_kafka_vector_search_prompt_inference_spark.operators.membership import kmv_merge

    deltas = read_sink(spark, os.path.join(sink_dir, "_kmv"))
    return kmv_merge(deltas, k=k, set_cols=set_cols)


def quantile_insert(
    stream_df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    value_col: str,
    key_col: str,
    m: int = 1024,
    group_cols: list[str] | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    trigger_once: bool = False,
    method: str = "bottom_m",
) -> StreamingQuery:
    """Continuous insert that also maintains a bottom-m quantile sketch of
    a value column over everything ever landed — the distribution-summary
    sibling of :func:`sketch_insert` (count-min counts WHAT is frequent;
    this answers WHERE the p50/p99 of a metric sits, the threshold-
    selection question every quality gate asks of a growing corpus).

    Same two idempotent epoch-keyed writes: rows under ``_batch=N``, the
    batch's m-bounded sketch delta under ``<sink>/_qsketch/_batch=N``.
    The live sketch is :func:`read_corpus_quantile_sketch` — merge-on-
    read (union → dedup → bottom-m re-cap: deterministic, so a replayed
    epoch's identical delta rows collapse and no observation ever counts
    twice). Because bottom-m(A ∪ B) = bottom-m(bottom-m(A) ∪
    bottom-m(B)), delta dirs may be folded by the generic
    :func:`compact_sink` on the ``_qsketch`` dir at any time without
    changing any estimate — the read-side cap re-applies.

    ``method='kll'`` (round 9) maintains the DETERMINISTIC-error tier
    instead (``operators.sketches.kll_sketch_build``, ``m`` acting as
    its buffer ``k``): per-epoch KLL deltas land under
    ``<sink>/_kllsketch/_batch=N`` through the SAME epoch contract (an
    idempotently-skipped replay never re-lands a delta, so no
    observation ever counts twice — the KLL rows carry no dedup key, so
    idempotency must come from the epoch protocol, and does), and the
    live sketch is the merge of the committed deltas
    (:func:`read_corpus_quantile_sketch` with ``method='kll'``). The
    two tiers answer different questions: bottom-m is exactly-oracleable
    with probabilistic accuracy; KLL carries a hard tracked rank-error
    ceiling — "p99 with guarantees"."""
    from confluent_kafka_vector_search_prompt_inference_spark.operators.sketches import (
        kll_sketch_build,
        quantile_sketch_build,
    )

    if method not in ("bottom_m", "kll"):
        raise ValueError(f"method must be 'bottom_m' or 'kll', got {method!r}")
    if method == "kll":
        subdir = "_kllsketch"
        build = lambda b: kll_sketch_build(  # noqa: E731
            b, value_col, key_col, k=m, group_cols=group_cols
        )
    else:
        subdir = "_qsketch"
        build = lambda b: quantile_sketch_build(  # noqa: E731
            b, value_col, key_col, m=m, group_cols=group_cols
        )
    return _summary_insert(
        stream_df, sink_dir, checkpoint_dir, subdir, build, transform, trigger_once
    )


def read_corpus_quantile_sketch(
    spark: SparkSession,
    sink_dir: str,
    *,
    m: int = 1024,
    group_cols: list[str] | None = None,
    method: str = "bottom_m",
) -> DataFrame:
    """The current bottom-m quantile sketch of a :func:`quantile_insert`
    sink: union of the committed per-epoch deltas, deduped and re-capped.
    Feed it straight to ``operators.sketches.sample_quantiles``. ``m``
    and ``group_cols`` must match the build's (a smaller read-side m is
    a valid coarser sketch; a larger one cannot be reconstructed from
    capped deltas).

    ``method='kll'``: the merged deterministic-error sketch of a
    ``method='kll'`` sink (feed to ``operators.sketches.kll_quantiles``
    — the error-bound meta rows of the deltas add through the merge, so
    the guarantee survives merge-on-read). Either store's delta dirs may
    be folded by the generic :func:`compact_sink`/:func:`tiered_compact_
    sink` at any time: both merges are pure functions of the unioned
    delta ROWS, which folding preserves."""
    from confluent_kafka_vector_search_prompt_inference_spark.operators.sketches import (
        kll_sketch_merge,
        quantile_sketch_merge,
    )

    if method == "kll":
        deltas = read_sink(spark, os.path.join(sink_dir, "_kllsketch"))
        return kll_sketch_merge(deltas, k=m, group_cols=group_cols)
    deltas = read_sink(spark, os.path.join(sink_dir, "_qsketch"))
    return quantile_sketch_merge(deltas, m=m, group_cols=group_cols)


def ivf_insert(
    stream_df: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    *,
    vec_col: str = "vector",
    n_clusters: int = 16,
    seed: int = 42,
    trigger_once: bool = False,
) -> StreamingQuery:
    """Continuously-inserted, always-indexed vector corpus — the
    reference's core operating mode (its collection is INSERT-SELECTed
    forever while the external index auto-updates, ``README.md:370-382``)
    as a streaming IVF sink.

    First committed micro-batch trains the centroids (hash-sampled
    k-means, same recipe as ``build_ivf_index``) and freezes them; every
    batch (including the first) is assigned to its nearest centroid and
    lands under ``<index>/corpus/_batch=<epoch>/ivf_cluster=<id>/`` —
    the epoch level gives the idempotent replay contract (a committed
    epoch is skipped whole), the cluster level keeps partition pruning:
    a probe reads only the probed cluster directories OF EACH batch.
    ``load_ivf_index`` reads this layout transparently, so search code,
    deletes (tombstones), and recall characteristics are identical to a
    batch-built index; like ``ivf_append``, centroids are frozen, so
    rebuild when drift degrades recall."""
    import numpy as np

    from confluent_kafka_vector_search_prompt_inference_spark.operators.ivf import (
        _nearest_clusters_udf,
        build_ivf_index,
        save_ivf_index,
    )

    corpus_dir = os.path.join(index_path, "corpus")

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        target = os.path.join(corpus_dir, f"_batch={epoch_id}")
        if os.path.exists(os.path.join(target, "_SUCCESS")):
            return  # replay of a committed epoch
        spark = batch_df.sparkSession
        cent_path = os.path.join(index_path, "centroids")
        first = not os.path.exists(cent_path)
        if first:
            # training samples the batch and the write reads it again:
            # cache it for the epoch, so an upstream embedding UDF runs
            # (and bills) once per row and a nondeterministic embedder's
            # centroids are trained on the vectors that are stored
            batch_df.persist()
        try:
            if first:
                # train + persist centroids (and reuse the assignment
                # build_ivf_index already computed)
                assigned, centroids = build_ivf_index(
                    batch_df, vec_col, n_clusters=n_clusters, seed=seed
                )
                # save_ivf_index would also write the corpus in the flat
                # layout; here only the centroid table is wanted
                import pandas as pd

                cent_pdf = pd.DataFrame(
                    {
                        "cluster_id": [int(i) for i in range(len(centroids))],
                        "centroid": [[float(x) for x in c] for c in centroids],
                    }
                )
                spark.createDataFrame(
                    cent_pdf, schema="cluster_id int, centroid array<double>"
                ).coalesce(1).write.mode("overwrite").parquet(cent_path)
            else:
                rows = (
                    spark.read.parquet(cent_path).orderBy("cluster_id").collect()
                )
                centroids = np.asarray(
                    [np.asarray(r.centroid, dtype=np.float64) for r in rows]
                )
                assign = _nearest_clusters_udf(centroids, n_probe=1)
                assigned = batch_df.withColumn(
                    "ivf_cluster", F.element_at(assign(F.col(vec_col)), 1)
                )
            assigned.write.partitionBy("ivf_cluster").mode("overwrite").parquet(target)
        finally:
            if first:
                batch_df.unpersist()

    return _start_stream(stream_df, process, checkpoint_dir, trigger_once)


def agg_insert(
    stream_df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    group_cols: list[str],
    agg_exprs: dict[str, str],
    trigger_once: bool = False,
) -> StreamingQuery:
    """Continuously-maintained aggregate (materialized-view maintenance,
    the Timescale-continuous-aggregate / Flink-materialized-view shape —
    generalizes ``sketch_insert``, whose count-min cells are one instance
    of mergeable partials): each micro-batch lands its PARTIAL aggregate
    under the idempotent ``_batch=<epoch>`` contract, and readers fold
    partials with :func:`read_agg`.

    ``agg_exprs`` maps output column → merge function name, restricted to
    decomposable aggregates (``sum``, ``count``, ``min``, ``max``) whose
    merge is the function itself (count partials merge by SUM). The
    caller expresses the batch-level aggregate; e.g.::

        agg_insert(stream, sink, ckpt,
                   group_cols=["event_type"],
                   agg_exprs={"n": "count", "total": "sum(value)"})

    Replay safety is the epoch contract (a committed partial is skipped
    whole); state per batch is one row per touched group — at 100 TB the
    sink holds per-epoch group partials, folded on read or compacted by
    ``compact_sink`` + re-fold (cells are additive, same argument as the
    sketch deltas). For bit-exact float sums across refolds, aggregate
    integer units (cents/nanos — the repo-wide exactness convention);
    a DOUBLE sum's partial-merge order is batch-layout-dependent.

    The sink records its ``group_cols``, merge plan and batch-level
    ``agg_exprs`` (``count`` and ``sum(col)`` both merge by ``sum``, so
    only the specs tell them apart). Once a partial has committed, a
    start asking for another plan raises ``ValueError`` before the
    stream starts; until then each start re-records its own plan, so a
    start that failed (say, on a non-decomposable spec, which fails
    inside the first batch) can be retried with a corrected one. A plan
    recorded without specs is checked on its group and merge columns."""
    import json

    from pyspark.sql import functions as F

    write_batch = idempotent_batch_writer(sink_dir)

    def _agg_col(spec: str, out: str):
        if spec == "count":
            return F.count("*").alias(out)
        fn, _, arg = spec.partition("(")
        arg = arg.rstrip(")")
        col = F.col(arg)
        if fn == "sum":
            return F.sum(col).alias(out)
        if fn == "min":
            return F.min(col).alias(out)
        if fn == "max":
            return F.max(col).alias(out)
        raise ValueError(
            f"agg_insert supports count/sum/min/max (decomposable with "
            f"self-merge), got {spec!r}"
        )

    merge_plan = {
        out: ("sum" if spec == "count" or spec.startswith("sum") else spec.split("(")[0])
        for out, spec in agg_exprs.items()
    }

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        partial = batch_df.groupBy(*group_cols).agg(
            *[_agg_col(spec, out) for out, spec in agg_exprs.items()]
        )
        write_batch(partial, epoch_id)

    # the merge plan read_agg folds by, on disk whole before the first
    # partial can commit (tmp + rename: a crash mid-write leaves no plan,
    # never a torn one). A sink with committed partials keeps the plan
    # they were built with: folding them by another one reads back wrong
    # values. A plan no partial was built with is simply replaced
    plan = {
        "group_cols": list(group_cols), "merge": merge_plan, "specs": dict(agg_exprs)
    }
    plan_p = os.path.join(sink_dir, "_merge_plan.json")
    recorded = None
    if _committed_batch_dirs(sink_dir) and os.path.exists(plan_p):
        with open(plan_p) as fh:
            recorded = json.load(fh)
    if recorded is None:
        os.makedirs(sink_dir, exist_ok=True)
        with open(plan_p + ".tmp", "w") as fh:
            json.dump(plan, fh)
        os.replace(plan_p + ".tmp", plan_p)
    elif {k: plan.get(k) for k in recorded} != recorded:
        raise ValueError(
            f"agg_insert: sink {sink_dir} holds partials of merge plan "
            f"{recorded}, but this start asks for {plan}; use a new sink"
        )
    return _start_stream(stream_df, process, checkpoint_dir, trigger_once)


def read_agg(spark: SparkSession, sink_dir: str) -> DataFrame:
    """The current aggregate of an :func:`agg_insert` sink: fold the
    per-epoch partials with each column's merge function (count→sum,
    sum→sum, min→min, max→max, per the sidecar merge plan)."""
    import json

    from pyspark.sql import functions as F

    with open(os.path.join(sink_dir, "_merge_plan.json")) as fh:
        plan = json.load(fh)
    partials = read_sink(spark, sink_dir)
    merged = partials.groupBy(*plan["group_cols"]).agg(
        *[
            getattr(F, fn)(out).alias(out)
            for out, fn in plan["merge"].items()
        ]
    )
    return merged


def read_sink_increment(
    spark: SparkSession, sink_dir: str, state_path: str
) -> tuple[DataFrame | None, "Callable[[], None]"]:
    """Incremental consumption of an idempotent sink — the chained-ETL
    reader: returns (rows of every committed ``_batch=`` epoch NOT yet
    acknowledged, commit callback). Call the callback only after the
    downstream write has itself committed; the high-watermark then
    advances atomically (write-tmp + rename), so a crash between read
    and commit re-delivers the same epochs — at-least-once delivery
    that becomes exactly-once when the downstream is itself an
    idempotent epoch-keyed sink (the engine's standard sink contract).
    Returns (None, no-op) when nothing new is committed.
    """
    import glob
    import json

    done = -1
    if os.path.exists(state_path):
        with open(state_path) as fh:
            done = json.load(fh)["max_epoch"]
    committed = sorted(
        int(os.path.basename(os.path.dirname(p)).split("=", 1)[1])
        for p in glob.glob(os.path.join(sink_dir, "_batch=*", "_SUCCESS"))
    )
    new = [e for e in committed if e > done]
    if not new:
        return None, lambda: None
    df = (
        spark.read.option("basePath", sink_dir)
        .option("mergeSchema", "true")
        .parquet(*[os.path.join(sink_dir, f"_batch={e}") for e in new])
        .drop("_batch")
    )
    hi = max(new)

    def commit() -> None:
        tmp = state_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"max_epoch": hi}, fh)
        os.replace(tmp, state_path)

    return df, commit


def sink_profile_by_epoch(
    spark: SparkSession, sink_dir: str, columns: list[str] | None = None
) -> DataFrame:
    """Per-epoch data-quality profile of an idempotent sink: for each
    committed ``_batch`` and each (selected) column — row count, null
    count, approx distinct — the trend table a drift monitor alerts on
    (a feed that suddenly ships 90% nulls shows up as one bad epoch row,
    not a corpus-wide mystery). Committed epochs only — a half-written
    epoch would otherwise surface as exactly the phantom bad-epoch row
    this monitor exists to catch. One aggregation keyed by the epoch
    partition column; approx_count_distinct keeps the state sketch-sized
    at any scale."""
    from pyspark.sql import functions as F

    dirs = _committed_batch_dirs(sink_dir)
    if not dirs:
        raise FileNotFoundError(f"no committed _batch=* epochs under {sink_dir}")
    df = (
        spark.read.option("basePath", sink_dir)
        .option("mergeSchema", "true")
        .parquet(*dirs)
    )
    cols = columns or [c for c in df.columns if c != "_batch"]
    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        aggs.append(F.approx_count_distinct(c).alias(f"{c}__ndv"))
    return df.groupBy(F.col("_batch").alias("epoch")).agg(*aggs)


def positional_index_insert(
    stream_df: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger_once: bool = False,
) -> StreamingQuery:
    """Continuously-maintained positional inverted index — the phrase/NEAR
    leg of the always-indexed lifecycle (vector leg: :func:`ivf_insert`;
    keyword-stats leg: ``RagPipeline.keyword_index``). Each micro-batch
    tokenizes ONCE and lands its ``(doc_id, term, pos)`` postings in an
    idempotent ``_batch=<epoch>`` sink; positions are absolute per
    document, so — like :func:`~confluent_kafka_vector_search_prompt_inference_spark.operators.bm25.positional_append`
    — committed epochs can never go stale and replay is a whole-epoch
    no-op. Query via :func:`phrase_search_streamed` /
    :func:`proximity_search_streamed`."""
    from confluent_kafka_vector_search_prompt_inference_spark.operators.bm25 import positional_postings

    return continuous_insert(
        stream_df,
        index_dir,
        checkpoint_dir,
        transform=lambda b: positional_postings(b, id_col, text_col),
        trigger_once=trigger_once,
    )


def phrase_search_streamed(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    *,
    query_id: str = "query_id",
    query_text: str = "query_text",
    k: int = 10,
) -> DataFrame:
    """Exact-phrase search over a streamed positional index (committed
    epochs only; same output contract as ``phrase_search``)."""
    from confluent_kafka_vector_search_prompt_inference_spark.operators.bm25 import _phrase_from_positions

    pos = read_sink(spark, index_dir)
    return _phrase_from_positions(pos, queries, query_id, query_text, k)


def proximity_search_streamed(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    *,
    query_id: str = "query_id",
    term1: str = "term1",
    term2: str = "term2",
    k: int = 10,
    max_span: int | None = None,
) -> DataFrame:
    """NEAR search over a streamed positional index."""
    from confluent_kafka_vector_search_prompt_inference_spark.operators.bm25 import _proximity_from_positions

    pos = read_sink(spark, index_dir)
    return _proximity_from_positions(pos, queries, query_id, term1, term2, k, max_span)
