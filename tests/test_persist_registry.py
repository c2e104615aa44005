"""The operator-internal persists are releasable (round 13).

BM25 postings, the span family's tokenized/occurrence tables and the
repetition signals used to call ``.persist()`` raw and never unpersist —
a long session accumulated every query's intermediates in the block
manager. They now route through ``persist.track``; this test proves the
one release point drops every tracked frame back to StorageLevel.NONE.
"""

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from confluent_kafka_vector_search_prompt_inference_spark import persist as preg
from confluent_kafka_vector_search_prompt_inference_spark.operators.bm25 import bm25_search
from confluent_kafka_vector_search_prompt_inference_spark.operators.dedup import repeated_span_removal
from confluent_kafka_vector_search_prompt_inference_spark.operators.repetition import gopher_repetition_signals


def test_operator_persists_release(spark, docs):
    preg.release_tracked()  # earlier session-scoped tests may have tracked frames
    d = docs.select("doc_id", "text").limit(50)
    queries = d.limit(2).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    bm25_search(d, queries, k=3).collect()
    repeated_span_removal(d, "doc_id", "text", n=5, min_count=2).collect()
    gopher_repetition_signals(d, "doc_id", "text").collect()

    tracked = list(preg._TRACKED)
    # postings + span base/occ + repetition base, at least
    assert len(tracked) >= 4
    assert all(
        df.storageLevel.useMemory or df.storageLevel.useDisk for df in tracked
    )

    released = preg.release_tracked()
    assert released == len(tracked)
    none = StorageLevel(False, False, False, False, 1)
    assert all(df.storageLevel == none for df in tracked)
    assert not preg._TRACKED


def test_entry_release_covers_tracked(spark, docs, sf_smoke):
    import __spark_entry__ as entry

    preg.release_tracked()
    d = docs.select("doc_id", "text").limit(20)
    repeated_span_removal(d, "doc_id", "text", n=5, min_count=2).collect()
    assert len(preg._TRACKED) >= 2
    assert entry.release_persisted() >= 2
    assert not preg._TRACKED

    # the entry module's own persists share the registry: q15's totals
    # subtree is tracked, and release_persisted() drops it
    out = entry.q15_top_supplier(spark, sf_smoke)
    out.collect()
    assert len(preg._TRACKED) == 1
    totals = preg._TRACKED[0]
    assert totals.storageLevel.useMemory or totals.storageLevel.useDisk
    assert entry.release_persisted() == 1
    assert not preg._TRACKED
    assert totals.storageLevel == StorageLevel(False, False, False, False, 1)
