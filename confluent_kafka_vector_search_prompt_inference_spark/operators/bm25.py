"""BM25 keyword retrieval and hybrid (keyword + vector) rank fusion.

Not present in the reference — its only retrieval is the vector search
lateral join (``README.md:405-407``); this module supplies the keyword leg
a production RAG / training-data pipeline pairs with it (SURVEY.md §2.11
"similarity search"), plus reciprocal-rank fusion to combine both legs.

Spark-first design, sized for a 100 TB corpus:

- The inverted index (postings) is built with two shuffles, both with
  map-side partial aggregation: ``groupBy(doc, term)`` for term
  frequencies and ``groupBy(term)`` for document frequencies. Document
  length rides along in the first projection so no extra join is needed.
- Corpus statistics (N, avgdl) are a 1-row aggregate, broadcast via a
  literal-free cross join; the per-term document frequencies are
  vocabulary-sized and broadcast too. Nothing per-document ever sits on
  the driver.
- Query terms are tiny and broadcast; scoring is one broadcast hash join
  term-for-term against the postings, then a keyed sum with partial
  aggregation and a per-query top-k window — the same shape as the
  shuffle top-k vector strategy, so it scales with the postings, not
  with |queries| × |corpus|.
- Per-(doc, term) BM25 impacts are rounded into integer nano-units
  (``round(score * 1e9) → BIGINT``) before summing: BIGINT addition is
  associative, so partial aggregation across any partitioning — or any
  engine — reproduces the exact same totals and therefore the exact same
  ranking. The float recipe would tie-break differently at 1000
  executors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from confluent_kafka_vector_search_prompt_inference_spark.functions.text import word_tokens
from confluent_kafka_vector_search_prompt_inference_spark.persist import track

#: Standard Robertson/Sparck-Jones defaults.
DEFAULT_K1 = 1.2
DEFAULT_B = 0.75

#: Impact scores are fixed-point nano-units so sums are exact BIGINTs.
_SCALE = 1e9


def bm25_postings(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Inverted-index postings: ``(doc_id, term, tf, dl)``.

    Term frequencies are counted IN-ROW with higher-order functions before
    the explode: each document emits one row per *distinct* term (already
    carrying its tf), not one per token — for natural text that's ~4×
    fewer rows into the explode and the (doc, term) shuffle, and the
    aggregation below it disappears entirely. The O(|distinct| × |tokens|)
    in-row count is whole-stage-codegen'd array arithmetic, far cheaper
    than shuffling the difference. Tokens are materialized in a staged
    projection so Catalyst evaluates the tokenizer once per document (it
    does not CSE the split across expressions).
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), word_tokens(text_col).alias("toks")
    )
    pairs = toks.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("dl"),
        F.explode(
            F.transform(
                F.array_distinct("toks"),
                lambda t: F.struct(
                    t.alias("term"),
                    F.size(F.filter("toks", lambda x: x == t)).cast("bigint").alias("tf"),
                ),
            )
        ).alias("p"),
    )
    return pairs.select("doc_id", F.col("p.term").alias("term"), F.col("p.tf").alias("tf"), "dl")


def bm25_doc_stats(docs: DataFrame, text_col: str) -> DataFrame:
    """Corpus statistics ``(n, avgdl)`` in one no-explode pass over the
    documents. Used also where the postings are persisted: deriving the
    stats from the cached postings saved this second tokenize but gave no
    measurable gain on ``bm25_keyword_topk`` or ``hybrid_rrf_topk``."""
    lens = docs.select(F.size(word_tokens(text_col)).cast("bigint").alias("dl"))
    return lens.agg(
        F.count("*").alias("n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )


def bm25_impacts(
    postings: DataFrame,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    doc_stats: DataFrame | None = None,
) -> DataFrame:
    """Per-(doc, term) BM25 impact in exact nano-units: ``(doc_id, term,
    impact_n)``.

    idf uses the BM25+ smoothing ``ln(1 + (N - df + 0.5)/(df + 0.5))`` —
    always positive, so rare terms can't flip sign. The arithmetic is
    written in one fixed shape (integer differences first, a single
    division chain) so any engine evaluating the same shape reproduces
    the double bit-for-bit before the fixed-point round.
    """
    dfreq = postings.groupBy("term").agg(F.count("*").alias("df"))
    stats = doc_stats
    if stats is None:
        stats = postings.groupBy("doc_id").agg(F.first("dl").alias("dl")).agg(
            F.count("*").alias("n"),
            (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        )
    idf = F.log(
        F.lit(1.0)
        + ((F.col("n") - F.col("df")).cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tf_term = F.col("tf").cast("double") * F.lit(k1 + 1.0)
    norm = F.col("tf").cast("double") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl")
    )
    return (
        postings.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            F.round(idf * tf_term / norm * F.lit(_SCALE)).cast("bigint").alias("impact_n"),
        )
    )


def bm25_search(
    docs: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id: str = "query_id",
    query_text: str = "query_text",
    k: int = 10,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    persist_postings: bool = True,
) -> DataFrame:
    """Top-k BM25 keyword search: ``(query_id, doc_id, score, rank)``.

    Each distinct query term contributes once (standard bag-of-terms
    form). Ranking happens on the exact BIGINT nano-unit totals — ties
    broken by ascending doc id — so results are identical at any
    parallelism; ``score`` is the total scaled back to a double.

    The postings feed two plan branches (document frequencies and
    scoring); without persistence Catalyst would re-tokenize and
    re-shuffle the whole corpus once per branch, so they are persisted
    MEMORY_AND_DISK by default — the spill tier keeps this viable when
    the index outgrows executor memory.
    """
    postings = bm25_postings(docs, id_col, text_col)
    if persist_postings:
        postings = track(postings, StorageLevel.MEMORY_AND_DISK)
    stats = bm25_doc_stats(docs, text_col)
    impacts = bm25_impacts(postings, k1=k1, b=b, doc_stats=stats)
    qterms = queries.select(
        F.col(query_id).alias("query_id"),
        F.explode(F.array_distinct(word_tokens(query_text))).alias("term"),
    )
    scored = (
        impacts.join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("impact_n").alias("score_n"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_n").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            F.round(F.col("score_n").cast("double") / F.lit(_SCALE), 6).alias("score"),
            "rank",
        )
    )


def save_bm25_index(
    docs: DataFrame,
    table_name: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    n_buckets: int = 16,
) -> None:
    """Persist the BM25 index as a managed Parquet table bucketed by term
    (plus a 1-row ``<name>_stats`` side table with n/avgdl/k1/b).

    The reference's corpus is ALWAYS-indexed (MongoDB Atlas
    ``vector_index``, ``README.md:370-382``); this is the keyword-leg
    analog of that index lifecycle (IVF/PQ have the vector-leg versions).
    Build cost — tokenize + the (doc, term) shuffle — is paid ONCE at
    write; every query batch afterwards skips it entirely. Bucketing by
    term gives query-time **bucket pruning**: a search touching t terms
    reads only the buckets those terms hash into, not the whole postings
    table (at 100 TB the postings are corpus-sized; the pruned scan is
    vocabulary-selective)."""
    from confluent_kafka_vector_search_prompt_inference_spark.sources.bucketed import write_bucketed

    postings = bm25_postings(docs, id_col, text_col)
    stats = bm25_doc_stats(docs, text_col)
    impacts = bm25_impacts(postings, k1=k1, b=b, doc_stats=stats)
    write_bucketed(impacts, table_name, ["term"], n_buckets=n_buckets)
    (
        stats.withColumn("k1", F.lit(k1))
        .withColumn("b", F.lit(b))
        .write.mode("overwrite")
        .format("parquet")
        .saveAsTable(f"{table_name}_stats")
    )


def load_bm25_index(spark, table_name: str) -> tuple[DataFrame, DataFrame]:
    """(impacts, stats) for a saved index."""
    return spark.table(table_name), spark.table(f"{table_name}_stats")


def bm25_search_indexed(
    spark,
    table_name: str,
    queries: DataFrame,
    *,
    query_id: str = "query_id",
    query_text: str = "query_text",
    k: int = 10,
    max_inlined_terms: int = 10_000,
) -> DataFrame:
    """Top-k BM25 search against a :func:`save_bm25_index` table —
    identical output contract (and exact totals, hence identical ranking)
    to :func:`bm25_search`, with zero index-build work at query time.

    Query batches are small by contract (the RAG micro-batch shape), so
    the distinct term set is collected and pushed as an ``IN`` filter on
    the bucketed term column — that literal is what buys bucket/file
    pruning at the scan. The collection is capped at
    ``max_inlined_terms`` (driver-memory and plan-size guard, this
    function sits on the streaming hot path via RagPipeline): an
    over-cap batch degrades gracefully to a broadcast semi join on the
    distinct-term DataFrame — same rows, full postings scan instead of a
    pruned one, and no driver blow-up."""
    impacts = spark.table(table_name)
    qterms = queries.select(
        F.col(query_id).alias("query_id"),
        F.explode(F.array_distinct(word_tokens(query_text))).alias("term"),
    )
    distinct_terms = qterms.select("term").distinct()
    # take(cap+1): if it comes back over the cap we do NOT have the full
    # term set — fall back to the join; at/under the cap the set is
    # complete and safe to inline.
    head = distinct_terms.take(max_inlined_terms + 1)
    if len(head) <= max_inlined_terms:
        pruned = impacts.filter(F.col("term").isin([r["term"] for r in head]))
    else:
        pruned = impacts.join(F.broadcast(distinct_terms), "term", "left_semi")
    scored = (
        pruned.join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("impact_n").alias("score_n"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_n").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            F.round(F.col("score_n").cast("double") / F.lit(_SCALE), 6).alias("score"),
            "rank",
        )
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    *,
    on: tuple[str, str] = ("query_id", "doc_id"),
    rank_col: str = "rank",
    k: int = 10,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of two per-query rankings.

    ``score = Σ 1/(rrf_k + rank)`` over the lists that retrieved the
    pair; a full outer join keeps candidates found by only one leg
    (their missing reciprocal contributes 0). The join keys are
    (query, doc) — both inputs are already top-k'd per query, so the
    join is small regardless of corpus size. Output ranks break ties on
    ascending doc id; absent ranks surface as 0 (never NULL) so
    downstream schemas stay integral.
    """
    qcol, dcol = on
    a = ranked_a.select(
        F.col(qcol).alias("query_id"),
        F.col(dcol).alias("doc_id"),
        F.col(rank_col).alias("rank_a"),
    )
    b = ranked_b.select(
        F.col(qcol).alias("query_id"),
        F.col(dcol).alias("doc_id"),
        F.col(rank_col).alias("rank_b"),
    )
    fused = a.join(b, ["query_id", "doc_id"], "full_outer")
    contrib_a = F.coalesce(
        F.lit(1.0) / (F.lit(rrf_k) + F.col("rank_a")), F.lit(0.0)
    )
    contrib_b = F.coalesce(
        F.lit(1.0) / (F.lit(rrf_k) + F.col("rank_b")), F.lit(0.0)
    )
    rrf = F.round(contrib_a + contrib_b, 6)
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rrf_score", rrf)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            "rrf_score",
            "rank",
            F.coalesce("rank_a", F.lit(0)).cast("int").alias("rank_keyword"),
            F.coalesce("rank_b", F.lit(0)).cast("int").alias("rank_vector"),
        )
    )


# ---------------------------------------------------------------------------
# Raw-postings index: the APPENDABLE variant. The impact-baked index above
# is fastest to query but freezes (N, avgdl, df) into every stored number —
# an append would silently mis-score the whole corpus. Storing raw
# (doc_id, term, tf, dl) postings instead moves the idf/length arithmetic
# to query time, where it touches only the PRUNED rows (the query's terms),
# making appends exact: new docs just add postings + one stats delta row,
# and every later query scores the union corpus with the true global
# statistics. The classic Lucene split (segments hold raw postings; scoring
# statistics resolve at search time), re-expressed relationally.
# ---------------------------------------------------------------------------

def save_bm25_raw_index(
    docs: DataFrame,
    table_name: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    n_buckets: int = 16,
) -> None:
    """Persist an appendable BM25 index: term-bucketed raw postings
    (``<name>``: doc_id, term, tf, dl) + per-batch corpus-stats deltas
    (``<name>_stats``: n, sum_dl, k1, b). Bucketing by term gives the
    same query-time bucket pruning as the impact-baked index."""
    from confluent_kafka_vector_search_prompt_inference_spark.sources.bucketed import write_bucketed

    postings = bm25_postings(docs, id_col, text_col)
    write_bucketed(postings, table_name, ["term"], n_buckets=n_buckets)
    (
        docs.select(F.size(word_tokens(text_col)).cast("bigint").alias("dl"))
        .agg(F.count("*").alias("n"), F.sum("dl").alias("sum_dl"))
        .withColumn("k1", F.lit(k1))
        .withColumn("b", F.lit(b))
        .write.mode("overwrite")
        .format("parquet")
        .saveAsTable(f"{table_name}_stats")
    )


def bm25_raw_append(
    new_docs: DataFrame,
    table_name: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Append documents to a raw index EXACTLY: postings for the new docs
    land in the bucketed table (bucket layout preserved by insertInto),
    plus one stats-delta row. Every subsequent search scores the union
    corpus with the true global (N, avgdl, df) — no staleness, unlike
    any impact-baked design. Caller contract: ids must be new (re-adding
    an id double-counts it; delete first)."""
    spark = new_docs.sparkSession
    postings = bm25_postings(new_docs, id_col, text_col)
    postings.select("doc_id", "term", "tf", "dl").write.insertInto(table_name)
    k1b = spark.table(f"{table_name}_stats").select("k1", "b").first()
    (
        new_docs.select(F.size(word_tokens(text_col)).cast("bigint").alias("dl"))
        .agg(F.count("*").alias("n"), F.sum("dl").alias("sum_dl"))
        .withColumn("k1", F.lit(float(k1b.k1)))
        .withColumn("b", F.lit(float(k1b.b)))
        .write.mode("append")
        .format("parquet")
        .saveAsTable(f"{table_name}_stats")
    )


def bm25_search_raw(
    spark,
    table_name: str,
    queries: DataFrame,
    *,
    query_id: str = "query_id",
    query_text: str = "query_text",
    k: int = 10,
    max_inlined_terms: int = 10_000,
) -> DataFrame:
    """Top-k search over a raw index — output-identical to
    :func:`bm25_search` on the same (possibly appended-to) corpus.

    The pruned postings (only the query's terms survive the bucket-pruned
    scan) carry everything needed: df per term is an exact COUNT over the
    pruned rows (pruning keeps every posting of a kept term), and (N,
    avgdl) fold from the stats deltas — a metadata-sized aggregate. The
    impact expression is the same shape as :func:`bm25_impacts`, so the
    doubles (and the nano-unit rounding) reproduce bit-for-bit."""
    postings = spark.table(table_name)
    st = (
        spark.table(f"{table_name}_stats")
        .agg(
            F.sum("n").alias("n"),
            (F.sum("sum_dl").cast("double") / F.sum("n")).alias("avgdl"),
            F.first("k1").alias("k1"),
            F.first("b").alias("b"),
        )
        .first()
    )
    n_total, avgdl, k1, b = int(st.n), float(st.avgdl), float(st.k1), float(st.b)
    qterms = queries.select(
        F.col(query_id).alias("query_id"),
        F.explode(F.array_distinct(word_tokens(query_text))).alias("term"),
    )
    distinct_terms = qterms.select("term").distinct()
    head = distinct_terms.take(max_inlined_terms + 1)
    if len(head) <= max_inlined_terms:
        pruned = postings.filter(F.col("term").isin([r["term"] for r in head]))
    else:
        pruned = postings.join(F.broadcast(distinct_terms), "term", "left_semi")
    dfreq = pruned.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + ((F.lit(n_total) - F.col("df")).cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tf_term = F.col("tf").cast("double") * F.lit(k1 + 1.0)
    norm = F.col("tf").cast("double") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / F.lit(avgdl)
    )
    impacts = pruned.join(F.broadcast(dfreq), "term").select(
        "doc_id",
        "term",
        F.round(idf * tf_term / norm * F.lit(_SCALE)).cast("bigint").alias("impact_n"),
    )
    scored = (
        impacts.join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("impact_n").alias("score_n"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_n").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            F.round(F.col("score_n").cast("double") / F.lit(_SCALE), 6).alias("score"),
            "rank",
        )
    )


def conjunctive_search(
    docs: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id: str = "query_id",
    query_text: str = "query_text",
    k: int = 10,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    persist_postings: bool = True,
) -> DataFrame:
    """AND-semantics keyword search: only documents containing EVERY
    distinct query term are candidates, ranked by their BM25 score —
    ``(query_id, doc_id, score, rank)``.

    Disjunctive BM25 (``bm25_search``) floods candidates through any
    single matching term; conjunctive search is the precision mode every
    search engine pairs with it (intersection of postings lists). The
    Spark shape adds ONE aggregate column to the disjunctive plan: the
    per-(query, doc) term-hit count, filtered against the query's
    distinct-term count before ranking. Because postings hold one row per
    distinct (doc, term), ``COUNT(*)`` IS the distinct-hit count — no
    countDistinct shuffle. Selectivity note for 100 TB: the candidate set
    after the HAVING filter is the rarest term's postings list at most,
    so conjunctive queries get CHEAPER as they grow longer — the opposite
    of the disjunctive flood.
    """
    postings = bm25_postings(docs, id_col, text_col)
    if persist_postings:
        postings = track(postings, StorageLevel.MEMORY_AND_DISK)
    stats = bm25_doc_stats(docs, text_col)
    impacts = bm25_impacts(postings, k1=k1, b=b, doc_stats=stats)
    qt = queries.select(
        F.col(query_id).alias("query_id"),
        F.explode(F.array_distinct(word_tokens(query_text))).alias("term"),
    )
    qn = queries.select(
        F.col(query_id).alias("query_id"),
        F.size(F.array_distinct(word_tokens(query_text))).cast("bigint").alias("__n_terms"),
    )
    scored = (
        impacts.join(F.broadcast(qt), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("impact_n").alias("score_n"), F.count("*").alias("__n_hit"))
        .join(F.broadcast(qn), "query_id")
        .filter(F.col("__n_hit") == F.col("__n_terms"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_n").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            F.round(F.col("score_n").cast("double") / F.lit(_SCALE), 6).alias("score"),
            "rank",
        )
    )


def positional_postings(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Positional inverted index: ``(doc_id, term, pos)`` with 0-based
    token positions — the index phrase and proximity queries need."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), word_tokens(text_col).alias("toks")
    )
    return toks.select(
        "doc_id", F.posexplode("toks").alias("pos", "term")
    ).select("doc_id", "term", F.col("pos").cast("bigint").alias("pos"))


def phrase_search(
    docs: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id: str = "query_id",
    query_text: str = "query_text",
    k: int = 10,
) -> DataFrame:
    """Exact-phrase search over a positional index: documents containing
    the query's token sequence CONSECUTIVELY, ranked by occurrence count
    — ``(query_id, doc_id, n_matches, rank)``.

    The classic anchor trick makes this pure dataflow: a posting
    ``(doc, term, pos)`` matching phrase offset ``off`` votes for anchor
    ``pos − off``; an anchor collecting votes from ALL ``len(phrase)``
    distinct offsets is a complete consecutive match starting there.
    One broadcast join (phrase terms are tiny) + one count-distinct per
    (query, doc, anchor) + one count per (query, doc) — postings for
    non-phrase terms never enter the join, and nothing shuffles except
    (ids, anchor) tuples. Repeated terms in the phrase are handled by
    counting distinct offsets, not distinct terms.
    """
    pos = positional_postings(docs, id_col, text_col)
    return _phrase_from_positions(pos, queries, query_id, query_text, k)


def _phrase_from_positions(
    pos: DataFrame, queries: DataFrame, query_id: str, query_text: str, k: int
) -> DataFrame:
    """Anchor-trick phrase matching over a ``(doc_id, term, pos)`` table
    (live or persisted — see :func:`phrase_search_indexed`)."""
    q = queries.select(
        F.col(query_id).alias("query_id"), word_tokens(query_text).alias("__ph")
    )
    qtok = q.select(
        "query_id", F.posexplode("__ph").alias("off", "term")
    ).select("query_id", "term", F.col("off").cast("bigint").alias("off"))
    qlen = q.select("query_id", F.size("__ph").cast("bigint").alias("__plen"))
    anchored = (
        pos.join(F.broadcast(qtok), "term")
        .select(
            "query_id", "doc_id", (F.col("pos") - F.col("off")).alias("anchor"), "off"
        )
        .filter(F.col("anchor") >= 0)
    )
    complete = (
        anchored.groupBy("query_id", "doc_id", "anchor")
        .agg(F.countDistinct("off").alias("__hits"))
        .join(F.broadcast(qlen), "query_id")
        .filter(F.col("__hits") == F.col("__plen"))
    )
    matches = complete.groupBy("query_id", "doc_id").agg(
        F.count("*").alias("n_matches")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_matches").desc(), F.col("doc_id").asc()
    )
    return (
        matches.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "n_matches", "rank")
    )


#: TF-IDF weights quantize at 1e5 so BIGINT sums of weight PRODUCTS
#: (numerator) and SQUARES (norms) stay far from overflow: w ≈ tf·idf ≤
#: ~50 → wn ≤ 5e6, wn² ≤ 2.5e13, and thousand-term sums sit ~1e17 <
#: 2^63. The quantization defines the scoring function (both engines
#: compute identical integers), not a lossy approximation of it.
_TFIDF_SCALE = 1e5


def tfidf_cosine_search(
    docs: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id: str = "query_id",
    query_text: str = "query_text",
    k: int = 10,
    persist_postings: bool = True,
) -> DataFrame:
    """Top-k TF-IDF cosine retrieval: ``(query_id, doc_id, score, rank)``.

    The third keyword scoring function next to raw-TF and BM25: weight
    ``w(d,t) = tf · ln(N/df)``, score = cosine between the sparse weight
    vectors. Every sum is a BIGINT total of quantized units — the
    numerator sums quantized-weight products over shared terms, each norm
    sums quantized-weight squares — so partial aggregation at any
    parallelism (or any engine) reproduces identical totals; the final
    ``num / (√qn · √dn)`` is one deterministic double expression.
    Sparse-dot shape: only shared-term postings enter the broadcast join,
    doc norms are one groupBy over the postings, and nothing per-document
    reaches the driver.
    """
    postings = bm25_postings(docs, id_col, text_col)
    if persist_postings:
        postings = track(postings, StorageLevel.MEMORY_AND_DISK)
    n_docs = docs.select(F.countDistinct(id_col).alias("n"))
    dfreq = postings.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    weights = (
        postings.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf").cast("double")
                * F.log(F.col("n").cast("double") / F.col("df").cast("double"))
                * F.lit(_TFIDF_SCALE)
            ).cast("bigint").alias("wn"),
        )
    )
    dnorm = weights.groupBy("doc_id").agg(
        F.sum(F.col("wn") * F.col("wn")).alias("dn2")
    )

    # Query-side weights reuse the CORPUS idf (the standard IR setup).
    qtf = (
        queries.select(
            F.col(query_id).alias("query_id"),
            F.explode(word_tokens(query_text)).alias("term"),
        )
        .groupBy("query_id", "term")
        .agg(F.count("*").alias("qtf"))
    )
    qw = (
        qtf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "query_id",
            "term",
            F.round(
                F.col("qtf").cast("double")
                * F.log(F.col("n").cast("double") / F.col("df").cast("double"))
                * F.lit(_TFIDF_SCALE)
            ).cast("bigint").alias("qwn"),
        )
    )
    qnorm = qw.groupBy("query_id").agg(F.sum(F.col("qwn") * F.col("qwn")).alias("qn2"))

    num = (
        weights.join(F.broadcast(qw), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("wn") * F.col("qwn")).alias("num_n"))
    )
    scored = (
        num.join(F.broadcast(qnorm), "query_id")
        .join(dnorm, "doc_id")
        .filter((F.col("qn2") > 0) & (F.col("dn2") > 0))
        .select(
            "query_id",
            "doc_id",
            (
                F.col("num_n").cast("double")
                / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("dn2").cast("double")))
            ).alias("__cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("__cos").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", F.round("__cos", 6).alias("score"), "rank")
    )


def bm25_prf_search(
    docs: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id: str = "query_id",
    query_text: str = "query_text",
    k: int = 10,
    fb_docs: int = 5,
    fb_terms: int = 3,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
) -> DataFrame:
    """Pseudo-relevance-feedback BM25 (the RM3-style two-pass loop):
    retrieve top-``fb_docs`` per query, mine the ``fb_terms`` strongest
    expansion terms from them, re-retrieve with the expanded term set —
    ``(query_id, doc_id, score, rank)``.

    Expansion term strength = the SUM of a term's integer BM25 impacts
    across the feedback docs (already idf-weighted, so stopwords
    self-suppress), ties on ascending term text; original query terms are
    excluded. Every stage ranks on exact BIGINT totals, so the full
    two-pass loop is deterministic at any parallelism and reproducible in
    SQL.

    Scale shape: ONE postings/impacts build feeds both passes (persisted
    MEMORY_AND_DISK); the feedback set is k-bounded (queries × fb_docs
    rows, broadcast); expansion mining joins impacts against that tiny
    set; pass 2 is the standard broadcast-terms scoring join with
    |q_terms| + fb_terms terms per query.
    """
    postings = track(
        bm25_postings(docs, id_col, text_col), StorageLevel.MEMORY_AND_DISK
    )
    impacts = track(
        bm25_impacts(
            postings, k1=k1, b=b,
            doc_stats=bm25_doc_stats(docs, text_col),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    qterms = queries.select(
        F.col(query_id).alias("query_id"),
        F.explode(F.array_distinct(word_tokens(query_text))).alias("term"),
    )

    def _rank_topk(scored: DataFrame, kk: int) -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(
            F.col("score_n").desc(), F.col("doc_id").asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= kk)
        )

    pass1 = _rank_topk(
        impacts.join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("impact_n").alias("score_n")),
        fb_docs,
    ).select("query_id", "doc_id")

    exp_w = Window.partitionBy("query_id").orderBy(
        F.col("fb_n").desc(), F.col("term").asc()
    )
    expansion = (
        impacts.join(F.broadcast(pass1), "doc_id")
        .groupBy("query_id", "term")
        .agg(F.sum("impact_n").alias("fb_n"))
        .join(qterms, ["query_id", "term"], "left_anti")
        .withColumn("__r", F.row_number().over(exp_w))
        .filter(F.col("__r") <= fb_terms)
        .select("query_id", "term")
    )
    q2 = qterms.unionByName(expansion)
    final = _rank_topk(
        impacts.join(F.broadcast(q2), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("impact_n").alias("score_n")),
        k,
    )
    return final.select(
        "query_id",
        "doc_id",
        F.round(F.col("score_n").cast("double") / F.lit(_SCALE), 6).alias("score"),
        "rank",
    )


def proximity_search(
    docs: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id: str = "query_id",
    term1: str = "term1",
    term2: str = "term2",
    k: int = 10,
    max_span: int | None = None,
) -> DataFrame:
    """NEAR-operator search over the positional index: documents
    containing BOTH query terms, ranked by the minimum token distance
    between any occurrence pair — ``(query_id, doc_id, min_span, rank)``
    (span ties → ascending doc id; ``max_span`` optionally filters).

    The span join touches only the two query terms' postings (broadcast
    term list → postings hash join), so candidate pairs per document are
    tf(t1)·tf(t2) — bounded by in-document term frequency, never by
    corpus size; the per-(query, doc) MIN aggregate is partial map-side.
    Degenerate same-term queries are excluded (a term is trivially
    NEAR itself).
    """
    pos = positional_postings(docs, id_col, text_col)
    return _proximity_from_positions(pos, queries, query_id, term1, term2, k, max_span)


def _proximity_from_positions(
    pos: DataFrame,
    queries: DataFrame,
    query_id: str,
    term1: str,
    term2: str,
    k: int,
    max_span: int | None,
) -> DataFrame:
    q = queries.filter(F.col(term1) != F.col(term2))
    p1 = pos.join(
        F.broadcast(q.select(F.col(query_id).alias("query_id"), F.col(term1).alias("term"))),
        "term",
    ).select("query_id", "doc_id", F.col("pos").alias("__p1"))
    p2 = pos.join(
        F.broadcast(q.select(F.col(query_id).alias("query_id"), F.col(term2).alias("term"))),
        "term",
    ).select("query_id", "doc_id", F.col("pos").alias("__p2"))
    spans = (
        p1.join(p2, ["query_id", "doc_id"])
        .groupBy("query_id", "doc_id")
        .agg(F.min(F.abs(F.col("__p1") - F.col("__p2"))).alias("min_span"))
    )
    if max_span is not None:
        spans = spans.filter(F.col("min_span") <= max_span)
    w = Window.partitionBy("query_id").orderBy(
        F.col("min_span").asc(), F.col("doc_id").asc()
    )
    return (
        spans.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "min_span", "rank")
    )


def save_positional_index(
    docs: DataFrame,
    table_name: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 16,
) -> None:
    """Persist the positional inverted index as a term-bucketed table —
    the index-lifecycle step for phrase/proximity (same contract as
    :func:`save_bm25_raw_index` for BM25): tokenize once at write time,
    every later phrase/NEAR query scans only the buckets its terms hash
    into. Positions are absolute per document, so appends never go stale
    (positional matching has no corpus-global statistics at all)."""
    from confluent_kafka_vector_search_prompt_inference_spark.sources.bucketed import write_bucketed

    pos = positional_postings(docs, id_col, text_col)
    write_bucketed(pos, table_name, ["term"], n_buckets=n_buckets)


def positional_append(
    new_docs: DataFrame,
    table_name: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Append documents' positions to a saved positional index (bucket
    layout preserved by insertInto). Caller contract: ids must be new."""
    pos = positional_postings(new_docs, id_col, text_col)
    pos.select("doc_id", "term", "pos").write.insertInto(table_name)


def _pruned_positions(
    spark, table_name: str, term_df: DataFrame, max_inlined_terms: int
) -> DataFrame:
    """Bucket-pruned scan of a positional index: the query batch's
    distinct terms inline as an IN literal (bucket/file pruning at the
    scan) with the same over-cap broadcast-semi-join fallback as
    :func:`bm25_search_indexed`."""
    pos = spark.table(table_name)
    distinct_terms = term_df.select("term").distinct()
    head = distinct_terms.take(max_inlined_terms + 1)
    if len(head) <= max_inlined_terms:
        return pos.filter(F.col("term").isin([r["term"] for r in head]))
    return pos.join(F.broadcast(distinct_terms), "term", "left_semi")


def phrase_search_indexed(
    spark,
    table_name: str,
    queries: DataFrame,
    *,
    query_id: str = "query_id",
    query_text: str = "query_text",
    k: int = 10,
    max_inlined_terms: int = 10_000,
) -> DataFrame:
    """:func:`phrase_search` against a :func:`save_positional_index`
    table — identical output contract, zero tokenize/index work at query
    time, and the phrase's terms prune the bucketed scan."""
    qterms = queries.select(
        F.explode(F.array_distinct(word_tokens(query_text))).alias("term")
    )
    pos = _pruned_positions(spark, table_name, qterms, max_inlined_terms)
    return _phrase_from_positions(pos, queries, query_id, query_text, k)


def proximity_search_indexed(
    spark,
    table_name: str,
    queries: DataFrame,
    *,
    query_id: str = "query_id",
    term1: str = "term1",
    term2: str = "term2",
    k: int = 10,
    max_span: int | None = None,
    max_inlined_terms: int = 10_000,
) -> DataFrame:
    """:func:`proximity_search` against a saved positional index."""
    qterms = queries.select(F.col(term1).alias("term")).unionByName(
        queries.select(F.col(term2).alias("term"))
    )
    pos = _pruned_positions(spark, table_name, qterms, max_inlined_terms)
    return _proximity_from_positions(pos, queries, query_id, term1, term2, k, max_span)
