"""Shuffle-budget regression guard: every headline query has a recorded
maximum number of non-broadcast exchanges. A refactor that sneaks an extra
shuffle into a hot query fails here long before it shows up as a 100 TB
regression — the plan, not the timing, is the contract."""

import pytest

import __spark_entry__ as entry
from confluent_kafka_vector_search_prompt_inference_spark.plans import formatted_plan

# query → max allowed data (non-broadcast) exchanges in the plan tree.
# Budgets are the current plan's count — tightened deliberately, never
# loosened without a scaling argument in the commit.
BUDGETS = {
    "q1_pricing_summary": 1,
    "q6_forecast_revenue": 1,       # SinglePartition gather of partial-agg rows
    "filter_pushdown_project": 0,
    "broadcast_join_agg": 1,
    "q2_min_cost_supplier": 1,      # shared agg+window exchange
    "q20_dominant_suppliers": 2,    # shared part-key exchange + supplier distinct
    "events_hierarchical_rollup": 1,
    "events_sessionization": 1,
    "window_rank": 1,
    "sequence_packing": 1,
    "vec_topk_broadcast": 0,        # broadcast matmul — zero shuffles
    "scd2_point_in_time": 1,        # one user-key window shuffle
    "retrieval_recall_quantized": 1,  # both rank windows + final agg share one query-id exchange
    "bpe_merge_candidates": 2,      # word count + pair count (rank window is alphabet²-tiny)
    "events_window_distinct_users": 2,  # countDistinct two-phase expansion
    # NOTE on the three spread-repartition pipelines below: the counter
    # tallies Exchange lines in the PRINTED tree, and a persisted subtree
    # (the shared shingle table) prints its repartition once per consuming
    # branch while executing once — so the printed count overstates the
    # executed shuffles. Budgets record the printed count; the scaling
    # argument is that each repartition moves (id, text/shingles) exactly
    # once at execution time.
    "training_set_selection": 8,    # round 12: the shingle set computes
                                    # ONCE in a persisted (doc, gates, __sh)
                                    # projection whose spread repartition
                                    # prints per consuming branch (survivors
                                    # window, bench distinct, hit count) —
                                    # printed 8, executed: one repartition +
                                    # fingerprint window + bench distinct +
                                    # hit agg; the round-11 form printed 5
                                    # but SHINGLED THE CORPUS 3×
    "embedding_near_dups": 0,       # broadcast-matmul mapInPandas — zero shuffle
    "crawl_text_extraction": 1,     # pure Catalyst regexp projection; one
                                    # orderBy range exchange (presentation)
    "minhash_lsh_dups": 8,          # persisted-shingle repartition printed ×3
                                    # branches + band-bucket join + candidate
                                    # dedup + two verify-side joins
    "late_interaction_maxsim_topk": 7,  # spread repartition (printed per
                                    # branch) + vocab distinct + token-
                                    # vector UDF exchange + maxsim partial-
                                    # agg + doc sum + rank window; the
                                    # dense query-token×vocab block
                                    # broadcasts
    "benchmark_contamination": 6,   # persisted-shingle repartition printed ×3
                                    # branches + bench distinct + hit count
    "subsequence_similarity_search": 3,  # persisted-series exchange printed
                                    # ×2 branches + rank agg over the
                                    # 20-row TakeOrderedAndProject output;
                                    # no WindowExec, no corpus-sized
                                    # single-partition stage
    "vec_bq_topk": 2,               # Hamming-candidate rank window (ids +
                                    # integer distance only) + rescore rank;
                                    # packed query matrix broadcasts
    "vec_threshold_join": 0,        # scan → score → filter: no window, no
                                    # shuffle — broadcast queries only
    "countmin_term_freqs": 8,       # round 12: ONE persisted (term, count)
                                    # aggregation feeds the weighted sketch
                                    # build AND the top-20 — its spread
                                    # repartition + term agg print per
                                    # consuming branch (printed 8); executed:
                                    # repartition + term agg + vocab-sized
                                    # cell agg (the round-11 form printed 2
                                    # but ran the occurrence explode twice
                                    # and pushed depth× occurrence rows into
                                    # the cell aggregate)
    "domain_quota_cap": 2,          # two-phase salted top-N: (lang, salt)
                                    # window + lang window over ≤ n·salt rows
    "vec_quantized_rescore_topk": 2,  # coarse rank window carries ids+score
                                    # only (the r4 fix) + rescore rank
    # Fourth-wave additions. Printed counts again overstate execution for
    # persisted/checkpointed subtrees (postings / edge tables print once
    # per consuming branch, execute once).
    "part_triangle_counts": 6,      # round 12 TIGHTENED 13 → 6: the
                                    # per-corner count now explodes ONE
                                    # triangle enumeration (the union form
                                    # printed — and EXECUTED — the wedge +
                                    # closure joins once per corner);
                                    # executed: pair shuffle, degrees,
                                    # orientation joins, wedge join,
                                    # closure join, per-node agg
    "tfidf_cosine_topk": 32,        # persisted postings print ×(dnorm,
                                    # num, dfreq) branches; executed: tf
                                    # agg, df agg, norm aggs, num agg, rank
    "bm25_keyword_topk": 8,         # leaf (1) is the persisted postings'
                                    # InMemoryTableScan, so no "(1) Scan"
                                    # cut: each exchange counts in the tree
                                    # AND the node details — printed 8,
                                    # executed 4: df agg + 1-row stats
                                    # gather + (query, doc) score agg +
                                    # rank window
    "hybrid_rrf_topk": 16,          # printed ×2 as above; executed 8: the
                                    # bm25_keyword_topk four + vector rank
                                    # window + both sides of the full-outer
                                    # fusion join + final rank window
    "conjunctive_keyword_topk": 8,  # same postings plan as BM25 + one
                                    # n_hit broadcast join (no extra
                                    # exchange vs disjunctive)
    "phrase_search_topk": 4,        # positional explode + anchor agg +
                                    # match agg + rank window
    "bm25_prf_topk": 20,            # persisted impacts print ×(pass1,
                                    # expansion, pass2) branches; executed
                                    # once + three k-bounded rank windows
    "part_name_near_matches": 5,    # token df agg + key-rank window +
                                    # candidate join + distinct + verify
    # Fifth-wave additions (round 5): the newest heavies put under the
    # same printed-tree contract. Persisted subtrees again print once per
    # consuming branch while executing once.
    "part_pagerank": 62,            # 3 unrolled power iterations over a
                                    # persisted edge+degree table: each
                                    # iteration's contribution agg + rank
                                    # join prints per downstream branch;
                                    # executed shuffles are edge-keyed
                                    # (node, contribution) pairs only
                                    # (round 12: +4 printed — the degree
                                    # table is now persisted too, its agg
                                    # printing per consumer, while its
                                    # EXECUTION count dropped 5× to once)
    "customer_rfm_segments": 0,     # round 13 TIGHTENED 1 → 0: the three
                                    # per-metric cumsums folded into ONE
                                    # melted (metric, value) cumsum behind
                                    # a localCheckpoint; the final plan is
                                    # checkpoint-scan + 3 broadcast joins
    "customer_spend_gini": 1,       # post-cumsum global agg gather only
    "customer_spend_lorenz": 3,     # decile agg + 10-row window + sort
    "span_clean_packed_corpus": 9,  # the span-removal exchanges (7, above)
    # + the packing's shard-keyed window + final (shard, seq) agg — the
    # composition adds NO corpus-wide stage beyond its two operators
    "span_dedup_cleaned_docs": 7,  # doc repartition + gram count + dup
    # semi-join pair + coverage anti-join pair (gram/(doc,pos)-keyed — rows
    # are positions and grams, never doc pairs) + cleaned-text groupBy
    "crossdoc_duplicate_spans": 9,  # round 13: shingles now derive from
                                    # the span family's SHARED persisted
                                    # base/occ subtree (one gram explode
                                    # serves crossdoc + span_dedup +
                                    # gram_heavy_hitters in a session);
                                    # the persisted base prints its spread
                                    # repartition per branch and the
                                    # persisted distinct-shingle table
                                    # prints per its 3 consumers — printed
                                    # 9, executed: one repartition + one
                                    # distinct + df/tot/dup aggregates
                                    # (the round-12 form printed 6 but
                                    # built its own second corpus explode)
    "trigram_lm_quality": 9,        # round 12: the per-(doc, trigram)
                                    # pre-aggregate persists and prints its
                                    # spread repartition per consuming
                                    # branch (model side + scoring side) —
                                    # printed 9; executed: repartition +
                                    # map-side (doc,tri) agg + tri/bi count
                                    # exchanges + two model joins + per-doc
                                    # agg, all over DISTINCT-per-doc rows
                                    # instead of every occurrence
    "knn_label_vote": 2,            # (query, label) vote agg + rank
                                    # window over k rows/query
    "vec_ivfpq_topk": 13,           # in-query index build (train sample
                                    # agg + cluster-partitioned write
                                    # branches print per consumer) + probe
                                    # mask join + ADC rank window; probe
                                    # shuffles carry ids+codes only
    "semantic_dedup_survivors": 7,  # k-means assign repartition printed
                                    # per branch + per-cluster pair join +
                                    # survivor distinct; never all-pairs
    "cross_encoder_rerank_topk": 5, # first-stage rank + k-bounded rerank
                                    # feature join + final rank window
    "mutual_knn_dup_pairs": 5,      # two directed top-k rank windows +
                                    # reciprocal self-join on id pairs
    "dedup_exact_groups": 1,        # one hash-agg on md5 fingerprints
    "sketch_value_quantiles": 0,    # shuffle-free TakeOrdered bottom-m;
                                    # rank windows run over the m-row
                                    # single-partition limit output
    "source_nchars_quantiles": 3,   # salted (group, pmod(h,64)) phase-1
                                    # window + per-group phase-2 window
                                    # over ≤64·m rows + final sort
    "crawl_curation_pipeline": 26,  # persisted url_surv/shingle subtrees
                                    # print their fixture repartition +
                                    # canon-URL window exchange once per
                                    # consuming branch (signatures, both
                                    # verify sides, final projection);
                                    # executed: fixture self-join + one
                                    # URL-key window + the same banded-
                                    # LSH shuffles as minhash_lsh_dups +
                                    # final sort — never all-pairs
}


def _data_exchanges(df) -> int:
    tree = formatted_plan(df).split("(1) Scan")[0]
    return sum(
        1
        for line in tree.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line
    )


@pytest.fixture(scope="module", autouse=True)
def _no_aqe(spark):
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # budgets count PRINTED exchanges: a cached subtree left behind by
    # another module's fixture (session-scoped Spark) would be swapped in
    # as InMemoryRelation by the CacheManager and silently change the
    # printed count — clear it so the counted plan is the cold plan,
    # independent of suite ordering
    spark.catalog.clearCache()
    yield
    spark.conf.set("spark.sql.adaptive.enabled", old)


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_exchange_budget(spark, sf_correct, name):
    df = entry.queries()[name](spark, sf_correct)
    n = _data_exchanges(df)
    assert n <= BUDGETS[name], (
        f"{name}: {n} data exchanges exceeds recorded budget {BUDGETS[name]}"
    )
