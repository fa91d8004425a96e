"""Physical-plan pins: the scale properties we rely on, asserted.

Each test states a property the 100 TB run depends on — filter pushdown
reaching the parquet scan, column pruning, shuffle counts, broadcast
join selection, map-side partial aggregation, heap-based top-k — and
fails if a code change regresses the plan even when outputs stay
correct at test scale."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_streams_spark.operators.payments import (
    account_balances,
    filter_supported_rails,
    route_and_convert,
)
from kafka_streams_spark.plans import audit
from kafka_streams_spark.sources.testdata import load_table, payments_from_events


def _payments(spark, sf_dir):
    return payments_from_events(load_table(spark, sf_dir, "events"))


def test_native_column_filter_pushed_to_parquet(spark, sf_dir):
    """A predicate on a physical parquet column must reach the reader as
    PushedFilters — at 100 TB this is the difference between scanning
    every row group and skipping non-matching ones via statistics."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    a = audit(ev)
    assert a.filter_pushed("EqualTo(event_type,purchase)"), a.pushed_filters


def test_rails_filter_pushed_through_derived_view(spark, sf_dir):
    """`rails` is a DERIVED column (CASE WHEN over event_type —
    payments_from_events), so it can't become a parquet statistic filter;
    the pin is that Catalyst pushes the predicate through the projection
    into the scan's DataFilters, evaluating it during the scan rather
    than in a post-projection stage over all rows."""
    df = filter_supported_rails(_payments(spark, sf_dir))
    a = audit(df)
    assert "DataFilters: [CASE WHEN" in a.plan.replace("\n", " "), a.plan
    # and the scan still prunes to the source columns actually needed
    assert a.num_scans == 1


def test_projection_prunes_scan_columns(spark, sf_dir):
    """A 2-column projection must read 2 columns, not the whole table."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    schemas = audit(li).read_schemas
    assert schemas and all(
        "l_extendedprice" not in s and "l_comment" not in s for s in schemas
    ), schemas


def test_balance_pipeline_one_scan_one_shuffle(spark, sf_dir):
    """The fused topology (route_and_convert → balances) must cost
    exactly one source scan and one hash Exchange — the minimum for a
    re-keyed aggregation — with map-side partial sums."""
    balances = account_balances(route_and_convert(_payments(spark, sf_dir)))
    a = audit(balances)
    assert a.num_scans == 1, a.plan
    assert a.num_exchanges == 1, a.plan
    assert a.has_partial_aggregation


def test_small_dims_broadcast_in_q5(spark, sf_dir):
    """q5's region/nation/supplier dims must broadcast — a sort-merge
    join against `region` (5 rows) would shuffle the fact table five
    times over."""
    from kafka_streams_spark.operators.analytics import q5_regional_revenue

    a = audit(q5_regional_revenue(spark, sf_dir))
    strategies = a.join_strategies
    assert strategies.count("BroadcastHashJoin") >= 3, strategies
    assert "CartesianProduct" not in strategies


def test_orders_enrichment_broadcasts_customer_dims(spark, sf_dir):
    from kafka_streams_spark.operators.analytics import orders_enriched

    a = audit(orders_enriched(spark, sf_dir))
    assert "BroadcastHashJoin" in a.join_strategies
    assert "CartesianProduct" not in a.join_strategies


def test_knn_is_take_ordered_not_global_sort(spark, sf_dir):
    """Top-k by similarity must compile to TakeOrderedAndProject
    (per-partition k-heaps, driver merges k·partitions rows) — a global
    orderBy would range-shuffle the whole corpus for 10 rows."""
    from kafka_streams_spark.operators.similarity import knn_brute_force

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [0.0] * len(emb.head()["embedding"])
    a = audit(knn_brute_force(emb, qvec, k=10))
    assert a.has_take_ordered, a.plan
    assert a.num_exchanges == 0, a.plan  # no shuffle at all


def test_exact_dedup_partial_aggregates(spark, sf_dir):
    from kafka_streams_spark.operators.dedup import dedup_exact

    docs = load_table(spark, sf_dir, "documents")
    a = audit(dedup_exact(docs, ["text"], "doc_id"))
    assert a.has_partial_aggregation
    assert a.num_exchanges == 1


def test_golden_pipeline_stays_in_codegen(spark, sf_dir):
    """The stateless prefix (filter → branch → fx → merge) must run as
    whole-stage-codegen — no interpreted eval, no Python boundary."""
    df = route_and_convert(_payments(spark, sf_dir))
    a = audit(df)
    assert a.num_codegen_spans >= 1
    assert "BatchEvalPython" not in a.plan and "ArrowEvalPython" not in a.plan


def test_written_lsh_index_prunes_partitions(spark, sf_dir, tmp_path):
    """A written bucket-partitioned index must prune at the file level:
    the probe predicate shows up as PartitionFilters, and the scan's
    input partitions are only the probed buckets."""
    from kafka_streams_spark.operators.similarity import (
        build_lsh_index,
        knn_from_index,
        write_lsh_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.head()["embedding"])
    indexed, planes = build_lsh_index(emb, dim=dim, n_planes=4)
    path = str(tmp_path / "lsh_index")
    write_lsh_index(indexed, path)

    qvec = [float(x) for x in emb.head()["embedding"]]
    q = knn_from_index(spark, path, planes, qvec, k=5)
    a = audit(q)
    assert "PartitionFilters: [" in a.plan and "bucket" in a.plan.split(
        "PartitionFilters:"
    )[1].split("]")[0], a.plan
    assert a.has_take_ordered
    # correctness: the probed self-bucket contains the query vector itself
    top = q.collect()
    assert top and top[0]["vec_id"] == emb.head()["vec_id"]


def test_curate_corpus_one_scan_one_shuffle(spark, sf_dir):
    """The curation pipeline (quality gate + PII gate + md5 dedup +
    token budget) must fuse to ONE corpus scan and ONE exchange (the
    dedup window) — the stages are expression-composed, not joined."""
    from kafka_streams_spark.operators.pipelines import curate_corpus

    a = audit(curate_corpus(load_table(spark, sf_dir, "documents")))
    assert a.num_scans == 1, a.plan
    assert a.num_exchanges == 1, a.plan
    assert "BatchEvalPython" not in a.plan and "ArrowEvalPython" not in a.plan


def test_hopping_window_partial_agg_one_shuffle(spark, sf_dir):
    """Hopping windows stay an explode + hash aggregation: map-side
    partial aggregates and exactly one shuffle — never a window-function
    sort over the event stream."""
    from kafka_streams_spark.operators.analytics import events_hopping

    a = audit(events_hopping(spark, sf_dir))
    assert a.has_partial_aggregation
    assert a.num_exchanges == 1, a.plan
    assert "Window" not in a.plan


def test_hash_sample_no_shuffle(spark, sf_dir):
    """Deterministic sampling is a pure filter: zero exchanges, so it
    composes into any pipeline without a stage break."""
    from kafka_streams_spark.operators.sampling import hash_sample

    docs = load_table(spark, sf_dir, "documents")
    a = audit(hash_sample(docs, rate_256=32))
    assert a.num_exchanges == 0
    assert a.num_scans == 1


def test_pack_token_shards_one_shuffle(spark, sf_dir):
    """Shard packing is one hash shuffle on the stratum + an
    in-partition running sum."""
    from kafka_streams_spark.operators.sampling import pack_token_shards

    a = audit(pack_token_shards(load_table(spark, sf_dir, "documents")))
    assert a.num_exchanges == 1, a.plan


def test_q7_nation_dims_broadcast_in_both_roles(spark, sf_dir):
    """q7 joins `nation` twice (supplier-side, customer-side); both
    roles must be broadcast probes — a shuffle against a 25-row dim
    would exchange the fact table twice for nothing."""
    from kafka_streams_spark.operators.analytics import q7_volume_shipping

    a = audit(q7_volume_shipping(spark, sf_dir))
    assert a.join_strategies.count("BroadcastHashJoin") >= 4, a.join_strategies
    assert "CartesianProduct" not in a.join_strategies


def test_q2_argmin_is_window_not_joinback(spark, sf_dir):
    """q2's per-part argmin must plan ≤2 exchanges: the offers
    aggregation and the part-window. The join-back formulation costs 5
    (it re-shuffles the aggregate on a fresh composite key)."""
    from kafka_streams_spark.operators.analytics import q2_cheapest_supplier

    a = audit(q2_cheapest_supplier(spark, sf_dir))
    assert a.num_exchanges <= 2, a.plan
    assert "SortMergeJoin" not in a.join_strategies, a.join_strategies


def test_q19_or_clause_prunes_broadcast_build_side(spark, sf_dir):
    """q19's factored brand disjunction must reach the part scan as a
    pushed filter (In(p_brand,...)) so the broadcast build side holds 3
    brands, not the whole part table."""
    from kafka_streams_spark.operators.analytics import q19_discounted_revenue

    a = audit(q19_discounted_revenue(spark, sf_dir))
    assert any("p_brand" in f for f in a.pushed_filters), a.pushed_filters
    assert "BroadcastHashJoin" in a.join_strategies


def test_q17_correlated_avg_stays_on_filtered_subset(spark, sf_dir):
    """q17's decorrelated per-part average must compute on the
    brand-FILTERED lineitems (both scans carry the broadcast-join
    pruning), never on the full fact table."""
    from kafka_streams_spark.operators.analytics import q17_small_quantity_revenue

    a = audit(q17_small_quantity_revenue(spark, sf_dir))
    # all joins broadcast (part + avg subquery are both tiny)
    assert "SortMergeJoin" not in a.join_strategies, a.join_strategies
    assert a.has_partial_aggregation

def test_query_construction_runs_no_jobs(spark, sf_dir, monkeypatch):
    """Building a contract query's plan must not trigger Spark jobs —
    a .count()/.head() during construction is a hidden extra corpus
    scan per invocation at scale. KMeans-trained IVF is the deliberate
    exception (a training action) and is excluded here.

    Checked under SPARK_GRAFT_NO_CKPT=1: a lazy ``materialize_shared``
    checkpoint converts the frame to an RDD, and under AQE that
    materializes the subtree's own first stage (scan → shuffle write)
    at construction time. That is NOT a hidden extra scan — it is the
    query's own stage started early and reused at execution — but it
    is a job, so the purity check runs with checkpointing disabled to
    see through it. The second loop pins the distinction: WITH
    checkpointing on, the only construction jobs allowed are those
    materializations (bounded by the op's materialize_shared count),
    never an unbounded collect."""
    import __spark_entry__ as entry
    from kafka_streams_spark.plans.audit import jobs_run_during
    from kafka_streams_spark.sources.testdata import TABLES, load_table

    for t in TABLES:  # warm the schema cache (footer-read jobs)
        load_table(spark, sf_dir, t)
    qs = entry.queries()
    monkeypatch.setenv("SPARK_GRAFT_NO_CKPT", "1")
    for name in ["tf_idf_top_terms", "knn_lsh_vec0", "dedup_token_jaccard_prefix"]:
        _, n_jobs = jobs_run_during(spark, lambda: qs[name](spark, sf_dir))
        assert n_jobs == 0, f"{name} ran {n_jobs} jobs during construction"
    monkeypatch.delenv("SPARK_GRAFT_NO_CKPT")
    # checkpoint-enabled construction: at most the op's single
    # materialize_shared stage job, nothing else
    _, n_jobs = jobs_run_during(
        spark, lambda: qs["dedup_token_jaccard_prefix"](spark, sf_dir)
    )
    assert n_jobs <= 1, f"prefix ran {n_jobs} construction jobs (ckpt on)"


def test_jaccard_auto_dispatch_stats_jobs_bounded(spark, sf_dir):
    """dedup_token_jaccard rides the auto-dispatcher, which is the
    documented second exception (after IVF KMeans) to no-jobs-during-
    construction: it runs BOUNDED stats jobs (block counts, a sampled
    density probe, and — on the bitset route — the tiny-vocab collect)
    that pick the physical plan. Pin that the job count stays small and
    none of them scans more than the corpus once."""
    import __spark_entry__ as entry
    from kafka_streams_spark.plans.audit import jobs_run_during
    from kafka_streams_spark.sources.testdata import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t)
    qs = entry.queries()
    _, n_jobs = jobs_run_during(
        spark, lambda: qs["dedup_token_jaccard"](spark, sf_dir)
    )
    assert 0 < n_jobs <= 12, f"dispatch stats ran {n_jobs} jobs"


def test_stratified_sample_is_pure_scan_filter(spark, sf_dir):
    """Per-stratum sampling compiles to a scan-level filter: zero
    exchanges, and the hash predicate reaches the parquet reader as a
    data filter — at 100 TB the rejected rows never leave the scan."""
    from kafka_streams_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    a = audit(stratified_sample(docs, {"en": 0.5, "de": 1.0}))
    assert a.num_exchanges == 0, a.plan
    assert a.num_scans == 1


def test_upsample_epochs_map_only(spark, sf_dir):
    """Epoch fan-out is explode-over-scan: zero exchanges; output size
    is the only thing that grows."""
    from kafka_streams_spark.operators.sampling import upsample_epochs

    docs = load_table(spark, sf_dir, "documents")
    a = audit(upsample_epochs(docs, {"src0": 2.5, "src1": 0.4}))
    assert a.num_exchanges == 0, a.plan


def test_shuffle_shards_single_exchange(spark, sf_dir):
    """Global training-order shuffle costs exactly one hash exchange on
    shard_id (plus per-shard sort) — no global ordering barrier."""
    from kafka_streams_spark.operators.sampling import shuffle_shards

    docs = load_table(spark, sf_dir, "documents")
    a = audit(shuffle_shards(docs, n_shards=8))
    assert a.num_exchanges == 1, a.plan


def test_knn_batch_broadcasts_queries(spark, sf_dir):
    """The query side of batched k-NN must broadcast (|Q| rows); the
    corpus shuffles once into the per-query rank windows. The r14
    parallelism floor (spread() on the corpus input) adds round-robin
    REPARTITION_BY_NUM widening exchanges that are no-ops at real scale
    — excluded from the budget via num_hash_exchanges, with the extras
    pinned to be round-robin widenings and nothing else."""
    from kafka_streams_spark.operators.similarity import knn_batch_to_ids

    emb = load_table(spark, sf_dir, "embeddings")
    a = audit(knn_batch_to_ids(emb, [0, 1, 2], k=10))
    assert a.num_broadcasts >= 1, a.plan
    assert a.num_hash_exchanges <= 1, a.plan
    # every exchange beyond the rank-window hash must be the widening
    # floor, never a second hash/range shuffle sneaking in
    extras = a.num_exchanges - a.num_hash_exchanges
    assert extras == a.plan.count("Exchange RoundRobinPartitioning"), a.plan


def test_dedup_incremental_anti_join_ships_hashes_only(spark, sf_dir):
    """The existing-corpus side of incremental dedup projects to the
    32-char hash column before the anti join — the curated corpus's
    payload never moves."""
    from kafka_streams_spark.operators.dedup import dedup_incremental

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    a = audit(dedup_incremental(docs.filter(bucket >= "20"), docs.filter(bucket < "20")))
    # the existing side's scan must read only what md5(text) needs
    assert any("text" in s and "source" not in s for s in a.read_schemas), a.read_schemas


def test_assign_splits_is_map_only(spark, sf_dir):
    """Split assignment is a projected CASE on a hash: one scan, zero
    exchanges — at 100 TB it composes into any scan for free."""
    from kafka_streams_spark.operators.sampling import assign_splits

    docs = load_table(spark, sf_dir, "documents")
    a = audit(assign_splits(docs))
    assert a.num_scans == 1, a.plan
    assert a.num_exchanges == 0, a.plan


def test_reservoir_sample_two_window_exchanges_only(spark, sf_dir):
    """The salted two-phase top-k costs exactly two hash exchanges —
    (stratum, salt) then stratum over the ≤ k·n_salts survivors; the
    second input is tiny by construction."""
    from kafka_streams_spark.operators.sampling import reservoir_sample

    docs = load_table(spark, sf_dir, "documents")
    a = audit(reservoir_sample(docs, k=20, stratum_col="lang", weight_col="n_chars"))
    assert a.num_scans == 1, a.plan
    assert a.num_exchanges == 2, a.plan


def test_length_outliers_broadcasts_stats_no_corpus_shuffle(spark, sf_dir):
    """The per-stratum median/MAD tables (a handful of rows) must
    broadcast back onto the corpus — the corpus rows themselves only
    shuffle inside the tiny stat aggregates, never for the gate join."""
    from kafka_streams_spark.operators.text import length_outliers

    docs = load_table(spark, sf_dir, "documents")
    a = audit(length_outliers(docs))
    assert a.join_strategies.count("BroadcastHashJoin") >= 2, a.join_strategies
    assert "SortMergeJoin" not in a.join_strategies, a.join_strategies


def test_corpus_drift_reads_each_side_once(spark, sf_dir):
    """Two pins on the r5 broadcast-totals form (round-4 verdict #2):

    1. NO unpartitioned window — the r4 form computed totals with
       ``sum(...) over ()`` on the vocabulary table, funnelling every
       vocab row (10⁸–10⁹ at web scale) through one partition. Only
       SinglePartition *aggregate* exchanges (map-side reduced to a
       handful of rows) may remain.
    2. One scan per side at EXECUTION: the totals branch duplicates the
       count subtrees statically, but AQE stage reuse must resolve both
       copies to ReusedExchange in the final adaptive plan — so the
       corpora are scanned once each at runtime.
    """
    from kafka_streams_spark.operators.text import corpus_drift

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    df = corpus_drift(docs.filter(bucket < "80"), docs.filter(bucket >= "80"))
    a = audit(df)
    assert "Window" not in a.plan, a.plan  # no WindowExec at all
    assert a.has_partial_aggregation, a.plan
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final, final
    assert final.count("ReusedExchange") >= 2, final


def test_fuzzy_incremental_no_cartesian(spark, sf_dir):
    """Candidate generation must stay an equi-join on band keys — any
    CartesianProduct here means the LSH bucketing fell out of the plan."""
    from kafka_streams_spark.operators.dedup import dedup_incremental_fuzzy

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    a = audit(
        dedup_incremental_fuzzy(
            docs.filter(bucket >= "20"), docs.filter(bucket < "20"), hash_fn="md5_32"
        )
    )
    assert "CartesianProduct" not in a.join_strategies, a.join_strategies


def test_normalize_text_is_map_only(spark, sf_dir):
    from kafka_streams_spark.operators.text import normalize_text

    a = audit(normalize_text(load_table(spark, sf_dir, "documents")))
    assert a.num_scans == 1 and a.num_exchanges == 0, a.plan


def test_pack_sequences_single_window_exchange(spark, sf_dir):
    """One windowed running sum per stratum; the sequence fan-out is a
    map-only explode — no second shuffle."""
    from kafka_streams_spark.operators.sampling import pack_sequences

    a = audit(pack_sequences(load_table(spark, sf_dir, "documents"), seq_len=512))
    assert a.num_scans == 1 and a.num_exchanges == 1, a.plan


def test_decontaminate_exact_broadcasts_benchmark(spark, sf_dir):
    """The benchmark probes must broadcast (the deliberate
    broadcast-cross pattern); the corpus side must not shuffle for the
    probe join."""
    from kafka_streams_spark.operators.text import decontaminate_exact

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    bench = (
        docs.filter(bucket < "08")
        .select(F.substring("text", 10, 60).alias("text"))
        .filter(F.length("text") >= 30)
        .distinct()
    )
    a = audit(decontaminate_exact(docs, bench))
    assert "BroadcastNestedLoopJoin" in a.join_strategies, a.join_strategies


def test_bloom_bitmap_broadcast_reused_across_probes(spark, sf_dir):
    """All k probe joins broadcast the SAME canonical bitmap subtree, so
    AQE builds the bloom aggregation once and reuses the exchange for
    the other probes (k probes × 2 legs − 1 ≥ reuses ≥ k − 1). The
    per-probe alias (not a rename below the exchange) is what makes the
    subtrees canonical-identical — regression pin for that choice."""
    from kafka_streams_spark.operators.dedup import dedup_incremental_bloom

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    out = dedup_incremental_bloom(
        docs.filter(bucket >= "40"), docs.filter(bucket < "40"), m_bits=1 << 14
    )
    out.collect()  # reuse is an AQE runtime decision — need the final plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert plan.count("ReusedExchange") >= 3, plan.count("ReusedExchange")


def test_dedup_spans_incremental_digest_only_join(spark, sf_dir):
    """The existing side must reduce to DISTINCT gram digests (map-side
    partial agg) before the semi-join — the text never shuffles — and
    candidate marking stays an equi-join."""
    from kafka_streams_spark.operators.dedup import (
        dedup_substring_remove_incremental,
    )

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    a = audit(
        dedup_substring_remove_incremental(
            docs.filter(bucket < "20"), docs.filter(bucket >= "20"), k=5
        )
    )
    assert "CartesianProduct" not in a.join_strategies, a.join_strategies
    assert a.has_partial_aggregation, a.plan
    assert "LeftSemi" in a.plan, a.plan


def test_no_unpartitioned_window_outside_whitelist(spark, sf_dir, monkeypatch):
    """STRUCTURAL GUARD (round-6 verdict item 6): every WindowExec with
    no partition spec moves ALL rows to one partition — a scale-killer
    unless the window provably runs over a bounded-by-design table.
    This sweep walks EVERY contract query's physical plan and fails if
    an unpartitioned window appears outside the documented whitelist,
    making the r4 `corpus_drift` regression class (a global window over
    a corpus-sized table slipping in) structurally impossible.

    Whitelist — each entry names its bounded source:
      daily_revenue_window   per-day calendar spine (analytics.py w_cum/w_7d)
      dsir_logratio          n_buckets-row hash-bucket stats (text.py)
      gate_agreement         2^3-row gate contingency table (pipelines.py)
      knn_ivf_label_vec0,
      knn_ivfpq_vec0,
      knn_recall_ivfpq_vec0  centroid-count cell-rank tables (similarity.py)
      price_quantiles_hist   histogram bucket table (profiling.py)
      price_rank_quantiles   <=k-row bottom-k sample (profiling.py
                             rank_sketch_quantiles)
      zipf_fit               <=k Zipf head (text.py)
      max_df_for_budget      posting-length histogram — one row per
                             distinct df value (dedup.py, r9; the
                             value_histogram bucket-table class)
      stop_band_cap          band-occupancy histogram — one row per
                             distinct occupancy value (dedup.py
                             stop_band_cap_for_budget, r10; same
                             bucket-table class as max_df_for_budget)
    """
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    # audit the LOGICAL shape — checkpoints would hide subtree windows
    monkeypatch.setenv("SPARK_GRAFT_NO_CKPT", "1")
    import __spark_entry__ as e

    allowed = {
        "daily_revenue_window": 1,
        "dsir_logratio": 1,
        "gate_agreement": 1,
        "knn_ivf_label_vec0": 1,
        "knn_ivfpq_vec0": 1,
        "knn_recall_ivfpq_vec0": 1,
        "price_quantiles_hist": 1,
        "price_rank_quantiles": 1,
        "zipf_fit": 1,
        "max_df_for_budget": 1,
        "stop_band_cap": 1,
    }
    offenders = {}
    for name, fn in e.queries().items():
        k = audit(fn(spark, sf_dir)).num_unpartitioned_windows
        if k > allowed.get(name, 0):
            offenders[name] = k
    assert not offenders, (
        f"unpartitioned WindowExec outside the bounded-table whitelist: "
        f"{offenders} — partition the window or document boundedness and "
        f"extend the whitelist"
    )

def test_written_index_probe_set_matches_in_memory_lsh(spark, sf_dir, tmp_path):
    """knn_from_index must scan the SAME candidate set as knn_lsh at
    identical parameters — the written-index path previously stopped at
    1-bit-flip probes while the in-memory path honored
    multiprobe_hamming=2, silently dropping recall (r7 self-review
    find; both now share _probe_set)."""
    from kafka_streams_spark.operators.similarity import (
        build_lsh_index,
        knn_from_index,
        knn_lsh,
        write_lsh_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.head()["embedding"])
    indexed, planes = build_lsh_index(emb, dim=dim, n_planes=4)
    path = str(tmp_path / "lsh_index_h2")
    write_lsh_index(indexed, path)
    qvec = [float(x) for x in emb.head()["embedding"]]

    mem = knn_lsh(indexed, planes, qvec, k=8, multiprobe_hamming=2).collect()
    idx = knn_from_index(
        spark, path, planes, qvec, k=8, multiprobe_hamming=2
    ).collect()
    assert [(r["vec_id"], r["cosine_sim"]) for r in idx] == [
        (r["vec_id"], r["cosine_sim"]) for r in mem
    ]


def test_auto_join_routes_plan_broadcast_no_fact_shuffle(spark, sf_dir):
    """r8 auto_join: the broadcast_b route must PLAN as a
    BroadcastHashJoin building the dimension side — the fact side
    (orders) never enters an Exchange for the join. The only exchanges
    in the plan belong to the dispatch audit's profile aggregates,
    which run once at construction, not per joined row."""
    from kafka_streams_spark.operators.profiling import auto_join

    out = auto_join(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
        "o_custkey",
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
        "c_custkey",
    )
    a = audit(out)
    assert a.join_strategies and all(
        s.startswith("BroadcastHashJoin") for s in a.join_strategies
    ), a.join_strategies
    assert a.num_broadcasts >= 1
    # the joined-plan itself shuffles nothing: broadcast exchange only
    assert a.num_exchanges == 0, a.plan


def test_posting_pair_stats_single_shuffle_partial_agg(spark, sf_dir):
    """r8 posting_pair_stats: pricing the pair join must cost ONE
    shuffle (the (shingle, block) groupBy with map-side combine) plus
    the 1-row final aggregate — the audit must stay linear or it can't
    be a pre-flight."""
    from kafka_streams_spark.operators.dedup import posting_pair_stats

    docs = load_table(spark, sf_dir, "documents")
    a = audit(posting_pair_stats(docs, n=1, block_col="source"))
    assert a.num_scans == 1
    assert a.has_partial_aggregation
    # one hash exchange for the group stage, one single-partition
    # exchange into the 1-row read-off
    assert a.num_exchanges <= 2, a.plan


def test_global_windows_annotated_bounded():
    """r8 verdict item 3: an unpartitioned Window.orderBy moves ALL
    rows to one task — fine on a provably bounded input (top-k head,
    bucket spine, sketch register), a scale-killer on data. Every
    global-window construction in engine code must therefore carry a
    `# global-window-bounded(<bound>): reason` marker on the same or
    one of the three preceding lines, naming what bounds the input —
    a NEW unannotated global window fails here instead of hiding in
    the WindowExec warning noise (the r8 dialect-lint pattern: the
    class of bug is unwriteable, not just currently absent)."""
    import re
    from pathlib import Path

    import kafka_streams_spark as pkg

    root = Path(pkg.__file__).resolve().parent
    marker = "global-window-bounded("
    bad: list[str] = []
    for f in sorted(root.rglob("*.py")):
        lines = f.read_text().splitlines()
        for i, line in enumerate(lines):
            code = line.split("#", 1)[0]
            if "``" in line or line.lstrip().startswith(("#", "-")):
                continue  # prose (docstring references, comments)
            if not re.search(r"Window\.orderBy\(", code):
                continue
            window = [line] + lines[max(0, i - 3): i]
            if not any(marker in ln for ln in window):
                bad.append(f"{f.relative_to(root)}:{i + 1}: {line.strip()}")
    assert not bad, (
        "unannotated global windows (add '# global-window-bounded(<bound>): "
        "reason' and make sure the input really is bounded):\n"
        + "\n".join(bad)
    )
    # the lint must actually be exercising the known sites (guards
    # against the pattern rotting if Window usage is refactored)
    n_sites = 0
    for f in sorted(root.rglob("*.py")):
        n_sites += f.read_text().count(marker)
    assert n_sites >= 6, f"expected >=6 annotated sites, found {n_sites}"


def test_cap_per_source_single_shuffle_window(spark, sf_dir):
    """r9 cap_per_group: one hash exchange on the group key, the rank a
    partitioned window on that clustering — no global window, no second
    pass over the corpus."""
    from kafka_streams_spark.operators.sampling import cap_per_group

    docs = load_table(spark, sf_dir, "documents")
    a = audit(cap_per_group(docs, "source", max_rows=30).select("doc_id", "source"))
    assert a.num_scans == 1
    assert a.num_exchanges == 1, a.plan
    assert "WindowGroupLimit" in a.plan or "Window" in a.plan
