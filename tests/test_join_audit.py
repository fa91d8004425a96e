"""join_size_audit — the join pre-flight pricing audit: exact inner
equi-join cardinality + hot-key share from per-key count profiles,
without running the join. The audit's read-off is checked against the
actually-executed join on every case, including the ones the driver
corpus can't produce (NULL keys, empty intersection, one dominating
hot key)."""

from __future__ import annotations

from kafka_streams_spark.operators.profiling import join_size_audit


def _audit(spark, a_keys, b_keys):
    a = spark.createDataFrame([(k,) for k in a_keys], "ka bigint")
    b = spark.createDataFrame([(k,) for k in b_keys], "kb bigint")
    row = join_size_audit(a, "ka", b, "kb").collect()[0]
    true_join = a.join(b, a.ka == b.kb).count()
    assert row["join_rows"] == true_join, (row, true_join)
    return row


def test_join_rows_exact_with_duplicates_and_nulls(spark):
    # key 1: 3x2 rows; key 2: 1x1; key 3 only in a; NULLs never match
    row = _audit(spark, [1, 1, 1, 2, 3, None], [1, 1, 2, 4, None, None])
    assert row["n_rows_a"] == 6 and row["n_rows_b"] == 6
    assert row["n_keys_a"] == 3 and row["n_keys_b"] == 3  # NULL excluded
    assert row["n_shared_keys"] == 2
    assert row["join_rows"] == 7  # 3*2 + 1*1
    assert row["top_key"] == "1" and row["top_key_share"] == 6.0 / 7.0


def test_empty_intersection_convention(spark):
    row = _audit(spark, [1, 2], [3, 4])
    assert row["join_rows"] == 0 and row["n_shared_keys"] == 0
    assert row["top_key"] is None and row["top_key_share"] == 0.0


def test_hot_key_read_off_signals_salting(spark):
    """One key carrying ~all the output is exactly the case
    functions.partitioning.salted_join exists for — the audit must
    surface it as top_key_share ~ 1."""
    row = _audit(spark, [7] * 100 + [1, 2], [7] * 50 + [1, 2])
    assert row["top_key"] == "7"
    assert row["top_key_share"] == 5000.0 / 5002.0


def test_tie_break_is_largest_contribution_then_key_string(spark):
    # keys 5 and 9 both contribute 2x2=4 rows -> largest key string wins
    row = _audit(spark, [5, 5, 9, 9], [5, 5, 9, 9])
    assert row["top_key"] == "9" and row["top_key_share"] == 0.5


def test_profile_join_never_touches_data_rows(spark, monkeypatch):
    """Plan shape: the audit joins the two AGGREGATED profiles, so no
    exchange carries unaggregated input rows — both scans feed a
    partial aggregate before any join. Checked structurally: every
    join in the plan sits above an Aggregate on both sides. Audited
    with NO_CKPT (the materialize_shared boundary otherwise collapses
    the profile subtree to an opaque RDD scan)."""
    monkeypatch.setenv("SPARK_GRAFT_NO_CKPT", "1")
    a = spark.createDataFrame([(i % 10,) for i in range(1000)], "ka bigint")
    b = spark.createDataFrame([(i % 7,) for i in range(1000)], "kb bigint")
    plan = (
        join_size_audit(a, "ka", b, "kb")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # the contribution join's children must already be aggregates:
    # no Join node may appear before (above) the first Aggregate-free
    # raw relation without an intervening Aggregate. Cheap proxy: the
    # optimized plan contains no Join whose direct child subtree lacks
    # an Aggregate — assert per-line indentation ordering instead of
    # parsing: every LocalRelation/LogicalRDD ancestor chain up to a
    # Join must pass through an Aggregate.
    lines = plan.splitlines()
    indents = [len(ln) - len(ln.lstrip(" :+-")) for ln in lines]
    for i, ln in enumerate(lines):
        if "LogicalRDD" in ln or "LocalRelation" in ln:
            seen_agg = False
            cur = indents[i]
            for j in range(i - 1, -1, -1):
                if indents[j] < cur:
                    cur = indents[j]
                    if "Aggregate" in lines[j]:
                        seen_agg = True
                    if "Join" in lines[j]:
                        assert seen_agg, (
                            "raw relation reaches a Join before any "
                            "Aggregate:\n" + plan
                        )
            assert seen_agg, plan

def test_live_profile_prices_stream_static_join(spark, tmp_path):
    """The streamed per-key profile feeds join_size_from_profiles: the
    live pricing of a stream-static join equals join_size_audit over
    everything ingested, across two micro-batch waves and after
    compaction."""
    import json
    import os

    from kafka_streams_spark.operators.profiling import (
        join_size_from_profiles,
        key_profile,
    )
    from kafka_streams_spark.streaming.sketch_stream import (
        compact_key_profile,
        read_key_profile,
        run_key_profile_stream,
    )

    src = str(tmp_path / "src")
    prof = str(tmp_path / "profile")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    docs_a = [
        {"doc_id": i, "source": "s%d" % (i % 3), "text": "x"} for i in range(30)
    ] + [{"doc_id": 90, "source": None, "text": "null-key row"}]
    docs_b = [
        {"doc_id": 100 + i, "source": "s%d" % (i % 4), "text": "y"}
        for i in range(25)
    ]
    with open(f"{src}/a.json", "w") as f:
        f.write("\n".join(json.dumps(d) for d in docs_a))
    q = run_key_profile_stream(spark, src, prof, ckpt, key_col="source")
    try:
        q.processAllAvailable()
        with open(f"{src}/b.json", "w") as f:
            f.write("\n".join(json.dumps(d) for d in docs_b))
        q.processAllAvailable()
    finally:
        q.stop()

    static = spark.createDataFrame(
        [("s0", 1), ("s0", 2), ("s3", 3), (None, 4)], "src string, v bigint"
    )
    all_docs = spark.createDataFrame(
        [(d["source"],) for d in docs_a + docs_b], "source string"
    )
    live = join_size_from_profiles(
        read_key_profile(spark, prof), key_profile(static, "src")
    ).collect()[0]
    from kafka_streams_spark.operators.profiling import join_size_audit

    batch = join_size_audit(all_docs, "source", static, "src").collect()[0]
    assert live.asDict() == batch.asDict()
    # and the pricing is the truth of the executed join
    true_join = all_docs.join(static, all_docs.source == static.src).count()
    assert live["join_rows"] == true_join

    compact_key_profile(spark, prof)
    live2 = join_size_from_profiles(
        read_key_profile(spark, prof), key_profile(static, "src")
    ).collect()[0]
    assert live2.asDict() == batch.asDict()
    parts = {
        r[0]
        for r in spark.read.parquet(prof).select("ingest_batch").distinct().collect()
    }
    assert parts == {1}  # the newest delta; batch 0 is in the base
    assert os.listdir(f"{prof}/_base") == ["hwm=0"]


def _route_of(spark, a_rows, b_rows, **kw):
    """Run auto_join AND the DuckDB route CASE on the same shaped
    tables; assert the route and the joined rows agree cross-engine."""
    import duckdb

    from kafka_streams_spark.operators.profiling import auto_join

    a = spark.createDataFrame(a_rows, "ka bigint, va string")
    b = spark.createDataFrame(b_rows, "kb bigint, vb string")
    out = auto_join(a, "ka", b, "kb", **kw).collect()
    routes = {r["route"] for r in out}
    assert len(routes) <= 1
    spark_rows = sorted((r["ka"], r["va"], r["vb"]) for r in out)

    bmax = kw.get("broadcast_max_rows", 1_000_000)
    skew = kw.get("skew_share", 0.5)
    buckets = kw.get("salt_buckets", 8)
    con = duckdb.connect()
    con.execute("CREATE TABLE ta(ka BIGINT, va VARCHAR)")
    con.execute("CREATE TABLE tb(kb BIGINT, vb VARCHAR)")
    con.executemany("INSERT INTO ta VALUES (?, ?)", a_rows)
    con.executemany("INSERT INTO tb VALUES (?, ?)", b_rows)
    duck = con.execute(f"""
        WITH pa AS (SELECT ka AS k, count(*) AS ca FROM ta
                    WHERE ka IS NOT NULL GROUP BY 1),
        pb AS (SELECT kb AS k, count(*) AS cb FROM tb
               WHERE kb IS NOT NULL GROUP BY 1),
        contrib AS (SELECT pa.k, ca * cb AS c FROM pa JOIN pb USING (k)),
        joined AS (SELECT COALESCE(sum(c), 0) AS join_rows FROM contrib),
        top AS (SELECT c AS top_c FROM contrib
                ORDER BY c DESC, CAST(k AS VARCHAR) DESC LIMIT 1)
        SELECT CASE
            WHEN (SELECT count(*) FROM tb) <= {bmax} THEN 'broadcast_b'
            WHEN (SELECT count(*) FROM ta) <= {bmax} THEN 'broadcast_a'
            WHEN (SELECT join_rows FROM joined) > 0
                 AND CAST((SELECT top_c FROM top) AS DOUBLE)
                     / (SELECT join_rows FROM joined) >= {skew}
                 AND (SELECT count(*) FROM tb) * {buckets}
                     <= (SELECT count(*) FROM ta)
                THEN 'salted'
            ELSE 'shuffle' END
    """).fetchone()[0]
    duck_rows = sorted(
        map(tuple, con.execute(
            "SELECT ka, va, vb FROM ta JOIN tb ON ka = kb"
        ).fetchall())
    )
    assert spark_rows == duck_rows
    spark_route = routes.pop() if routes else duck  # empty join: rows agree
    assert spark_route == duck, (spark_route, duck)
    return spark_route


def test_auto_join_routes_flip_with_table_shape(spark):
    """r7 verdict item 7: auto_join's dispatch must DERIVE identically
    in both engines across table shapes that hit every route — small
    thresholds make the toy tables exercise the real ladder."""
    kw = dict(broadcast_max_rows=4, skew_share=0.5, salt_buckets=3)
    small_b = [(1, "a1"), (1, "a2"), (2, "a3"), (3, "a4"), (9, "a5")], [
        (1, "b1"), (2, "b2")
    ]
    assert _route_of(spark, *small_b, **kw) == "broadcast_b"

    small_a = [(1, "a1"), (2, "a2")], [
        (1, f"b{i}") for i in range(6)
    ]
    assert _route_of(spark, *small_a, **kw) == "broadcast_a"

    # both sides above the broadcast budget, one hot key dominating,
    # and b small enough that salt_buckets× replication stays below a
    # (the r9 affordability gate: 7 * 3 = 21 <= 24)
    skewed = (
        [(7, f"a{i}") for i in range(22)] + [(1, "ax"), (2, "ay")],
        [(7, f"b{i}") for i in range(5)] + [(1, "bx"), (3, "by")],
    )
    assert _route_of(spark, *skewed, **kw) == "salted"

    # same hot-key skew but b is comparable to a: replicating b
    # salt_buckets× would shuffle MORE than the plain join — the r9
    # advisor gate must fall through to shuffle (8 * 3 = 24 > 10)
    skewed_big_b = (
        [(7, f"a{i}") for i in range(8)] + [(1, "ax"), (2, "ay")],
        [(7, f"b{i}") for i in range(6)] + [(1, "bx"), (3, "by")],
    )
    assert _route_of(spark, *skewed_big_b, **kw) == "shuffle"

    # both sides above the budget, near-uniform keys
    uniform = (
        [(k, f"a{k}") for k in range(10)],
        [(k, f"b{k}") for k in range(10)],
    )
    assert _route_of(spark, *uniform, **kw) == "shuffle"


def test_auto_join_rejects_ambiguous_columns(spark):
    import pytest

    from kafka_streams_spark.operators.profiling import auto_join

    a = spark.createDataFrame([(1, "x")], "k bigint, v string")
    b = spark.createDataFrame([(1, "y")], "k bigint, v string")
    with pytest.raises(ValueError, match="disjoint"):
        auto_join(a, "k", b, "k")
    b2 = spark.createDataFrame([(1, "y")], "kb bigint, k string")
    with pytest.raises(ValueError, match="already has a column"):
        auto_join(a, "k", b2, "kb")


def test_auto_join_salted_equals_plain_join(spark):
    """The salted route must be a pure physical rewrite: same rows as
    the plain shuffle join, salt column gone."""
    from kafka_streams_spark.operators.profiling import auto_join

    a_rows = [(7, f"a{i}") for i in range(20)] + [(1, "ax")]
    b_rows = [(7, f"b{i}") for i in range(4)] + [(1, "bx")]
    a = spark.createDataFrame(a_rows, "ka bigint, va string")
    b = spark.createDataFrame(b_rows, "kb bigint, vb string")
    out = auto_join(
        a, "ka", b, "kb", broadcast_max_rows=2, skew_share=0.5, salt_buckets=4
    )
    assert out.columns == ["route", "ka", "va", "vb"]
    got = sorted((r["ka"], r["va"], r["vb"]) for r in out.collect())
    want = sorted(
        (r["ka"], r["va"], r["vb"])
        for r in a.join(b, a.ka == b.kb).collect()
    )
    assert got == want
    assert out.first()["route"] == "salted"


def test_auto_join_same_key_name_and_left_shapes(spark):
    """Same-named keys join without a rename; left joins keep unmatched
    a-rows with NULL b-columns; left_semi output carries only a's
    columns. broadcast_a must never fire for non-inner shapes."""
    from kafka_streams_spark.operators.profiling import auto_join

    a = spark.createDataFrame(
        [(1, "a1"), (2, "a2"), (9, "a9")], "k bigint, va string"
    )
    b = spark.createDataFrame([(1, "b1")], "k bigint, vb string")
    out = auto_join(a, "k", b, "k", how="left").collect()
    assert {r["route"] for r in out} == {"broadcast_b"}
    got = sorted((r["k"], r["va"], r["vb"]) for r in out)
    assert got == [(1, "a1", "b1"), (2, "a2", None), (9, "a9", None)]

    semi = auto_join(a, "k", b, "k", how="left_semi")
    assert semi.columns == ["route", "k", "va"]
    assert [r["k"] for r in semi.collect()] == [1]

    # a is tiny, b is big, but how != inner -> side swap illegal; with
    # no hot key the route must fall through to shuffle
    big_b = spark.createDataFrame(
        [(i, f"b{i}") for i in range(40)], "k bigint, vb string"
    )
    out2 = auto_join(
        a, "k", big_b, "k", how="left", broadcast_max_rows=10, skew_share=0.9
    )
    assert out2.first()["route"] == "shuffle"


def test_posting_pair_stats_null_text_and_empty_corpus(spark):
    """NULL-text docs shingle to [''] (word_shingles' short-doc rule),
    so they ARE postings and two in one block ARE a candidate pair —
    the audit must price exactly what weighted_jaccard_pairs would
    join. A zero-row corpus yields the all-zero audit row with a NULL
    top shingle (one row, not an empty frame)."""
    from kafka_streams_spark.operators.dedup import posting_pair_stats

    docs = spark.createDataFrame(
        [(1, None, "s"), (2, None, "t"), (3, None, "s")],
        "doc_id bigint, text string, source string",
    )
    row = posting_pair_stats(docs, n=1, block_col="source").collect()[0]
    # '' shingle: 2 postings in block s (1 pair), 1 in block t
    assert (
        row["n_postings"],
        row["n_groups"],
        row["n_candidate_pairs"],
        row["max_posting"],
        row["top_shingle"],
    ) == (3, 2, 1, 2, "")

    empty = spark.createDataFrame(
        [], "doc_id bigint, text string, source string"
    )
    row0 = posting_pair_stats(empty, n=1, block_col="source").collect()[0]
    assert (
        row0["n_postings"],
        row0["n_groups"],
        row0["n_candidate_pairs"],
        row0["max_posting"],
        row0["top_shingle"],
    ) == (0, 0, 0, 0, None)


def test_posting_pair_stats_null_block_prices_zero_pairs(spark):
    """r9 advisor find: postings whose block value is NULL never pair
    in weighted_jaccard_pairs' plain-equality block join, so the audit
    must price their groups at 0 candidate pairs while still counting
    them in n_postings / n_groups / max_posting (the join_size_audit
    NULL-key split). Three identical NULL-source docs would naively
    price 3 pairs; the join emits none."""
    from kafka_streams_spark.operators.dedup import (
        posting_pair_stats,
        weighted_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "p q", None), (2, "p q", None), (3, "p q", None),
         (4, "u v", "s"), (5, "u v", "s")],
        "doc_id bigint, text string, source string",
    )
    row = posting_pair_stats(docs, n=1, block_col="source").collect()[0]
    # (p,NULL)=3 and (q,NULL)=3 price 0 pairs; (u,s)=2 and (v,s)=2
    # price 1 each. All 10 postings and 4 groups still counted.
    assert (
        row["n_postings"],
        row["n_groups"],
        row["n_candidate_pairs"],
        row["max_posting"],
    ) == (10, 4, 2, 3)
    # The audit prices exactly what the join emits: only the (4, 5)
    # pair inside block s ever reaches the pair stage (identical
    # NULL-block docs 1-3 would be 3 more pairs if NULL paired).
    pairs = weighted_jaccard_pairs(
        docs, n=1, block_col="source", threshold=0.1
    ).collect()
    assert {(p["id_a"], p["id_b"]) for p in pairs} == {(4, 5)}
    # No-block profiles are untouched by the NULL rule: every posting
    # group still prices, NULL block column absent entirely.
    row_nb = posting_pair_stats(docs, n=1, block_col=None).collect()[0]
    assert (row_nb["n_postings"], row_nb["n_candidate_pairs"]) == (10, 8)


def test_max_df_for_budget_edges_and_consistency(spark):
    """r9 cap sizing: the chosen cap's admitted pair count must equal
    posting_pair_stats on the capped profile (internal consistency);
    budget 0 -> cap 0; unbounded budget -> cap = max posting length and
    the FULL audit pair count; NULL-block groups price 0 (three
    identical NULL-source docs never raise the curve)."""
    from kafka_streams_spark.operators.dedup import (
        max_df_for_budget,
        posting_pair_stats_from_profile,
        posting_profile,
    )

    docs = spark.createDataFrame(
        [(1, "a b", "s"), (2, "a b", "s"), (3, "a c", "s"), (4, "a", None),
         (5, "a", None), (6, "a", None)],
        "doc_id bigint, text string, source string",
    )
    prof = posting_profile(docs, n=1, block_col="source")
    # groups: (a,s)=3 -> 3 pairs, (b,s)=2 -> 1, (c,s)=1 -> 0, (a,NULL)=3 -> 0
    full = posting_pair_stats_from_profile(prof).collect()[0]
    assert full["n_candidate_pairs"] == 4

    big = max_df_for_budget(prof, 10**9).collect()[0]
    assert (big["max_df"], big["n_candidate_pairs"]) == (3, 4)
    zero = max_df_for_budget(prof, 0).collect()[0]
    # df=1 groups emit 0 pairs, so cap 1 fits ANY budget incl. 0
    assert (zero["max_df"], zero["n_candidate_pairs"]) == (1, 0)
    mid = max_df_for_budget(prof, 1).collect()[0]
    # cap 2 admits only (b,s)'s 1 pair; cap 3 would add (a,s)'s 3
    assert (mid["max_df"], mid["n_candidate_pairs"]) == (2, 1)

    import pytest

    with pytest.raises(ValueError):
        max_df_for_budget(prof, -1)

    empty = posting_profile(
        spark.createDataFrame([], "doc_id bigint, text string, source string"),
        n=1, block_col="source",
    )
    e = max_df_for_budget(empty, 100).collect()[0]
    assert (e["max_df"], e["n_candidate_pairs"]) == (0, 0)


def test_max_df_for_budget_gap_and_profile_shape(spark):
    """r10 advice fixes. (1) Histogram gaps: with observed lengths
    {2, 100} and a budget admitting only the df=2 groups, every cap in
    2..99 admits the same groups — the TRUE largest is 99 (lead-1),
    not the observed 2. (2) A profile carrying more than one extra
    column beside (_s, cnt) — multi-column blocking or a leaked
    partition column — raises instead of silently mis-pricing NULLs in
    the undetected columns."""
    import pytest

    from kafka_streams_spark.operators.dedup import (
        max_df_for_budget,
        posting_pair_stats_from_profile,
    )

    prof = spark.createDataFrame(
        [("a", "s", 2), ("b", "s", 100)], "_s string, source string, cnt bigint"
    )
    # df=2 group: 1 pair; df=100 group: 4950. Budget 10 admits only df<=2.
    row = max_df_for_budget(prof, 10).collect()[0]
    assert (row["max_df"], row["n_candidate_pairs"]) == (99, 1)
    # budget admitting everything -> max observed length (no next row)
    top = max_df_for_budget(prof, 10**6).collect()[0]
    assert (top["max_df"], top["n_candidate_pairs"]) == (100, 4951)

    bad = spark.createDataFrame(
        [("a", "s", 3, 1)],
        "_s string, source string, ingest_batch int, cnt bigint",
    )
    with pytest.raises(ValueError, match="more than one"):
        max_df_for_budget(bad, 10)
    with pytest.raises(ValueError, match="more than one"):
        posting_pair_stats_from_profile(bad).collect()


def test_band_pair_price_and_stop_band_cap(spark):
    """r10: the bands-occupancy pricing analog. band_pair_price emits
    one row per NEW-side band key with the exact candidate count the
    incremental equi-join would produce (n_new x n_ex); keys absent
    from the existing index price 0. stop_band_cap_for_budget derives
    the gap-exact occupancy cap (max_df_for_budget semantics)."""
    import pytest

    from kafka_streams_spark.operators.dedup import (
        band_pair_price,
        stop_band_cap_for_budget,
    )

    new_bands = spark.createDataFrame(
        [(1, 0, "x"), (2, 0, "x"), (1, 1, "y")],
        "doc_id bigint, band_idx int, band_hash string",
    )
    ex_bands = spark.createDataFrame(
        [(10, 0, "x"), (11, 0, "x"), (12, 1, "z")],
        "doc_id bigint, band_idx int, band_hash string",
    )
    priced = band_pair_price(new_bands, ex_bands)
    rows = {
        (r["band_idx"], r["band_hash"]): (
            r["n_new"], r["n_ex"], r["occupancy"], r["price"]
        )
        for r in priced.collect()
    }
    # existing key (1,"z") is NOT priced: only new-side keys matter
    assert rows == {(0, "x"): (2, 2, 4, 4), (1, "y"): (1, 0, 1, 0)}

    def cap(budget):
        r = stop_band_cap_for_budget(priced, budget).collect()[0]
        return (r["priced_pairs"], r["stop_band_occupancy"], r["admitted_pairs"])

    # occupancy histogram: occ=1 -> 0 pairs, occ=4 -> 4 pairs
    assert cap(4) == (4, 4, 4)      # everything fits: cap = max occupancy
    assert cap(3) == (4, 3, 0)      # gap-exact: lead(4)-1, not observed 1
    assert cap(0) == (4, 3, 0)      # zero-price keys always admitted
    with pytest.raises(ValueError):
        stop_band_cap_for_budget(priced, -1)


def test_auto_join_routes_on_streamed_profiles(spark, tmp_path):
    """r9: auto_join fed stream-maintained key profiles — the route
    flips broadcast_b -> shuffle as ingestion grows b past the budget,
    with no profiling scan of either input at plan time, and the
    routed output stays equal to the plain join on both sides of the
    flip."""
    import json
    import os

    from kafka_streams_spark.operators.profiling import auto_join, key_profile
    from kafka_streams_spark.streaming.sketch_stream import (
        read_key_profile,
        run_key_profile_stream,
    )

    src = str(tmp_path / "src")
    prof = str(tmp_path / "prof")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def write(name, rows):
        with open(os.path.join(src, name), "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows))

    a = spark.createDataFrame(
        [(i % 5, f"a{i}") for i in range(40)], "k bigint, va string"
    )
    pa = key_profile(a, "k")

    def routed(b_rows):
        b = spark.createDataFrame(b_rows, "k bigint, vb string")
        out = auto_join(
            a, "k", b, "k",
            broadcast_max_rows=4,
            profile_a=pa,
            profile_b=read_key_profile(spark, prof),
        ).collect()
        want = sorted(
            (r["k"], r["va"], r["vb"]) for r in a.join(b, "k").collect()
        )
        assert sorted((r["k"], r["va"], r["vb"]) for r in out) == want
        return {r["route"] for r in out}.pop()

    # the stream ingests docs whose doc_id stands in for b's join key
    batch1 = [{"doc_id": i % 5, "source": "s", "text": "x"} for i in range(3)]
    q = run_key_profile_stream(spark, src, prof, ckpt, key_col="doc_id")
    try:
        write("b1.json", batch1)
        q.processAllAvailable()
        b1 = [(r["doc_id"], f"b{j}") for j, r in enumerate(batch1)]
        route1 = routed(b1)
        batch2 = [
            {"doc_id": i % 5, "source": "s", "text": "y"} for i in range(9)
        ]
        write("b2.json", batch2)
        q.processAllAvailable()
        b2 = b1 + [(r["doc_id"], f"c{j}") for j, r in enumerate(batch2)]
        route2 = routed(b2)
    finally:
        q.stop()
    assert (route1, route2) == ("broadcast_b", "shuffle")

    import pytest

    with pytest.raises(ValueError, match="both profiles or neither"):
        auto_join(a, "k", a.withColumnRenamed("va", "vb"), "k", profile_a=pa)
