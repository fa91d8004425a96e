"""BPE tokenizer family: train-vs-reference model equality, merge-rank
encode properties, pair-count statistic, and the map-only apply shape."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from kafka_streams_spark.operators.tokenizer import (
    END_OF_WORD,
    encode_word_reference,
    train_bpe_reference,
)

words = st.text(alphabet="abcde", min_size=1, max_size=8)
freq_lists = st.lists(
    st.tuples(words, st.integers(min_value=1, max_value=50)),
    min_size=1,
    max_size=20,
    unique_by=lambda t: t[0],
)


@given(freq_lists, st.integers(min_value=0, max_value=30))
@settings(max_examples=60, deadline=None)
def test_reference_encode_roundtrip_and_rank_greedy(freqs, n_merges):
    """Every encoding concatenates back to word+</w> (lossless), and no
    adjacent piece pair in the output has a merge rank (greedy fixpoint:
    if it had one, the encoder would have applied it)."""
    merges = train_bpe_reference(freqs, n_merges)
    ranks = {p: i for i, p in enumerate(merges)}
    for w, _ in freqs:
        pieces = encode_word_reference(w, ranks)
        assert "".join(pieces) == w + END_OF_WORD
        for a, b in zip(pieces, pieces[1:]):
            assert (a, b) not in ranks, (w, pieces, (a, b))


@given(freq_lists)
@settings(max_examples=30, deadline=None)
def test_reference_train_merges_are_buildable_and_ordered(freqs):
    """Each merge's two sides must themselves be constructible from
    earlier merges or single characters — the defining invariant of a
    valid BPE merge chain."""
    merges = train_bpe_reference(freqs, 40)
    known = {END_OF_WORD}
    for a, b in merges:
        for side in (a, b):
            assert len(side) == 1 or side in known or side == END_OF_WORD, (
                side,
                merges,
            )
        known.add(a + b)


def test_spark_train_equals_reference_on_exact_counts(spark):
    """bpe_train (distributed word counts → driver merge loop) must
    equal train_bpe_reference on the same frequency table."""
    from kafka_streams_spark.operators.tokenizer import bpe_train

    rows = [
        (1, "low lower lowest low low"),
        (2, "new newer newest new"),
        (3, "low new lowest"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    freqs: dict[str, int] = {}
    for _, t in rows:
        for w in t.split():
            freqs[w] = freqs.get(w, 0) + 1
    # reference tie-break is (count desc, word asc) — irrelevant here
    # (counts are exact, no top_words cut)
    want = train_bpe_reference(sorted(freqs.items()), 12)
    got = bpe_train(docs, n_merges=12, top_words=100)
    assert got == want


def test_bpe_apply_matches_reference_encoder_and_is_map_only(spark):
    """The Arrow encode must equal encode_word_reference word by word,
    and the encode must add no exchange of its own (map-only
    application). An input already at floor_width gets a plan with no
    exchange at all; an input below it gets exactly spread()'s one
    round-robin widening to floor_width and no hash/range/single
    shuffle. The session's floor is max(cores, 8), so a local list
    input meets it only on hosts with 8 or more cores — both widths
    are built explicitly to check the same thing on every host."""
    from kafka_streams_spark.functions.partitioning import floor_width
    from kafka_streams_spark.operators.tokenizer import (
        bpe_apply,
        bpe_train,
        encode_word_reference,
    )
    from kafka_streams_spark.plans.audit import audit

    rows = [(1, "low lower lowest"), (2, "new newest LOWER"), (3, "")]
    schema = "doc_id bigint, text string"
    width = floor_width(spark)
    docs = spark.createDataFrame(spark.sparkContext.parallelize(rows, width), schema)
    merges = bpe_train(docs, n_merges=10, top_words=100)
    ranks = {p: i for i, p in enumerate(merges)}
    out = {r["doc_id"]: r for r in bpe_apply(docs, merges).collect()}
    for doc_id, text in rows:
        wordlist = text.lower().split()
        want: list[str] = []
        for w in wordlist:
            want.extend(encode_word_reference(w, ranks))
        assert list(out[doc_id]["pieces"]) == want
        assert out[doc_id]["n_words"] == len(wordlist)
        assert out[doc_id]["n_pieces"] == len(want)
    plan = bpe_apply(docs, merges)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan

    # under the floor: the only exchange allowed is spread()'s widening
    narrow = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    a = audit(bpe_apply(narrow, merges))
    assert a.num_hash_exchanges == 0, a.plan
    assert a.num_exchanges == 1, a.plan
    assert a.plan.count(f"Exchange RoundRobinPartitioning({width})") == 1, a.plan


def test_pair_counts_match_model(spark):
    """bpe_pair_counts == the first iteration's pair statistic of the
    reference trainer."""
    from kafka_streams_spark.operators.tokenizer import bpe_pair_counts

    rows = [(1, "aa ab aa"), (2, "ba aa")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    freqs: dict[str, int] = {}
    for _, t in rows:
        for w in t.split():
            freqs[w] = freqs.get(w, 0) + 1
    counts: dict[tuple[str, str], int] = {}
    for w, n in freqs.items():
        syms = list(w) + [END_OF_WORD]
        for p in zip(syms, syms[1:]):
            counts[p] = counts.get(p, 0) + n
    want = sorted(
        ((a, b, n) for (a, b), n in counts.items()),
        key=lambda t: (-t[2], t[0], t[1]),
    )[:5]
    got = [
        (r["sym_a"], r["sym_b"], r["n"])
        for r in bpe_pair_counts(docs, top_pairs=5).collect()
    ]
    assert got == want


def test_fertility_and_piece_counts_contract_shapes(spark, sf_dir):
    """Contract surfaces: fertility ≥ stays finite on empty docs;
    piece counts aggregate to the corpus total piece count."""
    from pyspark.sql import functions as F

    from kafka_streams_spark.operators.tokenizer import (
        bpe_apply,
        bpe_piece_counts,
        bpe_token_stats,
        bpe_train,
    )
    from kafka_streams_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents").limit(60)
    merges = bpe_train(docs, n_merges=20, top_words=200)
    stats = bpe_token_stats(docs, merges)
    r = stats.agg(
        F.sum("n_pieces").alias("p"), F.min("fertility").alias("fmin")
    ).collect()[0]
    assert r["fmin"] >= 1.0  # a word is at least one piece
    top = bpe_piece_counts(docs, merges, top_pieces=10**6)
    assert top.agg(F.sum("n")).collect()[0][0] == r["p"]
    enc = bpe_apply(docs, merges)
    assert enc.filter(F.col("n_pieces") < F.col("n_words")).count() == 0


def test_bpe_merges_roundtrip_and_gates(spark, sf_dir, tmp_path):
    """Persisted tokenizer: roundtrip equality, self-consistency
    fingerprint, loud version-mismatch gate, encode-equality through
    the artifact."""
    import pytest

    from kafka_streams_spark.operators.tokenizer import (
        bpe_apply,
        bpe_train,
        read_bpe_merges,
        write_bpe_merges,
    )
    from kafka_streams_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents").limit(40)
    merges = bpe_train(docs, n_merges=15, top_words=100)
    path = str(tmp_path / "tok")
    write_bpe_merges(spark, merges, path)
    loaded = read_bpe_merges(spark, path, expect=merges)
    assert loaded == merges
    via_artifact = sorted(
        map(tuple, bpe_apply(docs, loaded).select("doc_id", "n_pieces").collect())
    )
    direct = sorted(
        map(tuple, bpe_apply(docs, merges).select("doc_id", "n_pieces").collect())
    )
    assert via_artifact == direct
    other = bpe_train(docs, n_merges=5, top_words=100)
    with pytest.raises(ValueError, match="different tokenizer version"):
        read_bpe_merges(spark, path, expect=other)
