"""Byte-pair-encoding tokenizer training and application — the
tokenizer leg of an LLM data pipeline (token budgeting, fertility
audits, vocabulary design), built Spark-first.

Classic BPE (Sennrich et al. 2016, "Neural Machine Translation of Rare
Words with Subword Units", arXiv 1508.07909; the GPT-2 merge-rank
encoder from Radford et al. 2019) trains on the WORD-FREQUENCY table,
not the raw corpus — that is the scale split this module keeps:

- the 100 TB work is ONE corpus scan into a (word, count) aggregation
  (map-side combined), capped to the top-V words by count — V is a
  design choice (10-50k typical), so the table the merge loop sees is
  BOUNDED and the iterative merge learning is a driver-side step on a
  few thousand rows, exactly the engine's learned-step convention
  (k-means IVF cells, PQ codebooks, whitening eigenbasis);
- applying the learned merges back to the full corpus is an Arrow
  mapInPandas pass with a per-distinct-word encode cache — map-only,
  no shuffle, embarrassingly parallel.

The iterative merge chain IS SQL-expressible over the bounded word
table (a recursive CTE whose per-round argmax matches
:func:`train_bpe_reference` exactly — see ``oracles._bpe_cte``), so the
trained-tokenizer contracts hash-check end to end since round 8:
training, encoding (the oracle applies merges as sequential
leftmost-non-overlapping replaces, provably equal to this module's
GPT-2 merge-rank walk for any trained merge list), and the downstream
stats. :func:`bpe_pair_counts` remains the per-round statistic as a
first-class audit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_streams_spark.operators.dedup import tokens

END_OF_WORD = "</w>"


def word_counts(
    docs: DataFrame, top_words: int | None = None, text_col: str = "text"
) -> DataFrame:
    """The (word, n) table BPE trains on: lowercased whitespace words,
    one explode → one map-side-combined aggregation; ``top_words`` caps
    it with TakeOrderedAndProject (each partition forwards at most V
    rows — no global sort) under the deterministic (n desc, word)
    order. Output: (word, n)."""
    wc = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    if top_words is not None:
        wc = wc.orderBy(F.col("n").desc(), F.col("word")).limit(top_words)
    return wc


def _symbols(word: Column) -> Column:
    """Initial symbol sequence of a word: its characters plus the
    end-of-word marker (the Sennrich convention that lets BPE learn
    suffixes)."""
    return F.concat(F.split(word, ""), F.array(F.lit(END_OF_WORD)))


def bpe_pair_counts(
    docs: DataFrame,
    top_words: int | None = None,
    top_pairs: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """The statistic one BPE merge round maximizes, as a first-class
    audit: adjacent initial-symbol pairs weighted by word frequency,
    top ``top_pairs`` by (count desc, pair) — fully expression-level
    (char split + zip_with shift + explode), so DuckDB reproduces it
    and the driver's oracle gate covers the distributed half of
    training. Output: (sym_a, sym_b, n)."""
    wc = word_counts(docs, top_words=top_words, text_col=text_col)
    syms = _symbols(F.col("word"))
    pairs = F.zip_with(
        F.slice(syms, 1, F.size(syms) - 1),
        F.slice(syms, 2, F.size(syms) - 1),
        lambda a, b: F.struct(a.alias("sym_a"), b.alias("sym_b")),
    )
    return (
        wc.select(F.col("n"), F.explode(pairs).alias("p"))
        .groupBy(F.col("p.sym_a").alias("sym_a"), F.col("p.sym_b").alias("sym_b"))
        .agg(F.sum("n").alias("n"))
        .orderBy(F.col("n").desc(), "sym_a", "sym_b")
        .limit(top_pairs)
    )


def train_bpe_reference(freqs: list[tuple[str, int]], n_merges: int) -> list[tuple[str, str]]:
    """Pure-Python BPE merge learning over a (word, count) list — the
    driver-side learned step (and the model the hypothesis tests pin
    the Spark compositions against). Deterministic: argmax pair by
    (count, then lexicographically smallest pair) each round; stops
    early when no pair occurs twice."""
    seqs: list[tuple[list[str], int]] = [
        (list(w) + [END_OF_WORD], n) for w, n in freqs
    ]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, n in seqs:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + n
        if not counts:
            break
        # (count desc, pair asc) — a total deterministic order
        pair, cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break
        merges.append(pair)
        a, b = pair
        ab = a + b
        for syms, _ in seqs:
            i = 0
            while i < len(syms) - 1:
                if syms[i] == a and syms[i + 1] == b:
                    syms[i : i + 2] = [ab]
                else:
                    i += 1
    return merges


def bpe_train(
    docs: DataFrame,
    n_merges: int = 200,
    top_words: int = 5000,
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """Learn a ranked merge list from the corpus: one distributed
    word-count scan capped to ``top_words`` (the bounded table), then
    :func:`train_bpe_reference` on the driver — the learned-step
    convention (the 100 TB cost is the scan; the merge loop touches
    ≤ top_words rows). Returns merges ranked by learning order."""
    freqs = [
        (r["word"], r["n"])
        for r in word_counts(docs, top_words=top_words, text_col=text_col).collect()
    ]
    return train_bpe_reference(freqs, n_merges)


def encode_word_reference(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """GPT-2-style merge-rank encoder for one word: repeatedly apply
    the LOWEST-rank applicable merge until none applies. Pure Python —
    used inside the Arrow closure and as the test model."""
    syms = list(word) + [END_OF_WORD]
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i, pair in enumerate(zip(syms, syms[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_apply(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encode every document with a learned merge list: Arrow
    mapInPandas, merges shipped by value in the closure (bounded —
    n_merges entries), per-distinct-word encode cache (vocabularies
    repeat heavily, so each distinct word pays the merge walk once per
    batch worker). Map-only: the encode adds no shuffle, so the 100 TB
    application cost is exactly one pass. An input with fewer
    partitions than :func:`~kafka_streams_spark.functions.partitioning.floor_width`
    gets ``spread()``'s one round-robin widening first — a no-op at
    real scale, where scans already exceed the floor.

    Output: (id, n_words, n_pieces, pieces array<string>) — pieces in
    document order; n_pieces/n_words is the tokenizer's fertility.
    """
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    id_field = docs.schema[id_col]
    out_schema = StructType(
        [
            id_field,
            StructField("n_words", LongType()),
            StructField("n_pieces", LongType()),
            StructField("pieces", ArrayType(StringType())),
        ]
    )
    merge_list = [tuple(m) for m in merges]

    # self-contained closure: shipped by value to Python workers
    def process(batches):
        import re as _re

        import pandas as _pd

        ranks = {pair: i for i, pair in enumerate(merge_list)}
        eow = "</w>"
        cache: dict[str, list[str]] = {}
        # the SAME whitespace class as dedup.tokens() / the oracle's
        # \s+ (Java regex and RE2 both mean the 6 ASCII chars) — bare
        # str.split() would additionally split on unicode whitespace
        # (\xa0,  , \x1c-\x1f) and silently tokenize differently
        # from word_counts, the table the merges were trained on
        ws = _re.compile(r"[ \t\n\x0b\x0c\r]+")

        def enc(word: str) -> list[str]:
            got = cache.get(word)
            if got is None:
                syms = list(word) + [eow]
                while len(syms) > 1:
                    best_rank = None
                    best_i = -1
                    for i, pair in enumerate(zip(syms, syms[1:])):
                        r = ranks.get(pair)
                        if r is not None and (best_rank is None or r < best_rank):
                            best_rank, best_i = r, i
                    if best_rank is None:
                        break
                    syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
                got = syms
                cache[word] = got
            return got

        for pdf in batches:
            ids, n_words, n_pieces, pieces = [], [], [], []
            for i, text in zip(pdf[id_col], pdf[text_col]):
                words = [w for w in ws.split((text or "").lower()) if w]
                ps: list[str] = []
                for w in words:
                    ps.extend(enc(w))
                ids.append(i)
                n_words.append(len(words))
                n_pieces.append(len(ps))
                pieces.append(ps)
            yield _pd.DataFrame(
                {
                    id_col: ids,
                    "n_words": n_words,
                    "n_pieces": n_pieces,
                    "pieces": pieces,
                }
            )

    # parallelism floor on the Python-stage input: a single-file scan
    # otherwise runs the whole encode pass on one worker; no-op at real
    # scale, where the input already has floor_width partitions.
    from kafka_streams_spark.functions.partitioning import spread

    return spread(docs.select(id_col, text_col)).mapInPandas(
        process, schema=out_schema
    )


def bpe_token_stats(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document token-budget view of a trained tokenizer:
    (id, n_words, n_pieces, fertility). The contract surface for
    :func:`bpe_apply` without shipping the piece arrays."""
    enc = bpe_apply(docs, merges, id_col=id_col, text_col=text_col)
    return enc.select(
        F.col(id_col),
        "n_words",
        "n_pieces",
        (
            F.col("n_pieces").cast("double")
            / F.greatest(F.col("n_words"), F.lit(1)).cast("double")
        ).alias("fertility"),
    )


def bpe_piece_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    top_pieces: int = 30,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus piece-frequency table of a trained tokenizer (the
    what-did-my-vocab-learn audit): explode pieces → one map-side-
    combined aggregation → top ``top_pieces`` by (n desc, piece).
    Output: (piece, n)."""
    enc = bpe_apply(docs, merges, id_col=id_col, text_col=text_col)
    return (
        enc.select(F.explode("pieces").alias("piece"))
        .groupBy("piece")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "piece")
        .limit(top_pieces)
    )


def merges_fingerprint(merges: list[tuple[str, str]]) -> str:
    """md5 of the ranked merge list — the tokenizer's version id. Two
    corpora encoded with different merge lists have incomparable token
    counts (the PQ-codebook lesson), so the fingerprint travels with
    every persisted artifact and readers gate on it."""
    import hashlib
    import json

    return hashlib.md5(
        json.dumps([list(m) for m in merges], separators=(",", ":")).encode()
    ).hexdigest()


def write_bpe_merges(spark, merges: list[tuple[str, str]], path: str) -> None:
    """Persist a trained tokenizer as a (rank, sym_a, sym_b) parquet —
    the versioned corpus artifact a recurring pipeline loads instead of
    retraining (training is deterministic, but only over the SAME
    corpus snapshot; an incremental corpus would silently learn a
    different vocabulary each day). The merge-list fingerprint rides as
    column metadata on ``rank`` for the reader gate."""
    fp = merges_fingerprint(merges)
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, sym_a string, sym_b string",
    ).withMetadata("rank", {"merges_md5": fp, "n_merges": len(merges)})
    df.coalesce(1).write.mode("overwrite").parquet(path)


def read_bpe_merges(
    spark, path: str, expect: list[tuple[str, str]] | None = None
) -> list[tuple[str, str]]:
    """Load a persisted tokenizer back into the ranked merge list
    :func:`bpe_apply` consumes; when ``expect`` is passed (e.g. the
    merges a downstream config was built for), reject a fingerprint
    mismatch loudly instead of encoding with the wrong vocabulary."""
    df = spark.read.parquet(path)
    meta = df.schema["rank"].metadata
    rows = df.orderBy("rank").collect()
    merges = [(r["sym_a"], r["sym_b"]) for r in rows]
    if meta.get("merges_md5") != merges_fingerprint(merges):
        raise ValueError(
            f"BPE merges at {path} do not match their stamped fingerprint "
            "(artifact corrupted or hand-edited)"
        )
    if expect is not None and merges_fingerprint(expect) != merges_fingerprint(merges):
        raise ValueError(
            f"BPE merges at {path} are a different tokenizer version "
            f"(md5 {merges_fingerprint(merges)} != {merges_fingerprint(expect)})"
        )
    return merges
