"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the exact baseline; hyperplane-LSH bucketing
is the scale path (search touches one bucket instead of the full corpus).
All vector math is JVM-side Column expressions (functions.vectors) — the
64-dim dot product runs inside whole-stage codegen; nothing crosses the
Python boundary per row.
"""

from __future__ import annotations

import functools
import math
import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_streams_spark.functions.vectors import cosine_similarity, dot


def _round_half_up6(x: "np.ndarray") -> "np.ndarray":
    """Sign-aware HALF_UP rounding to 6 dp for the Arrow paths.

    np.round is banker's (half-to-even); Spark F.round and DuckDB round
    are HALF_UP (away from zero). A cosine landing exactly on a
    representable half at the 7th decimal would make the Arrow and
    expression forms disagree — vanishingly rare for float64, but the
    cross-form equality is a stated contract, so all engines share one
    rule."""
    return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6


def finite_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """NULL/NaN-component quarantine shared by every ANN entry point.

    A vector with a NaN component poisons each physical form
    DIFFERENTLY — Spark sorts NaN FIRST under desc and its nan-safe
    compare treats NaN >= t as TRUE, while numpy sorts NaN last and
    compares False — so the expression and Arrow twins whose equality
    is a pinned contract would silently disagree, greedy k-center
    re-picks already-picked rows (np.minimum(x, NaN) destroys the
    picked-row masks), and a NULL signature sorts ahead of every real
    hamming candidate. Quarantining at entry (the isNotNull convention
    the Arrow paths already used, extended to NaN) keeps every form
    agreeing trivially (r10 review fix).

    Implementation (r11 perf fix): ``isnan(array_max(v))`` instead of
    an ``exists`` HOF — Spark orders NaN greater than every float, so
    array_max returns NaN iff any component is NaN, in a plain codegen
    loop with no lambda-variable overhead or per-element cast (measured
    4× cheaper on the binarize hot path, where the r10 HOF form showed
    up as a 1.2–1.3× interleaved-A/B regression on the hamming bench
    family). The coalesce keeps the HOF's exact semantics for the two
    divergent inputs: empty arrays and all-NULL-component arrays give
    array_max NULL (isnan NULL) where exists gave false — both must
    stay KEPT, since the quarantine contract drops only NULL vectors
    and vectors with a real NaN component."""
    c = F.col(vec_col)
    # NOTE (r14): a blanket spread() here was A/B'd and rejected — it
    # wins on the exact-scoring paths (knn_batch 0.62x) but the
    # ivfpq/auto paths call this gate from many sub-operators and each
    # paid the probe + round-robin exchange (knn_auto_vec0 1.36x,
    # knn_ivfpq_res_vec0 1.32x). The parallelism floor is applied
    # selectively at the few serial hot paths instead (knn_batch_to_ids,
    # knn_to_id, k-center).
    return df.filter(
        c.isNotNull()
        & ~F.coalesce(F.isnan(F.array_max(c)), F.lit(False))
    )


def _check_query_vec(query_vec: list[float], dim: int | None = None) -> None:
    """Reject degenerate literal query vectors up front: a NaN
    component makes the driver-side Python sign (nan >= 0 is False)
    disagree with the JVM's nan-safe compare (NaN >= 0 is true), so
    the probe set misses the bucket the index put the same vector in;
    a length mismatch is silently truncated by zip driver-side while
    the JVM null-pads — both produce wrong candidates with no error
    (r10 review fix)."""
    if any(x != x for x in query_vec):
        raise ValueError("query vector contains NaN")
    if dim is not None and len(query_vec) != dim:
        raise ValueError(
            f"query vector has {len(query_vec)} components, index "
            f"planes expect {dim}"
        )


def _floats_sql(xs: list[float]) -> str:
    """SQL text for a literal array<double> — ONE ``F.expr`` parse
    instead of len(xs)+1 py4j round trips (r11 perf fix: literal-heavy
    plan CONSTRUCTION, not execution, dominated the PQ/LSH bench
    queries — pq_encode spent 2.5 s of its 3.1 s building Columns).
    ``repr`` of a Python float is the shortest round-tripping decimal;
    Spark's literal parser converts via BigDecimal → nearest double, so
    the value is bit-identical to ``F.lit(float(x))``. Raises on
    non-finite components (callers with a degenerate-input contract
    check first)."""
    parts = []
    for x in xs:
        x = float(x)
        if not math.isfinite(x):
            raise ValueError(f"non-finite literal {x!r} in vector literal")
        parts.append(repr(x) + "D")
    return "array(" + ",".join(parts) + ")"


def _ints_sql(xs: list[int]) -> str:
    """SQL text for a literal array<bigint> (see :func:`_floats_sql`)."""
    return "array(" + ",".join(f"{int(x)}L" for x in xs) + ")"


def _sqdist_sql(a_sql: str, b_sql: str) -> str:
    """SQL text of the exact integer squared L2 between two bigint
    array expressions — the :func:`_int_sqdist` arithmetic verbatim."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> (x - y) * (x - y)), "
        f"0L, (acc, v) -> acc + v)"
    )


def _quoted(col_name: str) -> str:
    """Backtick-quote a USER-provided column name for the SQL-text
    builders (a name like ``my vec`` would otherwise break the parse;
    internal fixed aliases like ``_q``/``_s0`` skip this)."""
    return "`" + col_name.replace("`", "``") + "`"


def _query_lit(query_vec: list[float]) -> Column:
    try:
        return F.expr(_floats_sql(query_vec))
    except ValueError:
        # degenerate (NaN/Inf) literals keep the element-wise path so
        # their documented NaN-propagation behavior is unchanged
        return F.array(*[F.lit(float(x)) for x in query_vec])


def knn_brute_force(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector.

    orderBy(limit k) compiles to TakeOrderedAndProject — each partition
    keeps a k-heap, the driver merges per-partition winners; no global
    sort shuffle. Output: (vec_id, cosine_sim) descending.
    """
    scored = embeddings.select(
        F.col(id_col),
        F.round(
            cosine_similarity(F.col(vec_col), _query_lit(query_vec)), 6
        ).alias("cosine_sim"),
    )
    return scored.orderBy(F.col("cosine_sim").desc(), F.col(id_col)).limit(k)


def knn_to_id(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors of the corpus vector with id ``query_id`` —
    the self-contained variant (query vector comes from the table itself
    via a broadcast single-row cross join, so no driver collect and no
    literal vector in the plan).

    Ranking note (r7 self-review item, shipped r8): every single-query
    knn path now ranks on the ROUNDED (6 dp) similarity with id
    tiebreak — the same contract as knn_batch_to_ids — and the oracle
    ORDER BYs rank on the identical rounded value. Ranking on raw
    doubles was bit-identical cross-engine only because both engines
    fold the cosine sequentially in the same order; rounded-rank makes
    the k-set robust to either engine changing its fold order.

    Quarantine note (r12, ADVICE): this is the exact leg of every
    recall audit, so it quarantines NaN vectors at entry like the rest
    of the ANN family — without it a NaN corpus row ranks FIRST under
    desc (Spark orders NaN above every float) and the fused hamming
    audit (which ranks over a quarantined corpus) would no longer be
    comparable side-by-side with the other audit methods."""
    from kafka_streams_spark.functions.partitioning import spread

    # Parallelism floor (r14, measured): a single-file embeddings scan
    # is one partition, so the interpreted cosine fold (higher-order
    # functions never enter whole-stage codegen) ran serially on one
    # task. spread() widens the corpus side to defaultParallelism — a
    # no-op at real scale. Applied HERE (the exact leg every recall
    # audit shares) and in knn_batch_to_ids/kcenter_select, NOT in the
    # shared finite_vectors gate: the blanket form was A/B'd and the
    # many-small-stage ivfpq paths regressed 1.3x (probe + exchange per
    # sub-operator) while the exact legs win 0.6-0.9x.
    embeddings = spread(finite_vectors(embeddings, vec_col))
    q = embeddings.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qvec")
    )
    scored = embeddings.crossJoin(F.broadcast(q)).select(
        F.col(id_col),
        cosine_similarity(F.col(vec_col), F.col("_qvec")).alias("_sim"),
    )
    return (
        scored.orderBy(F.round("_sim", 6).desc(), F.col(id_col))
        .limit(k)
        .select(F.col(id_col), F.round("_sim", 6).alias("cosine_sim"))
    )


def knn_batch_to_ids(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batched exact top-k: neighbors of SEVERAL corpus vectors in one
    pass — the ANN-evaluation / recommendation shape (score a query set,
    not one vector). Collect-free: the query rows come from the corpus
    via a broadcast semi-side, so constructing the plan runs no jobs.

    Ranks by ROUNDED similarity (6 dp) with id tiebreak: ranking on raw
    doubles is unstable across engines at the last ulp, and a contract
    query must produce the identical k-set everywhere.

    Shape: broadcast-nested-loop join (|Q| tiny) → codegen'd cosine →
    one shuffle of |corpus|·|Q| narrow rows into |Q| rank partitions.
    That final window is the toy-scale/oracle form; at 100 TB use
    :func:`knn_batch_arrow`, which pre-top-ks per partition map-side so
    only k·|Q| rows per partition ever shuffle.

    Output: (query_id, vec_id, cosine_sim, rank), rank 1..k per query.
    """
    from pyspark.sql import Window

    from kafka_streams_spark.functions.partitioning import spread

    # Parallelism floor on the corpus side (r14 — see knn_to_id): the
    # serial normalize+dot stage was 1.8 s CPU on one task at sf0.1;
    # widened, knn_batch A/B'd 0.62x and knn_text_vec0 0.72x.
    embeddings = spread(finite_vectors(embeddings, vec_col))

    # Pre-normalize both sides once (the _normalized pattern, inlined):
    # per
    # (row, query) pair the cosine is then ONE dot product, not
    # dot + two norms — the norm fold would otherwise re-run |Q| times
    # per corpus row.
    from kafka_streams_spark.functions.vectors import l2_norm

    norm = l2_norm(F.col(vec_col))
    u = F.when(norm == 0, F.col(vec_col)).otherwise(
        F.transform(F.col(vec_col), lambda x: x.cast("double") / norm)
    )
    unit = embeddings.select(F.col(id_col), u.alias("_unit"))
    q = unit.filter(F.col(id_col).isin([int(i) for i in query_ids])).select(
        F.col(id_col).alias("query_id"), F.col("_unit").alias("_qvec")
    )
    scored = unit.crossJoin(F.broadcast(q)).select(
        "query_id",
        F.col(id_col),
        F.round(dot(F.col("_unit"), F.col("_qvec")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine_sim", F.col("rank").cast("int").alias("rank"))
    )


def knn_batch_arrow(
    embeddings: DataFrame,
    query_vecs: dict[int, list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale path of :func:`knn_batch_to_ids`: exact batched top-k with
    map-side partial reduction. One Arrow `mapInPandas` pass computes,
    per input batch, the top-k candidates for EVERY query with one numpy
    matmul (batch × query-matrix); only k·|Q| rows per batch survive to
    the (tiny) global re-rank. The corpus itself never shuffles — the
    100 TB cost is one scan plus a k·|Q|·n_batches-row window.

    Queries are literal vectors (plain Python, e.g. from a config or a
    prior `.collect()` OUTSIDE query construction), so the plan builds
    without running jobs. Exactness: per-batch top-k + global top-k over
    batch winners is lossless for a fixed query set.

    Result matches knn_batch_to_ids (same rounded-rank contract); the
    equality is pinned in tests.
    """
    from collections.abc import Iterator

    from pyspark.sql import Window

    for v in query_vecs.values():
        _check_query_vec(v)  # NaN queries rank differently per form

    qids = sorted(query_vecs)
    Q = np.asarray([query_vecs[i] for i in qids], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
    qid_arr = np.asarray(qids, dtype=np.int64)

    def topk_per_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
            sims = Mn @ Qn.T  # (batch, |Q|)
            kk = min(k, len(pdf))
            ids = pdf[id_col].to_numpy()
            out = []
            for qi in range(len(qids)):
                # Select under the CONTRACT order (rounded sim desc, id
                # asc) — selecting on raw sims could disagree with the
                # global re-rank on a 6-dp tie at the k boundary.
                rounded = _round_half_up6(sims[:, qi])
                top = np.lexsort((ids, -rounded))[:kk]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qid_arr[qi],
                            id_col: ids[top],
                            "cosine_sim": rounded[top],
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    # NULL embeddings would np.stack-crash the Arrow pass (the
    # embedding_gram quarantine generalized, r7 self-review) and the
    # id field follows the input schema (string ids are in-contract —
    # the kcenter_select convention).
    id_t = embeddings.schema[id_col].dataType.simpleString()
    partial = finite_vectors(embeddings, vec_col).mapInPandas(
        topk_per_batch, f"query_id long, {id_col} {id_t}, cosine_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col)
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine_sim", F.col("rank").cast("int").alias("rank"))
    )


def max_benchmark_cosine(
    train: DataFrame,
    bench: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic decontamination: per training vector, the max cosine
    against ANY benchmark vector, plus a `contaminated` flag — the
    embedding-space analog of n-gram decontamination (paraphrased eval
    leakage that n-gram overlap misses).

    Shape: benchmark sets are small (eval suites: 10³–10⁵ rows), so the
    bench side broadcasts; scoring is a codegen'd cosine over the
    broadcast-nested-loop product and the max folds in ONE map-side
    partial aggregation keyed on the training id — the only exchange
    carries one row per training vector. Max is order-insensitive, so no
    cross-engine instability beyond the 6-dp rounding of the score.

    At 100 TB prefer :func:`max_benchmark_cosine_arrow`: same contract,
    but the per-batch numpy matmul emits the max directly — zero
    exchanges, nothing but the scan.
    """
    from kafka_streams_spark.functions.vectors import l2_norm

    # same NULL/NaN quarantine as the Arrow twin — without it the two
    # forms disagree on NaN rows (Spark NaN >= t is true, numpy False)
    train = finite_vectors(train, vec_col)
    bench = finite_vectors(bench, vec_col)

    # Pre-normalize BOTH sides once so the per-pair work is a single dot
    # product: cosine_similarity() recomputes both norms for every
    # (train, bench) pair — 3 array-folds per pair instead of 1, and the
    # pair count is |train|·|bench|. Zero-norm vectors map to all-zero
    # units (dot 0 ≡ the cosine-0 convention). NOTE: the DuckDB oracles
    # call list_cosine_similarity directly, which yields an arbitrary
    # value (-1.0 observed) on a zero vector — the contract presumes no
    # zero-norm embeddings in the data, pinned by
    # tests/test_extended_ops.py::test_no_zero_norm_embeddings.
    def unit(col: Column) -> Column:
        n = l2_norm(col)
        safe = F.when(n > 0, n).otherwise(F.lit(1.0))
        return F.transform(col, lambda x: x.cast("double") / safe)

    b = bench.select(unit(F.col(vec_col)).alias("_bvec"))
    t = train.select(F.col(id_col), unit(F.col(vec_col)).alias("_tvec"))
    scored = t.crossJoin(F.broadcast(b)).select(
        F.col(id_col),
        dot(F.col("_tvec"), F.col("_bvec")).alias("_sim"),
    )
    return scored.groupBy(id_col).agg(
        F.round(F.max("_sim"), 6).alias("max_benchmark_cosine")
    ).select(
        id_col,
        "max_benchmark_cosine",
        (F.col("max_benchmark_cosine") >= F.lit(float(threshold))).alias(
            "contaminated"
        ),
    )


def max_benchmark_cosine_arrow(
    train: DataFrame,
    bench_vecs: list[list[float]],
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale path of :func:`max_benchmark_cosine`: the benchmark matrix
    is a literal (plain Python, collected OUTSIDE query construction),
    and one Arrow `mapInPandas` pass emits (id, max_cosine, flag) per
    row — a pure map over the corpus scan, zero exchanges. Equality with
    the expression form is pinned in tests (same 6-dp HALF_UP rounding).

    An empty benchmark set is rejected up front (the (n,0) matmul would
    raise per-batch; the expression twin would silently return zero
    rows — neither is a sane decontamination answer)."""
    from collections.abc import Iterator

    if not bench_vecs:
        raise ValueError("bench_vecs must be non-empty")
    for v in bench_vecs:
        _check_query_vec(v)
    B = np.asarray(bench_vecs, dtype=np.float64)
    Bn = B / np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-300)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
            mx = _round_half_up6((Mn @ Bn.T).max(axis=1))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "max_benchmark_cosine": mx,
                    "contaminated": mx >= float(threshold),
                }
            )

    # same NULL quarantine + schema-derived id type as knn_batch_arrow
    id_t = train.schema[id_col].dataType.simpleString()
    return finite_vectors(train, vec_col).mapInPandas(
        score,
        f"{id_col} {id_t}, max_benchmark_cosine double, contaminated boolean",
    )


def hyperplane_signature(
    vec_col: Column | str, planes: list[list[float]]
) -> Column:
    """LSH bucket id: sign-bit signature of dot products against fixed
    random hyperplanes, packed into one bigint.

    Pass the column NAME where possible: the string form compiles the
    whole signature as ONE parsed expression (the `_floats_sql`
    construction-cost fix — the Column form costs n_planes·(dim+3)
    py4j round trips, ~0.5 s of driver time per index build at 6×64).
    Arithmetic is identical: same left-fold dot product, same
    ``>= 0`` sign rule (NaN compares greater, so a NaN component sets
    the bit in both forms)."""
    if isinstance(vec_col, str):
        if not planes:  # degenerate: empty signature == bucket 0
            return F.lit(0).cast("bigint")
        vec_sql = _quoted(vec_col)
        terms = " + ".join(
            f"IF(aggregate(zip_with({vec_sql}, {_floats_sql(p)}, "
            f"(x, y) -> cast(x as double) * y), 0D, (acc, v) -> acc + v) "
            f">= 0, {1 << i}L, 0L)"
            for i, p in enumerate(planes)
        )
        return F.expr(f"cast(0 as bigint) + {terms}")
    sig = F.lit(0).cast("bigint")
    for i, p in enumerate(planes):
        sig = sig + F.when(dot(vec_col, _query_lit(p)) >= 0, F.lit(1 << i).cast("bigint")).otherwise(0)
    return sig


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (driver-side, tiny — broadcast
    as literals into the plan)."""
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def build_lsh_index(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[float]]]:
    """Assign every vector a hyperplane-LSH bucket.

    At scale, write this out partitioned/bucketed by `bucket` so queries
    prune to one file group: 2^n_planes buckets ≈ corpus/2^n per bucket.
    """
    planes = random_hyperplanes(dim, n_planes, seed)
    indexed = embeddings.withColumn("bucket", hyperplane_signature(vec_col, planes))
    return indexed, planes


def _probe_set(
    planes: list[list[float]], query_vec: list[float], multiprobe_hamming: int
) -> list[int]:
    """The multi-probe LSH bucket set shared by :func:`knn_lsh` and
    :func:`knn_from_index` — ONE definition (the written-index path
    previously stopped at 1-bit flips while the in-memory path honored
    h=2, so identical parameters scanned different candidate sets; r7
    self-review find)."""
    _check_query_vec(query_vec, dim=len(planes[0]) if planes else None)
    qsig = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(p, query_vec)) >= 0:
            qsig |= 1 << i
    probes = [qsig]
    if multiprobe_hamming >= 1:
        probes += [qsig ^ (1 << i) for i in range(len(planes))]
    if multiprobe_hamming >= 2:
        probes += [
            qsig ^ (1 << i) ^ (1 << j)
            for i in range(len(planes))
            for j in range(i + 1, len(planes))
        ]
    return probes


def knn_lsh(
    indexed: DataFrame,
    planes: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: score only vectors whose bucket is within
    `multiprobe_hamming` bit-flips of the query's bucket (multi-probe LSH
    recovers recall lost to boundary effects without touching the rest of
    the corpus). Bucket membership is a pushdown-able integer predicate.
    """
    probes = _probe_set(planes, query_vec, multiprobe_hamming)
    cand = indexed.filter(F.col("bucket").isin(probes))
    return (
        cand.select(
            F.col(id_col),
            F.round(
                cosine_similarity(F.col(vec_col), _query_lit(query_vec)), 6
            ).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def knn_lsh_to_id(
    indexed: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k neighbors of corpus vector ``query_id`` — the
    collect-free twin of :func:`knn_lsh`: the query row (vector + its
    already-computed bucket) comes from the index itself via a broadcast
    single-row cross join, so constructing the query runs no driver-side
    job. The multi-probe set "buckets within ``multiprobe_hamming`` bit
    flips" becomes a ``bit_count(bucket XOR q)`` predicate — identical
    candidates to enumerating the probes. (Against a *written* index,
    prefer :func:`knn_from_index`: enumerated probes land on a partition
    column and prune files; xor-popcount cannot.)"""
    q = indexed.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qvec"), F.col("bucket").alias("_qbucket")
    )
    cand = indexed.crossJoin(F.broadcast(q)).filter(
        F.bit_count(F.col("bucket").bitwiseXOR(F.col("_qbucket")))
        <= multiprobe_hamming
    )
    return (
        cand.select(
            F.col(id_col),
            F.round(
                cosine_similarity(F.col(vec_col), F.col("_qvec")), 6
            ).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def build_ivf_index(
    embeddings: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF (inverted-file) index: KMeans-partition the corpus into cells;
    each query scans only the nearest cell(s).

    vs hyperplane LSH: IVF cells adapt to the data distribution (learned
    centroids), giving better recall/scan-fraction on clustered
    embeddings at the cost of a training pass. Training uses pyspark.ml
    KMeans (distributed Lloyd's); assignment is a broadcast
    nearest-centroid argmin in pure Column expressions, so indexing N
    vectors is one scan + one small ML fit on a sample.

    Returns (indexed_df with `cell` column, centroids).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = embeddings.select(array_to_vector(F.col(vec_col)).alias("features"))
    model = KMeans(k=n_cells, seed=seed, maxIter=10).fit(train)
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    indexed = embeddings.withColumn(
        "cell", _nearest_centroid(_quoted(vec_col), centroids)
    )
    return indexed, centroids


def _float_sqdist_sql(vec_sql: str, c: list[float]) -> str:
    """SQL text of the double squared L2 between a vector column and a
    literal centroid — the `_nearest_centroid` arithmetic verbatim
    (cast-per-element, 0.0 seed, left fold)."""
    return (
        f"aggregate(zip_with({vec_sql}, {_floats_sql(c)}, "
        f"(x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), "
        f"0D, (acc, v) -> acc + v)"
    )


def _nearest_centroid(vec_sql: str, centroids: list[list[float]]) -> Column:
    """argmin over squared L2 distance to each centroid — a flat
    distances array + ``array_position(dists, array_min(dists))``
    (JVM-side; centroids are plan literals, the whole argmin ONE parsed
    expression — the `_floats_sql` construction-cost fix). Linear
    expression size in n_cells; a chained ``when(closer,
    d).otherwise(best_d)`` fold would copy the running best into each
    branch and grow the tree 2^n."""
    dists_sql = "array(" + ",".join(
        _float_sqdist_sql(vec_sql, c) for c in centroids
    ) + ")"
    return F.expr(
        f"cast(array_position({dists_sql}, array_min({dists_sql})) - 1 "
        f"as int)"
    )


def knn_ivf(
    indexed: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: scan only the `n_probe` cells whose centroids
    are closest to the query. Cell membership is an integer predicate —
    partition/bucket the index by `cell` on disk and the scan prunes."""
    def d2(c: list[float]) -> float:
        return sum((a - b) ** 2 for a, b in zip(query_vec, c))

    probes = sorted(range(len(centroids)), key=lambda i: d2(centroids[i]))[:n_probe]
    cand = indexed.filter(F.col("cell").isin(probes))
    return (
        cand.select(
            F.col(id_col),
            F.round(
                cosine_similarity(F.col(vec_col), _query_lit(query_vec)), 6
            ).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def knn_ivf_to_id(
    indexed: DataFrame,
    centroids: list[list[float]],
    query_id: int,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k neighbors of corpus vector ``query_id`` — the
    collect-free twin of :func:`knn_ivf`. The query vector comes from the
    index via a broadcast single-row cross join; the probe set ("the
    ``n_probe`` cells whose centroids are closest to the query") is
    computed in-plan over the literal centroid array with the same
    deterministic tie-break as the driver-side sort (strictly-closer
    count + lower-index-first among equal distances)."""

    q = indexed.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qvec")
    )
    # one parsed expression (the _floats_sql construction-cost fix)
    dists = F.expr(
        "array(" + ",".join(
            _float_sqdist_sql("_qvec", c) for c in centroids
        ) + ")"
    )
    d_cell = F.element_at(F.col("_dists"), F.col("cell") + 1)
    rank = F.size(F.filter(F.col("_dists"), lambda x: x < d_cell)) + F.size(
        F.filter(
            F.slice(F.col("_dists"), 1, F.col("cell")), lambda x: x == d_cell
        )
    )
    cand = (
        indexed.crossJoin(F.broadcast(q))
        .withColumn("_dists", dists)
        .filter(rank < n_probe)
    )
    return (
        cand.select(
            F.col(id_col),
            F.round(
                cosine_similarity(F.col(vec_col), F.col("_qvec")), 6
            ).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def _label_probe(
    embeddings: DataFrame,
    query_id,
    n_probe: int,
    group_col: str,
    vec_col: str,
    id_col: str,
    decimals: int,
):
    """Shared probe selection of the label-cell IVF family — ONE
    definition of the cell ranking (centroid cosine desc, group asc)
    used by :func:`knn_ivf_label_to_id` and :func:`ivfpq_topk_to_id`'s
    callers, so a tiebreak or guard change cannot silently diverge
    their oracle-checked probe sets (r7 self-review find). Returns
    (probe_groups_df, query_row_df)."""
    from pyspark.sql import Window

    cent = label_centroids(
        embeddings, group_col=group_col, vec_col=vec_col, decimals=decimals
    )
    q = embeddings.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qvec")
    )
    # global-window-bounded(n_cells): ranks the per-label centroid
    # table — one row per IVF cell, never per embedding
    cell_rank = Window.orderBy(F.col("_cs").desc(), F.col(group_col))
    probe = (
        cent.crossJoin(F.broadcast(q))
        .select(
            F.col(group_col),
            cosine_similarity(F.col("centroid"), F.col("_qvec")).alias("_cs"),
        )
        .withColumn("_r", F.row_number().over(cell_rank))
        .filter(F.col("_r") <= n_probe)
        .select(group_col)
    )
    return probe, q


def knn_ivf_label_to_id(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
    decimals: int = 6,
) -> DataFrame:
    """IVF top-k where the inverted lists are an EXISTING partition key
    (here the ``label`` column) and the cell centroids are that key's
    mean vectors — the fully deterministic IVF: no KMeans fit, no
    training action, and every step (centroids, probe choice, exact
    rescore) is reproducible in plain SQL. Use when the corpus already
    carries a semantically meaningful shard key (class label, source,
    language cluster) — the common case for curated training corpora —
    and keep :func:`build_ivf_index`'s learned KMeans cells for corpora
    without one.

    Everything is in-plan: centroids via :func:`label_centroids` (tiny
    table, one exploded shuffle), the query vector a broadcast
    single-row join, probe selection a ``row_number`` over the ≤|labels|
    centroid table ranked by (centroid cosine desc, group asc), and the
    exact cosine rescore runs only over the ``n_probe`` chosen cells —
    with the corpus partitioned/bucketed by the group key, that scan
    PRUNES at the source (the predicate is a broadcast semi join on the
    partition column). No driver-side collect anywhere.
    """
    if n_probe < 1:
        raise ValueError("n_probe must be >= 1")
    from pyspark.sql import Window

    probe, q = _label_probe(
        embeddings, query_id, n_probe, group_col, vec_col, id_col, decimals
    )
    cand = embeddings.join(F.broadcast(probe), group_col)
    return (
        cand.crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            F.round(
                cosine_similarity(F.col(vec_col), F.col("_qvec")), 6
            ).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    n_planes: int = 6,
    n_tables: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """All pairs with cosine ≥ threshold — banded (multi-table) LSH.

    AND-OR construction: ``n_tables`` independent hyperplane signatures
    of ``n_planes`` bits each; a pair becomes a candidate when it
    collides in ANY table. Per-pair recall is 1-(1-p^b)^L with
    p = 1-θ/π — a single table (L=1) decays geometrically in b and is
    useless below cosine ~0.8, which is why the OR over tables is not
    optional at loose thresholds. Candidates come from an equi-join on
    (table, bucket) — keyed shuffle, AQE-skew-splittable — and exact
    cosine verifies every candidate, so false positives cost time, never
    correctness. Output: (id_a, id_b, cosine_sim), id_a < id_b.

    Tuning at 100 TB: grow ``n_planes`` with log2(corpus) to hold bucket
    sizes constant, then grow ``n_tables`` to buy recall back; signatures
    are one narrow O(corpus) pass, candidates ~bucket_size per row.

    Signatures are computed by an Arrow-batched numpy UDF (one
    (batch × dim) @ (dim × tables·planes) matmul per Arrow batch): the
    expression form is n_tables × n_planes interpreted HOF dot products
    per row — higher-order functions never enter codegen — measured ~6×
    slower at 32 signatures/row. The plan is a diamond (bucket keys +
    both verify sides derive from the signed+normalized table) but the
    subtree is one narrow Arrow pass — A/B showed caching it is a wash
    at sf0.1, so no persist; at 100 TB you'd write it once as the
    index (see write_lsh_index) rather than cache it.
    """
    from kafka_streams_spark.functions.partitioning import floor_width, spread

    planes_per_table = [
        random_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)
    ]
    sigs = _banded_signatures_arrow(planes_per_table)(F.col(vec_col))
    blk = [block_col] if block_col else []
    # NULL embeddings would np.vstack-crash the signature pass —
    # quarantine JVM-side (the embedding_gram convention, r7).
    # spread(): a single-file embeddings scan is 1 partition, and the
    # diamond runs the Arrow signature pass once per side of the
    # candidate join — two SERIAL ~0.5–1.0 s stages at sf0.1 (r15 stage
    # profile); the floor widens them to the cluster width (no-op at
    # real scale where scans already split; guide §2.5/§4).
    unit = _normalized(
        spread(embeddings.filter(F.col(vec_col).isNotNull())).withColumn(
            "_sigs", sigs
        ),
        id_col,
        vec_col,
        ["_sigs"] + blk,
    )
    keys = unit.select(
        F.col(id_col),
        *[F.col(c) for c in blk],
        F.posexplode(F.col("_sigs")).alias("_table", "_bucket"),
    )
    a, b = keys.alias("a"), keys.alias("b")
    cond = (
        (F.col("a._table") == F.col("b._table"))
        & (F.col("a._bucket") == F.col("b._bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    cands = (
        a.join(b, cond)
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
        # Pinned-width exchange before the verify (the r14
        # weighted_jaccard fix, same mechanism): the distinct's
        # sub-MB pair shuffle gets AQE-coalesced to a handful of
        # partitions, and the exact-cosine verify — an interpreted HOF
        # fold per candidate, never codegen'd — runs downstream of it
        # (r15 stage profile: 6.4 s CPU on 5 of 32 tasks). AQE's
        # byte-proportional cost model is wrong for a stage whose cost
        # is per-ROW compute; pin the width explicitly. Hashing by id_a
        # keeps the layout reusable for the verify join when the vecs
        # side is too big to broadcast. floor_width ≥ what a tuned
        # cluster would pick, so this never LOWERS the scale width.
        .repartition(floor_width(embeddings.sparkSession), "id_a")
    )
    vecs = unit.select(F.col(id_col), F.col("_unit"))
    return (
        cands.join(vecs.withColumnsRenamed({id_col: "id_a", "_unit": "_ua"}), "id_a")
        .join(vecs.withColumnsRenamed({id_col: "id_b", "_unit": "_ub"}), "id_b")
        .select(
            "id_a",
            "id_b",
            dot(F.col("_ua"), F.col("_ub")).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def _banded_signatures_arrow(planes_per_table: list[list[list[float]]]):
    """Arrow-batched multi-table hyperplane signatures: one numpy matmul
    of the whole Arrow batch against all tables' planes at once, sign
    bits packed into one bigint per table. Returns a pandas UDF mapping
    array<float> -> array<bigint> (length n_tables)."""
    from pyspark.sql.types import ArrayType, LongType

    n_tables = len(planes_per_table)
    n_planes = len(planes_per_table[0])
    # (dim, n_tables*n_planes), tables side by side
    mat = np.concatenate([np.array(t, dtype=np.float64).T for t in planes_per_table], axis=1)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @F.pandas_udf(ArrayType(LongType()))
    def sig(v: pd.Series) -> pd.Series:
        x = np.vstack(v.to_numpy()).astype(np.float64)  # (batch, dim)
        bits = (x @ mat) >= 0.0  # (batch, n_tables*n_planes)
        packed = (
            bits.reshape(len(x), n_tables, n_planes).astype(np.int64) * weights
        ).sum(axis=2)
        return pd.Series(list(packed))

    return sig


def _normalized(
    embeddings: DataFrame, id_col: str, vec_col: str, keep: list[str]
) -> DataFrame:
    """Project each vector to unit length ONCE, before any pair join —
    cosine in pair space then costs a single dot product per pair instead
    of dot + two norms (3× fewer array traversals where it matters:
    inside the quadratic term)."""
    from kafka_streams_spark.functions.partitioning import spread
    from kafka_streams_spark.functions.vectors import l2_norm

    norm = l2_norm(F.col(vec_col))
    unit = F.when(norm == 0, F.col(vec_col)).otherwise(
        F.transform(F.col(vec_col), lambda x: x.cast("double") / norm)
    )
    return spread(embeddings).select(
        F.col(id_col), *[F.col(c) for c in keep], unit.alias("_unit")
    )


def exact_pairs_cosine(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
) -> DataFrame:
    """Exact blocked all-pairs cosine (the oracle-checkable variant —
    no LSH randomness). Blocked self-join only; at scale the block column
    (label, shard, cluster id) bounds the quadratic term."""
    unit = _normalized(
        embeddings, id_col, vec_col, [block_col] if block_col else []
    )
    a = unit.alias("a")
    b = unit.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            dot(F.col("a._unit"), F.col("b._unit")).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def label_centroids(
    embeddings: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Element-wise mean vector (centroid) per group — the bulk vector
    aggregate behind IVF training, cluster profiling, and class
    prototypes.

    Scale shape: posexplode to (group, dim_pos, value) rows → one
    partial-aggregated shuffle keyed (group, pos) → tiny reassembly agg.
    Spark has no native element-wise array-sum aggregate; exploding keeps
    every stage codegen'd and parallel over n·dim rows rather than
    collecting arrays anywhere. Components round to `decimals` to pin
    cross-engine double-summation ulps.

    Output: (group_col, centroid array<double>, n_vecs).
    """
    from kafka_streams_spark.functions.partitioning import spread

    ex = spread(embeddings).select(
        F.col(group_col), F.posexplode(F.col(vec_col)).alias("pos", "x")
    )
    means = ex.groupBy(group_col, "pos").agg(
        F.avg(F.col("x").cast("double")).alias("m"),
        F.count("*").alias("n"),
    )
    return means.groupBy(group_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda s: F.round(s["m"], decimals),
        ).alias("centroid"),
        F.max("n").alias("n_vecs"),
    )


def normalize_vectors(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Unit-L2 normalization — pure Column expressions; zero-norm vectors
    are dropped (no direction to keep). Pre-normalizing turns cosine
    top-k into dot-product top-k, halving per-query arithmetic."""
    from kafka_streams_spark.functions.vectors import l2_norm

    nrm = l2_norm(F.col(vec_col))
    return (
        embeddings.withColumn("_nrm", nrm)
        .filter(F.col("_nrm") > 0)
        .select(
            F.col(id_col),
            F.transform(
                F.col(vec_col),
                lambda x: F.round(x.cast("double") / F.col("_nrm"), decimals),
            ).alias("unit"),
        )
    )


def truncate_embeddings(
    embeddings: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Matryoshka-style dimensionality truncation: keep the first
    ``dim`` components and re-normalize to unit L2 — the standard
    cheap-ANN trick for embeddings trained with nested (MRL) objectives,
    where prefixes of the vector are themselves valid embeddings. A
    truncated index is ``dim/D`` the bytes and dot-product cost of the
    full one; retrieve with the truncated vectors, re-rank survivors
    with the full ones.

    Pure Column expressions (slice + aggregate + transform — JVM-side,
    map-only, no shuffle); zero-norm prefixes are dropped like
    :func:`normalize_vectors` drops zero-norm vectors, and so are
    vectors SHORTER than ``dim`` — ``slice`` would silently emit a
    sub-dim "unit" row that breaks any fixed-dim consumer downstream.
    """
    if dim < 1:
        raise ValueError("dim must be >= 1")
    from kafka_streams_spark.functions.vectors import l2_norm

    prefix = F.slice(F.col(vec_col), 1, dim)
    return (
        embeddings.filter(F.size(vec_col) >= dim)
        .select(F.col(id_col), prefix.alias("_pre"))
        .withColumn("_nrm", l2_norm(F.col("_pre")))
        .filter(F.col("_nrm") > 0)
        .select(
            F.col(id_col),
            F.transform(
                F.col("_pre"),
                lambda x: F.round(x.cast("double") / F.col("_nrm"), decimals),
            ).alias("unit"),
        )
    )


def _planes_md5(planes: list) -> str:
    """md5 of the compact JSON of a frozen float/int artifact (LSH
    planes, PQ codebooks): the fingerprint its index is stamped with."""
    import hashlib
    import json as _json

    return hashlib.md5(
        _json.dumps(planes, separators=(",", ":")).encode()
    ).hexdigest()


def write_lsh_index(
    indexed: DataFrame,
    path: str,
    vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
) -> None:
    """Materialize an LSH/IVF index partitioned by its bucket column:
    `path/bucket=<b>/part-*.parquet`. Queries against the written index
    prune to the probed buckets at the FILE level (PartitionFilters in
    the scan) — the corpus outside the probe set is never opened, which
    is the entire point of the index at 100 TB.

    Pass ``planes`` to stamp their fingerprint on the store (the PQ
    codebook / binary-index reader-gate convention): querying a written
    index with DIFFERENT planes than it was bucketed with silently
    scans unrelated buckets and returns a near-random "top-k" —
    :func:`knn_from_index` checks the stamp and raises on mismatch
    (r10 review fix). Unstamped legacy stores still read (the gate
    protects stamped stores, loudly)."""
    indexed.write.mode("overwrite").partitionBy("bucket").parquet(path)
    if planes is not None:
        from kafka_streams_spark.streaming.store import _write_sketch_meta

        _write_sketch_meta(
            indexed.sparkSession,
            path,
            {"kind": "lsh", "planes_md5": _planes_md5(planes)},
        )


def knn_from_index(
    spark,
    path: str,
    planes: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """Top-k against a written index: same probe-set logic as knn_lsh,
    but the bucket predicate lands on a partition COLUMN, so pruning
    happens in the file index before any IO. When the store carries a
    planes fingerprint (written by :func:`write_lsh_index` with
    ``planes=``), a mismatched query raises instead of silently
    scanning the wrong buckets."""
    from kafka_streams_spark.streaming.store import _check_sketch_meta

    _check_sketch_meta(
        spark, path, {"kind": "lsh", "planes_md5": _planes_md5(planes)}
    )
    probes = _probe_set(planes, query_vec, multiprobe_hamming)
    cand = spark.read.parquet(path).filter(F.col("bucket").isin(probes))
    return (
        cand.select(
            F.col(id_col),
            F.round(
                cosine_similarity(F.col(vec_col), _query_lit(query_vec)), 6
            ).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def quantization_params(
    embeddings: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension affine int8 quantization parameters: one row with
    ``mins`` and ``ranges`` (both array<double>, dimension-ordered).

    posexplode → groupBy(pos) min/max is map-side partial: each
    partition reduces to `dim` rows before the (tiny, dim-sized)
    shuffle. The arrays are reassembled with sort_array over
    (pos, value) structs — collect_list alone has NO ordering
    guarantee under parallel execution.

    Constant dimensions (max == min) get range 1.0 so quantization maps
    them to code 0 instead of dividing by zero.
    """
    per_dim = (
        embeddings.select(F.posexplode(vec_col).alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
    )
    return per_dim.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "mn"))), lambda s: s["mn"]
        ).alias("mins"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "mn", "mx"))),
            lambda s: F.when(s["mx"] > s["mn"], s["mx"] - s["mn"]).otherwise(
                F.lit(1.0)
            ),
        ).alias("ranges"),
    )


def quantize_embeddings(
    embeddings: DataFrame,
    params: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Affine int8 scalar quantization: code_i = ⌊(x_i − min_i) /
    range_i · 254 + 0.5⌋ − 127 ∈ [−127, 127] — the embedding-column
    compression path (4× fewer bytes than float32 on disk AND on every
    shuffle/broadcast; cast codes to tinyint at the storage boundary).

    The 1-row params side broadcasts; quantization itself is a pure
    per-row array transform (no shuffle, stays in codegen). Java-round
    (floor(x+0.5)) keeps the rounding engine-portable. Recall impact is
    bounded by the per-dim resolution range/254 — see the recall pin in
    tests (quantized cosine top-10 vs exact).
    """
    from pyspark.sql.functions import broadcast

    if params is None:
        params = quantization_params(embeddings, vec_col)
    emb = F.col(vec_col)
    codes = F.transform(
        emb,
        lambda x, i: (
            F.floor(
                (x.cast("double") - F.element_at(F.col("mins"), i + 1))
                / F.element_at(F.col("ranges"), i + 1)
                * F.lit(254.0)
                + F.lit(0.5)
            ).cast("int")
            - F.lit(127)
        ),
    )
    return embeddings.join(broadcast(params)).select(
        F.col(id_col), codes.alias("codes")
    )


def dequantize(
    quantized: DataFrame,
    params: DataFrame,
    id_col: str = "vec_id",
    codes_col: str = "codes",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings` (up to range/254 per-dim
    error): x̂_i = (code_i + 127) / 254 · range_i + min_i."""
    from pyspark.sql.functions import broadcast

    approx = F.transform(
        F.col(codes_col),
        lambda c, i: (c.cast("double") + F.lit(127.0))
        / F.lit(254.0)
        * F.element_at(F.col("ranges"), i + 1)
        + F.element_at(F.col("mins"), i + 1),
    )
    return quantized.join(broadcast(params)).select(
        F.col(id_col), approx.alias("approx")
    )


def quantize_embeddings_symmetric(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: code_i = ⌊x_i /
    max_j|x_j| · 127 + 0.5⌋ — the ANN-on-codes path. A UNIFORM scale
    per vector cancels in cosine similarity, so cosine over the codes
    approximates cosine over the floats to within rounding (unlike the
    per-dimension affine form, whose offsets distort angles — that one
    is the storage/dequantize path). Zero-vector rows quantize to all
    zeros.

    Pure per-row expression: no params table, no join, no shuffle —
    the cheapest possible 4× shrink of every embedding shuffle.
    Output: (id, codes array<int>, scale double) — scale recovers
    magnitudes when needed (x̂_i = code_i/127·scale).
    """
    emb = F.col(vec_col)
    scale = F.array_max(F.transform(emb, lambda x: F.abs(x.cast("double"))))
    safe = F.when(F.col("scale") > 0, F.col("scale")).otherwise(F.lit(1.0))
    codes = F.transform(
        emb,
        lambda x: F.floor(x.cast("double") / safe * F.lit(127.0) + F.lit(0.5)).cast(
            "int"
        ),
    )
    return embeddings.withColumn("scale", scale).select(
        F.col(id_col), codes.alias("codes"), "scale"
    )


def semdedup(
    embeddings: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic deduplication",
    public arXiv 2303.09540): partition the corpus into cells, compare
    embeddings only WITHIN a cell, and drop every vector whose cosine to
    some lower-id vector in its cell is ≥ threshold. The min-id vector of
    each near-dup pair survives — the same deterministic winner rule as
    dedup_exact, applied per EDGE (a vector drops if ANY lower-id cell
    neighbor is close, whether or not that neighbor itself survives —
    matching the paper's drop-all-but-one-per-ε-neighborhood semantics
    without an iterative clustering pass).

    The cell column is what makes this 100 TB-shaped: the paper uses
    k-means cluster ids (use :func:`build_ivf_index` to mint them when the
    corpus has no key); curated corpora usually already carry a semantic
    shard key (label, source, language cluster). Pairs never cross cells,
    so the quadratic term is bounded by the largest cell and every stage
    is an equi-join Catalyst can shuffle-partition on the cell key.

    Output: surviving rows (id_col, cell_col), one per kept vector.
    """
    pairs = exact_pairs_cosine(
        embeddings, threshold, id_col=id_col, vec_col=vec_col, block_col=cell_col
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return embeddings.select(id_col, cell_col).join(dropped, id_col, "left_anti")


def kcenter_select(
    embs: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center (farthest-point traversal) coreset selection: pick
    ``k`` embeddings that 2-approximate the optimal covering radius
    (Gonzalez 1985) — the diversity-selection step of coreset-based data
    pruning: where :func:`semdedup` REMOVES redundant vectors,
    k-center KEEPS a maximally spread subset (seed sets for active
    learning, eval-set subsampling, prototype picking).

    Deterministic by construction: the seed is the minimum id, each
    round adds the point with the LARGEST distance to its nearest
    already-selected center (squared L2 in doubles, array-order
    summation), ties broken by minimum id. k driver round-trips of ONE
    row each (the argmax), like the connected-components convergence
    scalar — the selection loop is inherently sequential; everything per
    round (distance update + top-1) is distributed. The running
    min-distance column is re-materialized each round
    (``materialize_shared``), so round r costs one linear pass against
    ONE new center, not r re-computations: total work is O(k·N·dim)
    with k scans of the cached (id, vec, mind) table, corpus scanned
    once.

    Scale boundary (r8 verdict): k scans is the right shape for bounded
    k (coreset seeds, eval subsets) but NOT for k in the thousands at
    100 TB — thousands of full-corpus jobs. For large k use
    :func:`kcenter_select_scalable` (one distributed pass + a bounded
    driver solve, constant-factor approximation); this exact form stays
    as the oracle-checked reference, the weighted_jaccard capped/exact
    split.

    Oracle-checked since r8 (was rows-only): the bounded sequential
    argmax IS single-query SQL after all — a recursive CTE whose
    one-row state carries the picked centers, each round's farthest
    point a correlated scalar subquery over the embeddings (the BPE
    recursive-trainer pattern; see ``oracles.py`` "emb_kcenter").
    The argmax ranks on the ROUNDED (6 dp) min-squared-distance with
    id tiebreak — the r8 knn rounded-rank policy, so the pick sequence
    is robust to either engine changing its fold order. Unit tests
    additionally pin the traversal against a NumPy reference model.

    Output: (rank int, id, center_dist double — distance from the
    previously selected set at pick time, 0.0 for the seed; rounded to
    6 dp HALF_UP like every similarity output).
    """
    from kafka_streams_spark.functions.partitioning import materialize_shared
    from kafka_streams_spark.functions.vectors import dot

    if k < 1:
        raise ValueError("k must be >= 1")
    # NULL/NaN quarantine: a NaN mind wins every argmax and then
    # np.minimum-style updates destroy the picked-row masks — the
    # greedy traversal re-picks the same points (r10 review fix).
    # spread (r14): every one of the k rounds scans the state table
    # with an interpreted zip_with distance fold; on a single-file scan
    # that was one serial task per round (A/B 0.89x widened).
    from kafka_streams_spark.functions.partitioning import spread

    embs = spread(finite_vectors(embs, vec_col))

    def sq_dist(vec: Column, center: list[float]) -> Column:
        c = F.array(*[F.lit(float(x)) for x in center])
        d = F.zip_with(vec, c, lambda x, y: x.cast("double") - y.cast("double"))
        return dot(d, d)

    seed = (
        embs.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .orderBy("id")
        .limit(1)
        .collect()[0]
    )
    picked = [(1, seed["id"], 0.0)]
    center = [float(x) for x in seed["vec"]]
    state = embs.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).filter(F.col("id") != seed["id"])
    for rank in range(2, k + 1):
        state = materialize_shared(
            state.withColumn("_d", sq_dist(F.col("vec"), center)).withColumn(
                "mind",
                F.least("_d", "mind") if "mind" in state.columns else F.col("_d"),
            ).drop("_d")
        )
        far = (
            state.orderBy(F.round(F.col("mind"), 6).desc(), F.col("id"))
            .limit(1)
            .collect()
        )
        if not far:
            break
        row = far[0]
        dist = float(np.sqrt(row["mind"]))
        picked.append((rank, row["id"], float(_round_half_up6(np.array([dist]))[0])))
        center = [float(x) for x in row["vec"]]
        state = state.filter(F.col("id") != row["id"])
    spark = embs.sparkSession
    # id field type follows the input (embeddings may carry string ids);
    # a hardcoded bigint would fail or silently coerce (ADVICE r4).
    id_type = embs.schema[id_col].dataType.simpleString()
    return spark.createDataFrame(
        picked, schema=f"rank int, {id_col} {id_type}, center_dist double"
    )


def _np_greedy_kcenter(
    V: "np.ndarray", m: int
) -> tuple[list[int], list[float]]:
    """Shared NumPy farthest-point traversal over rows of ``V`` (which
    MUST already be sorted by id ascending): returns (pick order as row
    indices, center distance at pick time — 0.0 for the seed). The
    argmax ranks on the HALF-UP-rounded 6 dp min-SQUARED-distance with
    min-id tiebreak (first max in id order) — bit-aligned with
    :func:`kcenter_select`'s distributed argmax and the DuckDB
    recursive-CTE twins, so every k-center form picks the same sequence
    on the same input."""
    n = len(V)
    order = [0]
    dists = [0.0]
    if m <= 1 or n <= 1:
        return order, dists
    diff = V - V[0]
    mind = np.einsum("ij,ij->i", diff, diff)
    mind[0] = -1.0  # mask picked rows: distances are >= 0
    for _ in range(1, m):
        key = _round_half_up6(mind)
        nxt = int(np.argmax(key))  # rows id-sorted: first max = min id
        if key[nxt] < 0:
            break  # every row picked
        order.append(nxt)
        dists.append(
            float(
                _round_half_up6(
                    np.array([math.sqrt(max(float(mind[nxt]), 0.0))])
                )[0]
            )
        )
        diff = V - V[nxt]
        mind = np.minimum(mind, np.einsum("ij,ij->i", diff, diff))
        mind[nxt] = -1.0
    return order, dists


def kcenter_select_scalable(
    embs: DataFrame,
    k: int = 8,
    n_blocks: int = 4,
    per_block: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Large-k scale form of :func:`kcenter_select` (r8 verdict item 4):
    the exact Gonzalez traversal is inherently sequential — k rounds,
    each a full corpus pass plus a 1-row driver argmax — which is fine
    at contract k=8 but thousands of full-corpus jobs at 100 TB with k
    in the thousands. This is the composable-coreset composition
    (Indyk/Mahabadi/Mahdian/Mirrokni, PODS 2014 — merge-and-reduce for
    diversity maximization; public literature): deterministically
    hash-block the corpus, run the SAME greedy traversal independently
    inside each block (one distributed ``applyInPandas`` pass, blocks
    in parallel, NumPy-vectorized), then run the exact traversal over
    the pooled ``n_blocks x per_block`` candidates — a bounded driver
    solve, the knn_auto dispatch-collect budget. Total cost: ONE
    distributed pass over the corpus + O(n_blocks·per_block·k·dim)
    local work, instead of k full passes; the blocks shuffle once on
    the hash key and never again.

    Approximation contract: greedy-per-block-then-greedy-on-union is a
    constant-factor k-center approximation (each block's k-point
    traversal is a 2-approx coreset of its block; the union covers the
    corpus within twice the optimal radius). It is NOT pick-for-pick
    equal to the exact traversal on multi-block inputs — the exact form
    stays as its own oracle-checked contract (the weighted_jaccard
    capped/exact pattern); with ``n_blocks=1`` this degenerates to the
    exact traversal (test-pinned).

    Deterministic end to end: block = md5-prefix of the id (mod
    n_blocks — content-independent, engine-agnostic), per-block and
    final traversals both rank on the rounded-6dp squared distance
    with min-id tiebreak (:func:`_np_greedy_kcenter`), so the DuckDB
    twin replays the whole two-stage pipeline with per-block + final
    recursive CTEs.

    Output: (rank int, id, center_dist double) — same schema and
    semantics as :func:`kcenter_select` (center_dist measured against
    the FINAL stage's picked-so-far set; 0.0 for the seed).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if n_blocks < 1:
        raise ValueError("n_blocks must be >= 1")
    if per_block is not None and per_block < 1:
        raise ValueError("per_block must be >= 1")
    m = per_block if per_block is not None else k
    id_type = embs.schema[id_col].dataType.simpleString()

    base = embs.select(
        (
            F.conv(
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10
            ).cast("int")
            % n_blocks
        ).alias("_blk"),
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).filter(
        # NULL + NaN quarantine (finite_vectors semantics, applied to
        # the renamed column): a NaN component corrupts the per-block
        # greedy traversal exactly as it does the exact form; array_max
        # form for the same reason as finite_vectors (NaN orders
        # greatest, so array_max is NaN iff any component is)
        F.col("vec").isNotNull()
        & ~F.coalesce(F.isnan(F.array_max(F.col("vec"))), F.lit(False))
    )

    def pick_block(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("id", kind="mergesort").reset_index(drop=True)
        V = np.asarray(list(pdf["vec"]), dtype=np.float64)
        order, _ = _np_greedy_kcenter(V, min(m, len(pdf)))
        return pdf.iloc[order][["id", "vec"]]

    pool = base.groupBy("_blk").applyInPandas(
        pick_block, schema=f"id {id_type}, vec array<double>"
    )
    # bounded collect: <= n_blocks * per_block candidate rows (the
    # dispatch-collect budget class), never the corpus
    rows = sorted(pool.collect(), key=lambda r: r["id"])
    spark = embs.sparkSession
    if not rows:
        return spark.createDataFrame(
            [], schema=f"rank int, {id_col} {id_type}, center_dist double"
        )
    V = np.asarray([list(r["vec"]) for r in rows], dtype=np.float64)
    order, dists = _np_greedy_kcenter(V, min(k, len(rows)))
    picked = [
        (i + 1, rows[o]["id"], dists[i]) for i, o in enumerate(order)
    ]
    return spark.createDataFrame(
        picked, schema=f"rank int, {id_col} {id_type}, center_dist double"
    )


def lsh_bucket_stats(
    embeddings: DataFrame,
    n_planes: int = 6,
    n_tables: int = 8,
    dim: int = 64,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Bucket-occupancy audit for the banded hyperplane LSH — the
    tuning instrument for :func:`embedding_near_duplicates`' knobs:
    per table, how many buckets are occupied, the largest bucket, and
    the EXACT candidate-pair count Σ n·(n−1)/2 the bucket equi-join
    will emit. Run this narrow pass before the pair join on a new
    corpus: candidate pairs scale the join's output, so this one
    aggregate predicts the expensive stage's cost, and a max_bucket
    blowing up says "grow n_planes" before the cluster finds out the
    hard way (the same pre-flight role `minhash_jaccard_estimate`
    plays for the MinHash banding).

    One Arrow signature pass (the same `_banded_signatures_arrow`
    matmul as the pair operator, so the audit measures the REAL
    buckets), one (table, bucket) aggregate that collapses map-side,
    then a per-table rollup of ≤ n_tables·2^n_planes rows. All counts
    are exact integers — the DuckDB oracle recomputes the sign-bit
    buckets from the same literal seed-42 planes.

    Output: (lsh_table int, n_buckets bigint, max_bucket bigint,
    n_candidate_pairs bigint).
    """
    planes_per_table = [
        random_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)
    ]
    sigs = _banded_signatures_arrow(planes_per_table)(F.col(vec_col))
    keys = embeddings.filter(F.col(vec_col).isNotNull()).select(
        F.posexplode(sigs).alias("lsh_table", "_bucket")
    )
    occ = keys.groupBy("lsh_table", "_bucket").agg(F.count("*").alias("n"))
    return occ.groupBy("lsh_table").agg(
        F.count("*").cast("bigint").alias("n_buckets"),
        F.max("n").cast("bigint").alias("max_bucket"),
        F.sum(F.expr("n * (n - 1) div 2")).cast("bigint").alias("n_candidate_pairs"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN
# ---------------------------------------------------------------------------

PQ_SCALE = 10**6


def pq_train_codebooks(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 8,
    sample_size: int = 2048,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[int]]]:
    """Train PQ codebooks: split each vector into ``m`` subvectors and
    Lloyd's-cluster each subspace into ``k`` centroids (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011).
    A vector then compresses to ``m`` small codes — at (m=8, k=256)
    that is 8 bytes instead of 256 float bytes, the memory step that
    makes billion-vector ANN fit a cluster's RAM.

    DETERMINISTIC by construction (the learned-index twin of the
    literal-planes LSH pattern): the training sample is the first
    ``sample_size`` vectors by id (not a random split), inputs are
    scaled integers (`_pq_int`), init is ``k`` evenly-spaced sample
    points in id order, ties in assignment break to the lowest centroid
    index, and the returned centroids are re-quantized to integers —
    identical inputs give identical codebooks, so a DuckDB oracle can
    embed them as literals. The sample collect is a bounded driver-side
    training action (the IVF-KMeans precedent — the documented
    exception to no-jobs-during-construction).

    Returns ``codebooks[m][k][dsub]`` as Python ints (scaled by
    ``PQ_SCALE``).
    """
    rows = (
        finite_vectors(embeddings, vec_col)
        .orderBy(id_col)
        .limit(sample_size)
        .select(vec_col)
        .collect()
    )
    if not rows:
        raise ValueError("cannot train PQ codebooks on an empty table")
    X = np.array(
        [[math.floor(float(x) * PQ_SCALE + 0.5) for x in r[0]] for r in rows],
        dtype=np.float64,
    )
    return _lloyd_books(X, m, k, iters)


def _lloyd_books(
    X: "np.ndarray", m: int, k: int, iters: int
) -> list[list[list[int]]]:
    """The deterministic per-subspace Lloyd loop shared by raw
    (:func:`pq_train_codebooks`) and residual
    (:func:`pq_train_residual_codebooks`) training: evenly-spaced
    row-order init, lowest-index tie break, int-requantized output."""
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books: list[list[list[int]]] = []
    for s in range(m):
        sub = X[:, s * dsub : (s + 1) * dsub]
        n = sub.shape[0]
        init_idx = [min(int(i * n / k), n - 1) for i in range(k)]
        cent = sub[init_idx].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)  # lowest index wins ties
            for j in range(k):
                mask = assign == j
                if mask.any():
                    cent[j] = sub[mask].mean(axis=0)
        books.append(
            [[int(math.floor(c + 0.5)) for c in cent[j]] for j in range(k)]
        )
    return books


def _pq_scaled(vec: Column) -> Column:
    """Whole embedding as an exact scaled-integer array (one floor per
    element — hoisted so distance expressions never re-quantize).
    Bounds: |scaled x| ≤ ~2²⁰ ⇒ per-term square ≤ 2⁴², ×dsub ≪ 2⁶³."""
    return F.transform(
        vec,
        lambda x: F.floor(x.cast("double") * PQ_SCALE + F.lit(0.5)).cast(
            "bigint"
        ),
    )


def _int_sqdist(a: Column, b: Column) -> Column:
    """Exact integer squared L2 between two bigint arrays. Integer sums
    are associative-exact, so ANY engine's fold order gives the same
    value — no float-order pinning needed anywhere in PQ."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def _lit_ints(xs: list[int]) -> Column:
    return F.expr(_ints_sql(xs))


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector its ``m`` PQ codes — a map-only pass of pure
    JVM expressions (integer distance arrays + the engine's
    ``array_position(dists, array_min(dists))`` argmin, lowest index on
    ties), no shuffle, no Python boundary. The scaled-int array and the
    per-subspace slices are hoisted into named columns so the k distance
    expressions per subspace share them instead of re-quantizing.
    Output: (id, codes array<int>)."""
    m = len(codebooks)
    k = len(codebooks[0])
    dsub = len(codebooks[0][0])
    sliced = embeddings.select(
        F.col(id_col), _pq_scaled(F.col(vec_col)).alias("_xi")
    ).select(
        F.col(id_col),
        *[
            F.slice("_xi", s * dsub + 1, dsub).alias(f"_s{s}")
            for s in range(m)
        ],
    )

    # single parsed expression per subspace (the _floats_sql
    # construction-cost fix): the k distance aggregates and the argmin
    # are one SQL string — the Column form cost m·k·(dsub+~6) py4j
    # round trips (2.5 s of the 3.1 s encode wall at m=4, k=10,
    # dsub=16) for an identical expression tree
    def code(sub: int) -> Column:
        dists_sql = "array(" + ",".join(
            _sqdist_sql(f"_s{sub}", _ints_sql(codebooks[sub][j]))
            for j in range(k)
        ) + ")"
        return F.expr(
            f"cast(array_position({dists_sql}, array_min({dists_sql})) - 1 "
            f"as int)"
        )

    return sliced.select(
        F.col(id_col), F.array(*[code(s) for s in range(m)]).alias("codes")
    )


def pq_topk_to_id(
    embeddings: DataFrame,
    codebooks: list[list[list[int]]],
    query_id: int = 0,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k neighbors of corpus vector ``query_id`` by
    asymmetric distance (ADC): the query stays exact, every corpus
    vector is represented by its PQ centroids, and the distance is
    Σ_sub ||q_sub − centroid[code_sub]||² — computed here as an exact
    BIGINT, so the ranking is bit-deterministic and the DuckDB twin
    reproduces it from the literal codebooks.

    Collect-free (the ``*_to_id`` convention): the query row arrives by
    broadcast single-row cross join, and the per-row centroid lookup is
    ``element_at`` into the literal codebook arrays selected by the
    row's code — all JVM expressions. Top-k compiles to
    TakeOrderedAndProject (ascending distance, id tiebreak).

    At scale the codes table is tiny (m ints/vector) and is the thing
    you persist (`write`-once like the MinHash/gram indexes); the
    full-precision vectors are only read to encode and to serve exact
    re-ranking of the returned candidates.
    """
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    # `candidates` restricts the RANKED set (e.g. IVF-probed cells);
    # the query row always resolves against the full table, so a query
    # outside the probed cells still works. `codes` is the recurring-run
    # input (read_pq_codes): the encode pass is skipped entirely and the
    # scan is m ints per vector — pass codes built from the SAME
    # codebooks (read_pq_codes enforces the fingerprint).
    if codes is None:
        codes = pq_encode(
            embeddings if candidates is None else candidates,
            codebooks, id_col, vec_col,
        )
    elif candidates is not None:
        # id-equi semi-join, no broadcast hint: the candidate set can be
        # corpus-scale (an IVF cell) — let AQE pick the strategy
        codes = codes.join(candidates.select(id_col), id_col, "left_semi")
    q = embeddings.filter(F.col(id_col) == query_id).select(
        _pq_scaled(F.col(vec_col)).alias("_q")
    )
    # literal codebooks as ONE parsed expression per subspace (the
    # _floats_sql construction-cost fix — m·k Column-built centroid
    # arrays cost seconds of py4j driver time at the same tree)
    def sub_dist(sub: int) -> Column:
        book_sql = "array(" + ",".join(
            _ints_sql(centroid) for centroid in codebooks[sub]
        ) + ")"
        cent_sql = f"element_at({book_sql}, codes[{sub}] + 1)"
        qsub_sql = f"slice(_q, {sub * dsub + 1}, {dsub})"
        return F.expr(_sqdist_sql(qsub_sql, cent_sql))

    dist = sub_dist(0)
    for s in range(1, m):
        dist = dist + sub_dist(s)
    return (
        codes.crossJoin(F.broadcast(q))
        .select(F.col(id_col), dist.cast("bigint").alias("pq_dist"))
        .orderBy(F.col("pq_dist").asc(), F.col(id_col))
        .limit(k)
    )


def _int_mean_table(
    embeddings: DataFrame, group_col: str, vec_col: str
) -> DataFrame:
    """(group, pos, cm): per-dimension java-round mean of the PQ-scaled
    ints — THE bit-determinism centroid rule (floor((2s+c)/(2c)) over
    exactly-representable int64s), in one place so the codebook and
    residual paths cannot drift (r7 self-review find). Map-side
    combined; <= |groups|·dim rows."""
    ex = embeddings.select(
        F.col(group_col),
        F.posexplode(_pq_scaled(F.col(vec_col))).alias("pos", "x"),
    )
    return (
        ex.groupBy(group_col, "pos")
        .agg(F.sum("x").alias("s"), F.count("*").alias("c"))
        .select(
            group_col,
            "pos",
            F.floor((2 * F.col("s") + F.col("c")) / (2 * F.col("c")))
            .cast("bigint")
            .alias("cm"),
        )
    )


def pq_label_codebooks(
    embeddings: DataFrame,
    m: int = 4,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> list[list[list[int]]]:
    """Deterministic PQ codebooks WITHOUT a learned fit: per-label mean
    vectors (exact integer arithmetic: scaled-int sums, java-round of
    s/c computed as ``floor((2s+c)/(2c))`` — both engines evaluate the
    same float64 division over exactly-representable ints, so the
    centroids are bit-identical), split into ``m`` subspaces, centroid
    index = label rank ascending. The oracle-checkable twin of
    :func:`pq_train_codebooks`, exactly as `knn_ivf_label_vec0` twins
    the learned IVF — a DuckDB oracle reproduces training, encoding,
    and ADC end-to-end because every step is integer-exact.

    The collect is ≤ |labels|·dim rows — a bounded construction job
    (the IVF-fit / dispatch-stats exception).
    """
    cent = _int_mean_table(
        embeddings.select(F.col(label_col).alias("_lbl"), vec_col), "_lbl", vec_col
    )
    rows = cent.collect()
    by_label: dict[int, dict[int, int]] = {}
    for r in rows:
        by_label.setdefault(r["_lbl"], {})[r["pos"]] = r["cm"]
    labels = sorted(by_label)
    dim = len(by_label[labels[0]])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return [
        [
            [by_label[lbl][s * dsub + i] for i in range(dsub)]
            for lbl in labels
        ]
        for s in range(m)
    ]


def pq_topk_rerank_to_id(
    embeddings: DataFrame,
    codebooks: list[list[list[int]]],
    query_id: int = 0,
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production ANN shape: PQ ADC produces a cheap ``shortlist``
    of candidates from the compressed codes, then ONLY those rows are
    re-scored with exact cosine against the full-precision query — the
    two-stage compose that makes billion-vector search affordable
    (compressed scan everywhere, float math on 100 rows). Recall is the
    shortlist's recall; exactness of the final ORDER is restored by the
    re-rank, so the output ranking is as stable as :func:`knn_to_id`'s
    (rounded 6 dp, id tiebreak).

    Collect-free and oracle-checkable with label codebooks: the
    shortlist is a deterministic integer ranking, the re-rank the same
    rounded-cosine contract every knn query uses. At scale the
    shortlist semi-join back to the vector table is an id-equi-join
    that prunes to ``shortlist`` rows before any float math runs.

    Output: (id, cosine_sim) — top ``k`` of the re-ranked shortlist.
    """
    cand = pq_topk_to_id(
        embeddings, codebooks, query_id, shortlist, id_col, vec_col
    ).select(id_col)
    q = embeddings.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qvec")
    )
    rescored = (
        embeddings.join(F.broadcast(cand), id_col, "left_semi")
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            cosine_similarity(F.col(vec_col), F.col("_qvec")).alias("_sim"),
        )
    )
    return (
        rescored.orderBy(F.round("_sim", 6).desc(), F.col(id_col))
        .limit(k)
        .select(F.col(id_col), F.round("_sim", 6).alias("cosine_sim"))
    )


# ---------------------------------------------------------------------------
# distributed second-moment statistics: Gram / covariance → PCA whitening
# ---------------------------------------------------------------------------


def embedding_gram(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    scale: int = PQ_SCALE,
    dim: int | None = None,
) -> DataFrame:
    """Exact integer-scaled second-moment table over the embedding
    column — the distributed primitive under PCA / whitening / mean
    subtraction: one row per dimension pair (i ≤ j) carrying the count,
    per-dimension sums, and the cross-product sum, from which mean and
    covariance follow (cov = sum_prod/n − (sum_i/n)(sum_j/n)).

    Scale shape: one Arrow ``mapInPandas`` pass computes a PER-BATCH
    partial Gram with a single int64 matmul — d(d+1)/2 rows per batch
    (d=64 → 2 080), never per ROW — and the only exchange reduces those
    partials, map-side-combined, to one d(d+1)/2-row table. The corpus
    is scanned once and never reshuffled; this is textbook
    tree-aggregation expressed as groupBy.

    Exactness: inputs quantize to integers (``floor(x·scale + 0.5)``,
    the PQ_SCALE convention), so sums are order-independent int64
    arithmetic — bit-identical to any other engine, hence
    oracle-checkable. Overflow bound: |sum_prod| < n·(scale·max|x|)²
    must stay under 2⁶³ (scale 10⁶, |x| ≤ 4 → n < 5·10⁵; drop to
    scale 10³ for corpus-scale runs, which still carries mantissa-exact
    float32 information).

    NULL-row quarantine (round-7 advice fix): NULL embeddings are
    filtered JVM-side before the Arrow pass — ``np.stack`` hard-fails
    on a single NULL row, which would kill a long-running gram stream
    on one legally-NULL JSON record. Rejected rows are simply absent
    from ``n`` (callers compare against the input count, or run
    :func:`embedding_profile` — the documented pre-flight — for the
    exact NULL/ragged/NaN breakdown). Pass ``dim`` to additionally
    quarantine ragged rows (wrong-length vectors) by size; without it
    a ragged row still fails fast inside the Arrow stage rather than
    silently corrupting the statistic.

    Output: (dim_i, dim_j, n, sum_i, sum_j, sum_prod), i ≤ j.
    """
    from collections.abc import Iterator

    s = int(scale)

    def gram_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Xi = np.floor(X * s + 0.5).astype(np.int64)
            d = Xi.shape[1]
            G = Xi.T @ Xi  # exact: int64 matmul
            sums = Xi.sum(axis=0)
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "dim_i": iu.astype(np.int32),
                    "dim_j": ju.astype(np.int32),
                    "n": np.int64(len(pdf)),
                    "sum_i": sums[iu],
                    "sum_j": sums[ju],
                    "sum_prod": G[iu, ju],
                }
            )

    clean = embeddings.select(vec_col).filter(F.col(vec_col).isNotNull())
    if dim is not None:
        clean = clean.filter(F.size(F.col(vec_col)) == int(dim))
    partial = clean.mapInPandas(
        gram_partials,
        "dim_i int, dim_j int, n long, sum_i long, sum_j long, sum_prod long",
    )
    return partial.groupBy("dim_i", "dim_j").agg(
        F.sum("n").alias("n"),
        F.sum("sum_i").alias("sum_i"),
        F.sum("sum_j").alias("sum_j"),
        F.sum("sum_prod").alias("sum_prod"),
    )


def whiten_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eps: float = 1e-6,
    scale: int = PQ_SCALE,
) -> DataFrame:
    """PCA whitening: project every embedding onto the covariance
    eigenbasis and rescale each component to unit variance — the
    standard conditioning step before cosine-based near-dup /
    clustering when raw dimensions are correlated (whitened cosine ≈
    Mahalanobis affinity).

    Train/apply split, same shape as the PQ/IVF learned operators: the
    d(d+1)/2-row :func:`embedding_gram` table (BOUNDED — d², never n)
    collects to the driver, ``np.linalg.eigh`` runs on the d×d
    covariance there, and the d×d projection ``W = V·Λ^(-1/2)`` ships
    back as a broadcast constant; application is one Arrow matmul pass,
    map-only, corpus never shuffles. Eigenvector sign is pinned (each
    column's max-|component| entry made positive, first index wins
    ties) so output is deterministic; like the other learned operators
    the float eigensolve itself is NumPy-model-pinned in tests and the
    contract registers rows-only.

    Output: (id, pos, val) — whitened components exploded to scalar
    rows (the vector-valued-contract convention), val rounded 6 dp.
    """
    from collections.abc import Iterator

    rows = embedding_gram(embeddings, vec_col=vec_col, scale=scale).collect()
    if not rows:
        raise ValueError("whiten_embeddings: input has no rows — no covariance to learn")
    d = max(r["dim_j"] for r in rows) + 1
    ns = {r["n"] for r in rows}
    if len(ns) != 1:
        # mixed-dimension corpora give DIFFERENT n per (dim_i, dim_j)
        # pair (low-dim pairs count both populations); dividing every
        # sum by an arbitrary pair's n silently corrupts the mean and
        # covariance (r10 review fix) — quarantine ragged rows by
        # passing dim to embedding_gram upstream instead
        raise ValueError(
            "whiten_embeddings: gram rows carry inconsistent n "
            f"({sorted(ns)}) — the corpus mixes embedding dimensions; "
            "fix the corpus or quarantine ragged rows first"
        )
    n = ns.pop()
    s = float(scale)
    mean = np.zeros(d)
    cov = np.zeros((d, d))
    for r in rows:
        i, j = r["dim_i"], r["dim_j"]
        if i == j:
            mean[i] = (r["sum_i"] / s) / n
        e2 = r["sum_prod"] / (s * s) / n
        c = e2 - (r["sum_i"] / s / n) * (r["sum_j"] / s / n)
        cov[i, j] = cov[j, i] = c
    lam, V = np.linalg.eigh(cov)
    flip = np.sign(V[np.argmax(np.abs(V), axis=0), np.arange(d)])
    flip[flip == 0] = 1.0
    V = V * flip
    W = V / np.sqrt(np.maximum(lam, 0.0) + eps)
    Wb, mu = W.copy(), mean.copy()

    def project(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Xq = np.floor(X * s + 0.5) / s  # same quantized view the stats saw
            Y = _round_half_up6((Xq - mu) @ Wb)
            ids = pdf[id_col].to_numpy()
            k = Y.shape[1]
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, k),
                    "pos": np.tile(np.arange(k, dtype=np.int32), len(ids)),
                    "val": Y.ravel(),
                }
            )

    # Same quarantine as the train side: NULL / wrong-length rows would
    # np.stack-crash the Arrow projection; they get no whitened row
    # (embedding_profile is the pre-flight that counts them).
    return (
        embeddings.select(id_col, vec_col)
        .filter(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == d))
        .mapInPandas(
            project,
            f"{id_col} {embeddings.schema[id_col].dataType.simpleString()}, "
            "pos int, val double",
        )
    )


def norm_outliers(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: float = 3.0,
    scale: int = 10**3,
) -> DataFrame:
    """Embedding sanity gate: flag vectors whose (integer-scaled)
    squared norm deviates more than ``k·MAD`` from their label's
    median — the vector-space twin of ``length_outliers``. Catches the
    failure modes that poison cosine math downstream: zero/near-zero
    vectors from upstream encoder errors, un-normalized rows mixed into
    a normalized corpus, fp-overflow blowups.

    Exactness (the length_outliers argument verbatim): squared norms
    are exact int64 (``Σ floor(x·scale+0.5)²`` — scale 10³ bounds the
    sum at d·(scale·max|x|)² ≈ 10⁹, far inside int64), so the exact
    median/MAD land on a .0/.5 grid and every comparison operand is an
    exact double — bit-deterministic cross-engine, no rounding pin.

    Shape: the squared norm is a codegen ``aggregate`` over the array —
    no Python, no explode; then two tiny per-label aggregates broadcast
    back onto the scan. The corpus never shuffles. Exact percentile is
    the only N·logN piece — at 100 TB swap ``percentile_approx`` into
    the same gate (the exact form stays as the oracle twin).

    Output: flagged rows — (id, label, sqnorm, med, mad).
    """
    s = int(scale)
    xi = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * s + F.lit(0.5)).cast("long"),
    )
    sq = F.aggregate(
        xi, F.lit(0).cast("long"), lambda acc, v: acc + v * v
    ).alias("sqnorm")
    base = embeddings.select(F.col(id_col), F.col(label_col), sq)
    med = base.groupBy(label_col).agg(
        F.expr("percentile(sqnorm, 0.5)").alias("med")
    )
    with_med = base.join(F.broadcast(med), label_col)
    mad = with_med.groupBy(label_col).agg(
        F.expr("percentile(abs(sqnorm - med), 0.5)").alias("mad")
    )
    return (
        with_med.join(F.broadcast(mad), label_col)
        .filter(
            F.abs(F.col("sqnorm").cast("double") - F.col("med"))
            > F.lit(float(k)) * F.col("mad")
        )
        .select(id_col, label_col, "sqnorm", "med", "mad")
    )


def embedding_drift(
    a: DataFrame,
    b: DataFrame,
    vec_col: str = "embedding",
    scale: int = 10**3,
) -> DataFrame:
    """Embedding-space distribution drift between two corpus slices
    (yesterday's crawl vs today's, source A vs source B): per
    dimension, exact counts and integer-scaled sums for both sides —
    mean shift and variance shift follow exactly, the vector-space
    analog of ``corpus_drift``'s total-variation audit. A drifting
    encoder or a source-mix change shows up as per-dimension mean
    displacement long before downstream quality metrics move.

    Composition, not new machinery: each side is the DIAGONAL of
    :func:`embedding_gram` (dim_i == dim_j rows — count, sum, and
    sum-of-squares per dimension), so the cost is one Arrow partial
    pass per side reducing to d rows each, then a d-row full outer
    join. Nothing corpus-sized shuffles; the streamed-gram state
    (``run_gram_stream``) can stand in for either side without a
    re-scan.

    Output: (pos, n_a, sum_a, sumsq_a, n_b, sum_b, sumsq_b) — exact
    int64, one row per dimension.
    """

    def side(df: DataFrame, tag: str) -> DataFrame:
        g = embedding_gram(df, vec_col=vec_col, scale=scale)
        return g.filter(F.col("dim_i") == F.col("dim_j")).select(
            F.col("dim_i").alias("pos"),
            F.col("n").alias(f"n_{tag}"),
            F.col("sum_i").alias(f"sum_{tag}"),
            F.col("sum_prod").alias(f"sumsq_{tag}"),
        )

    zero = F.lit(0).cast("long")
    return (
        side(a, "a")
        .join(side(b, "b"), "pos", "full_outer")
        .select(
            "pos",
            *[
                F.coalesce(c, zero).alias(c)
                for c in ["n_a", "sum_a", "sumsq_a", "n_b", "sum_b", "sumsq_b"]
            ],
        )
    )


def knn_recall_audit(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    dim: int = 64,
    n_planes: int = 6,
    multiprobe_hamming: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "single",
    n_tables: int = 4,
    codebooks: list | None = None,
    n_probe: int = 2,
    shortlist: int = 100,
) -> DataFrame:
    """Recall@k pre-flight for the hyperplane-LSH path: the approximate
    top-k's overlap with the EXACT top-k for one probe query — run on a
    sample of queries before trusting an (n_planes, multiprobe) config
    on the full corpus, exactly like :func:`minhash_jaccard_estimate`
    audits the MinHash banding and :func:`lsh_bucket_stats` audits
    candidate volume. A recall of k/k says the probe radius covers this
    query's true neighborhood; persistent n_hits < k says add probes or
    drop planes.

    Composition of two already-verified contracts (both collect-free,
    single-row broadcast query): exact ranking and LSH ranking join on
    the id — the k-row join is driver-free and the audit row is exact
    integers, so the whole audit is oracle-checkable (deterministic
    seed-42 planes).

    ``method="multitable"`` audits :func:`knn_lsh_multitable` with the
    same (n_planes, n_tables) it would run, and ``method="ivfpq"``
    (with ``codebooks``/``n_probe``/``shortlist``) audits
    :func:`ivfpq_topk_to_id`, and ``method="hamming"`` (with
    ``shortlist``) audits :func:`knn_hamming_to_id` — the four audits
    side by side are the comparison that picks the production ANN
    config per corpus.

    Output: one row — (query_id, k, n_hits), n_hits = |approx ∩ exact|.
    """
    exact = knn_to_id(embeddings, query_id, k, id_col, vec_col).select(id_col)
    if method == "single":
        indexed, _planes = build_lsh_index(
            embeddings, dim=dim, n_planes=n_planes, vec_col=vec_col
        )
        approx = knn_lsh_to_id(
            indexed, query_id, k, id_col, vec_col, multiprobe_hamming
        ).select(id_col)
    elif method == "multitable":
        approx = knn_lsh_multitable(
            embeddings, query_id, k, dim, n_planes, n_tables, id_col, vec_col
        ).select(id_col)
    elif method == "ivfpq":
        if codebooks is None:
            raise ValueError("method='ivfpq' requires codebooks")
        approx = ivfpq_topk_to_id(
            embeddings, codebooks, query_id, k,
            n_probe=n_probe, shortlist=shortlist,
            id_col=id_col, vec_col=vec_col,
        ).select(id_col)
    elif method == "hamming":
        # route through the fused single-scan batch path (r11): one
        # corpus scan computes signature + cosine + hamming together
        # instead of separate exact/approx legs (2 scans, ~2x the jobs)
        return knn_recall_audit_batch(
            embeddings, [query_id], k, id_col=id_col, vec_col=vec_col,
            method="hamming", shortlist=shortlist,
        )
    elif method == "ivfpq_res":
        if codebooks is None:
            raise ValueError("method='ivfpq_res' requires (residual) codebooks")
        approx = ivfpq_residual_topk_to_id(
            embeddings, codebooks, query_id, k,
            n_probe=n_probe, shortlist=shortlist,
            id_col=id_col, vec_col=vec_col,
        ).select(id_col)
    else:
        raise ValueError(f"unknown method {method!r}")
    hits = approx.join(exact, id_col, "left_semi")
    # F.lit(query_id) keeps the probe id's native Python type (r12:
    # int(query_id) broke string ids and narrowed large bigints)
    return hits.agg(
        F.lit(query_id).alias("query_id"),
        F.lit(int(k)).alias("k"),
        F.count("*").cast("bigint").alias("n_hits"),
    )


def knn_lsh_multitable(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Multi-table hyperplane-LSH top-k — OR-amplification, the standard
    recall repair when single-table probing saturates (measured here:
    the 6-plane/h≤2 single table scores 4/10 recall on the contract
    corpus and widening probes plateaus at 7-8/10, while 4 tables ×
    4 planes reaches 8/10 touching ~25% of the corpus —
    :func:`knn_recall_audit` is how you learn this per corpus). Each
    table uses independent planes (seed+t); a vector is a candidate if
    it shares its EXACT bucket with the query in ANY table; candidates
    re-rank by exact cosine under the knn contract order.

    Plan shape: ONE corpus scan computes all L signatures (L·p codegen
    dot products per row), the query row broadcasts back from the table
    itself (collect-free, the knn_to_id pattern), candidacy is an OR of
    L integer equalities, and the re-rank is TakeOrderedAndProject over
    the candidate subset. At scale, write the L signatures out
    partitioned by (table, bucket) once and each query prunes to L file
    groups — same economics as the single-table index, L× storage.

    Output: (id, cosine_sim) — top k of the candidate set.
    """
    sig_cols = []
    for t in range(n_tables):
        planes = random_hyperplanes(dim, n_planes, seed + t)
        sig_cols.append(
            hyperplane_signature(vec_col, planes).alias(f"_b{t}")
        )
    sig = embeddings.select(F.col(id_col), F.col(vec_col), *sig_cols)
    q = sig.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qvec"),
        *[F.col(f"_b{t}").alias(f"_qb{t}") for t in range(n_tables)],
    )
    joined = sig.crossJoin(F.broadcast(q))
    cand = functools.reduce(
        lambda a, b: a | b,
        [F.col(f"_b{t}") == F.col(f"_qb{t}") for t in range(n_tables)],
    )
    return (
        joined.filter(cand)
        .select(
            F.col(id_col),
            cosine_similarity(F.col(vec_col), F.col("_qvec")).alias("_sim"),
        )
        .orderBy(F.round("_sim", 6).desc(), F.col(id_col))
        .limit(k)
        .select(F.col(id_col), F.round("_sim", 6).alias("cosine_sim"))
    )


def ivfpq_topk_to_id(
    embeddings: DataFrame,
    codebooks: list[list[list[int]]],
    query_id: int = 0,
    k: int = 10,
    n_probe: int = 2,
    shortlist: int = 100,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """IVF-PQ — the canonical billion-scale ANN composition, assembled
    from this engine's two verified halves: IVF cell probing restricts
    the search to ``n_probe`` inverted lists (here the deterministic
    label cells of :func:`knn_ivf_label_to_id`), PQ ADC ranks ONLY
    those cells' compressed codes into a ``shortlist``, and exact
    cosine re-ranks the shortlist into the final top-k (the
    :func:`pq_topk_rerank_to_id` tail). Per query the heavy scan
    touches |corpus|·n_probe/|cells| code rows — with the corpus
    bucketed by the cell key the probe semi-join prunes at the source —
    and float math runs on ``shortlist`` rows.

    Fully in-plan and collect-free (probe choice is a row_number over
    the ≤|cells| centroid table; query rows broadcast from the table
    itself); with label codebooks every stage is integer-exact or
    6-dp-pinned, so the WHOLE composition is oracle-checked — probe
    selection, encoding, ADC, re-rank — not just its pieces.

    Output: (id, cosine_sim) — top ``k``, knn contract ranking.
    """
    if n_probe < 1:
        raise ValueError("n_probe must be >= 1")
    from pyspark.sql import Window

    probe, q = _label_probe(
        embeddings, query_id, n_probe, group_col, vec_col, id_col, decimals
    )
    cells = embeddings.join(F.broadcast(probe), group_col)
    cand = pq_topk_to_id(
        embeddings, codebooks, query_id, shortlist, id_col, vec_col,
        candidates=cells,
    ).select(id_col)
    rescored = (
        embeddings.join(F.broadcast(cand), id_col, "left_semi")
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            cosine_similarity(F.col(vec_col), F.col("_qvec")).alias("_sim"),
        )
    )
    return (
        rescored.orderBy(F.round("_sim", 6).desc(), F.col(id_col))
        .limit(k)
        .select(F.col(id_col), F.round("_sim", 6).alias("cosine_sim"))
    )


def write_pq_codes(
    embeddings: DataFrame,
    codebooks: list[list[list[int]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the corpus's PQ code table — (id, codes array<int>),
    m ints per vector — so recurring ANN queries scan compressed codes
    instead of re-encoding 100 TB of float vectors per query (the
    write_minhash_index economics: encode once per corpus build, read a
    few GB of ints per query). ``m`` and a codebook fingerprint (md5 of
    the flattened centroid ints) travel as column metadata on
    ``codes``: ADC against codes produced by DIFFERENT codebooks ranks
    garbage silently, so the reader gate rejects a mismatch loudly.
    """
    codes = pq_encode(embeddings, codebooks, id_col, vec_col)
    _stamp_pq_codes(codes, codebooks).write.mode("overwrite").parquet(path)


def _stamp_pq_codes(codes: DataFrame, codebooks: list) -> DataFrame:
    """``codes`` carrying its build's stamp as column metadata: ``m`` and
    the codebook fingerprint (md5 of the compact JSON of the centroid
    ints) — the batch table and every streamed delta alike."""
    return codes.withMetadata(
        "codes", {"m": len(codebooks), "codebook_md5": _planes_md5(codebooks)}
    )


def _gate_pq_codes(df: DataFrame, codebooks: list | None, path: str) -> DataFrame:
    """``df`` unchanged, or ValueError when ``codebooks`` (None skips the
    gate) are not the ones its codes were encoded with."""
    if codebooks is not None:
        fp = _planes_md5(codebooks)
        got = df.schema["codes"].metadata.get("codebook_md5")
        if got != fp:
            raise ValueError(
                f"PQ codes at {path} were encoded with different codebooks "
                f"(md5 {got} != {fp})"
            )
    return df


def read_pq_codes(
    spark,
    path: str,
    codebooks: list[list[list[int]]] | None = None,
) -> DataFrame:
    """Read a code table written by :func:`write_pq_codes`; when the
    querying codebooks are passed, reject a fingerprint mismatch
    (codes and codebooks must come from the same build)."""
    return _gate_pq_codes(spark.read.parquet(path), codebooks, path)


def pq_error_audit(
    embeddings: DataFrame,
    codebooks: list[list[list[int]]],
    query_id: int = 0,
    k: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantization-error audit for the PQ pipeline: for the ``k``
    ADC-nearest candidates of one probe query, the ADC distance next to
    the EXACT integer squared distance and their difference — the PQ
    counterpart of :func:`minhash_jaccard_estimate` (how tight is the
    compressed-domain estimate?) and the third leg of the audit family
    (bucket volume → recall → distance fidelity). Persistent large
    |err| on near neighbors says the codebooks underfit (raise m, or
    train real KMeans codebooks instead of label means) BEFORE a
    full-corpus run trusts the shortlist.

    Everything is integer-exact (scaled-int ADC and exact distances),
    so the audit is oracle-checked bit-for-bit. Cost: the ADC ranking
    plus one exact-distance expression over k re-joined rows.

    Output: (id, pq_dist, exact_dist, err), err = pq_dist − exact_dist.
    """
    cand = pq_topk_to_id(embeddings, codebooks, query_id, k, id_col, vec_col)
    q = embeddings.filter(F.col(id_col) == query_id).select(
        _pq_scaled(F.col(vec_col)).alias("_q")
    )
    exact = (
        embeddings.join(F.broadcast(cand.select(id_col)), id_col, "left_semi")
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            _int_sqdist(_pq_scaled(F.col(vec_col)), F.col("_q"))
            .cast("bigint")
            .alias("exact_dist"),
        )
    )
    return cand.join(exact, id_col).select(
        F.col(id_col),
        "pq_dist",
        "exact_dist",
        (F.col("pq_dist") - F.col("exact_dist")).cast("bigint").alias("err"),
    )


def embedding_profile(
    embeddings: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """One-row integrity profile of an embedding column — the pre-flight
    every vector pipeline here assumes has passed: NULL rows, ragged
    dimensions (``np.stack`` in any Arrow stage hard-fails on them),
    NaN/Inf components (which poison every cosine they touch and
    propagate through aggregates), and all-zero vectors (whose "unit"
    normalization is a division guard away from garbage). Run it before
    gram/whiten/ANN on a new corpus drop; a non-zero count in any
    defect column routes to quarantine, same policy as the JSONL
    corrupt-row split.

    Pure codegen expressions over one scan (exists/filter/aggregate
    HOFs — no explode, no Python), folding into a single 1-row
    partial+final aggregate.

    Output: (n_vecs, n_null, dim_min, dim_max, n_with_nan, n_with_inf,
    n_zero) — all exact integers.
    """
    v = F.col(vec_col)
    has_nan = F.exists(v, lambda x: F.isnan(x.cast("double")))
    has_inf = F.exists(
        v,
        lambda x: (x.cast("double") == F.lit(float("inf")))
        | (x.cast("double") == F.lit(float("-inf"))),
    )
    all_zero = ~F.exists(v, lambda x: x.cast("double") != 0.0)
    return embeddings.agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.sum(F.when(v.isNull(), 1).otherwise(0)).cast("bigint").alias("n_null"),
        F.min(F.size(v)).cast("bigint").alias("dim_min"),
        F.max(F.size(v)).cast("bigint").alias("dim_max"),
        F.sum(F.when(v.isNotNull() & has_nan, 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_nan"),
        F.sum(F.when(v.isNotNull() & has_inf, 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_inf"),
        F.sum(F.when(v.isNotNull() & all_zero, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero"),
    )


# ---------------------------------------------------------------------------
# binary (sign-bit) quantization — hamming shortlist ANN
# ---------------------------------------------------------------------------


def binarize_embeddings(
    embeddings: DataFrame,
    bits: int = 60,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-bit binary quantization: bit i of the signature is
    ``embedding[i] > 0`` — the axis-aligned special case of hyperplane
    LSH (one plane per dimension instead of ``n_planes`` random ones),
    and the binary-quantization index production vector stores ship
    (8 bytes/vector instead of 4·d; candidate scoring is one
    xor+popcount instead of d multiplies).

    Uses the LOW ``bits`` dimensions (default 60 — the engine's md5_60
    bit-width convention: signatures stay positive int64, DuckDB
    reproduces them shift-for-shift, and :func:`hamming_pairs` applies
    unchanged). Dimensions past ``bits`` are invisible to the signature
    — the exact re-rank step of every consumer re-scores with the full
    vector, so truncation costs shortlist quality only, never final
    correctness. Pure expression (zip_with + aggregate): map-only, no
    Python workers. Output: (id, bsig bigint).
    """
    if not 1 <= bits <= 60:
        raise ValueError(f"bits must be in [1, 60], got {bits}")
    # NULL/NaN quarantine: a NULL bsig/hamming sorts FIRST under the
    # shortlist's ascending order, so enough NULL-embedding rows used
    # to fill the entire hamming shortlist and recall silently
    # collapsed (r10 review fix)
    embeddings = finite_vectors(embeddings, vec_col)
    sig = F.expr(
        f"aggregate(zip_with(slice({_quoted(vec_col)}, 1, {bits}), "
        f"sequence(0, {bits - 1}), "
        f"(v, i) -> IF(v > 0D, shiftleft(1L, i), 0L)), "
        f"0L, (acc, x) -> acc + x)"
    )
    return embeddings.select(F.col(id_col), sig.alias("bsig"))


def knn_hamming_to_id(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    shortlist: int = 100,
    bits: int = 60,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary-quantization ANN: hamming shortlist + exact re-rank — the
    fourth audited ANN path (single-table LSH, multitable LSH, IVF-PQ,
    and this), and the cheapest per-candidate one: the scan computes
    ONE xor+popcount per row against the broadcast query signature
    (map-only, 8-byte rows), a TakeOrderedAndProject keeps the
    ``shortlist`` closest signatures (hamming asc, id tiebreak — fully
    deterministic), and only those rows are re-scored with the full
    float vector (rounded cosine desc, id — the knn_batch ranking
    convention). Collect-free: query signature and query vector ride
    1-row broadcasts from the corpus itself.

    Output: (vec_id, hamming int, cosine_sim) — top-k by exact cosine.
    """
    sigs = binarize_embeddings(embeddings, bits=bits, id_col=id_col, vec_col=vec_col)
    return knn_hamming_index_to_id(
        embeddings, sigs, query_id, k, shortlist, id_col, vec_col
    )


# The pure routing rule lives next to the dispatcher it rules
# (operators/dedup.py); re-exported here because the embedding-side
# caller and its tests reach it through the similarity surface.
from kafka_streams_spark.operators.dedup import (  # noqa: E402
    hamming_dispatch_choice,
)


def emb_near_dup_binary(
    embeddings: DataFrame,
    max_hamming: int = 10,
    min_cosine: float = 0.9,
    bits: int = 60,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "pigeonhole",
) -> DataFrame:
    """Embedding near-duplicate pairs via binary signatures: candidates
    within hamming ``max_hamming``, verified with exact cosine ≥
    ``min_cosine`` on the candidate pairs only. The axis-aligned
    sibling of :func:`embedding_near_duplicates`: the signature is
    data-independent (no plane seeds to version) and the candidate
    scan is popcount-cheap.

    ``strategy`` picks the candidate plan — output is identical across
    all three (both candidate forms are EXACT within the radius):

    - ``"pigeonhole"``: :func:`~kafka_streams_spark.operators.dedup.
      hamming_pairs` — no false negatives, (r+1) bucket chunks, 8-byte
      shuffle rows. The scale form for TIGHT radii (chunks stay wide:
      r ≤ 6 at 60 bits keeps chunks ≥ 8 bits).
    - ``"brute"``: popcount cross join. Wins when the radius is wide
      enough that pigeonhole candidates approach all-pairs anyway —
      then the banding explode/join/distinct is pure overhead (the
      round-6 scaling wave measured the degeneration at r=16).
    - ``"auto"``: price the radius with
      :func:`~kafka_streams_spark.operators.dedup.hamming_bucket_stats`
      (a bounded aggregate over the 8-byte signature table) and apply
      :func:`hamming_dispatch_choice`. Two small plan-construction jobs
      — the documented exception class (the `ngram_jaccard_pairs_auto`
      precedent); at 100 TB both numbers come from the index summary
      you'd maintain anyway.

    Output: (id_a, id_b, hamming int, cosine_sim) — id_a < id_b.
    """
    from kafka_streams_spark.operators.dedup import (
        hamming_pairs,
        hamming_pairs_auto,
        hamming_pairs_brute,
    )

    sigs = binarize_embeddings(embeddings, bits=bits, id_col=id_col, vec_col=vec_col)
    if strategy == "auto":
        cand = hamming_pairs_auto(sigs, id_col, "bsig", bits, max_hamming)
    elif strategy == "brute":
        cand = hamming_pairs_brute(sigs, id_col, "bsig", max_hamming)
    elif strategy == "pigeonhole":
        cand = hamming_pairs(sigs, id_col, "bsig", bits, max_hamming)
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    va = embeddings.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va")
    )
    vb = embeddings.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb")
    )
    cos = F.round(cosine_similarity(F.col("_va"), F.col("_vb")), 6)
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.col("hamming").cast("int").alias("hamming"),
            cos.alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= min_cosine)
    )


def write_binary_index(
    embeddings: DataFrame,
    path: str,
    bits: int = 60,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the corpus's sign-bit signature table — (id, bsig),
    8 bytes per vector — so recurring hamming-ANN queries scan the tiny
    index instead of re-reading 100 TB of float vectors (the
    write_minhash_index / write_pq_codes economics applied to the
    binary family). ``bits`` travels as column metadata on ``bsig``:
    hamming against signatures built with a different bit-width
    compares different dimension sets silently, so the reader gate
    rejects a mismatch loudly."""
    sigs = binarize_embeddings(
        embeddings, bits=bits, id_col=id_col, vec_col=vec_col
    )
    _stamp_bsig(sigs, bits).write.mode("overwrite").parquet(path)


def _stamp_bsig(sigs: DataFrame, bits: int) -> DataFrame:
    """``sigs`` carrying its bit-width as metadata on ``bsig`` — the
    batch table and every streamed delta alike."""
    return sigs.withMetadata("bsig", {"bits": bits})


def _gate_bsig(df: DataFrame, bits: int | None, path: str) -> DataFrame:
    """``df`` unchanged, or ValueError when ``bits`` (None skips the
    gate) is not the bit-width its signatures were built with."""
    if bits is not None:
        got = df.schema["bsig"].metadata.get("bits")
        if got != bits:
            raise ValueError(
                f"binary index at {path} was built with bits={got}, "
                f"query expects bits={bits}"
            )
    return df


def read_binary_index(spark, path: str, bits: int | None = None) -> DataFrame:
    """Read a signature table written by :func:`write_binary_index`;
    when the querying bit-width is passed, reject a mismatch (query
    signatures and index must binarize the same dimensions)."""
    return _gate_bsig(spark.read.parquet(path), bits, path)


def knn_hamming_index_to_id(
    embeddings: DataFrame,
    sigs: DataFrame,
    query_id: int,
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`knn_hamming_to_id` ranking off a PRE-BUILT signature
    table (from :func:`read_binary_index` or the streamed appender) —
    the recurring-query path: the popcount scan touches only the 8-byte
    index rows, and the float vectors are read just for the
    ``shortlist`` re-rank join. Output identical to the inline form
    (pinned in tests)."""
    qsig = sigs.filter(F.col(id_col) == query_id).select(F.col("bsig").alias("_qsig"))
    ham = F.bit_count(F.col("bsig").bitwiseXOR(F.col("_qsig")))
    short = (
        sigs.crossJoin(F.broadcast(qsig))
        .select(F.col(id_col), ham.alias("hamming"))
        .orderBy(F.col("hamming"), F.col(id_col))
        .limit(shortlist)
    )
    qvec = embeddings.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qvec")
    )
    rescored = (
        embeddings.join(F.broadcast(short), id_col)
        .crossJoin(F.broadcast(qvec))
        .select(
            F.col(id_col),
            F.col("hamming").cast("int").alias("hamming"),
            F.round(
                cosine_similarity(F.col(vec_col), F.col("_qvec")), 6
            ).alias("cosine_sim"),
        )
    )
    return rescored.orderBy(F.col("cosine_sim").desc(), F.col(id_col)).limit(k)


def knn_recall_audit_batch(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "hamming",
    **method_kwargs,
) -> DataFrame:
    """Recall@k over a SAMPLE of probe queries — the form a production
    pre-flight actually runs (one query's recall is an anecdote; the
    config decision wants the distribution over a query sample).
    ``method="hamming"`` takes a FUSED single-scan composition (r11
    perf fix — the r10 verdict's one-signature-scan ask): the corpus is
    scanned ONCE (quarantine + signature + norm in one projection),
    cross-joined against the |Q|-row broadcast query side, and per
    (row, query) pair the rounded cosine and the xor-popcount hamming
    are computed together. Three windows share the single query_id
    exchange: the exact rank (cosine desc, id), the hamming-shortlist
    rank (hamming asc, id), and the re-rank of the shortlist members
    by the SAME rounded cosine — so ``n_hits`` is one conditional
    aggregation (exact_rank <= k AND approx_rank <= k), no join. The
    per-probe union this replaces ran 2·|Q| corpus scans and |Q|
    binarize passes; the fused form is one scan + one |corpus|·|Q|
    exchange at any |Q|. Ranking is the identical rounded-6dp/
    id-tiebreak contract as the single-query audit legs, so the hit
    counts are the same rows (pinned in tests); a probe whose approx
    k-set misses the exact k-set entirely still emits its n_hits=0 row
    via the probe spine. Other methods compose
    :func:`knn_recall_audit` per probe and union the one-row audits
    (each leg collect-free, |Q| tiny plans).

    Output: (query_id, k, n_hits), one row per probe, ordered by
    query_id.
    """
    if method == "hamming":
        from pyspark.sql import Window

        kwargs = dict(method_kwargs)
        shortlist = kwargs.pop("shortlist", 100)
        bits = kwargs.pop("bits", 60)
        if kwargs:
            raise TypeError(
                f"unexpected kwargs for method='hamming': {sorted(kwargs)}"
            )
        if not 1 <= bits <= 60:
            raise ValueError(f"bits must be in [1, 60], got {bits}")
        sig = F.expr(
            f"aggregate(zip_with(slice({_quoted(vec_col)}, 1, {bits}), "
            f"sequence(0, {bits - 1}), "
            f"(v, i) -> IF(v > 0D, shiftleft(1L, i), 0L)), "
            f"0L, (acc, x) -> acc + x)"
        )
        base = finite_vectors(embeddings, vec_col).select(
            F.col(id_col), F.col(vec_col).alias("_v"), sig.alias("_sig")
        )
        # query_id keeps the corpus id column's NATIVE type (r12,
        # ADVICE): the old cast('int') silently wrapped bigint ids
        # >= 2^31 under non-ANSI mode — corrupting the grouping and the
        # spine join — and int(q) broke string ids outright. The driver
        # gate compares column NAMES and canonicalized values, so the
        # int -> bigint widening is contract-transparent.
        id_type = embeddings.schema[id_col].dataType
        qside = base.filter(
            F.col(id_col).isin(list(query_ids))
        ).select(
            F.col(id_col).alias("query_id"),
            F.col("_v").alias("_qv"),
            F.col("_sig").alias("_qsig"),
        )
        pairs = base.crossJoin(F.broadcast(qside)).select(
            "query_id",
            F.col(id_col),
            F.round(cosine_similarity(F.col("_v"), F.col("_qv")), 6).alias(
                "_sim"
            ),
            F.bit_count(F.col("_sig").bitwiseXOR(F.col("_qsig"))).alias(
                "_ham"
            ),
        )
        w_exact = Window.partitionBy("query_id").orderBy(
            F.col("_sim").desc(), F.col(id_col)
        )
        w_short = Window.partitionBy("query_id").orderBy(
            F.col("_ham"), F.col(id_col)
        )
        ranked = pairs.withColumn(
            "_er", F.row_number().over(w_exact)
        ).withColumn("_sr", F.row_number().over(w_short))
        # re-rank WITHIN the shortlist by the same rounded cosine: the
        # filter preserves the query_id partitioning, so this window is
        # a sort over already-shuffled rows, not a new exchange
        approx = ranked.filter(F.col("_sr") <= shortlist).withColumn(
            "_ar", F.row_number().over(w_exact)
        )
        counts = approx.groupBy("query_id").agg(
            F.sum(
                F.when(
                    (F.col("_ar") <= k) & (F.col("_er") <= k), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("_n")
        )
        spine = (
            embeddings.sparkSession.range(1)
            .select(
                F.explode(
                    F.array(*[F.lit(q).cast(id_type) for q in query_ids])
                ).alias("query_id")
            )
        )
        return (
            spine.join(counts, "query_id", "left")
            .select(
                "query_id",
                F.lit(int(k)).cast("int").alias("k"),
                F.coalesce(F.col("_n"), F.lit(0).cast("bigint")).alias(
                    "n_hits"
                ),
            )
            .orderBy("query_id")
        )
    audits = [
        knn_recall_audit(
            embeddings, qid, k, id_col=id_col, vec_col=vec_col,
            method=method, **method_kwargs,
        )
        for qid in query_ids
    ]
    out = audits[0]
    for a in audits[1:]:
        out = out.unionByName(a)
    return out.orderBy("query_id")


def knn_hamming_batch_to_ids(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    shortlist: int = 100,
    bits: int = 60,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batched binary-quantization ANN: neighbors of SEVERAL corpus
    vectors in one pass over the 8-byte signature table — the
    ANN-evaluation / recommendation shape on the engine's best
    recall/touch path. One popcount per (row, query) against the
    broadcast query signatures (|Q| tiny), a per-query window keeps the
    ``shortlist`` hamming-closest (rounded-cosine re-rank of those only,
    the knn_batch ranking convention), and the float vectors are read
    just for the shortlist join. Collect-free throughout.

    The per-query rank windows partition on query_id — |corpus|·|Q|
    narrow rows shuffle into |Q| rank partitions, the same toy-scale/
    oracle form as :func:`knn_batch_to_ids`; at 100 TB pre-top-k the
    hamming scan map-side per partition first (the knn_batch_arrow
    lesson applied to int64 rows — cheap enough that the plain window
    is usually fine at 8 bytes/row).

    Output: (query_id, vec_id, hamming int, cosine_sim, rank 1..k).
    """
    from pyspark.sql import Window

    sigs = binarize_embeddings(embeddings, bits=bits, id_col=id_col, vec_col=vec_col)
    qsig = sigs.filter(F.col(id_col).isin([int(i) for i in query_ids])).select(
        F.col(id_col).alias("query_id"), F.col("bsig").alias("_qsig")
    )
    ham = F.bit_count(F.col("bsig").bitwiseXOR(F.col("_qsig")))
    scored = sigs.crossJoin(F.broadcast(qsig)).select(
        "query_id", F.col(id_col), ham.alias("hamming")
    )
    w_short = Window.partitionBy("query_id").orderBy(
        F.col("hamming"), F.col(id_col)
    )
    short = scored.withColumn("_sr", F.row_number().over(w_short)).filter(
        F.col("_sr") <= shortlist
    )
    qvec = embeddings.filter(F.col(id_col).isin([int(i) for i in query_ids])).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    rescored = (
        embeddings.join(
            F.broadcast(short.select("query_id", id_col, "hamming")), id_col
        )
        .join(F.broadcast(qvec), "query_id")
        .select(
            "query_id",
            F.col(id_col),
            F.col("hamming").cast("int").alias("hamming"),
            F.round(
                cosine_similarity(F.col(vec_col), F.col("_qvec")), 6
            ).alias("cosine_sim"),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col)
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "hamming", "cosine_sim", "rank")
    )


# ---------------------------------------------------------------------------
# residual IVF-PQ — ADC over cell residuals (the FAISS IVFPQ composition)
# ---------------------------------------------------------------------------


def cell_centroids_int(
    embeddings: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cell centroid in EXACT scaled-integer space: java-round of
    the per-dimension mean of the scaled ints (``floor((2s+c)/(2c))``,
    the `pq_label_codebooks` convention — both engines evaluate the
    same float64 division over exactly-representable ints). Residual
    quantization subtracts these, so keeping them on the same int grid
    as the vectors makes residuals pure int64 arithmetic end-to-end.

    One explode → one (cell, pos) aggregation with map-side combine
    (≤ |cells|·dim rows) → per-cell array reassembly.
    Output: (group_col, cent array<bigint>).
    """
    per_dim = _int_mean_table(embeddings, group_col, vec_col)
    ordered = F.array_sort(F.collect_list(F.struct("pos", "cm")))
    return per_dim.groupBy(group_col).agg(
        F.transform(ordered, lambda s: s["cm"]).alias("cent")
    )


def pq_train_residual_codebooks(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 8,
    sample_size: int = 2048,
    iters: int = 10,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[int]]]:
    """Train PQ codebooks on CELL RESIDUALS (x − centroid[cell]) — the
    FAISS IVFPQ refinement: within a probed cell every vector shares
    the centroid, so quantizing the residual spends the codebook's
    k^m cells on the WITHIN-cell structure instead of re-encoding the
    between-cell offsets the IVF step already resolved. ADC error
    shrinks accordingly (pinned by the fidelity test: residual ADC
    error ≤ raw ADC error on the contract corpus).

    Residual codebooks are inherently a LEARNED artifact: any
    data-independent grouping of residuals has near-zero mean (the
    residuals of a cell sum to ~0 by construction), so there is no
    deterministic label-codebook twin — contracts over this path are
    rows-only (the knn_pq_vec0 class), and the deterministic halves
    (integer centroids, probe selection, exact re-rank) carry the
    oracle coverage. Training itself is deterministic given the data
    (same sample/init/tie rules as :func:`pq_train_codebooks`), so
    replays reproduce the same books.

    Bounded construction jobs: the id-ordered sample collect plus the
    ≤ |cells|·dim centroid collect (the IVF-fit exception class).
    """
    cents = {
        r[group_col]: list(r["cent"])
        for r in cell_centroids_int(embeddings, group_col, vec_col).collect()
    }
    rows = (
        finite_vectors(embeddings, vec_col)
        .orderBy(id_col)
        .limit(sample_size)
        .select(group_col, vec_col)
        .collect()
    )
    if not rows:
        raise ValueError("cannot train residual codebooks on an empty table")
    X = np.array(
        [
            [
                math.floor(float(x) * PQ_SCALE + 0.5) - c
                for x, c in zip(r[vec_col], cents[r[group_col]])
            ]
            for r in rows
        ],
        dtype=np.float64,
    )
    return _lloyd_books(X, m, k, iters)


def ivfpq_residual_topk_to_id(
    embeddings: DataFrame,
    codebooks: list[list[list[int]]],
    query_id: int = 0,
    k: int = 10,
    n_probe: int = 2,
    shortlist: int = 100,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Residual IVF-PQ top-k — the canonical billion-scale composition
    with the FAISS residual refinement: probe the ``n_probe`` cells
    whose integer centroids are L2-closest to the query (exact int64
    distances, cell-key tiebreak), ADC-rank ONLY those cells' residual
    codes against the query's PER-CELL residual (q − centroid[cell] —
    the residual ADC subtlety: the query re-expresses itself relative
    to each probed cell), shortlist, exact cosine re-rank.

    Everything stays expression-level and collect-free: centroids ride
    a broadcast of the bounded cell table; candidate codes are computed
    in the same map (no code table required — compose with the
    persisted/streamed code index for the recurring form); the
    codebook is a literal array-of-arrays indexed by the code
    (element_at), so ADC is pure int64 arithmetic.

    Output: (id, cosine_sim) — top ``k``, knn contract ranking.
    """
    if n_probe < 1:
        raise ValueError("n_probe must be >= 1")
    m = len(codebooks)
    k_codes = len(codebooks[0])
    dsub = len(codebooks[0][0])

    cents = cell_centroids_int(embeddings, group_col, vec_col)
    qint = embeddings.filter(F.col(id_col) == query_id).select(
        _pq_scaled(F.col(vec_col)).alias("_qint"),
        F.col(vec_col).alias("_qvec"),
    )
    # probe: exact int64 L2 of query vs each cell centroid
    probe = (
        cents.crossJoin(F.broadcast(qint))
        .select(
            group_col,
            "cent",
            _int_sqdist(F.col("cent"), F.col("_qint")).alias("_cd"),
        )
        .orderBy(F.col("_cd"), F.col(group_col))
        .limit(n_probe)
        .select(group_col, "cent")
    )
    # candidates with residuals + per-cell query residual, all int64
    cand = embeddings.join(F.broadcast(probe), group_col).crossJoin(
        F.broadcast(qint.select("_qint"))
    )
    res = F.zip_with(
        _pq_scaled(F.col(vec_col)), F.col("cent"), lambda x, c: x - c
    )
    qres = F.zip_with(F.col("_qint"), F.col("cent"), lambda x, c: x - c)
    cand = cand.select(
        F.col(id_col), res.alias("_res"), qres.alias("_qres")
    )

    # one parsed expression per subspace (the _floats_sql
    # construction-cost fix): 2·k_codes Column-built centroid arrays +
    # k_codes lambda distance trees per subspace cost seconds of py4j
    # driver time for an identical tree
    def sub_dist(s: int) -> Column:
        book_sql = "array(" + ",".join(
            _ints_sql(codebooks[s][j]) for j in range(k_codes)
        ) + ")"
        rsub_sql = f"slice(_res, {s * dsub + 1}, {dsub})"
        dists_sql = "array(" + ",".join(
            _sqdist_sql(rsub_sql, _ints_sql(codebooks[s][j]))
            for j in range(k_codes)
        ) + ")"
        code_sql = (
            f"cast(array_position({dists_sql}, array_min({dists_sql})) "
            f"as int)"
        )  # 1-based
        return F.expr(
            _sqdist_sql(
                f"slice(_qres, {s * dsub + 1}, {dsub})",
                f"element_at({book_sql}, {code_sql})",
            )
        )

    adc = sum(sub_dist(s) for s in range(m))
    short = (
        cand.select(F.col(id_col), adc.alias("_adc"))
        .orderBy(F.col("_adc"), F.col(id_col))
        .limit(shortlist)
        .select(id_col)
    )
    rescored = (
        embeddings.join(F.broadcast(short), id_col, "left_semi")
        .crossJoin(F.broadcast(qint.select("_qvec")))
        .select(
            F.col(id_col),
            cosine_similarity(F.col(vec_col), F.col("_qvec")).alias("_sim"),
        )
    )
    return (
        rescored.orderBy(F.round("_sim", 6).desc(), F.col(id_col))
        .limit(k)
        .select(F.col(id_col), F.round("_sim", 6).alias("cosine_sim"))
    )


ANN_LADDER = ("single", "hamming", "multitable", "ivfpq")
"""Default cost-ordered ANN candidate ladder for :func:`knn_auto` —
cheapest per-query touch first: single-table LSH (one bucket
neighborhood), binary hamming (full scan but 8-byte signatures + one
popcount per row), multitable LSH (n_tables buckets), IVF-PQ (cell
probe + ADC). Exact brute force is the implicit last rung."""


def knn_auto(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    recall_target: float = 0.8,
    ladder: tuple[str, ...] = ANN_LADDER,
    dim: int = 64,
    n_planes: int = 6,
    multiprobe_hamming: int = 2,
    mt_planes: int = 4,
    n_tables: int = 4,
    shortlist: int = 100,
    n_probe: int = 2,
    codebooks: list | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Production ANN chooser: walk the cost-ordered ``ladder`` of
    audited paths, run each path's :func:`knn_recall_audit` at its
    configured budget, and ROUTE to the first whose measured recall@k
    meets ``recall_target`` — exact brute force if none does. The
    ``hamming_dispatch_choice`` pattern one level up: round 6 left four
    audited paths with measured recall side by side (single LSH 4/10,
    multitable 8/10, binary 10/10 at shortlist=100, IVF-PQ
    probe-limited) but no single entry point that applies the verdict;
    this is that entry point.

    The audits are 1-row bounded aggregates — each ``collect()`` is a
    dispatch decision over one row, the same bounded-driver-action
    budget the pigeonhole/brute auto-dispatch already spends (never a
    corpus-sized collect). At deployment scale, run the audit leg on a
    sampled corpus slice and reuse the decision for the query batch;
    the routing rule itself is corpus-size-free.

    Residual IVF-PQ is deliberately NOT on the default ladder: the
    round-7 clustered re-measure (tests/test_ivfpq_clustered.py) shows
    residual codebooks only beat raw when cells >> k AND cell spread >>
    within-cell noise — a property the audit must demonstrate per
    corpus before the rung is added (pass a custom ``ladder`` +
    residual ``codebooks`` to do so).

    Output: (route string, vec_id) — the chosen path's exact-re-ranked
    top-k ids plus the route label, so the dispatch decision itself is
    differentially checkable (the DuckDB twin derives the route from
    the same audit CTEs).
    """
    need = int(math.ceil(float(recall_target) * k))
    route = "exact"
    for method in ladder:
        if method in ("ivfpq", "ivfpq_res") and codebooks is None:
            continue
        hits = knn_recall_audit(
            embeddings, query_id, k=k, dim=dim,
            n_planes=(mt_planes if method == "multitable" else n_planes),
            multiprobe_hamming=multiprobe_hamming, n_tables=n_tables,
            method=method, codebooks=codebooks, n_probe=n_probe,
            shortlist=shortlist, id_col=id_col, vec_col=vec_col,
        ).collect()[0]["n_hits"]
        if hits >= need:
            route = method
            break
    if route == "single":
        indexed, _planes = build_lsh_index(
            embeddings, dim=dim, n_planes=n_planes, vec_col=vec_col
        )
        top = knn_lsh_to_id(
            indexed, query_id, k, id_col, vec_col, multiprobe_hamming
        )
    elif route == "hamming":
        top = knn_hamming_to_id(
            embeddings, query_id, k, shortlist=shortlist,
            id_col=id_col, vec_col=vec_col,
        )
    elif route == "multitable":
        top = knn_lsh_multitable(
            embeddings, query_id, k, dim, mt_planes, n_tables, id_col, vec_col
        )
    elif route == "ivfpq":
        top = ivfpq_topk_to_id(
            embeddings, codebooks, query_id, k,
            n_probe=n_probe, shortlist=shortlist,
            id_col=id_col, vec_col=vec_col,
        )
    elif route == "ivfpq_res":
        top = ivfpq_residual_topk_to_id(
            embeddings, codebooks, query_id, k,
            n_probe=n_probe, shortlist=shortlist,
            id_col=id_col, vec_col=vec_col,
        )
    else:
        top = knn_to_id(embeddings, query_id, k, id_col, vec_col)
    return top.select(F.lit(route).alias("route"), F.col(id_col))
