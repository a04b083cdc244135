"""Similarity search over embedding columns (``array<float>``):
brute-force cosine top-k as the exact baseline, random-hyperplane LSH
as the approximate scale path.

Spark-first: the dot product / norms are higher-order array functions
(``zip_with`` + ``aggregate``) — JVM-evaluated, no Python, no UDF.

Scale design:
- brute force is ONE narrow projection + TakeOrderedAndProject: fine
  whenever k is small, even at 10^9 vectors, because nothing shuffles
  but the per-partition top-k heaps;
- for repeated queries, precompute ``with_norm`` once (store the norm
  column) and broadcast the query set;
- LSH buckets cut the scanned fraction to ~(matching buckets)/(2^bits)
  at a recall cost; signatures come from fixed seeded hyperplanes so
  results are deterministic and testable.
"""

from __future__ import annotations

import logging
import math
from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from .balance import spread_small_input

logger = logging.getLogger(__name__)


def _as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def vec_lit(values: Sequence[float]) -> Column:
    """A literal array<double> column from a Python vector."""
    return F.array(*[F.lit(float(v)) for v in values])


def dot(a: Column, b: Column) -> Column:
    """Σ a_i*b_i via zip_with + aggregate — left-to-right fold, so the
    float summation order is deterministic."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    query_vec: Sequence[float],
    k: int = 10,
    scale: int = 6,
) -> DataFrame:
    """Exact cosine top-k against one query vector.  Plans as
    scan -> project(cosine) -> TakeOrderedAndProject(k): no shuffle,
    each task keeps a k-heap."""
    emb = _as_double_array(emb_col)
    q = vec_lit(query_vec)
    scored = df.select(
        F.col(id_col), F.round(cosine(emb, q), scale).alias("cosine_sim")
    )
    return scored.orderBy(F.desc("cosine_sim"), F.col(id_col)).limit(k)


def knn_join(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    emb_col: str,
    query_id_col: str,
    query_emb_col: str,
    k: int = 5,
    scale: int = 6,
) -> DataFrame:
    """k nearest corpus vectors for EVERY query vector: broadcast the
    (small) query set, score all pairs, keep top-k per query with a
    per-query window — the distributed analog of a batched ANN query.
    """
    from pyspark.sql import Window

    corpus = df.select(
        F.col(id_col).alias("corpus_id"), _as_double_array(emb_col).alias("_ce")
    )
    qs = queries.select(
        F.col(query_id_col).alias("query_id"), _as_double_array(query_emb_col).alias("_qe")
    )
    scored = corpus.crossJoin(F.broadcast(qs)).select(
        "query_id",
        "corpus_id",
        F.round(cosine(F.col("_ce"), F.col("_qe")), scale).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.col("corpus_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


#: default cap on the corpus ``cosine_near_dup_gemm`` will collect to
#: the driver (rows; ~1 GB of float64 at 2M x 64).  Beyond this the
#: collect-and-broadcast pattern stops being a shortcut and starts
#: being the bottleneck — use :func:`cosine_near_dup_lsh`.
GEMM_MAX_ROWS = 2_000_000


def nn_label_confusion(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    label_col: str,
    scale: int = 6,
    gemm: bool = True,
) -> DataFrame:
    """1-NN label confusion over an embedding column: for every vector
    find its nearest neighbor (cosine; self excluded; ties broken by
    the lower neighbor id) and count ``(label, nn_label)`` pairs — the
    label-noise / class-overlap diagnostic run over a classification
    corpus before training (off-diagonal mass = candidate mislabels).

    Exact all-pairs baseline: vectors are unit-normalized ONCE, pairs
    are scored with a single dot fold, and the per-query argmax is one
    window shuffle on the query id.  At 100 TB the identical aggregate
    runs over ANN candidate lists instead (``ivf_topk`` /
    ``lsh_topk`` candidates cut the pair blowup from n^2 to n*k); only
    the candidate generator changes, the confusion aggregation below
    is reused as-is.

    Rows with a NULL embedding have no neighbor and are no one's
    neighbor: both paths drop them, as :func:`cosine_near_dup_gemm`
    does.

    Ranking compares the ROUNDED similarity so engine-level float
    drift can't flip the argmax between two near-tied neighbors
    (ties then resolve on the neighbor id in any engine).

    Fast path: when the corpus fits the driver-collect bound the
    scoring runs through the same Arrow/BLAS seam as
    :func:`cosine_near_dup_gemm` — one GEMM + argmax per Arrow batch
    instead of n^2 interpreted JVM dot folds (~10x measured at
    2k x 64) — with identical output (round-then-argmax, ties to the
    lower id).  Above the bound it falls back to the distributed
    window formulation below.
    """
    from pyspark.sql import Window

    if gemm:
        out = _nn_label_confusion_gemm(df, id_col, emb_col, label_col, scale)
        if out is not None:
            return out

    e = _as_double_array(emb_col)
    unit = (
        spread_small_input(
            df.select(
                F.col(id_col).alias("_id"),
                F.col(label_col).alias("_lbl"),
                e.alias("_e"),
            ).filter(F.col("_e").isNotNull())
        )
        .withColumn("_nrm", l2_norm(F.col("_e")))
        .select(
            "_id", "_lbl", F.transform("_e", lambda x: x / F.col("_nrm")).alias("_u")
        )
    )
    a = unit.select(
        F.col("_id").alias("_qid"),
        F.col("_lbl").alias("label"),
        F.col("_u").alias("_ua"),
    )
    b = unit.select(
        F.col("_id").alias("_cid"),
        F.col("_lbl").alias("nn_label"),
        F.col("_u").alias("_ub"),
    )
    scored = a.join(b, F.col("_qid") != F.col("_cid")).select(
        "_qid",
        "label",
        "_cid",
        "nn_label",
        (F.floor(dot(F.col("_ua"), F.col("_ub")) * F.lit(10.0 ** scale)
                 + F.lit(0.5)) / F.lit(10.0 ** scale)).alias("_sim"),
    )
    w = Window.partitionBy("_qid").orderBy(F.desc("_sim"), F.col("_cid"))
    nn = scored.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    return nn.groupBy("label", "nn_label").agg(F.count("*").alias("pair_count"))


def nn_confusion_over_candidates(
    candidates: DataFrame,
    labels: DataFrame,
    id_col: str,
    label_col: str,
    qid_col: str = "qid",
    dist_col: str = "adc_dist",
    ascending: bool = True,
) -> DataFrame:
    """1-NN label confusion over PRE-GENERATED ANN candidate lists —
    the 100 TB path :func:`nn_label_confusion` documents: swap the
    exact all-pairs scorer for IVF / PQ / IVF-PQ candidate lists
    (``candidates`` = (qid, id, distance) triples from e.g.
    :func:`ivfpq_adc_knn`), and reuse this aggregation tail unchanged.
    Pass candidates with k >= 2 so the best NON-SELF neighbor is
    always present: at most one self row exists per query, so the
    best non-self candidate sits at overall rank <= 2.

    Self-matches (candidate id == query id) are excluded, the best
    remaining candidate per query by (``dist_col``, id) wins —
    ``ascending=False`` for similarity-scored candidates — and
    ``(label, nn_label)`` pairs are counted.  Returns (label,
    nn_label, pair_count).

    Scale shape: one window shuffle on the (already small) candidate
    lists plus two label equi-joins — candidate generation, not this
    tail, carries the scan cost.  The precondition is enforced
    directly on its failure mode: any query whose candidate set
    becomes EMPTY after self-exclusion would silently vanish from the
    matrix, so those queries are counted (one aggregate over the
    already-small candidate table) and the call raises if any exist —
    this catches k=1 lists whose lone candidate is the query itself
    even when other queries have longer lists, while legitimately
    sparse 1-row NON-self lists pass."""
    from pyspark.sql import Window

    dropped = (
        candidates.groupBy(qid_col)
        .agg(
            F.max((F.col(id_col) != F.col(qid_col)).cast("int")).alias(
                "_has_nonself"
            )
        )
        .filter(F.col("_has_nonself") == 0)
        .count()
    )
    if dropped:
        raise ValueError(
            f"nn_confusion_over_candidates: {dropped} quer"
            f"{'y' if dropped == 1 else 'ies'} have no NON-SELF "
            "candidate (self rows are excluded here, so these queries "
            "would silently vanish from the confusion matrix) — "
            "generate candidates with k >= 2 so the best non-self "
            "neighbor is always present"
        )
    order = F.asc(dist_col) if ascending else F.desc(dist_col)
    w = Window.partitionBy(qid_col).orderBy(order, F.col(id_col))
    nn = (
        candidates.filter(F.col(id_col) != F.col(qid_col))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(qid_col, id_col)
    )
    lq = labels.select(
        F.col(id_col).alias(qid_col), F.col(label_col).alias("label")
    )
    ln = labels.select(F.col(id_col), F.col(label_col).alias("nn_label"))
    return (
        nn.join(lq, qid_col)
        .join(ln, id_col)
        .groupBy("label", "nn_label")
        .agg(F.count("*").alias("pair_count"))
    )


def _nn_label_confusion_gemm(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    label_col: str,
    scale: int,
    max_rows: int = GEMM_MAX_ROWS,
):
    """BLAS fast path for :func:`nn_label_confusion`: corpus broadcast
    once (sorted by id so ``argmax``'s first-max IS the lower-id tie
    break), each Arrow batch scores against it with one GEMM, masks
    self, and emits its 1-NN labels.  Returns ``None`` when the corpus
    exceeds the driver-collect bound (caller falls back)."""
    import pandas as pd

    spark = df.sparkSession
    narrow = df.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("_lbl"),
        _as_double_array(emb_col).alias("_e"),
    ).filter(F.col("_e").isNotNull())
    n = narrow.count()
    if n <= 1:
        # empty corpus would crash np.stack; a singleton has no
        # neighbor (argmax over an all--inf row would still pick
        # index 0) — the window formulation yields the correct empty
        # result for both
        return None
    if n > max_rows:
        logger.warning(
            "nn_label_confusion: corpus has %d rows, over the GEMM bound of "
            "%d; using the window formulation (consider ANN candidates at "
            "this scale)",
            n,
            max_rows,
        )
        return None
    corpus_pdf = narrow.toPandas().sort_values("_id").reset_index(drop=True)
    corpus_ids = corpus_pdf["_id"].to_numpy()
    corpus_lbl = corpus_pdf["_lbl"].to_numpy()
    corpus = np.stack(corpus_pdf["_e"].to_numpy()).astype(np.float64)
    corpus /= np.linalg.norm(corpus, axis=1, keepdims=True)
    # lifecycle: the broadcast is captured by the returned plan's
    # closure; once the caller drops the result DataFrame the driver
    # reference becomes unreachable and Spark's ContextCleaner
    # unpersists it — no explicit destroy() (which would break the
    # still-lazy plan)
    bcast = spark.sparkContext.broadcast((corpus_ids, corpus_lbl, corpus))
    # same fan-out rule as cosine_near_dup_gemm (r12): under ~64 MB of
    # broadcast corpus the per-worker unpickle is noise, so ~256 query
    # rows per task instead of one serial GEMM task
    dim = corpus.shape[1]
    if n * dim * 8 <= 64 << 20:
        parts = max(1, min(spark.sparkContext.defaultParallelism, n // 256))
    else:
        parts = max(1, min(spark.sparkContext.defaultParallelism, n // 4096))
    if narrow.rdd.getNumPartitions() != parts:
        narrow = narrow.repartition(parts)

    def score(batches):
        bids, blbl, bm = bcast.value
        for pdf in batches:
            if not len(pdf):
                continue
            qids = pdf["_id"].to_numpy()
            qm = np.stack(pdf["_e"].to_numpy()).astype(np.float64)
            qm /= np.linalg.norm(qm, axis=1, keepdims=True)
            # floor half-up, NOT np.round: np.round is half-even on
            # the binary double while the window path/oracle round
            # half-up — a 6th-digit tie would flip the argmax between
            # the two paths
            pow10 = 10.0 ** scale
            sims = np.floor(qm @ bm.T * pow10 + 0.5) / pow10
            sims[qids[:, None] == bids[None, :]] = -np.inf  # mask self
            # argmax returns the FIRST max; corpus is id-sorted, so ties
            # resolve to the lower neighbor id — same as the window path
            nn_idx = np.argmax(sims, axis=1)
            yield pd.DataFrame(
                {"label": pdf["_lbl"].to_numpy(), "nn_label": blbl[nn_idx]}
            )

    schema = (
        df.select(
            F.col(label_col).alias("label"), F.col(label_col).alias("nn_label")
        ).schema
    )
    pairs = narrow.mapInPandas(score, schema)
    return pairs.groupBy("label", "nn_label").agg(F.count("*").alias("pair_count"))


def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    threshold: float,
    scale: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact): every (a, b) with
    ``a.id < b.id`` and ``round(cosine, scale) >= threshold``.

    The threshold compares the ROUNDED similarity so engine-level float
    summation order can't flip membership at the boundary (same idiom
    as dedup.ngram_jaccard_pairs).

    This is the correctness baseline: O(n^2) pairs — fine for a
    dedup-verification pass over a candidate subset, NOT for a 100 TB
    corpus.  The scale path is :func:`cosine_near_dup_lsh`, which cuts
    candidate generation to bucket-equality equi-joins.
    """
    # pre-normalize each vector ONCE (n unit-scalings) so every pair
    # costs a single dot-product fold instead of dot + two norm folds
    # (measured 3x on the O(n^2) pair loop)
    e = _as_double_array(emb_col)
    unit = (
        spread_small_input(df.select(F.col(id_col).alias("_id"), e.alias("_e")))
        .withColumn("_nrm", l2_norm(F.col("_e")))
        .select("_id", F.transform("_e", lambda x: x / F.col("_nrm")).alias("_u"))
    )
    a = unit.select(F.col("_id").alias("id_a"), F.col("_u").alias("_ua"))
    b = unit.select(F.col("_id").alias("id_b"), F.col("_u").alias("_ub"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    scored = pairs.select(
        "id_a",
        "id_b",
        F.round(dot(F.col("_ua"), F.col("_ub")), scale).alias("cosine_sim"),
    )
    return scored.filter(F.col("cosine_sim") >= threshold)


def cosine_near_dup_gemm(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    threshold: float,
    scale: int = 6,
    max_rows: int = GEMM_MAX_ROWS,
    strict: bool = False,
) -> DataFrame:
    """Exact near-dup pairs via blocked matrix multiply: the normalized
    corpus is broadcast once, and each Arrow batch scores its rows
    against the whole corpus with ONE BLAS GEMM (``block @ corpus.T``).

    Same output as :func:`cosine_near_dup_pairs`; this is the
    vectorized exact path — per-pair array folds in the JVM are
    interpreted expression evaluation, a dense GEMM is hardware FMA
    (measured ~20x at 5k x 64).  The broadcast bounds applicability to
    corpora that fit executor memory (n*d*8 bytes; ~1 GB at 2M x 64) —
    beyond that, LSH-prefilter (:func:`cosine_near_dup_lsh`) or block
    the right side too.

    The ONLY Python here is the GEMM seam (mapInPandas, Arrow-batched)
    — the pattern SURVEY §2.10 reserves for work JVM expressions can't
    express efficiently.
    """
    import pandas as pd

    spark = df.sparkSession
    # NULL embeddings can't participate in any cosine pair and would
    # crash the dim probe / np.stack below with a cryptic TypeError
    # (r12 advisor) — drop them in the narrow select
    narrow = df.select(
        F.col(id_col).alias("_id"), _as_double_array(emb_col).alias("_e")
    ).filter(F.col("_e").isNotNull())
    # the one collect-class operation in the repo: never let a
    # fact-sized corpus silently OOM the driver.  Default behavior is a
    # PLAN SWITCH, not an abort: over the bound, delegate to the banded
    # LSH path (no driver collect) and log the switch; strict=True
    # restores raise-on-overflow for callers that need the exact path
    # or an error.
    n = narrow.count()
    if n <= 1:
        # empty corpus would crash np.stack, and a singleton has no
        # candidate partner under id_a < id_b — both degenerate cases
        # have exactly one correct answer: an empty pair set.  This is
        # a PUBLIC operator with no caller-side fallback, so return an
        # empty frame with the contract schema, never None.
        return spark.createDataFrame([], "id_a long, id_b long, cosine_sim double")
    if n > max_rows:
        if strict:
            raise ValueError(
                f"cosine_near_dup_gemm: corpus has {n} rows, over the "
                f"driver-collect bound of {max_rows}; use cosine_near_dup_lsh "
                "(banded LSH, no driver collect) at this scale"
            )
        logger.warning(
            "cosine_near_dup_gemm: corpus has %d rows, over the "
            "driver-collect bound of %d; falling back to "
            "cosine_near_dup_lsh (banded, approximate recall)",
            n,
            max_rows,
        )
        return cosine_near_dup_lsh(df, id_col, emb_col, threshold, scale=scale)
    corpus_pdf = narrow.toPandas()
    # partition count scales with the corpus: each mapInPandas worker
    # pays a broadcast unpickle of the whole corpus, so the fan-out is
    # throttled only when that unpickle is actually expensive.  r12:
    # the old unconditional n // 8192 rule collapsed every sub-8k
    # corpus to ONE task — a single core did the whole n x n GEMM
    # while the broadcast it was amortizing cost ~1 ms to unpickle.
    # Under ~64 MB of corpus (n*d*8 bytes) the unpickle is noise, so
    # fan out at ~256 query rows per task (measured at sf0.1: 8 tasks
    # beat both 1 task, which serializes the GEMM, and 31 tasks,
    # which pays more python-worker dispatch than it wins); above it,
    # keep the ~8k-rows-per-task rule that bounds total unpickle work
    # on a cluster.
    dim = len(corpus_pdf["_e"].iloc[0]) if n else 0
    if n * dim * 8 <= 64 << 20:
        parts = max(1, min(spark.sparkContext.defaultParallelism, n // 256))
    else:
        parts = max(1, min(spark.sparkContext.defaultParallelism, n // 8192))
    if narrow.rdd.getNumPartitions() != parts:
        narrow = narrow.repartition(parts)
    corpus_ids = corpus_pdf["_id"].to_numpy()
    corpus = np.stack(corpus_pdf["_e"].to_numpy()).astype(np.float64)
    corpus /= np.linalg.norm(corpus, axis=1, keepdims=True)
    bcast = spark.sparkContext.broadcast((corpus_ids, corpus))

    def score(batches):
        bids, bm = bcast.value
        for pdf in batches:
            if not len(pdf):
                continue
            qids = pdf["_id"].to_numpy()
            qm = np.stack(pdf["_e"].to_numpy()).astype(np.float64)
            qm /= np.linalg.norm(qm, axis=1, keepdims=True)
            # floor half-up, NOT np.round: np.round is half-even on
            # the binary double while the window path/oracle round
            # half-up — a 6th-digit tie would flip the argmax between
            # the two paths
            pow10 = 10.0 ** scale
            sims = np.floor(qm @ bm.T * pow10 + 0.5) / pow10
            ii, jj = np.nonzero((sims >= threshold) & (qids[:, None] < bids[None, :]))
            yield pd.DataFrame(
                {"id_a": qids[ii], "id_b": bids[jj], "cosine_sim": sims[ii, jj]}
            )

    return narrow.mapInPandas(
        score, "id_a long, id_b long, cosine_sim double"
    )


def cosine_near_dup_lsh(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    threshold: float,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    scale: int = 6,
) -> DataFrame:
    """Embedding near-dup pairs at scale: random-hyperplane signatures
    split into ``bands`` bands; a pair becomes a candidate iff some
    band matches exactly (an equi-join on (band, bucket) — shuffles
    only the bucket ids, never compares all pairs); candidates are then
    exact-verified against ``threshold``.

    Output schema matches :func:`cosine_near_dup_pairs`; recall < 1 by
    construction (measured floor asserted in tests); an empty input
    yields an empty frame with that schema.

    SIZE THE BUCKETS WITH THE CORPUS: random (non-dup) vectors collide
    in a band with probability 2^-(n_planes/bands), so candidate mass
    from chance alone is ~n^2 / 2^(bits_per_band) per band — keep
    ``n_planes/bands >= log2(n)`` or the join degenerates toward
    all-pairs (measured in SCALING.md: 16 planes / 4 bands is 11x
    slower than 48/4 at 8k vectors, and the gap widens with n).
    The signature packs into one long, so n_planes <= 63; for more
    bits raise ``bands``.
    """
    first = df.select(emb_col).head()
    if first is None:
        return df.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine_sim double"
        )
    planes = hyperplanes(len(first[0]), n_planes, seed)
    per_band = n_planes // bands
    emb = _as_double_array(emb_col)
    sigged = df.select(F.col(id_col).alias("_id"), emb.alias("_e")).withColumn(
        "_sig", lsh_signature(F.col("_e"), planes)
    )
    # all bands in one pass (explode of per-band structs) so the
    # signature expression evaluates once per vector, not once per band
    mask = (1 << per_band) - 1
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("_band"),
                F.shiftright("_sig", bi * per_band)
                .bitwiseAND(F.lit(mask))
                .alias("_bucket"),
            )
            for bi in range(bands)
        ]
    )
    banded = sigged.select(
        "_id", "_e", F.explode(band_structs).alias("_bb")
    ).select("_id", "_e", F.col("_bb._band").alias("_band"), F.col("_bb._bucket").alias("_bucket"))
    left = banded.select(
        F.col("_id").alias("id_a"), F.col("_e").alias("_ea"), "_band", "_bucket"
    )
    right = banded.select(
        F.col("_id").alias("id_b"), F.col("_e").alias("_eb"), "_band", "_bucket"
    )
    cand = (
        left.join(right, ["_band", "_bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_ea", "_eb")
        .dropDuplicates(["id_a", "id_b"])
    )
    scored = cand.select(
        "id_a",
        "id_b",
        F.round(cosine(F.col("_ea"), F.col("_eb")), scale).alias("cosine_sim"),
    )
    return scored.filter(F.col("cosine_sim") >= threshold)


# ----------------------------------------------------------------- LSH

def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    """Fixed seeded Gaussian hyperplanes — deterministic across runs
    and machines (NumPy's MT19937 stream is specified)."""
    return np.random.RandomState(seed).randn(n_planes, dim)


def lsh_signature(emb: Column, planes: np.ndarray) -> Column:
    """Sign-of-dot-product bit signature packed into a long."""
    if len(planes) > 63:
        raise ValueError(
            f"lsh_signature packs bits into a signed 64-bit long: "
            f"{len(planes)} planes won't fit (max 63).  Keep "
            "bits-per-band >= log2(n) and reduce the number of bands "
            "sharing this signature (more bands only helps recall, "
            "narrower bands break candidate pruning), or split the "
            "planes across several signature columns — one long per "
            "band group."
        )
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        bit = F.when(dot(emb, vec_lit(plane)) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = sig + bit
    return sig


def lsh_topk(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    query_vec: Sequence[float],
    k: int = 10,
    n_planes: int = 12,
    max_hamming: int = 2,
    seed: int = 42,
    scale: int = 6,
    planes: np.ndarray | None = None,
) -> DataFrame:
    """Approximate cosine top-k: keep only candidates whose bucket
    signature is within ``max_hamming`` bits of the query's, then score
    exactly.  Scanned fraction ≈ Σ_{i<=h} C(b,i)/2^b; recall rises
    with ``max_hamming`` (see tests for the measured recall floor).

    ``planes`` overrides the seeded Gaussian hyperplanes (the
    ``centroids`` override of :func:`ivf_topk`): pass integer-micros
    planes over integer-micros embeddings and every signature bit is
    an exact integer dot-product sign — the recall gate interpolates
    the SAME plane literals into its SQL oracle so the whole
    approximate pipeline is hash-checkable."""
    qv = np.asarray(list(query_vec), dtype=float)
    if planes is None:
        planes = hyperplanes(len(qv), n_planes, seed)
    query_sig = int(sum(1 << i for i, p in enumerate(planes) if float(p @ qv) > 0))
    emb = _as_double_array(emb_col)
    with_sig = df.select(F.col(id_col), emb.alias("_e")).withColumn(
        "_sig", lsh_signature(F.col("_e"), planes)
    )
    near = with_sig.filter(
        F.bit_count(F.col("_sig").bitwiseXOR(F.lit(query_sig))) <= max_hamming
    )
    scored = near.select(
        F.col(id_col), F.round(cosine(F.col("_e"), vec_lit(qv)), scale).alias("cosine_sim")
    )
    return scored.orderBy(F.desc("cosine_sim"), F.col(id_col)).limit(k)


# ----------------------------------------------------------------- IVF

def ivf_centroids(
    df: DataFrame, id_col: str, emb_col: str, n_centroids: int = 8
) -> np.ndarray:
    """Deterministic IVF-Flat centroids: the first ``n_centroids``
    vectors by id (sampled-init, no Lloyd iterations — centroid quality
    only shifts the recall/speed trade-off, never correctness, since
    probing re-scores exactly).  Driver-side collect of k rows only."""
    rows = (
        df.select(F.col(id_col), _as_double_array(emb_col).alias("_e"))
        .orderBy(id_col)
        .limit(n_centroids)
        .collect()
    )
    return np.array([list(r["_e"]) for r in rows], dtype=float)


def ivf_assign(
    df: DataFrame,
    emb_col: str,
    centroids: np.ndarray,
    alias: str = "cluster_id",
) -> DataFrame:
    """Attach each vector's nearest-centroid id (max cosine).  The
    argmax is an ``array_max`` over (similarity, id) structs — pure JVM
    expressions, zero shuffle, so assignment streams with the scan.
    At 100 TB this column is computed once and persisted as a partition
    key so probes prune files instead of rows."""
    emb = _as_double_array(emb_col)
    scored = F.array(
        *[
            F.struct(
                cosine(emb, vec_lit(c)).alias("sim"), F.lit(i).alias("cid")
            )
            for i, c in enumerate(centroids)
        ]
    )
    return df.withColumn(alias, F.array_max(scored).getField("cid"))


def ivf_probes(
    centroids: np.ndarray, query_vec: Sequence[float], n_probe: int
) -> list[int]:
    """The ``n_probe`` centroid ids nearest a query by cosine — the
    driver-side probe-selection rule of :func:`ivf_topk`, extracted so
    batched callers (the recall gate) select probes with the IDENTICAL
    arithmetic and tie rule.  Stable sort: exact similarity ties
    resolve to the LOWEST centroid id (argsort's default quicksort is
    unstable, which would make the probe set nondeterministic on tied
    similarities)."""
    qv = np.asarray(list(query_vec), dtype=float)
    sims = (centroids @ qv) / (
        np.linalg.norm(centroids, axis=1) * np.linalg.norm(qv) + 1e-12
    )
    return [int(i) for i in np.argsort(-sims, kind="stable")[:n_probe]]


def ivf_topk(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    query_vec: Sequence[float],
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    scale: int = 6,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Approximate top-k via IVF-Flat: score only vectors assigned to
    the ``n_probe`` centroids nearest the query.  Plan shape is
    scan -> assign (JVM exprs) -> filter -> TakeOrderedAndProject —
    still no shuffle; with the assignment persisted as a partition
    column the filter becomes partition pruning and the scan itself
    shrinks by ~n_probe/n_centroids."""
    if centroids is None:
        centroids = ivf_centroids(df, id_col, emb_col, n_centroids)
    qv = np.asarray(list(query_vec), dtype=float)
    probes = ivf_probes(centroids, qv, n_probe)
    assigned = ivf_assign(
        df.select(F.col(id_col), _as_double_array(emb_col).alias("_e")), "_e", centroids
    )
    near = assigned.filter(F.col("cluster_id").isin(probes))
    scored = near.select(
        F.col(id_col), F.round(cosine(F.col("_e"), vec_lit(qv)), scale).alias("cosine_sim")
    )
    return scored.orderBy(F.desc("cosine_sim"), F.col(id_col)).limit(k)


def ivf_centroids_kmeans(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    n_centroids: int = 8,
    iters: int = 3,
) -> np.ndarray:
    """Lloyd-refined IVF centroids: start from the deterministic
    first-k init (ivf_centroids) and run ``iters`` distributed k-means
    steps — assign (zero-shuffle JVM argmax) then per-cluster mean via
    posexplode -> groupBy(cluster, dim).avg.

    Each iteration is one scan + one narrow (cluster_id, dim, value)
    shuffle; only k*d floats ever reach the driver.  Refinement
    shifts recall/balance only, never correctness: probing re-scores
    candidates exactly, and exhaustive probing equals brute force
    regardless of where the centroids sit.
    """
    base = df.select(F.col(id_col), _as_double_array(emb_col).alias("_e"))
    centroids = ivf_centroids(base, id_col, "_e", n_centroids)
    dim = centroids.shape[1]
    for _ in range(iters):
        assigned = ivf_assign(base, "_e", centroids)
        means = (
            assigned.select("cluster_id", F.posexplode("_e").alias("dim", "v"))
            .groupBy("cluster_id", "dim")
            .agg(F.avg("v").alias("m"))
            .collect()
        )
        nxt = centroids.copy()  # clusters that lost all members keep position
        seen = {}
        for r in means:
            seen.setdefault(r["cluster_id"], np.zeros(dim))[r["dim"]] = r["m"]
        for cid, vec in seen.items():
            nxt[cid] = vec
        centroids = nxt
    return centroids


def label_centroids_exact(
    df: DataFrame,
    emb_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label centroid sums — the k-means E-step (and the class-
    prototype computation for prototype classifiers) as an EXACT
    distributed vector aggregate: posexplode the embedding to
    (label, dim, component), sum per (label, dim) in integer
    millionths (floor(x·10⁶) — associative, order-independent,
    engine-exact, unlike float sums), and carry the member count so
    the caller can divide into means at whatever precision it wants.

    One hash shuffle on (label, dim) — cardinality |labels|·d, tiny —
    with full map-side partial aggregation; the embedding array never
    moves whole.  ``ivf_centroids_kmeans`` is the float/production
    twin; this is its oracle-checkable face.
    """
    exploded = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(_as_double_array(emb_col)).alias("dim", "component"),
    )
    return exploded.groupBy("label", "dim").agg(
        F.count("*").alias("n_vectors"),
        F.sum(
            F.floor(F.col("component") * F.lit(1_000_000.0)).cast("long")
        ).alias("component_sum_micros"),
    )


# ----------------------------------------------------------------- PCA

def gram_matrix_micros(
    df: DataFrame, emb_col: str = "embedding", scale: int = 6
) -> DataFrame:
    """EXACT distributed Gram matrix Σ q·qᵀ over half-up-quantized
    components q_i = floor(x_i·10^scale + 0.5) — the second-moment
    pass of PCA / covariance, shaped for 100 TB and oracle-checkable.

    Each Arrow batch computes its partial Gram with ONE integer
    ``block.T @ block`` (the same BLAS seam as the GEMM near-dup
    path), then emits d·(d+1)/2 upper-triangle partial rows; the only
    shuffle carries (i, j, partial_sum) — bounded by
    partitions × d²/2, never by corpus size — and the final combine is
    an integer sum, associative and order-independent, so the result
    is bit-identical on any partitioning and any engine.  Magnitude
    check: |q| ≤ 10^6-ish components give products ≤ 10^12 and
    Σ over 10^6 rows ≤ 10^18 < 2^63; for larger corpora lower
    ``scale``.
    """
    import pandas as pd

    pow10 = 10.0 ** scale

    def partial(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["_e"].to_numpy())
            q = np.floor(m * pow10 + 0.5).astype(np.int64)
            g = q.T @ q  # integer GEMM: exact
            d = g.shape[0]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {"i": iu.astype(np.int32), "j": ju.astype(np.int32), "p": g[iu, ju]}
            )

    partials = df.select(_as_double_array(emb_col).alias("_e")).mapInPandas(
        partial, "i int, j int, p long"
    )
    return partials.groupBy("i", "j").agg(F.sum("p").alias("gram_sum_q2"))


def pca_components(
    df: DataFrame, emb_col: str = "embedding", k: int = 8, scale: int = 6
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Top-``k`` principal components of the embedding cloud:
    distributed mean + Gram passes (both exact integer aggregates —
    the parts that touch the corpus), then a d×d eigensolve on the
    DRIVER (d² floats, trivially bounded).  Signs are fixed by making
    each component's largest-|.| entry positive, so results are
    deterministic.  Returns (mean, eigenvalues desc, components[k, d]).
    """
    n = df.count()
    if n == 0:
        raise ValueError("pca_components: empty corpus")
    pow10 = 10.0 ** scale
    sums = (
        df.select(F.posexplode(_as_double_array(emb_col)).alias("dim", "x"))
        .groupBy("dim")
        .agg(F.sum(F.floor(F.col("x") * F.lit(pow10) + F.lit(0.5)).cast("long")).alias("s"))
        .collect()
    )
    d = len(sums)
    mean_q = np.zeros(d)
    for r in sums:
        mean_q[r["dim"]] = r["s"] / n
    gram = np.zeros((d, d))
    for r in gram_matrix_micros(df, emb_col, scale).collect():
        gram[r["i"], r["j"]] = gram[r["j"], r["i"]] = r["gram_sum_q2"]
    # covariance of the quantized cloud: E[qqᵀ] - mean·meanᵀ, rescaled
    cov = (gram / n - np.outer(mean_q, mean_q)) / pow10**2
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T
    flips = np.sign(comps[np.arange(len(order)), np.abs(comps).argmax(axis=1)])
    comps *= flips[:, None]
    return mean_q / pow10, vals[order], comps


def pca_project(
    df: DataFrame,
    id_col: str,
    emb_col: str = "embedding",
    k: int = 8,
    mean: np.ndarray | None = None,
    components: np.ndarray | None = None,
    scale_out: int = 6,
) -> DataFrame:
    """Project embeddings onto the top-``k`` principal axes — the
    dimensionality-reduction step before ANN indexing or clustering.
    Components come from :func:`pca_components` (pass them in to reuse
    across DataFrames); the projection itself is a pure JVM expression
    (centered dot product per axis via ``zip_with``/``aggregate``
    against literal component vectors) — no Python in the per-row
    path, output rounded half-up to ``scale_out`` for determinism.
    """
    if components is None or mean is None:
        mean, _, components = pca_components(df, emb_col, k)
    e = _as_double_array(emb_col)
    centered = F.zip_with(e, vec_lit(mean), lambda x, m: x - m)
    pow10 = F.lit(10.0 ** scale_out)
    proj = F.array(
        *[
            F.floor(dot(centered, vec_lit(c)) * pow10 + F.lit(0.5)) / pow10
            for c in components
        ]
    )
    return df.select(F.col(id_col), proj.alias("pca"))


# ------------------------------------------------------- retrieval eval

def ndcg_position_weights_micros(k: int) -> list[int]:
    """The standard NDCG discount 1/log2(pos+1) for positions 1..k,
    quantized to integer micros ONCE on the driver.  Both the Spark
    plan and any SQL oracle consume these identical integers, so DCG
    sums are exact integer arithmetic — no cross-engine transcendental
    (log2) or float-summation drift can touch the metric."""
    import math

    return [int(math.floor(1.0 / math.log2(p + 1) * 1e6 + 0.5)) for p in range(1, k + 1)]


def retrieval_ndcg(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    emb_col: str,
    label_col: str,
    k: int = 10,
    scale: int = 6,
    queries_in_corpus: bool = True,
) -> DataFrame:
    """NDCG@k of cosine retrieval under binary label relevance — the
    embedding-quality eval run before a corpus ships: for each query
    vector, retrieve the top-``k`` corpus neighbors (self excluded
    when ``queries_in_corpus``), score position ``p`` with the
    standard 1/log2(p+1) discount when the neighbor's label matches
    the query's, and normalize by the ideal DCG given how many
    same-label corpus rows exist.

    ``queries_in_corpus`` declares whether the query rows are drawn
    from ``df`` itself (the default, and what the gate query does):
    the query's own corpus row is then excluded from both retrieval
    (``corpus_id != query_id``) and the IDCG candidate count
    (``label_count - 1``).  Pass ``False`` for an EXTERNAL query set —
    no id-based exclusion (an unrelated corpus row sharing a query id
    must not be dropped) and IDCG uses the full label count; queries
    whose label is absent from the corpus return ``ndcg_micros = 0``
    rather than being dropped (left label join, count coalesced to 0).

    Returns (query_id, label, n_relevant_at_k, dcg_micros,
    idcg_micros, ndcg_micros) — ALL integers: discounts are
    pre-quantized micros (:func:`ndcg_position_weights_micros`), DCG /
    IDCG are integer sums and NDCG an integer division, so the whole
    metric is engine-exact.  ``ndcg_micros`` is 0 when no same-label
    row exists (IDCG 0).

    Ranking ties: rounded cosine (``scale``) then neighbor id — the
    same total order every exact-similarity operator here pins.

    Scale shape: broadcast query set (queries x corpus scoring is one
    scan, no shuffle), ONE window shuffle on query_id for top-k, one
    broadcast label-frequency join.  Swap the candidate generator for
    ``ivf_topk``/``lsh_topk`` lists at 100 TB — the eval aggregation
    is reused unchanged.
    """
    from pyspark.sql import Window

    wm = ndcg_position_weights_micros(k)
    prefix = []
    s = 0
    for x in wm:
        s += x
        prefix.append(s)
    corpus = df.select(
        F.col(id_col).alias("corpus_id"),
        _as_double_array(emb_col).alias("_ce"),
        F.col(label_col).alias("_clabel"),
    )
    qs = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double_array(emb_col).alias("_qe"),
        F.col(label_col).alias("label"),
    )
    paired = corpus.crossJoin(F.broadcast(qs))
    if queries_in_corpus:
        paired = paired.filter(F.col("corpus_id") != F.col("query_id"))
    scored = (
        paired
        .select(
            "query_id",
            "label",
            "corpus_id",
            "_clabel",
            F.round(cosine(F.col("_ce"), F.col("_qe")), scale).alias("_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_sim"), F.col("corpus_id"))
    ranked = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .withColumn(
            "_gain",
            F.when(
                F.col("_clabel") == F.col("label"),
                F.element_at(F.array(*[F.lit(x) for x in wm]), F.col("_rn")),
            ).otherwise(F.lit(0)).cast("long"),
        )
    )
    per_q = ranked.groupBy("query_id", "label").agg(
        F.sum((F.col("_gain") > 0).cast("long")).alias("n_relevant_at_k"),
        F.sum("_gain").alias("dcg_micros"),
    )
    # ideal: all of the first min(k, same-label corpus rows [- self])
    # positions relevant -> a prefix sum of the same integer weights.
    # External query sets (queries_in_corpus=False) LEFT-join +
    # coalesce so a query label absent from the corpus yields IDCG 0
    # (hence ndcg_micros 0), never a dropped row; the in-corpus
    # default keeps the original INNER join so its row set (including
    # the treatment of NULL-label rows, which an equi-join drops) is
    # bit-identical to what the gate oracle has always pinned.
    label_n = df.groupBy(F.col(label_col).alias("label")).agg(
        F.count("*").alias("_ln")
    )
    ln = F.coalesce(F.col("_ln"), F.lit(0))
    r = F.least(F.lit(k), ln - F.lit(1) if queries_in_corpus else ln)
    idcg = F.when(
        r > 0, F.element_at(F.array(*[F.lit(x) for x in prefix]), r.cast("int"))
    ).otherwise(F.lit(0)).cast("long")
    return (
        per_q.join(
            F.broadcast(label_n),
            "label",
            "inner" if queries_in_corpus else "left",
        )
        .withColumn("idcg_micros", idcg)
        .withColumn(
            "ndcg_micros",
            F.when(
                F.col("idcg_micros") > 0,
                F.expr("(dcg_micros * 1000000) DIV idcg_micros"),
            ).otherwise(F.lit(0)).cast("long"),
        )
        .select(
            "query_id",
            "label",
            "n_relevant_at_k",
            "dcg_micros",
            "idcg_micros",
            "ndcg_micros",
        )
    )


def micros_vec(col: Column | str) -> Column:
    """Embedding quantized to integer micros (floor-half-up per
    component, computed in double) — the cross-engine exactness trick
    the ANN recall gate established: integer-component dot products
    are exactly representable doubles (64 dims x 1e12 per term stays
    far under 2^53), so similarity math downstream is bit-identical
    in any engine."""
    return F.transform(
        _as_double_array(col), lambda x: F.floor(x * F.lit(1000000.0) + F.lit(0.5))
    )


def two_level_assign(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    centroids,
    alias: str = "cluster_id",
) -> DataFrame:
    """IVF-style coarse-then-fine centroid assignment — the scale path
    for large cluster counts, where :func:`ivf_assign`'s flat in-scan
    argmax hits two walls at once: O(n*k) cosine work AND a k-wide
    expression tree that blows past whole-stage-codegen method limits
    (measured: the 128-centroid flat argmax falls back to interpreted
    eval, ~30x slower).

    The k centroids are split into G = ceil(sqrt(k)) index-contiguous
    groups; each vector scores the G group REPRESENTATIVES (first
    member, deterministic) in-scan, then broadcast-joins to only the
    winning group's members and takes the struct-max — O(n*2*sqrt(k))
    cosines, constant-size codegen, ONE map-side-combinable per-id
    aggregate.  Ties break to the highest group index then the highest
    cluster id, matching :func:`ivf_assign`'s struct-max rule within
    each stage.  Assignment is approximate at group boundaries (a
    vector may miss the globally-nearest centroid when it sits in a
    losing group) — for SemDeDup that only moves the cluster SPLIT,
    never the keep rule's correctness, the same trade
    :func:`ivf_topk`'s n_probe makes."""
    n_k = len(centroids)
    g = max(1, math.isqrt(n_k - 1) + 1) if n_k > 1 else 1  # ceil(sqrt)
    groups = [list(range(s, min(s + g, n_k))) for s in range(0, n_k, g)]
    emb = _as_double_array(emb_col)
    rep_scored = F.array(
        *[
            F.struct(
                cosine(emb, vec_lit(centroids[grp[0]])).alias("sim"),
                F.lit(gi).alias("gid"),
            )
            for gi, grp in enumerate(groups)
        ]
    )
    with_gid = df.withColumn("_gid", F.array_max(rep_scored).getField("gid"))
    spark = df.sparkSession
    members = spark.createDataFrame(
        [
            (gi, int(cid), [float(x) for x in centroids[cid]])
            for gi, grp in enumerate(groups)
            for cid in grp
        ],
        "_gid int, _cid int, _cvec array<double>",
    )
    scored = with_gid.join(F.broadcast(members), "_gid").withColumn(
        "_sc", F.struct(cosine(emb, F.col("_cvec")).alias("sim"), F.col("_cid").alias("cid"))
    )
    # emb is constant per id, so max() just carries it through the
    # same map-side-combinable aggregate that resolves the argmax
    return (
        scored.groupBy(id_col)
        .agg(F.max("_sc").alias("_best"), F.max(emb_col).alias(emb_col))
        .withColumn(alias, F.col("_best").getField("cid"))
        .drop("_best")
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_clusters: int = 8,
    threshold: float = 0.9,
    scale: int = 6,
    two_level: bool | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the
    embedding space, then WITHIN each cluster drop every doc whose
    cosine to a strictly-smaller-id cluster-mate rounds to >=
    ``threshold`` — semantic near-duplicates that no lexical hash
    (MinHash/SimHash) can see, e.g. translations, paraphrases,
    templated rewrites.

    Returns (id_col, cluster_id, keep) for EVERY input row — a
    scoreboard, not just survivors, so downstream mixture math can
    account for what was dropped and why.

    Determinism/exactness: embeddings are quantized to integer micros
    (:func:`micros_vec`) so dot products are exact; centroids and
    assignment are the shared :func:`ivf_centroids` /
    :func:`ivf_assign` machinery (first-k-by-id centroids, struct-max
    ties to the highest cluster id) applied to the micros vectors, so
    this operator and the ANN family can never drift apart; the keep
    comparison is floor-half-up integer micros (never ``round()`` —
    Spark HALF_UP vs DuckDB's float-multiply round can flip a doc at
    an exact boundary).

    Scale shape: assignment is a zero-shuffle in-scan argmax against
    broadcast centroid literals, materialized ONCE with a
    localCheckpoint (executor-disk, never the driver) so the
    three consumers — both self-join sides and the final scoreboard —
    don't re-run quantize+argmax per side; the only pairwise work is
    the within-cluster self-join (one shuffle on cluster_id), whose
    pair mass is sum(c_i^2) — bounded by cluster granularity, which
    is the SemDeDup premise: at 100 TB you run 100k clusters so c_i
    stays ~1e3-1e4, and the join never crosses cluster boundaries.
    The driver holds k x d centroid values only.
    """
    if two_level is None:
        # flat argmax past ~32 centroids both does O(n*k) work and
        # overflows whole-stage codegen into interpreted eval
        two_level = n_clusters > 32
    m = spread_small_input(df.select(id_col, emb_col)).select(
        F.col(id_col).alias("_id"), micros_vec(emb_col).alias("_m")
    )
    centroids = ivf_centroids(m, "_id", "_m", n_clusters)
    assign = two_level_assign if two_level else (
        lambda d, i, e, c, alias: ivf_assign(d, e, c, alias=alias)
    )
    assigned = (
        assign(m, "_id", "_m", centroids, alias="cluster_id")
        .select("_id", "cluster_id", "_m")
        .localCheckpoint()
    )
    thr_micros = int(round(threshold * 10 ** scale))

    def hit_flag(x):
        # smaller-id cluster-mate above threshold?  EXISTS
        # short-circuits, so a doc duplicated early in the member
        # list stops scanning
        return F.exists(
            F.col("_mem"),
            lambda y: (y.getField("_id") < x.getField("_id"))
            & (
                F.floor(
                    cosine(x.getField("_m"), y.getField("_m"))
                    * F.lit(float(10 ** scale))
                    + F.lit(0.5)
                )
                >= F.lit(thr_micros)
            ),
        )

    # the minhash_lsh_candidates idiom: ONE shuffle of n (id, vec)
    # rows into per-cluster member lists, pairwise cosines evaluated
    # IN-expression inside each cluster row — a pair self-join instead
    # shuffles two d-dim vectors per pair row (sum(c_i^2) * 2d values,
    # measured spilling at 16x) where this shuffles each vector once.
    # Memory bound per group is c_i*(d+1) values — the SemDeDup
    # cluster-granularity premise is what keeps c_i small.
    clusters = assigned.groupBy("cluster_id").agg(
        F.collect_list(F.struct("_id", "_m")).alias("_mem")
    )
    hits = (
        clusters.select(
            F.explode(
                F.filter(
                    F.transform(
                        "_mem",
                        lambda x: F.struct(
                            x.getField("_id").alias("_hit"),
                            hit_flag(x).alias("_is_hit"),
                        ),
                    ),
                    lambda s: s.getField("_is_hit"),
                )
            ).alias("_h")
        )
        .select(F.col("_h").getField("_hit").alias("_hit"))
    )
    return (
        assigned.join(hits, assigned["_id"] == hits["_hit"], "left")
        .select(
            F.col("_id").alias(id_col),
            "cluster_id",
            F.when(F.col("_hit").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("keep"),
        )
    )


def _dlit(v: float) -> str:
    """SQL DOUBLE literal (Spark parses bare decimals as DECIMAL)."""
    f = float(v)
    return f"{int(f)}D" if f == int(f) else f"{f!r}D"


def pq_codebooks(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    n_subspaces: int = 8,
    n_codes: int = 16,
) -> np.ndarray:
    """Deterministic product-quantization codebooks (Jegou et al.
    2011, "Product quantization for nearest neighbor search"): split
    the embedding into ``n_subspaces`` contiguous subvectors; the
    codebook of subspace ``j`` is the j-th subvector of each of the
    first ``n_codes`` vectors by id — the same sampled-init rule as
    :func:`ivf_centroids` (codebook quality shifts the
    distortion/recall trade-off, never correctness, and Lloyd
    refinement can be layered on exactly like
    :func:`ivf_centroids_kmeans`).  Returns shape
    ``(n_subspaces, n_codes, sub_dim)``; the driver holds
    ``n_codes x dim`` values only."""
    base = ivf_centroids(df, id_col, emb_col, n_codes)  # (n_codes, dim)
    dim = base.shape[1]
    if dim % n_subspaces:
        raise ValueError(
            f"pq_codebooks: dim {dim} not divisible by n_subspaces {n_subspaces}"
        )
    sub = dim // n_subspaces
    # (n_codes, m, sub) -> (m, n_codes, sub)
    return base.reshape(base.shape[0], n_subspaces, sub).transpose(1, 0, 2)


def pq_encode(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    codebooks: np.ndarray,
    out_col: str = "codes",
) -> DataFrame:
    """Attach each vector's PQ code word: per subspace, the id of the
    nearest codebook entry by squared L2 (ties -> LOWEST code id via
    ``array_min`` over (dist, code) structs).

    Scale shape: ZERO shuffle — the per-subspace argmin is an in-scan
    JVM expression against broadcast codebook literals (m=8 subspaces
    x 16 codes x 8-dim distances ~ 1k multiply terms, half the
    expression mass of the flat k=32 IVF argmax that whole-stage
    codegen still compiles).  At 100 TB the 64-float embedding
    column (256 B) compresses to m bytes of codes written once as a
    stored column; every downstream ADC query scans codes only, an
    ~m/(4d) I/O cut, and never touches the raw vectors."""
    m, n_codes, sub = codebooks.shape
    if "_pqe" in df.columns:
        raise ValueError("pq_encode: input must not carry reserved column _pqe")
    if out_col in df.columns:
        raise ValueError(
            f"pq_encode: output column {out_col!r} already exists in input"
        )
    # argmin_c ||s - c||^2 == argmin_c (c.c - 2 s.c): the s.s term is
    # constant per subspace, so dropping it preserves the argmin AND
    # every tie (exact integers, equal shift).  The whole projection
    # is generated as ONE SQL string per subspace — building 1k
    # multiply terms as Column objects costs thousands of py4j
    # round-trips (~5 s of driver time per call, measured); the
    # parser builds the same tree JVM-side in milliseconds.
    #
    # r12 codegen-size fix: the codebook is a constant-folded literal
    # array of (norm, vector) structs folded with transform/zip_with/
    # aggregate higher-order functions, NOT n_codes x sub unrolled
    # multiply terms.  The unrolled form's generated Java grew with
    # the table (O(n_codes*sub) statements) and, fused into one stage
    # with the coarse assign + per-query ADC LUTs, blew janino's hard
    # 64 KB method limit — every ACTION then re-attempted the doomed
    # compile (~1.5 s, failures are never cached) and ran the whole
    # stage interpreted.  The HOF fold keeps generated code O(1) in
    # table size (the loop lives in the expression evaluator), so the
    # stage compiles again.  Bit-identical: the dot is the same
    # left-to-right multiply-add chain (aggregate's 0.0D seed is
    # exact: 0.0 + x == x), the norms are the same numpy doubles, and
    # array_min over (dist, code) keeps the identical tie rule.
    # slice() is hoisted via a 1-element transform binding so the
    # subvector materializes once per row, not once per code.
    def subspace_expr(j: int) -> str:
        cbs = ", ".join(
            "named_struct('n', %s, 'v', array(%s))"
            % (_dlit(np.dot(c, c)), ", ".join(_dlit(x) for x in c))
            for c in codebooks[j]
        )
        return (
            "element_at(transform(array(slice(_pqe, %d, %d)), _sv -> "
            "array_min(transform(array(%s), (_s, _i) -> named_struct("
            "'dist', _s.n - 2.0D * aggregate(zip_with(_sv, _s.v, "
            "(_x, _y) -> _x * _y), 0.0D, (_a, _x) -> _a + _x), "
            "'code', _i))).code), 1)" % (j * sub + 1, sub, cbs)
        )
    return (
        df.withColumn("_pqe", _as_double_array(emb_col))
        .withColumn(out_col, F.array(*[F.expr(subspace_expr(j)) for j in range(m)]))
        .drop("_pqe")
    )


def _require_integral_micros(arr, what: str, where: str) -> np.ndarray:
    """Validate-and-cast to int64 for the ADC integer-math seams: a
    silent ``astype(np.int64)`` on non-integer values truncates toward
    zero and ranks garbage, so every ADC input funnels through this
    single check (one fix lands everywhere).  Also rejects magnitudes
    at or beyond 2^53, where float equality with ``floor`` stops being
    able to certify integrality."""
    a = np.asarray(arr, dtype=float)
    if not np.all(a == np.floor(a)):
        raise ValueError(
            f"{where}: {what} has non-integer components — quantize "
            "with micros_vec first (a silent int64 cast would truncate "
            "toward zero and rank garbage)"
        )
    if a.size and float(np.abs(a).max()) >= 2.0 ** 53:
        raise ValueError(
            f"{where}: {what} has components >= 2^53 — float math can "
            "no longer certify integrality (and downstream integer "
            "sums would overflow exactness anyway)"
        )
    return a.astype(np.int64)


def pq_adc_lut(query_vec: Sequence[float], codebooks: np.ndarray) -> np.ndarray:
    """Asymmetric-distance lookup table for one query: shape
    ``(m, n_codes)`` of int64 squared-L2 distances between the
    query's j-th subvector and codebook entry (j, c) — tiny
    (m x n_codes values) and exact on integer-micros inputs (both the
    query AND the codebooks are integrality-checked: un-floored
    k-means codebooks are the same silent-truncation hazard as raw
    query vectors)."""
    m, n_codes, sub = codebooks.shape
    q = _require_integral_micros(
        list(query_vec), "query vector", "pq_adc_lut"
    ).reshape(m, sub)
    cb = _require_integral_micros(codebooks, "codebooks", "pq_adc_lut")
    d = cb - q[:, None, :]
    return np.einsum("mcs,mcs->mc", d, d)


def _lut_dist_expr(lut: np.ndarray, codes_ref: str) -> str:
    """Generated-SQL ADC distance: fold the (constant-folded) literal
    LUT against the code word — ``sum_j LUT[j][codes[j]]`` as ONE
    zip_with/aggregate pair, shared by every ADC consumer so a fix to
    the lookup form lands everywhere at once.

    r12 codegen-size fix (see ``pq_encode``): the previous unrolled
    ``lut_j[codes[j]] + ...`` chain emitted O(m) generated-Java
    statements PER (query, probe) branch; with 16 queries x 4 probes
    fused in one stage that contributed to janino's 64 KB method
    blow-up.  The fold form is O(1) generated code per branch and
    sums the same int64 lookups left-to-right from an exact 0L seed —
    bit-identical."""
    rows = ", ".join(
        "array(%s)" % ", ".join(str(int(v)) + "L" for v in row) for row in lut
    )
    return (
        "aggregate(zip_with(array(%s), %s, (_l, _c) -> _l[_c]), 0L, "
        "(_a, _x) -> _a + _x)" % (rows, codes_ref)
    )


def pq_adc_topk(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    query_vec: Sequence[float],
    codebooks: np.ndarray,
    k: int = 10,
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation: encode,
    then distance(query, doc) = sum_j LUT[j][code_j] — m integer
    lookups per row, no vector math at query time.  Plan is scan ->
    project -> TakeOrderedAndProject: zero shuffle."""
    lut = pq_adc_lut(query_vec, codebooks)
    if "_pqc" in df.columns:
        raise ValueError("pq_adc_topk: reserved column _pqc in input")
    df = pq_encode(df, id_col, emb_col, codebooks, out_col="_pqc")
    # one generated SQL expression (constant-folded literal arrays
    # indexed by the code column) for the same py4j-chattiness reason
    # as pq_encode
    dist = _lut_dist_expr(lut, "`_pqc`")
    scored = df.select(
        F.col(id_col), F.expr(f"CAST({dist} AS BIGINT)").alias("adc_dist")
    )
    return scored.orderBy(F.asc("adc_dist"), F.col(id_col)).limit(k)


def pq_adc_knn(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    queries: Sequence[tuple[int, Sequence[float]]],
    codebooks: np.ndarray,
    k: int = 10,
) -> DataFrame:
    """Batched ADC top-k for a SMALL query set (the :func:`knn_join`
    shape, PQ edition): encode the corpus once, evaluate every query's
    LUT distance in the same scan, explode to (qid, id, dist) triples,
    rank per query with one window.

    vs per-query :func:`pq_adc_topk` branches: q separate branches
    replan + recompile the 1k-term encode expression per query
    (measured ~1.5 s of driver/codegen time EACH), and scan the corpus
    q times; this form pays all of that once.  The price is one
    shuffle of q*n skinny triples into q window partitions — right
    whenever q is small and dwarfed by scan/codegen cost.  For a
    single ad-hoc query, or q large enough that q*n triples outweigh
    re-scans, the zero-shuffle per-query TakeOrdered form wins.
    Returns (qid long, `id_col`, adc_dist long)."""
    from pyspark.sql import Window

    if not queries:
        raise ValueError("pq_adc_knn: queries must be non-empty")
    if "_pqc" in df.columns:
        raise ValueError("pq_adc_knn: reserved column _pqc in input")
    enc = pq_encode(df, id_col, emb_col, codebooks, out_col="_pqc")
    structs = []
    for qid, qv in queries:
        dist = _lut_dist_expr(pq_adc_lut(qv, codebooks), "_pqc")
        structs.append(
            f"named_struct('qid', {int(qid)}L, "
            f"'adc_dist', CAST({dist} AS BIGINT))"
        )
    stacked = enc.select(
        F.col(id_col),
        F.expr(f"explode(array({', '.join(structs)}))").alias("_q"),
    ).select("_q.qid", id_col, "_q.adc_dist")
    w = Window.partitionBy("qid").orderBy(F.asc("adc_dist"), F.col(id_col))
    return (
        stacked.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _l2_assign_expr(coarse: np.ndarray, emb_ref: str = "_pqe") -> str:
    """Generated-SQL argmin-by-squared-L2 over coarse centroid
    literals (ties -> LOWEST centroid id): the same dot-identity /
    constant-term-drop trick as :func:`pq_encode`, full-dimension —
    and, like it (r12), folded over a constant literal struct array
    with transform/zip_with/aggregate so generated code stays O(1) in
    the centroid count (the unrolled n_coarse x dim multiply chain
    was the other half of the 64 KB janino blow-up).  transform's
    index lambda supplies the centroid id, so ties still resolve to
    the lowest cid; the fold order matches the old left-to-right
    chain exactly."""
    cbs = ", ".join(
        "named_struct('n', %s, 'v', array(%s))"
        % (_dlit(np.dot(c, c)), ", ".join(_dlit(x) for x in c))
        for c in coarse
    )
    return (
        "array_min(transform(array(%s), (_s, _i) -> named_struct("
        "'dist', _s.n - 2.0D * aggregate(zip_with(%s, _s.v, "
        "(_x, _y) -> _x * _y), 0.0D, (_a, _x) -> _a + _x), "
        "'cid', _i))).cid" % (cbs, emb_ref)
    )


def ivfpq_codebooks(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    n_coarse: int = 8,
    n_subspaces: int = 8,
    n_codes: int = 16,
) -> tuple[np.ndarray, np.ndarray]:
    """IVF-PQ (IVFADC, Jegou et al. 2011 §V): a coarse quantizer
    splits the corpus into inverted lists, and product quantization
    encodes the RESIDUAL x - coarse(x) — residuals concentrate near
    zero, so the same code budget spends its resolution where the
    data actually is.  Returns (coarse centroids (n_coarse, d),
    residual codebooks (m, n_codes, sub)), both derived
    deterministically (sampled init; codebook quality shifts recall
    only, never correctness).  Coarse assignment is by squared L2
    (ties -> lowest id) — consistent with the ADC metric and, on
    integer-micros inputs, exact in any engine.

    The residual codebook samples SKIP the first ``n_coarse`` rows:
    those rows ARE the coarse centroids, so their residuals are
    exactly zero — sampling them would spend ``n_coarse`` of the
    ``n_codes`` budget on identical zero vectors (ties collapsing to
    code 0), roughly doubling ADC distortion while every gate still
    passes (the oracle mirrors whatever init is chosen; only recall
    suffers)."""
    coarse = ivf_centroids(df, id_col, emb_col, n_coarse)
    res = ivfpq_residuals(df, id_col, emb_col, coarse)
    cb = pq_codebooks(
        res.select(id_col, "_res").orderBy(id_col).offset(n_coarse),
        id_col,
        "_res",
        n_subspaces,
        n_codes,
    )
    return coarse, cb


def ivfpq_residuals(
    df: DataFrame, id_col: str, emb_col: str, coarse: np.ndarray
) -> DataFrame:
    """Attach (cluster_id, _res): nearest-coarse-centroid id by
    squared L2 and the residual vector.  In-scan: the argmin is a
    generated scalar expression, the residual one zip_with against
    the centroid literal selected by cluster id — zero shuffle."""
    if "_pqe" in df.columns or "_res" in df.columns:
        raise ValueError("ivfpq_residuals: reserved columns _pqe/_res in input")
    if "cluster_id" in df.columns:
        raise ValueError(
            "ivfpq_residuals: input already carries cluster_id — drop or "
            "rename it (silently re-assigning a stored index column is "
            "the bug this guard exists for)"
        )
    cc_lit = F.array(*[vec_lit(c) for c in coarse])
    return (
        df.withColumn("_pqe", _as_double_array(emb_col))
        .withColumn("cluster_id", F.expr(_l2_assign_expr(coarse)))
        .withColumn(
            "_res",
            F.zip_with(
                F.col("_pqe"),
                F.element_at(cc_lit, F.col("cluster_id") + 1),
                lambda x, y: x - y,
            ),
        )
        .drop("_pqe")
    )


def ivfpq_encode(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    coarse: np.ndarray,
    codebooks: np.ndarray,
) -> DataFrame:
    """(id, cluster_id, codes): the stored form of an IVF-PQ index —
    at 100 TB this is written partitioned BY cluster_id (probes then
    prune files, the inverted-list analog) with the m-byte code
    column beside it; the raw embedding column is never read again."""
    res = ivfpq_residuals(df, id_col, emb_col, coarse)
    return pq_encode(res, id_col, "_res", codebooks).select(
        id_col, "cluster_id", "codes"
    )


def ivfpq_adc_knn(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    queries: Sequence[tuple[int, Sequence[float]]],
    coarse: np.ndarray,
    codebooks: np.ndarray,
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Batched IVF-PQ search: for each query, rank coarse centroids
    by exact squared L2 (integer-micros -> deterministic, ties to the
    lowest id), probe the ``n_probe`` nearest inverted lists, and
    score ONLY their members by ADC against the per-(query, cluster)
    residual LUT — distance(q, x) ~= sum_j LUT_qc[j][code_j] where
    LUT_qc quantizes (q - centroid_c).  Scan shape mirrors
    :func:`pq_adc_knn` (encode + every query's CASE-on-cluster LUT in
    one scan, explode, one window); rows outside every probe emit
    nothing.  With the index stored partitioned by cluster_id the
    probe filter becomes partition pruning and the scan itself
    shrinks by ~n_probe/n_coarse.  Returns (qid, id_col, adc_dist)."""
    from pyspark.sql import Window

    if not queries:
        raise ValueError("ivfpq_adc_knn: queries must be non-empty")
    enc = ivfpq_encode(df, id_col, emb_col, coarse, codebooks)
    # validate integrality BEFORE the int64 casts (shared helper —
    # codebooks are checked inside pq_adc_lut, where every ADC LUT is
    # built): a silent cast would truncate non-integer components
    # toward zero and rank garbage, and the pq_adc_lut guard can't
    # catch THESE inputs because the residual q - cc[c] it receives
    # is already int64
    cc = _require_integral_micros(coarse, "coarse centroids", "ivfpq_adc_knn")
    structs = []
    for qid, qv in queries:
        q = _require_integral_micros(list(qv), "query vector", "ivfpq_adc_knn")
        d2c = ((cc - q[None, :]) ** 2).sum(axis=1)
        probes = sorted(range(len(cc)), key=lambda c: (d2c[c], c))[:n_probe]
        branches = []
        for c in probes:
            dist = _lut_dist_expr(pq_adc_lut(q - cc[c], codebooks), "codes")
            branches.append(f"WHEN {c} THEN CAST({dist} AS BIGINT)")
        structs.append(
            f"named_struct('qid', {int(qid)}L, 'adc_dist', "
            f"CASE cluster_id {' '.join(branches)} ELSE NULL END)"
        )
    stacked = enc.select(
        F.col(id_col),
        F.expr(f"explode(array({', '.join(structs)}))").alias("_q"),
    ).filter(F.col("_q.adc_dist").isNotNull()).select(
        "_q.qid", id_col, "_q.adc_dist"
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adc_dist"), F.col(id_col))
    return (
        stacked.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def ivfpq_write_index(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    coarse: np.ndarray,
    codebooks: np.ndarray,
    path: str,
) -> None:
    """Materialize the IVF-PQ index in its PRODUCTION layout: encode
    once (:func:`ivfpq_encode`), write parquet partitioned by
    ``cluster_id`` — each coarse cell becomes a directory, the
    inverted-list analog.  Searches then read m code bytes per row
    from ONLY the probed directories; the embedding column is never
    scanned again.  Encode cost is paid once per index build, not
    per query batch — the shape :func:`ivfpq_adc_knn`'s in-scan
    encode documents as its 100 TB successor."""
    ivfpq_encode(df, id_col, emb_col, coarse, codebooks).write.mode(
        "overwrite"
    ).partitionBy("cluster_id").parquet(path)


def ivfpq_compact_index(spark, src_path: str, dst_path: str) -> None:
    """Compact a STREAMED (epoch-accreted) IVF-PQ index into the
    canonical cluster-partitioned layout of
    :func:`ivfpq_write_index`.

    A streaming maintainer (foreachBatch) appends each micro-batch
    under its own replay-guard ``epoch=<id>`` partition (the
    streaming_pq_index discipline: a retried epoch OVERWRITES its own
    directory instead of double-encoding), so the live index accretes
    one file per (epoch, cluster) — searchable immediately, but
    listing-dominated over time (the reference's file-per-record sink
    pathology in slow motion, consumer.py:66-77).  Compaction drops
    the epoch column and rewrites with ``repartition(cluster_id)``,
    so each cluster directory collapses to one file per owning task —
    O(clusters) files total, and :func:`ivfpq_adc_knn_stored`'s
    partition pruning sees the identical row set before and after
    (test-pinned)."""
    df = spark.read.parquet(src_path)
    cols = [c for c in df.columns if c != "epoch"]
    (
        df.select(*cols)
        .repartition("cluster_id")
        .write.mode("overwrite")
        .partitionBy("cluster_id")
        .parquet(dst_path)
    )


def ivfpq_adc_knn_stored(
    spark,
    index_path: str,
    queries: Sequence[tuple[int, Sequence[float]]],
    coarse: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Batched IVF-PQ search over a STORED cluster-partitioned index
    (:func:`ivfpq_write_index`): probe sets are computed driver-side
    from the tiny coarse table (exact integer-micros L2, ties to the
    lowest cluster id — identical to :func:`ivfpq_adc_knn`), the scan
    filters ``cluster_id`` to the UNION of all probe sets — pure
    partition pruning, no data read outside probed cells — and the
    per-(query, cluster) residual LUTs ship as a BROADCAST TABLE
    (q x n_probe rows, each an m*n_codes flattened int64 array)
    joined on ``cluster_id``, not as compiled literals: LUTs are
    per-query-batch DATA, so the in-scan form's CASE-of-literals
    (which overflows janino's 64 KB method limit past ~a dozen
    queries and recompiles on every batch — the nn_confusion_ivfpq
    codegen note) becomes a plan whose generated code is CONSTANT in
    the query count.  The join fans each stored row out to exactly
    the queries probing its cell, and the ADC distance is m indexed
    lookups into the joined lut column — fully codegen'd.  Returns
    (qid, ``id_col``, adc_dist)."""
    from pyspark.sql import Window

    if not queries:
        raise ValueError("ivfpq_adc_knn_stored: queries must be non-empty")
    cc = _require_integral_micros(
        coarse, "coarse centroids", "ivfpq_adc_knn_stored"
    )
    m, n_codes, _sub = codebooks.shape
    lut_rows = []
    for qid, qv in queries:
        q = _require_integral_micros(
            list(qv), "query vector", "ivfpq_adc_knn_stored"
        )
        d2c = ((cc - q[None, :]) ** 2).sum(axis=1)
        probes = sorted(range(len(cc)), key=lambda c: (d2c[c], c))[:n_probe]
        for c in probes:
            lut = pq_adc_lut(q - cc[c], codebooks)
            lut_rows.append(
                (int(qid), int(c), [int(v) for v in lut.reshape(-1)])
            )
    luts = spark.createDataFrame(
        lut_rows, "qid long, cluster_id int, _lut array<bigint>"
    )
    probe_union = sorted({c for _, c, _ in lut_rows})
    enc = spark.read.parquet(index_path).filter(
        F.col("cluster_id").isin(*probe_union)
    )
    dist = " + ".join(
        f"_lut[{j} * {int(n_codes)} + codes[{j}]]" for j in range(int(m))
    )
    scored = enc.join(F.broadcast(luts), "cluster_id").select(
        "qid", id_col, F.expr(f"CAST({dist} AS BIGINT)").alias("adc_dist")
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adc_dist"), F.col(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def cluster_balanced_sample(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    n_clusters: int = 8,
    quota: int = 25,
    salt: str = "cbal:v1",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Cluster-balanced sampling — the embedding-space DIVERSIFICATION
    pass of modern data curation (D4, Tirumala et al. 2023: cluster
    then sample per cluster; SSL-prototype pruning, Sorscher et al.
    2022): assign every vector to its nearest centroid by EXACT
    integer-micros squared L2 (ties to the lowest cluster id — the
    shared :func:`_l2_assign_expr` the IVF-PQ family uses), then keep
    an EXACT per-cluster quota ranked by content hash (the
    ``stratified_quota_sample`` recipe keyed on the learned cluster
    instead of a metadata column).  Caps how much any one region of
    embedding space contributes to the final mixture — the failure
    mode being a corpus dominated by one template/topic that
    per-SOURCE quotas cannot see.

    Requires integer-micros embeddings (:func:`micros_vec`;
    integrality-guarded) so the assignment — and therefore the kept
    SET — is engine-exact and oracle-checkable.  By default centroids
    are the first ``n_clusters`` vectors by id (the
    :func:`ivf_centroids` sampled-init rationale: centroid quality
    shifts the split, never the quota rule's correctness — so the
    GATE keeps this bit-stable init).  Pass ``centroids`` to use a
    TRAINED table instead — e.g.
    ``np.floor(ivf_centroids_kmeans(...))`` — the
    :func:`pq_codebooks_kmeans` precedent: training tightens the
    clusters (lower distortion, better-balanced quotas) while the
    quota rule and exactness guarantees are untouched; the table must
    still be integral micros (floor Lloyd means; guarded).

    Scale shape: assignment is one in-scan generated-SQL argmin (zero
    shuffle); the quota rank is ONE shuffle on cluster_id, and the
    literal rank bound compiles a map-side WindowGroupLimit so only
    ~quota rows per cluster per partition reach the exchange.
    Returns (``id_col``, cluster_id) of kept rows."""
    from pyspark.sql import Window

    from .sampling import salted_hash

    if quota < 1:
        raise ValueError("cluster_balanced_sample: quota must be >= 1")
    if centroids is not None:
        coarse = _require_integral_micros(
            np.asarray(centroids, dtype=float),
            "centroids",
            "cluster_balanced_sample",
        )
    else:
        rows = (
            df.select(F.col(id_col), F.col(emb_col))
            .orderBy(id_col)
            .limit(n_clusters)
            .collect()
        )
        if not rows:
            raise ValueError("cluster_balanced_sample: empty input")
        coarse = _require_integral_micros(
            np.array([list(r[emb_col]) for r in rows], dtype=float),
            "centroids",
            "cluster_balanced_sample",
        )
    assigned = df.select(
        F.col(id_col),
        F.expr(_l2_assign_expr(coarse, f"`{emb_col}`")).alias("cluster_id"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        salted_hash(id_col, salt), F.col(id_col)
    )
    return (
        assigned.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= F.lit(int(quota)))
        .drop("_r")
    )


def pq_codebooks_kmeans(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    n_subspaces: int = 8,
    n_codes: int = 16,
    iters: int = 3,
) -> np.ndarray:
    """Lloyd-refined PQ codebooks (the :func:`ivf_centroids_kmeans`
    recipe per subspace): start from the deterministic first-k init
    and run ``iters`` distributed k-means steps — encode (zero-shuffle
    in-scan argmin over ALL subspaces at once) then per-(subspace,
    code) mean via one posexplode -> groupBy aggregate.

    Each iteration is one scan + one narrow (j, code, dim, sum/count)
    shuffle bounded by m*k*sub cells; only m*k*sub floats reach the
    driver.  Refinement shifts the
    distortion/recall trade-off only, never correctness: ADC ranks
    whatever codebooks it is given deterministically, so gates keep
    the sampled-init codebooks (bit-stable) while production can
    train.  Means are floored to integer micros so refined codebooks
    stay exactly representable cross-engine."""
    base = df.select(F.col(id_col), _as_double_array(emb_col).alias("_e"))
    cb = pq_codebooks(base, id_col, "_e", n_subspaces, n_codes)
    m, n_codes_eff, sub = cb.shape
    for _ in range(iters):
        enc = pq_encode(base, id_col, "_e", cb, out_col="_c")
        cells = (
            enc.select(
                F.posexplode("_e").alias("_dim", "_v"),
                F.col("_c"),
            )
            .select(
                (F.col("_dim") / sub).cast("int").alias("_j"),
                (F.col("_dim") % sub).alias("_d"),
                F.element_at(F.col("_c"), (F.col("_dim") / sub).cast("int") + 1).alias("_code"),
                "_v",
            )
            .groupBy("_j", "_code", "_d")
            .agg(F.sum("_v").alias("_s"), F.count("*").alias("_n"))
            .collect()
        )
        nxt = cb.copy()  # codes that lost all members keep position
        for r in cells:
            nxt[r["_j"]][r["_code"]][r["_d"]] = float(
                np.floor(r["_s"] / r["_n"] * 1.0)
            )
        cb = nxt
    return cb
