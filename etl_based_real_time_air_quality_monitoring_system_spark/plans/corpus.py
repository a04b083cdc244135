"""The composed pretraining-corpus pipeline (BASELINE.json north star):
exact dedup -> quality / language / token-bound filtering -> corpus
accounting, as ONE declarative plan.

This is the capstone composition of the text + dedup operator families:
a user of the reference-style ETL pipeline points this at a documents
table and gets the canonical LLM-data-prep flow with every stage
running as Catalyst-optimized DataFrame ops (no Python anywhere).

Scale shape (the 100 TB reading):

- the dedup stage is ONE wide shuffle, hash-partitioned on the 16-byte
  text fingerprint; the survivor rule (min id per fingerprint) is a
  window ``row_number``, deterministic by construction —
  ``dropDuplicates`` would keep an arbitrary row per key, which is
  fine operationally but untestable against an oracle and
  non-reproducible across runs, a property a training-data pipeline
  actually cares about;
- profiling is a narrow projection (tokenize once via the ``_of``
  family), so it fuses into the post-shuffle stage;
- the report is a partial+final aggregation on the (low-cardinality)
  source key; token totals are exact longs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from ..operators.text import (
    fingerprint,
    lang_id_of,
    quality_score_of,
    token_count_of,
    tokens,
)


def prepare_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    lang: str = "en",
    min_tokens: int = 20,
    max_tokens: int = 2000,
    classifier_weights: Sequence[int] | None = None,
    classifier_threshold_micros: int = 500_000,
    classifier_bias_micros: int = 0,
    classifier_salt: str = "qcls:v1",
    lang_weights: "Mapping[str, Sequence[int]] | None" = None,
    lang_salt: str = "langid:v1",
    normalize: bool = False,
) -> DataFrame:
    """Deduplicated, filtered corpus: survivor rows (min ``id_col`` per
    exact-text fingerprint) that clear the quality / language /
    token-count bar, with profile columns attached.

    ``normalize=True`` runs :func:`operators.text.normalize_text`
    FIRST — ahead of the dedup fingerprint and every tokenization —
    the CCNet/C4 stage order (normalize, then dedup, then filter):
    two docs that differ only in compatibility characters /
    whitespace shape then fingerprint identically and dedup together,
    and every profile metric sees the normalized text.  Another pure
    in-scan expression: still zero extra shuffles.  Off by default
    (the gates pin raw-text behavior).

    ``classifier_weights`` adds the OPTIONAL model-based screen on top
    of the heuristic one (the GPT-3/LLaMA curation shape: heuristics
    first, then a trained linear classifier): the fastText-style
    integer-micros score (``operators.text.qcls_score_expr``) is
    computed in the same scan — no extra shuffle — exposed as
    ``qcls_micros``, and rows below ``classifier_threshold_micros``
    are dropped.

    ``lang_weights`` upgrades the language screen from the heuristic
    ``lang_id_of`` to the trained multi-class classifier
    (``operators.text.lang_id_scores`` semantics, evaluated here as
    the same-scan literal argmax): ``lang_pred`` becomes the
    classifier's prediction (argmax per-language floor-mean, ties to
    the sorted-first language) and the ``lang_pred == lang`` keep
    rule is unchanged — one more in-scan expression, still zero
    extra shuffles.  CCNet/C4 run exactly this shape."""
    if normalize:
        from ..operators.text import normalize_text

        docs = docs.withColumn(text_col, normalize_text(F.col(text_col)))
    w = Window.partitionBy(fingerprint(text_col)).orderBy(F.col(id_col))
    survivors = (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if lang_weights is None:
        profiled = (
            survivors.withColumn("_toks", tokens(text_col))
            .withColumn("_ltoks", tokens(F.lower(F.col(text_col))))
            .withColumns(
                {
                    "quality": quality_score_of(F.col("_toks")),
                    "n_tokens": token_count_of(F.col("_toks")),
                    "lang_pred": lang_id_of(F.col("_ltoks")),
                }
            )
            .drop("_toks", "_ltoks")
        )
    else:
        # classifier language screen — the lang_id_scores literal
        # form, staged here so the shared featurization (_lf, a
        # multi-use non-cheap alias Catalyst won't collapse) and the
        # K per-language folds all stay in the SAME scan as the
        # quality/token profile: zero extra shuffles or joins
        from ..operators.text import (
            QCLS_LITERAL_MAX_BUCKETS,
            _langid_validate,
            hashed_ngram_buckets,
            qcls_score_expr,
        )

        langs, n_buckets = _langid_validate(lang_weights)
        if len(langs) * n_buckets > QCLS_LITERAL_MAX_BUCKETS:
            raise ValueError(
                "prepare_corpus: lang_weights too large for the "
                f"in-scan literal form ({len(langs)}x{n_buckets} > "
                f"{QCLS_LITERAL_MAX_BUCKETS}) — run "
                "operators.text.lang_id_scores (broadcast-LUT form) "
                "and join its prediction back instead"
            )
        score_cols = {
            f"_ls_{i}": qcls_score_expr("_lf", lang_weights[lg])
            for i, lg in enumerate(langs)
        }
        best = F.greatest(*[F.col(c) for c in score_cols])
        pred = F.coalesce(
            *[
                F.when(F.col(f"_ls_{i}") == best, F.lit(lg))
                for i, lg in enumerate(langs)
            ]
        )
        profiled = (
            survivors.withColumn("_toks", tokens(text_col))
            .withColumn(
                "_lf",
                hashed_ngram_buckets(tokens(text_col), n_buckets, lang_salt),
            )
            .withColumns(
                {
                    "quality": quality_score_of(F.col("_toks")),
                    "n_tokens": token_count_of(F.col("_toks")),
                    **score_cols,
                }
            )
            .withColumn("lang_pred", pred)
            .drop("_toks", "_lf", *score_cols)
        )
    kept = profiled.filter(
        (F.col("quality") >= min_quality)
        & (F.col("lang_pred") == lang)
        & F.col("n_tokens").between(min_tokens, max_tokens)
    )
    if classifier_weights is None:
        return kept
    from ..operators.text import (
        QCLS_LITERAL_MAX_BUCKETS,
        hashed_ngram_buckets,
        qcls_score_expr,
        qcls_score_joined,
    )

    if len(classifier_weights) > QCLS_LITERAL_MAX_BUCKETS:
        # production-sized weight table (1e5+ buckets): the literal
        # form would overflow janino's 64 KB generated-method limit,
        # so score on a NARROW (id, features) projection via the
        # broadcast-LUT join and join the micros back by id — the
        # wide text/profile columns never ride through the explode
        # (the no-wide-payloads-through-pair-expansion rule)
        scored = qcls_score_joined(
            kept.select(
                id_col,
                hashed_ngram_buckets(
                    tokens(text_col),
                    len(classifier_weights),
                    classifier_salt,
                ).alias("_qf"),
            ),
            classifier_weights,
            id_col=id_col,
            feats_col="_qf",
            bias_micros=classifier_bias_micros,
        ).select(id_col, F.col("score_micros").alias("qcls_micros"))
        return kept.join(scored, id_col).filter(
            F.col("qcls_micros") >= int(classifier_threshold_micros)
        )
    return (
        kept.withColumn(
            "_qf",
            hashed_ngram_buckets(
                tokens(text_col), len(classifier_weights), classifier_salt
            ),
        )
        .withColumn(
            "qcls_micros",
            qcls_score_expr("_qf", classifier_weights, classifier_bias_micros),
        )
        .drop("_qf")
        .filter(F.col("qcls_micros") >= int(classifier_threshold_micros))
    )


def corpus_report(kept: DataFrame, source_col: str = "source") -> DataFrame:
    """Per-source corpus accounting over ``prepare_corpus`` output:
    document and exact token totals (the numbers a training run is
    provisioned from) plus mean quality."""
    return kept.groupBy(source_col).agg(
        F.count("*").alias("kept_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
    )


def assemble_corpus(
    docs: DataFrame,
    weights: dict[str, int],
    token_budget: int,
    n_shards: int,
    id_col: str = "doc_id",
    source_col: str = "source",
    shard_salt: str = "shard:v1",
) -> DataFrame:
    """The END-TO-END corpus assembly recipe, composed entirely from
    the registered operators: ``prepare_corpus`` (exact dedup +
    quality/language/token-bound filter) → ``mixture_sample`` (hit the
    target source mixture, budgeted by the scarcest source) →
    ``token_budget_prefix`` ("exactly N tokens", hash-ordered prefix)
    → deterministic shard assignment.  Every stage is a pure function
    of content hashes, so the final shard contents are bit-reproducible
    on any partitioning and any engine — the property a training-data
    build actually needs.

    Scale shape = the sum of its parts (each audited separately in
    PLANS.md/SCALING.md): one fingerprint shuffle, one source shuffle
    (quota window), one coarse-bucket shuffle (budget window) — no
    stage exceeds one wide exchange, nothing collects beyond bounded
    histograms.  The mixture and budget stages each need a bounded
    driver statistic over the filtered corpus, so ``kept`` is
    persisted for the duration of the call and released before
    returning; the budget-bounded result is eagerly checkpointed so
    the expensive dedup+filter pipeline runs exactly once no matter how
    often the caller acts on the result.
    """
    from ..operators.sampling import (
        hash_bucket,
        mixture_sample,
        token_budget_prefix,
    )

    kept = prepare_corpus(docs).persist()
    try:
        mixed = mixture_sample(kept, source_col, id_col, weights)
        fitted = token_budget_prefix(mixed, id_col, F.col("n_tokens"), token_budget)
        return fitted.withColumn(
            "shard", hash_bucket(F.col(id_col), n_shards, shard_salt)
        ).localCheckpoint(eager=True)
    finally:
        # always release: the persist pays for the bounded collects
        # INSIDE this call (mixture counts + budget histogram); the
        # checkpointed result no longer needs it.
        kept.unpersist()
