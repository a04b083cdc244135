"""Deduplication family for training-data pipelines (BASELINE.json
north star): exact, n-gram Jaccard, MinHash+LSH, SimHash.

Design for 100 TB:

- **exact**: hash-groupBy on a 16-byte fingerprint — the shuffle
  carries (hash, id), never the text.
- **n-gram Jaccard**: inverted index — ONE shingle pass, postings
  list per shingle, ordered pairs expanded per postings list (a
  self-join would re-evaluate the tokenize/shingle pipeline once per
  side; measured 2x slower).  A shingle appearing in d docs costs d^2
  pair rows in any formulation, so ``max_shingle_docs``
  frequency-caps hot shingles (standard df-cut); at scale you ALWAYS
  set it.
- **MinHash+LSH**: k min-hashes per doc from md5(seed:shingle) —
  md5 on purpose: available and bit-identical in every engine, so the
  whole pipeline is oracle-checkable; banding turns all-pairs into
  per-bucket pairs via the same inverted-index expansion.  One
  groupBy(doc) + one groupBy(band bucket).
- **SimHash**: 60-bit signature from per-token md5 bits; near-dup =
  small hamming distance (bit_count(xor)).

No Python UDFs anywhere — md5 / conv / bit ops / higher-order array
functions are all JVM built-ins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .balance import spread_small_input
from .text import fingerprint, tokens


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array column: for token
    array t, shingle_i = t[i] || ' ' || ... || t[i+n-1].

    Built as a ``zip_with`` chain over n shifted ``slice``s of the
    token array — one pass per position, no per-index ``element_at``
    (which re-evaluates the tokenizer per lookup and measured ~7x
    slower).  Token count < n yields an empty array.
    """
    toks = tokens(text)
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    parts = [F.slice(toks, 1 + j, m) for j in range(n)]
    acc = parts[0]
    for part in parts[1:]:
        acc = F.zip_with(acc, part, lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(acc)


def exploded_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingle) rows, distinct per doc.  The shingle projection is
    the compute hot spot (regex tokenize + n zip_with passes per doc),
    so a small under-partitioned input is first spread across cores.

    A plain explode over the INLINE shingle expression is safe here:
    InferFiltersFromGenerate (post-SPARK-36715) only infers its
    size/notnull predicates when the generator child is an attribute,
    so the chain is never duplicated into the scan filter — the trap
    :func:`_pair_intersections` documents needs the
    column-through-a-projection shape."""
    return spread_small_input(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(word_shingles(text_col, n)).alias("shingle")
    )


def exact_text_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on the normalized-text fingerprint: one survivor
    (min id) per fingerprint + the duplicate count.  Shuffle carries
    only (16-byte hash, id)."""
    return (
        df.select(fingerprint(text_col).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count("*").alias("dup_count"),
        )
    )


def _pair_intersections(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_shingle_docs: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, na, nb, common) for every document pair sharing
    at least one n-gram shingle — the shared inverted-index core of
    Jaccard AND containment scoring."""
    # Inverted-index formulation: ONE shingle pass (a naive self-join
    # evaluates the tokenize/shingle pipeline once per side — measured
    # 2x the runtime), postings per shingle, ordered pairs expanded
    # from each postings list.  The set size rides along with every
    # posting so no separate sizes aggregation + re-join later.
    # Postings length is bounded by ``max_shingle_docs`` (df-cut): a
    # shingle in d docs costs d^2 pair rows in ANY formulation, so at
    # scale the cap is what keeps this tractable, not the join shape.
    # explode_OUTER + post-generate null filter — the CANONICAL
    # InferFiltersFromGenerate rewrite every "(see
    # _pair_intersections)" site refers to: a plain explode lets the
    # rule push a size(_shingles) > 0 predicate through the
    # projection, inlining the tokenize+shingle chain into the scan
    # filter (3x eval/row).  PRECONDITION: the exploded array must
    # contain no NULL *elements* — a plain explode would emit them as
    # rows, while this form's isNotNull filter drops them along with
    # the outer-join placeholders, silently changing semantics.  Every
    # producer here satisfies it (shingles / passage hashes / tokens /
    # PQ codes are built from non-NULL parts).  Since r11 the
    # convention is STRUCTURAL: producers whose element type the
    # engine cannot prove non-null wrap in array_compact (a no-op on
    # null-free arrays that sets containsNull=false — NULL members
    # then drop by construction, which is exactly what the filter did
    # by convention), and tools/plan_report.py lints every query plan
    # for outer generates with nullable-element input + an isNotNull
    # filter above — any new un-certified site flags in PLANS.md.
    # (_shingles below is already type-certified null-free; no
    # compact needed.)
    sh = (
        spread_small_input(df.select(id_col, text_col))
        .select(F.col(id_col), word_shingles(text_col, n).alias("_shingles"))
        .select(
            F.col(id_col).alias("_id"),
            F.size("_shingles").alias("_n"),
            F.explode_outer("_shingles").alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
    )
    postings = sh.groupBy("shingle").agg(
        F.collect_list(F.struct(F.col("_id"), F.col("_n"))).alias("_docs")
    )
    if max_shingle_docs is None:
        # hot path: raw set sizes ride inside the postings, zero joins
        pair_structs = F.flatten(
            F.transform(
                "_docs",
                lambda x: F.transform(
                    F.filter("_docs", lambda y: x["_id"] < y["_id"]),
                    lambda y: F.struct(
                        x["_id"].alias("doc_a"),
                        y["_id"].alias("doc_b"),
                        x["_n"].alias("na"),
                        y["_n"].alias("nb"),
                    ),
                ),
            )
        )
        # plain explode over the inline pair transform: no filter is
        # inferred for non-attribute generator children (SPARK-36715)
        pairs = (
            postings.select(F.explode(pair_structs).alias("_p"))
            .groupBy("_p.doc_a", "_p.doc_b", "_p.na", "_p.nb")
            .agg(F.count("*").alias("common"))
        )
    else:
        # df-cut path: jaccard is defined within the CAPPED vocabulary
        # (like stopword removal — set sizes must count only surviving
        # shingles, else capped pairs get biased-low scores), so
        # recompute per-doc sizes post-cut and join them back (narrow
        # (id, count) rows only)
        postings = postings.filter(F.size("_docs") <= max_shingle_docs)
        sizes = (
            postings.select(F.explode("_docs").alias("_d"))
            .groupBy(F.col("_d._id").alias("_sid"))
            .agg(F.count("*").alias("_sn"))
        )
        pair_structs = F.flatten(
            F.transform(
                "_docs",
                lambda x: F.transform(
                    F.filter("_docs", lambda y: x["_id"] < y["_id"]),
                    lambda y: F.struct(
                        x["_id"].alias("doc_a"), y["_id"].alias("doc_b")
                    ),
                ),
            )
        )
        pairs = (
            postings.select(F.explode(pair_structs).alias("_p"))
            .groupBy("_p.doc_a", "_p.doc_b")
            .agg(F.count("*").alias("common"))
            .join(sizes.select(F.col("_sid").alias("doc_a"), F.col("_sn").alias("na")), "doc_a")
            .join(sizes.select(F.col("_sid").alias("doc_b"), F.col("_sn").alias("nb")), "doc_b")
        )
    return pairs.select("doc_a", "doc_b", "na", "nb", "common")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.1,
    max_shingle_docs: int | None = None,
    scale: int = 4,
) -> DataFrame:
    """Near-dup pairs by n-gram Jaccard: |A∩B| / (|A|+|B|-|A∩B|).

    ``max_shingle_docs`` drops shingles shared by more than that many
    docs before the pair join (df-cut) — REQUIRED at scale; affects
    recall only for extremely common shingles.
    """
    pairs = _pair_intersections(df, id_col, text_col, n, max_shingle_docs)
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        pairs.withColumn("jaccard", F.round(jac, scale))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "common", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_docs: int | None = None,
) -> DataFrame:
    """Near-SUBSET pairs by asymmetric n-gram containment:
    ``|A∩B| / |A|`` (and ``/ |B|``) — catches a document that is a
    fragment or superset of another, which symmetric Jaccard
    dilutes toward zero as the size gap grows (a 50-shingle doc
    inside a 5000-shingle doc has Jaccard 0.01 but containment 1.0).

    Emits pairs where EITHER direction's containment (floor-half-up
    rounded to 4, house rounding rule) reaches ``threshold``.  Shares
    the one-pass inverted-index core with ``ngram_jaccard_pairs`` —
    identical scale bound (df-cut caps the postings-list pair
    blow-up).
    """
    pairs = _pair_intersections(df, id_col, text_col, n, max_shingle_docs)
    pow10 = F.lit(10000.0)

    def _r(x):
        return F.floor(x * pow10 + F.lit(0.5)) / pow10

    scored = pairs.select(
        "doc_a",
        "doc_b",
        "common",
        _r(F.col("common") / F.col("na")).alias("containment_a"),
        _r(F.col("common") / F.col("nb")).alias("containment_b"),
    )
    return scored.filter(
        (F.col("containment_a") >= F.lit(threshold))
        | (F.col("containment_b") >= F.lit(threshold))
    )


# ------------------------------------------------------------ MinHash

def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, k: int = 16
) -> DataFrame:
    """k-permutation MinHash signature per doc: columns h0..h{k-1}.

    Kirsch–Mitzenmacher double hashing: the k hash functions are
    ``h_i = h1 + i*h2`` from just TWO md5 evaluations per shingle
    (h1 = top 60 bits, h2 = 28 bits of a salted md5 so ``i*h2`` can't
    overflow a signed 64-bit long) — measured ~2.5x faster than k
    independent md5s, same collision behavior, and still bit-identical
    in any engine with md5 (the oracle requirement).

    One explode + one groupBy(doc) computing all k mins map-side —
    a single shuffle carrying k longs per doc.
    """
    sh = exploded_shingles(df, id_col, text_col, n)
    h1 = F.conv(F.substring(F.md5(F.col("shingle").cast("binary")), 1, 15), 16, 10).cast(
        "long"
    )
    h2 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("salt:"), F.col("shingle")).cast("binary")), 1, 7
        ),
        16,
        10,
    ).cast("long")
    hashed = sh.select(F.col(id_col), h1.alias("_h1"), h2.alias("_h2"))
    return hashed.groupBy(id_col).agg(
        *[
            F.min(F.col("_h1") + F.lit(i) * F.col("_h2")).alias(f"h{i}")
            for i in range(k)
        ]
    )


def minhash_band_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """LSH band rows (_id, band, bucket) for every doc: the MinHash
    signature split into ``bands`` bands of k/bands hashes, each band
    md5-compacted to one bucket key.  All bands are emitted in ONE
    pass over the signature (explode of per-band structs) instead of a
    bands-wide union that would re-evaluate the signature subtree per
    band.  Shared by the candidate-pair expansion and the incremental
    ingest screen."""
    assert k % bands == 0, "k must divide into equal bands"
    r = k // bands
    sig = minhash_signatures(df, id_col, text_col, n, k)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band_index).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|", *[F.col(f"h{band_index * r + j}") for j in range(r)]
                    ).cast("binary")
                ).alias("bucket"),
            )
            for band_index in range(bands)
        ]
    )
    return sig.select(
        F.col(id_col).alias("_id"), F.explode(band_structs).alias("_bb")
    ).select("_id", F.col("_bb.band").alias("band"), F.col("_bb.bucket").alias("bucket"))


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """LSH banding over the MinHash signature: k hashes -> ``bands``
    bands of k/bands rows; docs sharing any band bucket are candidate
    near-dups.  Probability a pair with Jaccard s collides:
    1-(1-s^r)^b.  Returns distinct (doc_a, doc_b) candidates.

    The all-pairs O(n^2) never materializes — only per-bucket pairs.
    """
    band_rows = minhash_band_rows(df, id_col, text_col, n, k, bands)
    # inverted index on the bucket (vs a self-join, which would
    # re-evaluate the whole signature pipeline per side): collect the
    # doc list per (band, bucket), expand ordered pairs, distinct
    members = band_rows.groupBy("band", "bucket").agg(
        F.collect_list("_id").alias("_ids")
    )
    pair_structs = F.flatten(
        F.transform(
            "_ids",
            lambda x: F.transform(
                F.filter("_ids", lambda y: x < y),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        members.select(F.explode(pair_structs).alias("_p"))
        .select("_p.doc_a", "_p.doc_b")
        .distinct()
    )


# ------------------------------------------------------------ SimHash

SIMHASH_BITS = 60  # 15 hex chars -> fits a signed 64-bit long exactly


def _token_hash60() -> Column:
    """First 60 bits of md5(token) as a non-negative long (conv on 15
    hex chars cannot overflow a signed 64-bit)."""
    return F.conv(F.substring(F.md5(F.col("token").cast("binary")), 1, 15), 16, 10).cast(
        "long"
    )


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash per doc: explode tokens (with multiplicity),
    hash each to 60 bits, per bit position take sign of sum(±1),
    assemble the signature long.

    One explode + one groupBy(doc) with 60 conditional-sum aggregates
    — all map-side combinable, shuffle carries 60 ints per doc.
    """
    tok = spread_small_input(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    )
    h = tok.withColumn("h", _token_hash60())
    bit_sums = h.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(1 << j)) != 0, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    sig = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return bit_sums.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
    prefix_bits: int = 12,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, blocked on the
    signature's top ``prefix_bits`` so the pair join is per-block
    rather than all-pairs (misses pairs whose diff bits fall in the
    prefix — the standard multi-probe trade-off; raise blocks or probe
    rotations for higher recall).

    Same inverted-index formulation as the Jaccard/MinHash paths: one
    groupBy(block) + in-array ordered-pair expansion, so the signature
    subtree is evaluated ONCE (a blocked self-join evaluates the whole
    explode+60-agg pipeline per side — measured ~2x this runtime) and
    the only shuffle after the signature carries (block, id, sig)."""
    sig = simhash(df, id_col, text_col)
    shift = SIMHASH_BITS - prefix_bits
    members = (
        sig.select(
            F.shiftright(F.col("simhash"), shift).alias("block"),
            F.struct(F.col(id_col).alias("_id"), F.col("simhash").alias("_sig")).alias(
                "_doc"
            ),
        )
        .groupBy("block")
        .agg(F.collect_list("_doc").alias("_docs"))
    )
    pair_structs = F.flatten(
        F.transform(
            "_docs",
            lambda x: F.transform(
                F.filter("_docs", lambda y: x["_id"] < y["_id"]),
                lambda y: F.struct(
                    x["_id"].alias("doc_a"),
                    y["_id"].alias("doc_b"),
                    F.bit_count(x["_sig"].bitwiseXOR(y["_sig"])).alias("hamming"),
                ),
            ),
        )
    )
    return (
        members.select(F.explode(pair_structs).alias("_p"))
        .select("_p.doc_a", "_p.doc_b", "_p.hamming")
        .filter(F.col("hamming") <= max_hamming)
    )


def levenshtein_near_pairs(
    df: DataFrame,
    text_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """Edit-distance near-dup pairs over the DISTINCT value domain.

    Pairwise Levenshtein is O(n^2 * len^2) — never run it over raw
    rows.  Two scale levers instead:

    1. **Distinct-first**: collapse to the distinct strings before any
       pairing (a fact table with 10^9 rows but 10^5 distinct names
       pays 10^5-scale cost; the map back to rows is a broadcast join
       the caller can do if needed).
    2. **Blocking**: only strings sharing their last whitespace token
       are compared, turning one global O(d^2) into many small
       per-block quadratics.

    Output: (name_a, name_b, distance), name_a < name_b, distance <=
    ``max_dist``.  Spark's ``levenshtein`` is the classic unit-cost
    edit distance, identical to DuckDB's ``levenshtein`` — exact
    integer, oracle-safe.
    """
    block = F.element_at(F.split(F.trim(F.col("name")), r"\s+"), -1)
    names = (
        df.select(F.col(text_col).alias("name"))
        .where(F.col("name").isNotNull())
        .distinct()
        .select(block.alias("block"), F.col("name"))
    )
    a = names.alias("a")
    b = names.alias("b")
    dist = F.levenshtein(F.col("a.name"), F.col("b.name"))
    return (
        a.join(
            F.broadcast(b),
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            dist.alias("distance"),
        )
        .filter(F.col("distance") <= max_dist)
    )


def contamination_check(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    scale: int = 4,
) -> DataFrame:
    """Benchmark decontamination: per training document, how many of
    its distinct word n-grams also occur anywhere in the eval set —
    the GPT-3-style n-gram-overlap test run before any corpus ships.

    The eval side reduces to a DISTINCT shingle set (benchmarks are
    tiny next to a 100 TB corpus) and BROADCASTS; the train side
    explodes shingles in the scan and left-joins the broadcast — no
    fact shuffle for the probe, one (id)-shuffle for the per-doc
    rollup.  Returns (id, n_shingles, n_overlap, overlap_ratio) for
    every training doc with at least one overlapping n-gram.
    """
    train_sh = exploded_shingles(train, id_col, text_col, n)
    eval_sh = (
        exploded_shingles(eval_df, id_col, text_col, n)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    joined = train_sh.join(F.broadcast(eval_sh), "shingle", "left")
    per_doc = joined.groupBy(id_col).agg(
        F.count("*").alias("n_shingles"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_overlap"),
    )
    return per_doc.filter(F.col("n_overlap") > 0).withColumn(
        "overlap_ratio",
        F.round(F.col("n_overlap") / F.col("n_shingles"), scale),
    )


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    lines_col: str | None = None,
    text_col: str = "text",
    sep: str = "\n",
    join_sep: str = "\n",
    min_count: int = 2,
) -> DataFrame:
    """Corpus-wide repeated-line removal WITH document rewrite — the
    C4 recipe (Raffel et al. 2020 §2.2: "discard all but one of any
    three-sentence span occurring more than once") and RefinedWeb's
    line-wise dedup, as an ACTION rather than a report: every line
    occurring ``>= min_count`` times in the corpus keeps only its
    globally-first occurrence (min ``(id, position)`` — fully
    deterministic), all other occurrences are cut, and each
    document's text is reassembled from its surviving lines in
    original order.  This is the missing REWRITE step next to
    :func:`exact_text_dedup` (whole-doc drop) and
    :func:`passage_dup_stats` (report only): boilerplate
    headers/footers/navigation chrome vanish from every page that
    repeats them while the first page keeps its copy.

    ``lines_col`` names a precomputed ``array<string>`` column; else
    ``text_col`` is split on the ``sep`` regex and rejoined with
    ``join_sep``.  Returns ``(id, text_clean, n_lines, n_kept)`` —
    one row per input document (a document whose every line was cut
    comes back with ``text_clean = ''`` and ``n_kept = 0``, so
    downstream length filters see it rather than silently losing it;
    NULL entries inside a user-supplied ``lines_col`` array are
    ignored).

    Scale shape (100 TB): the line-stats shuffle carries
    ``(md5(line), id, pos)`` — 16-byte hashes, never line text (the
    exact-dedup discipline); count+min are partial-aggregated
    map-side, so a boilerplate line repeated a billion times arrives
    at its reducer as one row per upstream partition.  Postings
    re-join the stats on the hash (a line-cardinality table — far
    above any broadcast threshold at corpus scale, so the planner
    keeps it a hash-partitioned join; at test scale AQE is free to
    broadcast it), then ONE ``id``-keyed aggregation rebuilds the
    documents AND their totals (``posexplode_outer`` keeps
    empty-array docs alive, so per-doc counts ride the rebuild
    instead of a third corpus scan + re-join; ``collect_list`` of
    kept (pos, line) structs, sorted in-expression — bounded by
    document size).  Two corpus passes total (the postings subplan
    feeds both the stats aggregate and the rebuild), no Python
    anywhere.
    """
    if min_count < 2:
        raise ValueError("line_dedup: min_count must be >= 2")
    lines_arr = (
        F.col(lines_col)
        if lines_col is not None
        else F.split(F.col(text_col), sep)
    )
    # array_compact: a no-op under the no-NULL-elements convention
    # that CERTIFIES it at type level (containsNull=false — the
    # plan_report lint's condition; a caller-provided lines_col with
    # NULL members now drops them structurally instead of by the
    # downstream filter's convention)
    base = spread_small_input(
        df.select(F.col(id_col), F.array_compact(lines_arr).alias("_lines"))
    )
    posts = base.select(
        F.col(id_col),
        F.posexplode_outer("_lines").alias("_pos", "_line"),
    ).withColumn("_lh", F.md5(F.col("_line")))
    stats = (
        posts.filter(F.col("_line").isNotNull())
        .groupBy("_lh")
        .agg(
            F.count("*").alias("_cnt"),
            F.min(F.struct(F.col(id_col), F.col("_pos"))).alias(
                "_keeper"
            ),
        )
    )
    # _keep is FALSE (never NULL) for the outer-explode placeholder
    # row of an empty/all-NULL array: FALSE AND NULL = FALSE
    flagged = posts.join(stats, "_lh", "left").withColumn(
        "_keep",
        F.col("_line").isNotNull()
        & (
            (F.col("_cnt") < F.lit(int(min_count)))
            | (F.struct(F.col(id_col), F.col("_pos")) == F.col("_keeper"))
        ),
    )
    return flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct("_pos", "_line"))
                    )
                ),
                lambda x: x["_line"],
            ),
            join_sep,
        ).alias("text_clean"),
        F.count("_line").cast("int").alias("n_lines"),
        F.sum(F.col("_keep").cast("long")).alias("n_kept"),
    )


def passage_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Inter-document passage-level duplication (the RefinedWeb /
    CCNet line-dedup analog for single-line corpora): split each
    document into non-overlapping ``k``-token passages, hash them,
    and for each document report how many of its passages also occur
    in at least one OTHER document.

    Returns (id, n_passages, n_dup_passages, dup_frac) — dup_frac
    floor-half-up rounded to 4 so the oracle comparison is exact.

    Scale shape: one tokenize + slice projection (no Python), explode
    to (doc, passage-hash), ONE shuffle on the 16-byte hash to count
    distinct docs per passage, one shuffle back on doc.  Hash
    cardinality is ~corpus_tokens/k — the same order as the corpus
    itself, with partial aggregation collapsing repeats map-side.
    """
    toks = tokens(text_col)
    d = spread_small_input(df.select(id_col, text_col)).select(
        F.col(id_col), toks.alias("_toks")
    )
    n_pass = F.floor(F.size("_toks") / F.lit(k)).cast("int")
    # sequence(0, n-1) DESCENDS when n == 0 (Spark default step is
    # -1 for start > stop), fabricating phantom passages on sub-k
    # documents — guard to an empty list instead
    passages = d.select(
        F.col(id_col),
        n_pass.alias("n_passages"),
        F.when(
            n_pass > 0,
            F.transform(
                F.sequence(F.lit(0), n_pass - F.lit(1)),
                lambda i: F.md5(
                    F.concat_ws(
                        " ", F.slice("_toks", i * F.lit(k) + F.lit(1), k)
                    ).cast("binary")
                ),
            ),
        ).otherwise(F.array().cast("array<string>")).alias("_ph"),
    )
    # explode_outer + null filter (see _pair_intersections, incl. the
    # no-NULL-elements precondition — _ph members are md5 hex of
    # non-NULL parts): a plain explode would push size(_ph) > 0
    # through the projection and inline the tokenize+md5 passage
    # chain into the scan filter.  array_compact certifies the
    # precondition at type level (no-op on null-free arrays).
    exploded = passages.select(
        F.col(id_col), F.explode_outer(F.array_compact("_ph")).alias("ph")
    ).filter(F.col("ph").isNotNull())
    shared = (
        exploded.groupBy("ph")
        .agg(F.count_distinct(id_col).alias("_ndocs"))
        .filter(F.col("_ndocs") >= 2)
        .select("ph")
    )
    dup_per_doc = (
        exploded.join(shared, "ph", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_dup_passages"))
    )
    pow10 = F.lit(10000.0)
    return (
        passages.select(id_col, "n_passages")
        .join(dup_per_doc, id_col, "left")
        .select(
            id_col,
            "n_passages",
            F.coalesce("n_dup_passages", F.lit(0)).alias("n_dup_passages"),
            F.when(F.col("n_passages") > 0,
                   F.floor(
                       F.coalesce("n_dup_passages", F.lit(0)).cast("double")
                       / F.col("n_passages").cast("double") * pow10
                       + F.lit(0.5)
                   ) / pow10)
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


def source_overlap_matrix(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Cross-SOURCE content-overlap matrix: for every pair of sources,
    how many distinct ``k``-token passages occur in BOTH — the corpus
    provenance diagnostic (which feeds mirror/scrape each other) run
    before choosing mixture weights, so a source double-counted through
    a mirror doesn't get double the sampling mass.

    Returns (src_a, src_b, shared_passages) with ``src_a < src_b``,
    only pairs with at least one shared passage.

    Scale shape: one passage-hash projection (the passage_dup_stats
    key), ONE shuffle to group postings by hash; the per-hash source
    SET is bounded by the number of sources (a small, *schema-level*
    cardinality — unlike doc ids, which is why ``collect_set`` is safe
    here and banned in the doc-level operators), and the pair fan-out
    per hash is at most |sources|^2 rows into a tiny final aggregate.
    The corpus itself never self-joins.
    """
    toks = tokens(text_col)
    d = spread_small_input(df.select(group_col, text_col)).select(
        F.col(group_col).alias("_g"), toks.alias("_toks")
    )
    n_pass = F.floor(F.size("_toks") / F.lit(k)).cast("int")
    passages = d.select(
        "_g",
        F.when(
            n_pass > 0,
            F.transform(
                F.sequence(F.lit(0), n_pass - F.lit(1)),
                lambda i: F.md5(
                    F.concat_ws(
                        " ", F.slice("_toks", i * F.lit(k) + F.lit(1), k)
                    ).cast("binary")
                ),
            ),
        ).otherwise(F.array().cast("array<string>")).alias("_ph"),
    )
    # explode_outer + null filter (see _pair_intersections; _ph
    # members are md5 hex of non-NULL parts, so the no-NULL-elements
    # precondition holds — array_compact certifies it at type level)
    per_hash = (
        passages.select(
            "_g", F.explode_outer(F.array_compact("_ph")).alias("ph")
        )
        .filter(F.col("ph").isNotNull())
        .groupBy("ph")
        .agg(F.sort_array(F.collect_set("_g")).alias("_gs"))
        .filter(F.size("_gs") >= 2)
    )
    pairs = (
        per_hash.select(F.explode("_gs").alias("src_a"), "_gs")
        .select("src_a", F.explode("_gs").alias("src_b"))
        .filter(F.col("src_a") < F.col("src_b"))
    )
    return pairs.groupBy("src_a", "src_b").agg(
        F.count("*").alias("shared_passages")
    )


def _sliding_gram_base(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """Shared sliding-k-gram projection for the ExactSubstr family:
    (id, n_tokens, n_grams, _toks, _gh) where ``_gh[i]`` is the
    16-byte md5 of the k-token window starting at token ``i`` —
    hashes shuffle, window text never does.  ``sequence(a, b)``
    DESCENDS when a > b, so sub-k docs are guarded to an empty
    gram array."""
    toks = tokens(text_col)
    d = spread_small_input(df.select(id_col, text_col)).select(
        F.col(id_col), toks.alias("_toks")
    )
    n_tok = F.size("_toks")
    n_grams = F.greatest(n_tok - F.lit(k - 1), F.lit(0))
    return d.select(
        F.col(id_col),
        "_toks",
        n_tok.cast("long").alias("n_tokens"),
        n_grams.cast("long").alias("n_grams"),
        F.when(
            n_grams > 0,
            F.transform(
                F.sequence(F.lit(0), n_grams - F.lit(1)),
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice("_toks", i + F.lit(1), k)).cast(
                        "binary"
                    )
                ),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("_gh"),
    )


def _gram_postings(base: DataFrame, id_col: str) -> DataFrame:
    """(id, pos, gh) gram postings from :func:`_sliding_gram_base` —
    posexplode_OUTER + an explicit post-generate null filter on
    purpose: a plain posexplode makes Catalyst infer a
    ``size(_gh) > 0 AND isnotnull(_gh)`` predicate that pushes below
    the projection and INLINES the whole k-gram transform+md5 chain
    into the scan filter (the expression then evaluates 3x per row);
    the outer variant infers nothing, and the placeholder rows of
    gram-less docs are dropped by a cheap column filter that cannot
    be pushed below its own generator.

    PRECONDITION (shared by every explode_outer+isNotNull rewrite —
    see the canonical comment in :func:`_pair_intersections`): the
    array must contain no NULL *elements*; ``_gh`` members are md5
    hex of non-NULL parts, so it holds here — and ``array_compact``
    certifies it at type level (containsNull=false, the
    plan_report lint's condition; a no-op on null-free arrays)."""
    return base.select(
        F.col(id_col),
        F.posexplode_outer(F.array_compact("_gh")).alias("pos", "gh"),
    ).filter(F.col("gh").isNotNull())


def substring_dup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """Exact duplicated-SUBSTRING coverage (the Spark-native analog of
    suffix-array ExactSubstr dedup, Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better"): for every OVERLAPPING
    ``k``-token window of every document, test whether the same window
    occurs in at least ``min_df`` distinct documents, then report the
    fraction of each document's tokens covered by the UNION of its
    duplicated spans — the quantity ExactSubstr cuts out of training
    corpora.

    Differs from :func:`passage_dup_stats` (non-overlapping passages,
    per-passage counts) in both granularity and the metric: windows
    slide by one token, and coverage is an interval-union length, not
    a window count — a doc whose every window is shifted-duplicate of
    one popular sentence counts that sentence's tokens ONCE.

    Returns (id, n_tokens, n_grams, dup_grams, covered_tokens,
    dup_cover_micros) for every input document; ``dup_cover_micros``
    is floor-half-up integer micros so cross-engine comparison is
    exact.

    Scale shape: suffix arrays don't distribute; this does — one
    tokenize + slide projection (no Python), explode to (doc, pos,
    16-byte hash), ONE shuffle of the postings on the hash (at
    ``min_df=2`` the shared test is ``min(doc) != max(doc)`` over the
    hash partition — no second postings pass; higher thresholds fall
    back to a distinct-count aggregate + semi-join), and a per-doc
    sort window for the interval union (the (doc, pos) shuffle).
    Postings cardinality is ~corpus_tokens — same order as the corpus,
    never quadratic; a popular k-gram costs its df in window rows, not
    df^2 pairs.  The interval-union trick keeps the answer exact with
    a single ``lead`` window instead of materializing per-token
    coverage (k-times blow-up avoided).
    """
    from pyspark.sql import Window

    base = _sliding_gram_base(df, id_col, text_col, k)
    grams = _gram_postings(base, id_col)
    if min_df == 2:
        # "shared by another doc" == min(doc) != max(doc) within the
        # gh partition: ONE postings shuffle (window) instead of the
        # distinct-count aggregate + semi-join back, which shuffles
        # the postings twice and re-runs the tokenize+md5 projection
        # (measured 1.3x end-to-end at sf0.1)
        wgh = Window.partitionBy("gh")
        dup_pos = (
            grams.withColumn(
                "_dup", F.min(id_col).over(wgh) != F.max(id_col).over(wgh)
            )
            .filter(F.col("_dup"))
            .select(id_col, "pos")
        )
    else:
        # general df threshold: a windowed exact distinct-count would
        # materialize per-row sets on hot grams — keep the bounded
        # aggregate + semi-join for this (rarer) case
        shared = (
            grams.groupBy("gh")
            .agg(F.count_distinct(id_col).alias("_ndocs"))
            .filter(F.col("_ndocs") >= min_df)
            .select("gh")
        )
        dup_pos = grams.join(shared, "gh", "left_semi").select(id_col, "pos")
    # union of fixed-length intervals [pos, pos+k-1]: consecutive dup
    # positions overlap when they are < k apart, so each contributes
    # min(k, next_pos - pos) tokens (the last contributes k; every
    # interval fits the doc because pos <= n_tokens - k)
    w = Window.partitionBy(id_col).orderBy("pos")
    spans = dup_pos.withColumn(
        "_span",
        F.least(F.lit(k).cast("long"),
                F.coalesce(F.lead("pos").over(w) - F.col("pos"), F.lit(k)).cast("long")),
    )
    per_doc = spans.groupBy(id_col).agg(
        F.count("*").alias("dup_grams"),
        F.sum("_span").alias("covered_tokens"),
    )
    return (
        base.select(id_col, "n_tokens", "n_grams")
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            "n_grams",
            F.coalesce("dup_grams", F.lit(0)).alias("dup_grams"),
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            F.when(
                F.col("n_tokens") > 0,
                F.floor(
                    F.coalesce("covered_tokens", F.lit(0)).cast("double")
                    / F.col("n_tokens").cast("double")
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("dup_cover_micros"),
        )
    )


def substring_dedup_rewrite(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
    join_sep: str = " ",
) -> DataFrame:
    """The ExactSubstr ACTION (Lee et al. 2022): CUT duplicated
    ``k``-token spans out of every document and reassemble the text —
    the rewrite step whose coverage :func:`substring_dup_spans`
    reports.  Every k-gram occurring ``>= min_count`` times in the
    corpus (OCCURRENCES, so within-document self-repetition counts —
    unlike the span report's distinct-doc test) designates its
    globally-first occurrence (min ``(id, pos)``) the keeper; every
    token covered by any NON-keeper occurrence of a duplicated gram
    is cut, and each document rebuilds from its surviving tokens in
    order.  For NON-overlapping duplicated spans exactly one copy
    survives, deterministically; where duplicated grams OVERLAP
    (self-repetition runs, shifted duplicates) the non-keeper
    intervals may trim the keeper occurrence's own span too — an
    eight-token ``p``-run collapses to a single ``p`` (test-pinned) —
    i.e. the cut errs toward removal, the conservative direction for
    dedup, and is NOT a content-preservation guarantee.

    Returns ``(id, text_clean, n_tokens, n_kept)`` for every input
    document (an entirely-duplicated document comes back ``'' / 0``
    kept, visible to downstream length filters; a NULL-text document
    comes back ``'' / 0 / 0`` rather than vanishing).

    Scale shape (100 TB): gram postings shuffle 16-byte hashes ONCE
    (count + keeper via two window functions over the same hash
    partition — the :func:`substring_dup_spans` discipline); only
    CUT occurrences expand to per-token positions (k x the duplicated
    mass, not k x the corpus — the report operator's reason for
    avoiding per-token materialization doesn't apply to a rewrite,
    which must decide per token); the token stream left-joins the
    distinct cut set on ``(id, pos)`` and ONE id-keyed aggregation
    rebuilds text and totals (the :func:`line_dedup` rebuild).  No
    Python anywhere.
    """
    from pyspark.sql import Window

    if min_count < 2:
        raise ValueError("substring_dedup_rewrite: min_count must be >= 2")
    base = _sliding_gram_base(df, id_col, text_col, k)
    grams = _gram_postings(base, id_col)
    wgh = Window.partitionBy("gh")
    # count + keeper in ONE select: two withColumns would interleave
    # a Project between the Window operators, defeating CollapseWindow
    # (same spec, but split into two passes over every partition —
    # plan-pinned to a single Window node)
    cut_occ = grams.select(
        F.col(id_col),
        "pos",
        F.count("*").over(wgh).alias("_cnt"),
        F.min(F.struct(F.col(id_col), F.col("pos")))
        .over(wgh)
        .alias("_keeper"),
    ).filter(
        (F.col("_cnt") >= F.lit(int(min_count)))
        & (F.struct(F.col(id_col), F.col("pos")) != F.col("_keeper"))
    )
    cut_pos = (
        cut_occ.select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("tpos"),
        )
        .distinct()
        .withColumn("_cut", F.lit(1))
    )
    # posexplode_outer: a NULL-text document (tokens(NULL) = NULL)
    # yields one placeholder row instead of vanishing — counted as
    # 0 tokens / 0 kept, the line_dedup totality discipline
    toks_stream = base.select(
        F.col(id_col), F.posexplode_outer("_toks").alias("tpos", "_tok")
    )
    flagged = toks_stream.join(cut_pos, [id_col, "tpos"], "left")
    keep = F.col("_cut").isNull() & F.col("_tok").isNotNull()
    return flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(keep, F.struct("tpos", "_tok"))
                    )
                ),
                lambda x: x["_tok"],
            ),
            join_sep,
        ).alias("text_clean"),
        F.count("_tok").cast("long").alias("n_tokens"),
        F.sum(keep.cast("long")).alias("n_kept"),
    )


def keep_best_per_cluster(
    clusters: DataFrame,
    scored: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    score_col: str = "quality",
) -> DataFrame:
    """Canonicalization step after fuzzy dedup: given (id, cluster)
    assignments and per-document scores, pick ONE survivor per
    cluster — highest score, ties broken by smallest id (a total
    order, so the survivor is engine-exact).

    Returns (cluster_id, keep_id, keep_score, n_members, n_dropped).
    One join on the id key + one windowed argmax per cluster; at
    100 TB both shuffles are on keys whose cardinality the LSH/CC
    stage already reduced far below the corpus size.
    """
    from pyspark.sql import Window

    j = clusters.join(scored, id_col)
    w = Window.partitionBy(cluster_col).orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    ranked = j.withColumn("_rn", F.row_number().over(w))
    stats = j.groupBy(cluster_col).agg(F.count("*").alias("n_members"))
    return (
        ranked.filter(F.col("_rn") == 1)
        .select(
            cluster_col,
            F.col(id_col).alias("keep_id"),
            F.col(score_col).alias("keep_score"),
        )
        .join(stats, cluster_col)
        .select(
            cluster_col,
            "keep_id",
            "keep_score",
            "n_members",
            (F.col("n_members") - F.lit(1)).alias("n_dropped"),
        )
    )


def incremental_dedup(
    corpus: DataFrame,
    incoming: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental ingestion dedup — the shape every continuously-fed
    corpus runs nightly: dedupe the INCOMING batch within itself
    (keep min id per fingerprint), then drop anything whose
    fingerprint already exists in the historical corpus (anti-join
    against the stored fingerprint set).

    Returns the novel incoming rows (id, fingerprint).  Scale shape:
    the corpus side reduces to DISTINCT 16-byte fingerprints before
    the anti-join — at 100 TB that set lives as its own compact
    table updated per batch, and the anti-join shuffles hashes, not
    documents.
    """
    # NULL text would produce a NULL fingerprint: the anti-join never
    # matches NULL==NULL (the doc re-lands every batch) and a NULL in
    # the corpus side poisons a SQL NOT-IN twin — unparseable docs are
    # not ingestible, so both sides drop them up front
    inc = incoming.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), fingerprint(text_col).alias("fingerprint")
    )
    batch_survivors = (
        inc.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    )
    known = (
        corpus.filter(F.col(text_col).isNotNull())
        .select(fingerprint(text_col).alias("fingerprint"))
        .distinct()
    )
    return batch_survivors.join(known, "fingerprint", "left_anti").select(
        id_col, "fingerprint"
    )


def incremental_neardup(
    corpus: DataFrame | None,
    incoming: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    known_bands: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH NEAR-dup screen at ingest — :func:`incremental_dedup`
    for fuzzy duplicates: an incoming doc is dropped iff any of its LSH
    band buckets (a) appears among the accepted historical corpus's
    buckets, or (b) is shared with a strictly-smaller-id doc in the
    same batch (per-bucket keep-min — same deterministic rule the
    batch dedup family uses; like any per-bucket first-wins rule it
    can drop both ends of a 2-hop chain a<b<c where only b collides
    with each, which is the conservative direction for training data).

    Returns surviving (id_col,) rows.  Rejected docs' buckets do NOT
    enter the index — only accepted docs define "known", so a doc
    colliding solely with an earlier reject still lands.

    Scale shape: the corpus side reduces to DISTINCT (band, bucket)
    16-byte keys — at 100 TB that set lives as its own compact parquet
    index updated per batch and is passed as ``known_bands`` (see the
    streaming foreachBatch test), so the recurring cost is
    bands-per-doc hash rows, never documents; the history screen is a
    semi-join on bucket keys and the within-batch screen one
    bucket-partitioned window min.  Nothing pairwise ever
    materializes.  Pass either ``corpus`` (re-derives the index from
    raw docs — the batch/backfill path) or a precomputed
    ``known_bands`` (band, bucket) frame — the streaming path.
    """
    from pyspark.sql import Window

    if corpus is None and known_bands is None:
        raise ValueError(
            "incremental_neardup: pass either corpus (raw accepted docs) "
            "or known_bands (their precomputed (band, bucket) index)"
        )
    inc_bands = minhash_band_rows(
        incoming.filter(F.col(text_col).isNotNull()), id_col, text_col, n, k, bands
    )
    if known_bands is None:
        known_bands = minhash_band_rows(
            corpus.filter(F.col(text_col).isNotNull()), id_col, text_col, n, k, bands
        )
    known = known_bands.select("band", "bucket").distinct()
    hist_hit = (
        inc_bands.join(known, ["band", "bucket"], "left_semi")
        .select(F.col("_id").alias(id_col))
        .distinct()
    )
    w = Window.partitionBy("band", "bucket")
    batch_hit = (
        inc_bands.withColumn("_min_id", F.min("_id").over(w))
        .filter(F.col("_id") > F.col("_min_id"))
        .select(F.col("_id").alias(id_col))
        .distinct()
    )
    ids = incoming.filter(F.col(text_col).isNotNull()).select(id_col)
    return ids.join(hist_hit, id_col, "left_anti").join(
        batch_hit, id_col, "left_anti"
    )
