"""Round-3 session-2 operators: Gopher quality rules, passage-level
dedup, cluster canonicalization, co-occurrence, drift bins, exact
distributed equi-depth bins, and the sketch-profile error bounds.

Each test plants inputs with a known answer and asserts the
*semantics*; engine/SQL agreement is covered by the oracle gate.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_based_real_time_air_quality_monitoring_system_spark.operators.aggregates import (
    drift_bin_report,
    equi_depth_bins,
)
from etl_based_real_time_air_quality_monitoring_system_spark.operators.dedup import (
    keep_best_per_cluster,
    passage_dup_stats,
)
from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import (
    gopher_quality_flags,
    token_cooccurrence,
)


def test_gopher_rules(spark):
    rows = [
        # passes every rule: long enough, mean len in range, alpha,
        # >=2 required stopwords
        ("d1", "the cat and the dog sat with all of their friends today"),
        # too short (n_words < 5)
        ("d2", "the and of"),
        # no required stopwords at all
        ("d3", "zebra yak xylophone wombat vulture unicorn tiger snake"),
        # mean word length too long (>10)
        ("d4", "antidisestablishmentarianism incomprehensibilities "
               "internationalization uncharacteristically hospitalization"),
    ]
    out = {
        r["doc_id"]: r
        for r in gopher_quality_flags(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    assert out["d1"]["keep"] == 1
    assert out["d2"]["keep"] == 0 and out["d2"]["n_words"] == 3
    assert out["d3"]["keep"] == 0 and out["d3"]["stop_hits"] == 0
    assert out["d4"]["keep"] == 0 and out["d4"]["mean_word_len"] > 10
    assert out["d1"]["stop_hits"] >= 2


def test_passage_dup_stats_marks_shared_passages(spark):
    shared = "one two three four five six seven eight"  # exactly k=8 tokens
    rows = [
        ("a", shared + " alpha beta gamma delta epsilon zeta eta theta"),
        ("b", shared + " iota kappa lambda mu nu xi omicron pi"),
        ("c", "unrelated words that never repeat anywhere else at all"),
    ]
    out = {
        r["doc_id"]: r
        for r in passage_dup_stats(
            spark.createDataFrame(rows, ["doc_id", "text"]), k=8
        ).collect()
    }
    # docs a and b share passage #1; their tails differ
    assert out["a"]["n_passages"] == 2 and out["a"]["n_dup_passages"] == 1
    assert out["b"]["n_dup_passages"] == 1
    assert out["a"]["dup_frac"] == 0.5
    assert out["c"]["n_dup_passages"] == 0
    # doc with < k tokens -> zero passages, dup_frac 0.0
    tiny = passage_dup_stats(
        spark.createDataFrame([("t", "too short")], ["doc_id", "text"]), k=8
    ).collect()[0]
    assert tiny["n_passages"] == 0 and tiny["dup_frac"] == 0.0


def test_incremental_neardup_drops_history_and_smaller_id_hits(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.dedup import (
        incremental_neardup,
        minhash_band_rows,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame([(1, base)], ["doc_id", "text"])
    inc = spark.createDataFrame(
        [
            (10, base + " extra"),  # near-dup of historical doc 1 -> drop
            (11, "completely different words about astronomy and telescopes tonight"),
            # near-dup of 11 with bigger id -> within-batch drop
            (12, "completely different words about astronomy and telescopes tonight ok"),
            (13, None),  # null text never lands
            (14, "tiny"),  # <3 tokens, no shingles -> trivially survives
        ],
        ["doc_id", "text"],
    )
    got = sorted(r["doc_id"] for r in incremental_neardup(corpus, inc).collect())
    assert got == [11, 14]
    # the precomputed-index path (production streaming shape) agrees
    idx = minhash_band_rows(corpus, "doc_id", "text").select("band", "bucket")
    got2 = sorted(
        r["doc_id"]
        for r in incremental_neardup(None, inc, known_bands=idx).collect()
    )
    assert got2 == [11, 14]


def test_target_affinity_ranks_target_like_docs_higher(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import target_affinity

    rows = [
        ("d1", "physics energy quantum field theory experiment"),
        ("d2", "quantum field experiment energy physics notes"),
        ("d3", "cheap pills buy now click here free offer"),
    ]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    target = corpus.filter("doc_id = 'd1'").select("doc_id", "text")
    out = {
        r["doc_id"]: r
        for r in target_affinity(corpus, target, n_buckets=256).collect()
    }
    # feature count = unigrams + adjacent bigrams = 2*len - 1
    assert out["d1"]["n_feats"] == 11 and out["d3"]["n_feats"] == 15
    # the target doc itself scores highest; the vocabulary-sharing doc
    # beats the spam doc, which shares no features with the target
    assert (
        out["d1"]["affinity_micros"]
        > out["d2"]["affinity_micros"]
        > out["d3"]["affinity_micros"]
    )
    assert out["d3"]["affinity_micros"] == 0
    # empty target -> every weight 0 -> every score 0
    zero = target_affinity(
        corpus, corpus.filter("doc_id = 'nope'"), n_buckets=256
    ).collect()
    assert all(r["affinity_micros"] == 0 for r in zero)


def test_source_overlap_matrix_counts_distinct_shared_passages(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.dedup import source_overlap_matrix

    shared = "one two three four five six seven eight"  # exactly k=8 tokens
    rows = [
        # srcA carries the shared passage TWICE (two docs) — it must
        # still count once per pair (distinct passage hashes per source)
        ("srcA", shared + " alpha beta gamma delta epsilon zeta eta theta"),
        ("srcA", shared + " aa bb cc dd ee ff gg hh"),
        ("srcB", shared + " iota kappa lambda mu nu xi omicron pi"),
        ("srcC", "unrelated words that never repeat anywhere else at all"),
    ]
    out = {
        (r["src_a"], r["src_b"]): r["shared_passages"]
        for r in source_overlap_matrix(
            spark.createDataFrame(rows, ["source", "text"]), k=8
        ).collect()
    }
    # only the A-B pair overlaps, exactly one distinct shared passage,
    # and the pair is emitted in lexicographic order
    assert out == {("srcA", "srcB"): 1}


def test_substring_dup_spans_interval_union(spark):
    """Overlapping duplicated k-grams must count covered tokens ONCE
    (interval union), not once per window."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.dedup import substring_dup_spans

    rows = [
        ("a", "x1 x2 x3 x4 x5 x6"),
        ("b", "x2 x3 x4 x5 q r"),
        ("c", "nothing shared here at all ever"),
    ]
    out = {
        r["doc_id"]: r
        for r in substring_dup_spans(
            spark.createDataFrame(rows, ["doc_id", "text"]), k=3
        ).collect()
    }
    # a and b share the windows (x2 x3 x4) and (x3 x4 x5): two dup
    # positions one apart -> union covers x2..x5 = 4 tokens, not 6
    assert out["a"]["n_grams"] == 4 and out["a"]["dup_grams"] == 2
    assert out["a"]["covered_tokens"] == 4
    assert out["a"]["dup_cover_micros"] == 666667  # floor(4/6*1e6+0.5)
    assert out["b"]["dup_grams"] == 2 and out["b"]["covered_tokens"] == 4
    assert out["c"]["dup_grams"] == 0 and out["c"]["covered_tokens"] == 0


def test_substring_dup_spans_gap_identical_and_tiny(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.dedup import substring_dup_spans

    # non-adjacent dup spans (gap >= k) contribute k tokens each
    rows = [
        ("a", "s1 s2 s3 mid1 s4 s5 s6 tailx"),
        ("b", "s1 s2 s3 OTHER s4 s5 s6 taily"),
    ]
    out = {
        r["doc_id"]: r
        for r in substring_dup_spans(
            spark.createDataFrame(rows, ["doc_id", "text"]), k=3
        ).collect()
    }
    # shared windows: (s1 s2 s3) at pos 0 and (s4 s5 s6) at pos 4 ->
    # spans min(3, 4-0) + 3 = 6 covered tokens of 8
    assert out["a"]["dup_grams"] == 2 and out["a"]["covered_tokens"] == 6

    # identical docs -> full coverage, exactly 1.0 in micros
    dup = substring_dup_spans(
        spark.createDataFrame(
            [("p", "alpha beta gamma delta"), ("q", "alpha beta gamma delta")],
            ["doc_id", "text"],
        ),
        k=3,
    ).collect()
    for r in dup:
        assert r["covered_tokens"] == r["n_tokens"] == 4
        assert r["dup_cover_micros"] == 1000000

    # sub-k document: zero grams, zero coverage, no phantom windows
    tiny = substring_dup_spans(
        spark.createDataFrame([("t", "too short")], ["doc_id", "text"]), k=3
    ).collect()[0]
    assert tiny["n_grams"] == 0 and tiny["covered_tokens"] == 0
    assert tiny["dup_cover_micros"] == 0


def test_keep_best_per_cluster_tiebreak(spark):
    clusters = spark.createDataFrame(
        [("d1", "c1"), ("d2", "c1"), ("d3", "c1"), ("d9", "c2")],
        ["doc_id", "cluster_id"],
    )
    scored = spark.createDataFrame(
        [("d1", 0.5), ("d2", 0.9), ("d3", 0.9), ("d9", 0.1)],
        ["doc_id", "quality"],
    )
    out = {
        r["cluster_id"]: r
        for r in keep_best_per_cluster(clusters, scored).collect()
    }
    # highest quality wins; tie (d2 vs d3) -> smallest doc_id
    assert out["c1"]["keep_id"] == "d2"
    assert out["c1"]["n_members"] == 3 and out["c1"]["n_dropped"] == 2
    assert out["c2"]["keep_id"] == "d9" and out["c2"]["n_dropped"] == 0


def test_token_cooccurrence_counts(spark):
    rows = [
        ("d1", "apple banana cherry"),
        ("d2", "apple banana"),
        ("d3", "apple cherry"),
        ("d4", "banana banana apple"),  # repeats count once (presence)
    ]
    out = token_cooccurrence(
        spark.createDataFrame(rows, ["doc_id", "text"]), min_df=2, top_n=10
    ).collect()
    pairs = {(r["tok_a"], r["tok_b"]): r["n_docs"] for r in out}
    assert pairs[("apple", "banana")] == 3
    assert pairs[("apple", "cherry")] == 2
    assert pairs[("banana", "cherry")] == 1
    # top-1 is the most frequent pair
    assert out[0]["tok_a"] == "apple" and out[0]["tok_b"] == "banana"


def test_drift_bin_report_split_and_rates(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        # first half: values in bin 0; second half: values in bin 1
        *[(base + dt.timedelta(hours=h), 10.0) for h in range(4)],
        *[(base + dt.timedelta(hours=h), 60.0) for h in range(4, 8)],
    ]
    df = spark.createDataFrame(rows, ["ts", "value"])
    out = {r["bin"]: r for r in drift_bin_report(df, "ts", "value").collect()}
    # ref half (ts < midpoint) is all bin 0, cur half all bin 1
    assert out[0]["n_ref"] == 4 and out[0]["n_cur"] == 0
    assert out[1]["n_ref"] == 0 and out[1]["n_cur"] == 4
    assert out[0]["rate_ref"] == 1.0 and out[1]["rate_cur"] == 1.0
    assert out[0]["rate_abs_diff"] == 1.0


def test_equi_depth_bins_matches_sql_ntile(spark):
    # 23 rows into 4 bins -> sizes 6,6,6,5 and identical assignment to
    # the engine's own ntile (single-partition window is fine on 23
    # rows in a test)
    rows = [(float(v % 7), f"id{v:03d}") for v in range(23)]
    df = spark.createDataFrame(rows, ["value", "event_id"])
    got = {
        r["bin"]: r
        for r in equi_depth_bins(df, "value", "event_id", n_bins=4).collect()
    }
    assert [got[b]["n_rows"] for b in (1, 2, 3, 4)] == [6, 6, 6, 5]
    from pyspark.sql import Window

    w = Window.orderBy("value", "event_id")
    want = (
        df.select(F.ntile(4).over(w).alias("bin"), "value")
        .groupBy("bin")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .collect()
    )
    for r in want:
        g = got[r["bin"]]
        assert g["n_rows"] == r["n_rows"]
        assert g["min_value"] == r["min_value"]
        assert g["max_value"] == r["max_value"]


def test_sketch_profile_error_bounds(spark):
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.01"
    approx = {
        r["event_type"]: r
        for r in entrymod.queries()["sketch_profile"](spark, sf).collect()
    }
    exact = {
        r["event_type"]: r
        for r in spark.read.parquet(f"{sf}/events.parquet")
        .groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("users"),
            F.expr("percentile(value, 0.5)").alias("p50"),
        )
        .collect()
    }
    for et, row in approx.items():
        # HLL default rsd is 5%; allow 3x slack
        assert abs(row["approx_users"] - exact[et]["users"]) <= max(
            3, 0.15 * exact[et]["users"]
        )
        assert abs(row["p50_approx"] - exact[et]["p50"]) <= 5.0


def test_ngram_containment_finds_subset(spark):
    long_doc = " ".join(f"w{i}" for i in range(40))
    fragment = " ".join(f"w{i}" for i in range(10))  # strict prefix
    rows = [
        ("big", long_doc),
        ("frag", fragment),
        ("other", "totally different tokens here nothing shared at all today"),
    ]
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = ngram_containment_pairs(df, "doc_id", "text", threshold=0.9).collect()
    assert len(got) == 1
    row = got[0]
    assert {row["doc_a"], row["doc_b"]} == {"big", "frag"}
    # the fragment is fully contained: its containment is exactly 1.0
    assert max(row["containment_a"], row["containment_b"]) == 1.0
    # ...while symmetric Jaccard dilutes below 0.25 for the same pair
    jac = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.01).collect()
    pair = [r for r in jac if {r["doc_a"], r["doc_b"]} == {"big", "frag"}][0]
    assert pair["jaccard"] < 0.25


def test_key_skew_report_flags_heavy_key(spark):
    rows = [("hot",)] * 30 + [(f"u{i}",) for i in range(10)]
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.aggregates import key_skew_report

    out = key_skew_report(
        spark.createDataFrame(rows, ["user_id"]), "user_id", top_n=3
    ).collect()
    assert out[0]["key"] == "hot" and out[0]["cnt"] == 30
    # hot key holds 30/40 = 75% of rows; mean key load is 40/11
    assert out[0]["share_micros"] == 750000
    # skew ratio = 30 / (40/11) = 8.25x the mean key
    assert out[0]["skew_ratio_micros"] == 8250000
    # remaining slots are count-1 keys in key order
    assert [r["cnt"] for r in out[1:]] == [1, 1]


def test_orc_roundtrip_preserves_rows(spark, tmp_path):
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.writers import write_orc

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], ["id", "k", "v"]
    )
    path = str(tmp_path / "orc_out")
    write_orc(df, path)
    back = spark.read.orc(path)
    assert sorted(r["id"] for r in back.collect()) == [1, 2]
    assert back.schema == df.schema


def test_rescore_pairs_tfidf_exact_scores(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import rescore_pairs_tfidf

    docs = spark.createDataFrame(
        [
            ("a", "x x y"),      # tf: x=2, y=1
            ("b", "x z"),        # tf: x=1, z=1
            ("c", "y y z"),      # tf: y=2, z=1
        ],
        ["doc_id", "text"],
    )
    pairs = spark.createDataFrame(
        [("a", "b"), ("a", "c")], ["doc_a", "doc_b"]
    )
    out = {
        (r["doc_a"], r["doc_b"]): r
        for r in rescore_pairs_tfidf(pairs, docs).collect()
    }
    # N=3; df: x=2, y=2, z=2 -> idf² term factor N²/df² = 9/4
    # (a,b): shared x -> 2*1*9*1e6 DIV 4 = 4_500_000
    assert out[("a", "b")]["score_micros"] == 4_500_000
    assert out[("a", "b")]["shared_terms"] == 1
    # (a,c): shared y -> 1*2*9*1e6 DIV 4 = 4_500_000
    assert out[("a", "c")]["score_micros"] == 4_500_000


def test_table_profile_counts(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.dq import table_profile

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "b")],
        "id long, k string",
    )
    out = {r["column_name"]: r for r in table_profile(df).collect()}
    assert out["id"]["n_rows"] == 4
    assert out["id"]["n_nulls"] == 1 and out["id"]["n_distinct"] == 3
    assert out["k"]["n_nulls"] == 1 and out["k"]["n_distinct"] == 2


def test_path_trigrams_orders_and_counts(spark):
    import datetime as dt

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.funnel import path_trigrams

    base = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: view -> click -> purchase -> view  (trigrams: v,c,p / c,p,v)
    for i, et in enumerate(["view", "click", "purchase", "view"]):
        rows.append((i, base + dt.timedelta(minutes=i), 1, et))
    # user 2: view -> click -> purchase  (trigram: v,c,p)
    for i, et in enumerate(["view", "click", "purchase"]):
        rows.append((10 + i, base + dt.timedelta(minutes=i), 2, et))
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    out = path_trigrams(df, top_n=5).collect()
    assert (out[0]["e1"], out[0]["e2"], out[0]["e3"]) == ("view", "click", "purchase")
    assert out[0]["n_paths"] == 2
    # trigrams never cross users: total paths = 2 + 1
    assert sum(r["n_paths"] for r in out) == 3


def test_asof_join_forward_direction(spark):
    import datetime as dt

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.joins import asof_join

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    left = spark.createDataFrame(
        [("u1", t(10), "l1"), ("u1", t(30), "l2"), ("u2", t(5), "l3")],
        ["user_id", "lt", "left_id"],
    )
    right = spark.createDataFrame(
        [("u1", t(10), "r_eq"), ("u1", t(20), "r_mid"), ("u2", t(1), "r_old")],
        ["user_id", "rt", "right_id"],
    )
    out = {
        r["left_id"]: r
        for r in asof_join(
            left, right, "user_id", "lt", "rt", ["right_id", "rt"],
            direction="forward",
        ).collect()
    }
    # equal time counts in forward direction
    assert out["l1"]["right_id"] == "r_eq"
    # l2 at :30 has no future right row -> dropped under inner
    assert "l2" not in out
    # u2's only right row is in the past -> dropped
    assert "l3" not in out
    # left join keeps unmatched rows with NULL payload
    left_out = {
        r["left_id"]: r
        for r in asof_join(
            left, right, "user_id", "lt", "rt", ["right_id", "rt"],
            how="left", direction="forward",
        ).collect()
    }
    assert left_out["l2"]["right_id"] is None


def test_corpus_pipeline_fuzzy_accounting(spark):
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    out = entrymod.queries()["corpus_pipeline_fuzzy"](spark, sf).collect()
    docs_total = spark.read.parquet(f"{sf}/documents.parquet").count()
    # survivors + dup-dropped partition the corpus exactly
    assert sum(r["n_survivors"] + r["n_dup_dropped"] for r in out) == docs_total
    for r in out:
        assert r["n_kept"] + r["n_quality_dropped"] == r["n_survivors"]
        assert r["tokens_kept"] >= 0
    # fuzzy dedup must actually drop something on this corpus
    assert sum(r["n_dup_dropped"] for r in out) > 0


def test_label_centroids_exact_sums(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        label_centroids_exact,
    )

    df = spark.createDataFrame(
        [(0, [1.5, -0.25]), (0, [0.5, 0.75]), (1, [2.0, 0.0])],
        "label int, embedding array<double>",
    )
    out = {
        (r["label"], r["dim"]): r for r in label_centroids_exact(df).collect()
    }
    assert out[(0, 0)]["component_sum_micros"] == 2_000_000
    assert out[(0, 1)]["component_sum_micros"] == 500_000
    assert out[(0, 0)]["n_vectors"] == 2
    assert out[(1, 0)]["component_sum_micros"] == 2_000_000
    assert out[(1, 1)]["n_vectors"] == 1


def test_running_distinct_count_semantics(spark):
    import datetime as dt

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.windows import (
        running_distinct_count,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base + dt.timedelta(minutes=i), 7, et)
        for i, et in enumerate(["a", "a", "b", "a", "c", "b"])
    ]
    rows = [(i, ts, u, et) for i, (_, ts, u, et) in enumerate(rows)]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    got = [
        r["distinct_so_far"]
        for r in running_distinct_count(df, "user_id", "ts", "event_type", "event_id")
        .orderBy("event_id")
        .collect()
    ]
    assert got == [1, 1, 2, 2, 3, 3]


def test_grouped_equi_depth_bins_sizes(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.aggregates import (
        grouped_equi_depth_bins,
    )

    # key 'a': 7 rows into 3 bins -> 3,2,2; key 'b': 3 rows -> 1,1,1
    rows = [("a", float(i), f"e{i}") for i in range(7)]
    rows += [("b", float(i), f"f{i}") for i in range(3)]
    df = spark.createDataFrame(rows, ["event_type", "value", "event_id"])
    out = {
        (r["event_type"], r["bin"]): r["n_rows"]
        for r in grouped_equi_depth_bins(df, "event_type", "value", "event_id", 3).collect()
    }
    assert [out[("a", b)] for b in (1, 2, 3)] == [3, 2, 2]
    assert [out[("b", b)] for b in (1, 2, 3)] == [1, 1, 1]


def test_multimodal_frames_cover_payload(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.multimodal import (
        frame_sample,
        synthesize_media_assets,
    )
    from pyspark.sql import functions as F2

    assets = synthesize_media_assets(spark, 8, 4)
    frames = frame_sample(assets, n_frames=4)
    got = (
        frames.groupBy("asset_id", "modality")
        .agg(F2.sum(F2.length("frame_payload")).alias("covered"))
        .join(
            assets.select(
                "asset_id", "modality", F2.length("payload").alias("total")
            ),
            ["asset_id", "modality"],
        )
        .collect()
    )
    for r in got:
        # 4 equal frames of floor(total/4) cover all but total%4 bytes
        assert r["total"] - r["covered"] == r["total"] % 4


def test_graph_stats_triangles(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.graph import graph_stats

    # a triangle (1,2,3) plus a pendant edge (3,4); one duplicate and
    # one reversed edge to prove canonicalization
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (2, 1), (3, 4)], ["src", "dst"]
    )
    row = graph_stats(edges).collect()[0]
    assert row["n_vertices"] == 4
    assert row["n_edges"] == 4
    assert row["n_triangles"] == 1
    assert row["max_degree"] == 3  # vertex 3 touches 1, 2, 4


def test_oov_rate_against_planted_vocab(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import oov_rate

    rows = [
        ("d1", "cat dog cat dog"),        # all in-vocab
        ("d2", "cat zebra qux"),          # 2 of 3 OOV with vocab_size=2
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in oov_rate(df, vocab_size=2).collect()}
    # top-2 vocab by frequency = {cat, dog}
    assert out["d1"]["n_oov"] == 0 and out["d1"]["oov_frac"] == 0.0
    assert out["d2"]["n_oov"] == 2
    assert abs(out["d2"]["oov_frac"] - 0.6667) < 1e-9


def test_range_join_bucketed_equals_bnlj(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.joins import (
        range_join,
        range_join_bucketed,
    )

    fact = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([0.0, 49.9, 50.0, 149.0, 500.0, 1500.0])],
        ["id", "value"],
    )
    bands = spark.createDataFrame(
        [("low", -1e12, 50.0), ("mid", 50.0, 150.0), ("open", 150.0, 1e12)],
        ["band", "lo", "hi"],
    )
    a = {(r["id"], r["band"]) for r in range_join(fact, bands, "value").collect()}
    b = {
        (r["id"], r["band"])
        for r in range_join_bucketed(
            fact, bands, "value", bucket_width=50.0, clamp_lo=0.0, clamp_hi=1000.0
        ).collect()
    }
    # identical row set, including values outside the clamp range
    # (1500.0 > clamp_hi) and on open-ended sentinel intervals
    assert a == b
    assert (5, "open") in b


def test_equi_depth_bins_property_vs_global_ntile(spark):
    """Property: for random multisets (dup-heavy values included), the
    distributed offset formulation reproduces the engine's own global
    ntile bucket sizes and per-bucket min/max exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import Window

    @settings(max_examples=8, deadline=None)
    @given(
        vals=st.lists(st.integers(0, 9), min_size=1, max_size=60),
        k=st.integers(2, 7),
    )
    def check(vals, k):
        rows = [(float(v), f"id{i:04d}") for i, v in enumerate(vals)]
        df = spark.createDataFrame(rows, ["value", "event_id"])
        got = {
            r["bin"]: (r["n_rows"], r["min_value"], r["max_value"])
            for r in equi_depth_bins(df, "value", "event_id", n_bins=k).collect()
        }
        w = Window.orderBy("value", "event_id")
        want = {
            r["bin"]: (r["n"], r["mn"], r["mx"])
            for r in df.select(F.ntile(k).over(w).alias("bin"), "value")
            .groupBy("bin")
            .agg(
                F.count("*").alias("n"),
                F.min("value").alias("mn"),
                F.max("value").alias("mx"),
            )
            .collect()
        }
        assert got == want

    check()


def test_running_distinct_property_vs_bruteforce(spark):
    """Property: running distinct equals a per-prefix set-size count
    for random event streams (ties on ts allowed — tiebreak orders)."""
    import datetime as dt

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.windows import (
        running_distinct_count,
    )

    base = dt.datetime(2024, 1, 1)

    @settings(max_examples=8, deadline=None)
    @given(
        stream=st.lists(
            st.tuples(st.integers(0, 2), st.integers(0, 3), st.integers(0, 5)),
            min_size=1,
            max_size=40,
        )
    )
    def check(stream):
        rows = [
            (i, base + dt.timedelta(minutes=m), u, f"t{e}")
            for i, (u, e, m) in enumerate(stream)
        ]
        df = spark.createDataFrame(
            rows, ["event_id", "ts", "user_id", "event_type"]
        )
        got = {
            r["event_id"]: r["distinct_so_far"]
            for r in running_distinct_count(
                df, "user_id", "ts", "event_type", "event_id"
            ).collect()
        }
        # brute force: order each user's rows by (ts, event_id), count
        # prefix distinct
        per_user: dict = {}
        for eid, ts, u, et in sorted(rows, key=lambda r: (r[2], r[1], r[0])):
            seen = per_user.setdefault(u, set())
            seen.add(et)
            assert got[eid] == len(seen)

    check()


def test_incremental_dedup_filters_known_and_batch_dups(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [("c1", "already stored text"), ("c2", "another old doc")],
        ["doc_id", "text"],
    )
    incoming = spark.createDataFrame(
        [
            ("n1", "brand new content"),
            ("n2", "brand new content"),      # within-batch dup of n1
            ("n3", "Already   Stored text"),  # normalizes to c1's fp
            ("n4", "second novel doc"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"] for r in incremental_dedup(corpus, incoming).collect()}
    assert got == {"n1", "n4"}


def test_cluster_safe_split_never_splits_a_cluster(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.sampling import (
        cluster_safe_split,
    )

    docs = spark.createDataFrame(
        [(f"d{i}", f"text {i}") for i in range(30)], ["doc_id", "text"]
    )
    clusters = spark.createDataFrame(
        [(f"d{i}", f"d{i - i % 3}") for i in range(30)],  # triples
        ["doc_id", "cluster_id"],
    )
    tagged = cluster_safe_split(docs, clusters, test_pct=30)
    per_cluster = (
        tagged.groupBy("_unit")
        .agg(F.count_distinct("split").alias("n_splits"))
        .collect()
    )
    assert all(r["n_splits"] == 1 for r in per_cluster)
    splits = {r["split"] for r in tagged.collect()}
    assert splits == {"train", "test"}


def test_passage_dup_stats_empty_docs_no_phantom_passages(spark):
    # regression: Spark sequence(0, -1) DESCENDS, which used to
    # fabricate two phantom passages per sub-k document and mark
    # empty docs as mutual duplicates
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.dedup import passage_dup_stats

    df = spark.createDataFrame(
        [("e", ""), ("w", "   "), ("x", "one two three")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in passage_dup_stats(df, k=2).collect()}
    for d in ("e", "w"):
        assert out[d]["n_passages"] == 0
        assert out[d]["n_dup_passages"] == 0
        assert out[d]["dup_frac"] == 0.0
    assert out["x"]["n_passages"] == 1 and out["x"]["n_dup_passages"] == 0


def test_gopher_alpha_counts_uppercase(spark):
    # review regression: [a-z] missed uppercase; all-caps words are
    # alphabetic under the Gopher rule
    out = gopher_quality_flags(
        spark.createDataFrame(
            [("caps", "NASA AND ESA SIGNED THE ACCORD WITH THE UN TODAY")],
            ["doc_id", "text"],
        )
    ).collect()[0]
    assert out["alpha_frac"] == 1.0


def test_incremental_dedup_null_text_never_lands(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [("c1", "stored"), ("c2", None)], "doc_id string, text string"
    )
    incoming = spark.createDataFrame(
        [("n1", None), ("n2", "novel")], "doc_id string, text string"
    )
    got = {r["doc_id"] for r in incremental_dedup(corpus, incoming).collect()}
    # NULL-text docs are not ingestible: dropped, never 'novel forever'
    assert got == {"n2"}


def test_drift_bin_report_negative_values_and_one_sided_split(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    # negative values must clamp into bin 0, not bin -1
    df = spark.createDataFrame(
        [(base, -12.0), (base + dt.timedelta(hours=1), -1e6),
         (base + dt.timedelta(hours=2), 60.0)],
        ["ts", "value"],
    )
    out = {r["bin"]: r for r in drift_bin_report(df, "ts", "value").collect()}
    assert set(out) <= set(range(10))
    assert out[0]["n_ref"] + out[0]["n_cur"] == 2
    # all rows on one timestamp -> empty reference half must yield
    # zero rates, not NULLs
    one = spark.createDataFrame([(base, 10.0), (base, 20.0)], ["ts", "value"])
    rows = drift_bin_report(one, "ts", "value").collect()
    assert all(r["rate_ref"] == 0.0 and r["rate_abs_diff"] is not None for r in rows)


def test_nn_label_confusion_gemm_tiny_corpora(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        nn_label_confusion,
    )

    # empty corpus: no crash, empty result (both paths)
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>, label int")
    assert nn_label_confusion(empty, "vec_id", "embedding", "label").count() == 0
    # singleton corpus: no neighbor -> no phantom self-pair
    one = spark.createDataFrame(
        [(1, [1.0, 0.0], 7)], "vec_id long, embedding array<double>, label int"
    )
    assert nn_label_confusion(one, "vec_id", "embedding", "label").count() == 0
    # a NULL embedding drops out of both sides: no np.stack crash on the
    # GEMM path, no arbitrary lowest-id neighbour on the window path
    with_null = spark.createDataFrame(
        [(1, [1.0, 0.0], "a"), (2, [0.9, 0.1], "a"), (3, [0.0, 1.0], "b"), (4, None, "b")],
        "vec_id long, embedding array<double>, label string",
    )
    for gemm in (True, False):
        got = nn_label_confusion(with_null, "vec_id", "embedding", "label", gemm=gemm)
        assert sorted(tuple(r) for r in got.collect()) == [("a", "a", 2), ("b", "a", 1)]


def test_decode_header_rejects_negative_width_and_clamps_int32(spark):
    import struct as st

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.multimodal import (
        decode_assets,
        decode_header,
        encode_bmp,
        encode_wav,
    )

    # craft a BMP with width = -640
    bad = bytearray(encode_bmp(16, 8))
    st.pack_into("<i", bad, 18, -640)
    assert decode_header(bytes(bad))["format"] == "unknown"
    # craft a WAV whose data-chunk claims >2^31 frames (mono 8-bit)
    big = bytearray(encode_wav(8000, 1, 8, 4))
    pos = big.find(b"data")
    st.pack_into("<I", big, pos + 4, 0xFFFFFFF0)
    meta = decode_header(bytes(big))
    assert meta["format"] == "wav" and meta["n_frames"] > 2**31 - 1
    # the Arrow decode degrades that ONE field to NULL, not the batch
    df = spark.createDataFrame(
        [(1, "audio", bytes(big)), (2, "image", encode_bmp(4, 4))],
        "asset_id long, modality string, payload binary",
    )
    rows = {r["asset_id"]: r for r in decode_assets(df).collect()}
    assert rows[1]["format"] == "wav" and rows[1]["n_frames"] is None
    assert rows[2]["format"] == "bmp" and rows[2]["width"] == 4


def test_asof_join_property_vs_bruteforce(spark):
    """Property: both as-of directions match a brute-force reference on
    random keyed streams, including equal timestamps and keys with no
    match; right rows are unique per (key, time) as the contract
    requires."""
    import datetime as dt

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.joins import asof_join

    base = dt.datetime(2024, 1, 1)

    @settings(max_examples=6, deadline=None)
    @given(
        lefts=st.lists(
            st.tuples(st.integers(0, 2), st.integers(0, 8)),
            min_size=1, max_size=15,
        ),
        rights=st.lists(
            st.tuples(st.integers(0, 2), st.integers(0, 8)),
            min_size=1, max_size=15, unique=True,  # unique (key, time)
        ),
    )
    def check(lefts, rights):
        lrows = [
            (i, k, base + dt.timedelta(minutes=m))
            for i, (k, m) in enumerate(lefts)
        ]
        rrows = [
            (100 + i, k, base + dt.timedelta(minutes=m))
            for i, (k, m) in enumerate(rights)
        ]
        ldf = spark.createDataFrame(lrows, ["lid", "k", "lt"])
        rdf = spark.createDataFrame(rrows, ["rid", "k", "rt"])

        for direction in ("backward", "forward"):
            got = {
                r["lid"]: r["rid"]
                for r in asof_join(
                    ldf, rdf, "k", "lt", "rt", ["rid"],
                    how="left", direction=direction,
                ).collect()
            }
            for lid, k, lt in lrows:
                if direction == "backward":
                    cands = [(rt, rid) for rid, rk, rt in rrows
                             if rk == k and rt <= lt]
                    want = max(cands)[1] if cands else None
                else:
                    cands = [(rt, rid) for rid, rk, rt in rrows
                             if rk == k and rt >= lt]
                    want = min(cands)[1] if cands else None
                assert got[lid] == want, (direction, lid, got[lid], want)

    check()


def test_merge_upsert_property_vs_dict_replay(spark):
    """Property: a chain of merge_upsert batches equals a python dict
    replay (insert/replace/delete per key, per-key-unique batches)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.cdc import merge_upsert

    op = st.tuples(
        st.integers(0, 5),                       # key
        st.integers(0, 99),                      # value
        st.booleans(),                           # tombstone?
    )
    batch = st.lists(op, min_size=1, max_size=6, unique_by=lambda t: t[0])

    @settings(max_examples=6, deadline=None)
    @given(batches=st.lists(batch, min_size=1, max_size=4))
    def check(batches):
        snap = spark.createDataFrame(
            [(0, -1), (1, -1)], "k long, v long"
        )
        state = {0: -1, 1: -1}
        for b in batches:
            upd = spark.createDataFrame(
                [(k, v, d) for k, v, d in b], "k long, v long, _deleted boolean"
            )
            snap = merge_upsert(snap, upd, "k", delete_col="_deleted")
            for k, v, d in b:
                if d:
                    state.pop(k, None)
                else:
                    state[k] = v
        got = {r["k"]: r["v"] for r in snap.collect()}
        assert got == state

    check()


def test_cdc_permuted_batches_last_writer_wins_by_version(spark):
    """Property: under at-least-once, OUT-OF-ORDER batch delivery (the
    reality T3 implies), the version-compacted CDC composition —
    union arrived batches, ``latest_per_key`` by version, ONE
    ``merge_upsert`` — lands the same snapshot for every permutation
    (and redelivery) of the batches: last writer wins by VERSION, not
    by arrival order.  The scd2_history built from the same arrived
    stream is likewise permutation-invariant."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.cdc import (
        merge_upsert,
        scd2_history,
    )
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.topk import latest_per_key

    # ops with globally-unique versions (a CDC log's LSN); key 0-3
    ops = st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 99), st.booleans()),
        min_size=1,
        max_size=10,
    )

    @settings(max_examples=5, deadline=None)
    @given(ops=ops, data=st.data())
    def check(ops, data):
        versioned = [(k, ver, v, d) for ver, (k, v, d) in enumerate(ops)]
        # split into batches, permute delivery, redeliver one batch
        n_batches = data.draw(st.integers(1, min(4, len(versioned))))
        batches = [versioned[i::n_batches] for i in range(n_batches)]
        order = data.draw(st.permutations(range(n_batches)))
        delivered = [batches[i] for i in order]
        delivered.append(delivered[data.draw(st.integers(0, len(delivered) - 1))])

        base = spark.createDataFrame([(0, -1, -1), (9, -1, -1)], "k long, ver long, v long")
        arrived = spark.createDataFrame(
            [r for b in delivered for r in b], "k long, ver long, v long, _deleted boolean"
        )
        compact = latest_per_key(arrived, "k", "ver")
        snap = merge_upsert(base, compact, "k", delete_col="_deleted")
        got = {r["k"]: (r["ver"], r["v"]) for r in snap.collect()}

        # oracle: per key, the max-version op wins — a tombstone as
        # latest version removes the key entirely, a base key with no
        # op survives untouched
        expect = {}
        for k in set(kk for kk, *_ in versioned) | {0, 9}:
            latest = max(
                (row for row in versioned if row[0] == k),
                key=lambda r: r[1],
                default=None,
            )
            if latest is None:
                expect[k] = (-1, -1)  # untouched base row
            elif latest[3]:
                pass  # deleted
            else:
                expect[k] = (latest[1], latest[2])
        assert got == expect

        # scd2 history over the deduped arrived stream is the same
        # regardless of delivery order: intervals follow version order
        hist = scd2_history(arrived.dropDuplicates(["ver"]), "k", "ver").collect()
        per_key: dict = {}
        for r in hist:
            per_key.setdefault(r["k"], []).append((r["valid_from"], r["valid_to"]))
        # every key with ops must appear — a key silently dropped by
        # scd2_history would otherwise skip its assertions entirely
        assert set(per_key) == {k for k, *_ in versioned}
        for k, ivals in per_key.items():
            vers = sorted(ver for kk, ver, *_ in versioned if kk == k)
            want = [
                (a, b) for a, b in zip(vers, [*vers[1:], None])
            ]
            assert sorted(ivals, key=lambda t: t[0]) == want

    check()


def test_scd2_history_interval_invariants(spark):
    """Property: SCD2 intervals per key partition the version stream —
    consecutive, non-overlapping, exactly one open current row."""
    import datetime as dt

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.cdc import scd2_history

    base = dt.datetime(2024, 1, 1)

    @settings(max_examples=6, deadline=None)
    @given(
        versions=st.lists(
            st.tuples(st.integers(0, 2), st.integers(0, 20)),
            min_size=1, max_size=15,
            unique=True,  # unique (key, ts): the operator's contract
        )
    )
    def check(versions):
        rows = [
            (i, k, base + dt.timedelta(hours=h))
            for i, (k, h) in enumerate(versions)
        ]
        df = spark.createDataFrame(rows, ["vid", "k", "ts"])
        hist = scd2_history(df, "k", "ts", tie_break="vid").collect()
        per_key: dict = {}
        for r in hist:
            per_key.setdefault(r["k"], []).append(r)
        for k, rs in per_key.items():
            rs.sort(key=lambda r: r["valid_from"])
            opens = [r for r in rs if r["valid_to"] is None]
            assert len(opens) == 1 and opens[0] is rs[-1]
            assert opens[0]["is_current"]
            for a, b in zip(rs, rs[1:]):
                # consecutive: each interval closes exactly where the
                # next opens (no gaps, no overlaps)
                assert a["valid_to"] == b["valid_from"]
                assert not a["is_current"]

    check()


def test_bigram_lm_score_hand_computed(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import bigram_lm_score

    ref = spark.createDataFrame(
        [(100, "a b"), (101, "a b c")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [(1, "a b z"), (2, "q r"), (3, "solo")],
        "doc_id long, text string",
    )
    got = {
        int(r["doc_id"]): (int(r["n_bigrams"]), int(r["lm_score_micros"]))
        for r in bigram_lm_score(corpus, ref).collect()
    }
    # ref counts: c12(a,b)=2, c12(b,c)=1; c1(a)=2, c1(b)=1; V=3
    # doc 1: p(a,b)=(2+1)*1e6//(2+3)=600000, p(b,z)=(0+1)*1e6//(1+3)=250000
    #        mean = 850000//2 = 425000
    # doc 2: p(q,r)=(0+1)*1e6//(0+3)=333333
    # doc 3: single token -> no bigram evidence -> absent
    assert got == {1: (2, 425000), 2: (1, 333333)}


def test_bigram_lm_score_ranks_fluent_above_gibberish(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import bigram_lm_score

    ref = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "the dog sat on the rug")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [(1, "the cat sat on the rug"), (2, "rug the on cat mat dog")],
        "doc_id long, text string",
    )
    got = {
        int(r["doc_id"]): int(r["lm_score_micros"])
        for r in bigram_lm_score(corpus, ref).collect()
    }
    assert got[1] > got[2]


def test_bpe_word_merges_hand_computed(spark):
    """Three merge rounds on a corpus whose trajectory is known by
    hand: frequency argmax with lexicographic ties, self-pair
    exclusion, every-occurrence fusion, and the tokens-drop-by-count
    invariant."""
    import pytest

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import bpe_word_merges

    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b x"), (3, "c c c")], ["doc_id", "text"]
    )
    rows = bpe_word_merges(docs, "text", n_merges=3).orderBy("merge_round").collect()
    S = "\x01"
    # round 1: (a,b) x3 wins; 11 tokens -> 8.  round 2: fused self-pair
    # (a+b, a+b) is EXCLUDED, tie between (a+b, c) and (a+b, x) -> 'c'
    # lexicographically.  round 3: (a+b, a+b+c) beats (a+b, x) on the
    # separator byte (\x01 < 'x').
    assert [tuple(r) for r in rows] == [
        (1, "a", "b", 3, 8),
        (2, f"a{S}b", "c", 1, 7),
        (3, f"a{S}b", f"a{S}b{S}c", 1, 6),
    ]
    # invariant: tokens drop by exactly pair_count each round
    totals = [11] + [r["corpus_tokens_after"] for r in rows]
    for r, (before, after) in zip(rows, zip(totals, totals[1:])):
        assert before - after == r["pair_count"]
    with pytest.raises(ValueError, match="n_merges"):
        bpe_word_merges(docs, "text", n_merges=0)


def test_bpe_apply_and_encode_hand_computed(spark):
    """bpe_apply_merges replays the learned rank order (later rules
    fuse EARLIER fused tokens); bpe_encode assigns frequency-ranked
    0-based ids over the closed vocabulary; and the resulting counts
    are EXACT — superseding bpe_ish_token_count, which only estimates
    subword counts from the raw text."""
    import pytest

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import (
        bpe_apply_merges,
        bpe_encode,
        bpe_ish_token_count,
        bpe_word_merges,
    )

    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b x"), (3, "c c c")], ["doc_id", "text"]
    )
    S = "\x01"
    learned = [
        (r["merge_left"], r["merge_right"])
        for r in bpe_word_merges(docs, "text", n_merges=3)
        .orderBy("merge_round")
        .collect()
    ]
    assert learned == [("a", "b"), (f"a{S}b", "c"), (f"a{S}b", f"a{S}b{S}c")]
    applied = {
        r["doc_id"]: r["tokens"]
        for r in bpe_apply_merges(docs, learned).collect()
    }
    # rank 3 fuses rank 1's output with rank 2's output — the replay
    # must be in rank order for doc 1 to collapse to a single token
    assert applied == {
        1: [f"a{S}b{S}a{S}b{S}c"],
        2: [f"a{S}b", "x"],
        3: ["c", "c", "c"],
    }
    enc = bpe_encode(docs, learned)
    stream = sorted(tuple(r) for r in enc.collect())
    # vocab by (count DESC, token ASC): c x3 -> 0; ties at 1 break
    # lexicographically: a.b -> 1, a.b.a.b.c -> 2, x -> 3
    assert stream == [
        (1, 0, f"a{S}b{S}a{S}b{S}c", 2),
        (2, 0, f"a{S}b", 1),
        (2, 1, "x", 3),
        (3, 0, "c", 0),
        (3, 1, "c", 0),
        (3, 2, "c", 0),
    ]
    # EXACT token accounting under the learned vocab (1, 2, 3 tokens)
    # vs the bpe_ish regex ESTIMATE on raw text (5, 3, 3) — the
    # encode path supersedes the estimate wherever merges are known
    exact = {
        r["doc_id"]: r["n"]
        for r in enc.groupBy("doc_id").count().withColumnRenamed("count", "n").collect()
    }
    assert exact == {1: 1, 2: 2, 3: 3}
    est = {
        r["doc_id"]: r["est"]
        for r in docs.select(
            "doc_id", bpe_ish_token_count("text").alias("est")
        ).collect()
    }
    assert est == {1: 5, 2: 3, 3: 3}
    assert exact != est
    with pytest.raises(ValueError, match="self-pair"):
        bpe_apply_merges(docs, [("a", "a")])
    # null text drops out of the stream, like every text operator
    with_null = spark.createDataFrame(
        [(1, "a b"), (2, None)], ["doc_id", "text"]
    )
    assert bpe_encode(with_null, [("a", "b")]).count() == 1


def test_quality_classifier_score_vs_python_reference(spark):
    """The fastText-style linear screen must equal a pure-Python
    reference (md5-hashed unigram+bigram buckets, floor-mean of
    integer-micros weights, bias, threshold) exactly; negative
    weights are rejected with the shift-invariance hint; the optional
    prepare_corpus stage applies the same score as a filter."""
    import hashlib

    import pytest

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import (
        quality_classifier_score,
    )

    weights = [
        int(hashlib.md5(f"qclsw:test:{b}".encode()).hexdigest()[:6], 16)
        % 1_000_001
        for b in range(64)
    ]
    docs = [
        (1, "the cat sat on the mat"),
        (2, "zzz"),
        (3, "a b a b c"),
        (4, None),
    ]

    def ref(text: str) -> tuple[int, int]:
        toks = text.strip().split()
        feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        bs = [
            int(hashlib.md5(("qcls:v1" + f).encode()).hexdigest()[:7], 16)
            % 64
            for f in feats
        ]
        return len(feats), sum(weights[b] for b in bs) // len(feats) + 7

    got = {
        r["doc_id"]: (r["n_feats"], r["score_micros"], r["keep"])
        for r in quality_classifier_score(
            spark.createDataFrame(docs, ["doc_id", "text"]),
            weights,
            bias_micros=7,
            threshold_micros=500_000,
        ).collect()
    }
    assert set(got) == {1, 2, 3}  # null text drops
    for doc_id, text in docs[:3]:
        n, s = ref(text)
        assert got[doc_id] == (n, s, int(s >= 500_000)), doc_id
    with pytest.raises(ValueError, match="shift"):
        quality_classifier_score(
            spark.createDataFrame(docs, ["doc_id", "text"]), [5, -1]
        )
    # optional prepare_corpus stage: same score, applied as a filter
    from etl_based_real_time_air_quality_monitoring_system_spark.plans.corpus import prepare_corpus

    corpus = spark.createDataFrame(
        [
            (i, "the quick brown fox jumps over the lazy dog " * 3 + f"v{i}")
            for i in range(20)
        ],
        ["doc_id", "text"],
    )
    base = prepare_corpus(corpus, min_tokens=1, min_quality=0.0)
    n_base = base.count()
    assert n_base == 20
    scored = {
        r["doc_id"]: r["score_micros"]
        for r in quality_classifier_score(corpus, weights).collect()
    }
    cut = sorted(scored.values())[len(scored) // 2]
    screened = prepare_corpus(
        corpus,
        min_tokens=1,
        min_quality=0.0,
        classifier_weights=weights,
        classifier_threshold_micros=cut,
    )
    rows = screened.collect()
    assert {r["doc_id"] for r in rows} == {
        d for d, s in scored.items() if s >= cut
    }
    assert all(r["qcls_micros"] == scored[r["doc_id"]] for r in rows)
    assert 0 < len(rows) < n_base


def test_qcls_broadcast_lut_form_matches_literal_form(spark):
    """Production-sized weight tables take the broadcast-LUT join
    form (janino's 64 KB generated-method limit rules out the literal
    array past QCLS_LITERAL_MAX_BUCKETS).  Pins: (a) the joined form
    is BIT-IDENTICAL to the literal form on the same table, including
    the empty-feature-array NULL-score edge; (b) qcls_score_expr
    REFUSES over-cap tables; (c) quality_classifier_score
    auto-switches and still matches a pure-Python reference on a
    4096-bucket table; (d) prepare_corpus's big-table path keeps the
    same rows/scores as its literal path does on a small table."""
    import hashlib

    import pytest

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import (
        QCLS_LITERAL_MAX_BUCKETS,
        hashed_ngram_buckets,
        qcls_score_expr,
        qcls_score_joined,
        quality_classifier_score,
        tokens,
    )

    docs = [
        (1, "the cat sat on the mat"),
        (2, "zzz"),
        (3, "a b a b c"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    small = [
        int(hashlib.md5(f"qclsw:test:{b}".encode()).hexdigest()[:6], 16)
        % 1_000_001
        for b in range(64)
    ]
    # row 4: an explicitly EMPTY feature array (tokens('') is [''],
    # one hashable token — so the empty array must be constructed)
    feats = df.select(
        "doc_id", hashed_ngram_buckets(tokens("text"), 64, "s:v1").alias("_f")
    ).unionByName(
        spark.createDataFrame([(4,)], ["doc_id"]).select(
            "doc_id", F.array().cast("array<int>").alias("_f")
        )
    )
    lit_rows = {
        r["doc_id"]: (r["n_feats"], r["score_micros"])
        for r in feats.select(
            "doc_id",
            F.size("_f").alias("n_feats"),
            qcls_score_expr("_f", small, 7).alias("score_micros"),
        ).collect()
    }
    join_rows = {
        r["doc_id"]: (r["n_feats"], r["score_micros"])
        for r in qcls_score_joined(feats, small, bias_micros=7).collect()
    }
    assert lit_rows == join_rows
    assert lit_rows[4] == (0, None)  # div-0 -> NULL in both forms
    # (b) the literal form refuses over-cap tables outright
    big = [(b * 2654435761) % 1_000_001 for b in range(4096)]
    assert len(big) > QCLS_LITERAL_MAX_BUCKETS
    with pytest.raises(ValueError, match="broadcast"):
        qcls_score_expr("_f", big)
    # (c) the public operator auto-switches; Python reference check
    def ref(text: str) -> tuple[int, int]:
        toks = text.strip().split()
        fs = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        bs = [
            int(hashlib.md5(("qcls:v1" + f).encode()).hexdigest()[:7], 16)
            % 4096
            for f in fs
        ]
        return len(fs), sum(big[b] for b in bs) // len(fs)

    got = {
        r["doc_id"]: (r["n_feats"], r["score_micros"])
        for r in quality_classifier_score(df, big).collect()
    }
    for doc_id, text in docs[:3]:
        assert got[doc_id] == ref(text), doc_id
    # (d) prepare_corpus big-table path == direct operator scores
    from etl_based_real_time_air_quality_monitoring_system_spark.plans.corpus import prepare_corpus

    corpus = spark.createDataFrame(
        [
            (i, "the quick brown fox jumps over the lazy dog " * 3 + f"v{i}")
            for i in range(20)
        ],
        ["doc_id", "text"],
    )
    direct = {
        r["doc_id"]: r["score_micros"]
        for r in quality_classifier_score(corpus, big).collect()
    }
    cut = sorted(direct.values())[10]
    screened = prepare_corpus(
        corpus,
        min_tokens=1,
        min_quality=0.0,
        classifier_weights=big,
        classifier_threshold_micros=cut,
    ).collect()
    assert {r["doc_id"] for r in screened} == {
        d for d, s in direct.items() if s >= cut
    }
    assert all(r["qcls_micros"] == direct[r["doc_id"]] for r in screened)


def test_pack_sequences_by_exact_bpe_counts(spark):
    """The bpe_encode -> pack_sequences composition: packing by the
    learned vocabulary's EXACT per-doc counts (n_tokens_col) instead
    of the whitespace proxy changes seq boundaries exactly where the
    counts diverge — pinned against a hand-packed layout."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import (
        bpe_encode,
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [
            (1, "en", "a b a b"),
            (2, "en", "a b c"),
            (3, "en", "c c a b"),
        ],
        ["doc_id", "lang", "text"],
    )
    enc_counts = (
        bpe_encode(docs, [("a", "b")])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bpe"))
    )
    # exact counts under the merge: doc1 [ab, ab] = 2, doc2 [ab, c]
    # = 2, doc3 [c, c, ab] = 3; whitespace counts are 4, 3, 4
    packed = pack_sequences(
        docs.join(enc_counts, "doc_id"),
        capacity=4,
        n_tokens_col="n_bpe",
    )
    got = sorted(
        (r["seq_id"], r["n_docs"], r["n_tokens"], r["first_doc"], r["last_doc"])
        for r in packed.collect()
    )
    # cumulative 2, 4, 7 at capacity 4 -> docs 1+2 pack into seq 0,
    # doc 3 starts seq 1; the whitespace proxy (4, 7, 11) would have
    # split docs 1 and 2 apart
    assert got == [(0, 2, 4, 1, 2), (1, 1, 3, 3, 3)]
    ws = sorted(
        (r["seq_id"], r["n_docs"])
        for r in pack_sequences(docs, capacity=4).collect()
    )
    assert ws == [(0, 1), (1, 1), (2, 1)]


def test_pack_sequences_by_exact_subword_counts(spark):
    """The reference-class composition for the SHIPPED tokenizer:
    bpe_subword_encode -> per-doc exact subword counts ->
    pack_sequences(n_tokens_col) — boundaries follow the true
    subword counts, not the whitespace proxy."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import (
        bpe_subword_encode,
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [(1, "en", "low low"), (2, "en", "low"), (3, "en", "lowest low")],
        ["doc_id", "lang", "text"],
    )
    # merges (l,o), (lo,w): low -> [low, </w>] (2 subwords);
    # lowest -> [low, e, s, t, </w>] (5)
    counts = (
        bpe_subword_encode(docs, [("l", "o"), ("lo", "w")])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_sub"))
    )
    got = {
        r["doc_id"]: r["n_sub"] for r in counts.collect()
    }
    assert got == {1: 4, 2: 2, 3: 7}
    packed = sorted(
        (r["seq_id"], r["n_docs"], r["n_tokens"])
        for r in pack_sequences(
            docs.join(counts, "doc_id"), capacity=7, n_tokens_col="n_sub"
        ).collect()
    )
    # cumulative 4, 6, 13 at capacity 7: docs 1+2 pack, doc 3 alone
    assert packed == [(0, 2, 6), (1, 1, 7)]


def test_url_domain_operators_hand_computed(spark):
    """host_of strips scheme/userinfo/port/path; registered_domain_of
    implements plain public-suffix semantics (longest proper suffix
    wins, bare suffix -> NULL, unknown TLD -> last-two-labels
    fallback, single label -> NULL); domain_rollup accounts exactly;
    blocklist_filter blocks at registered-domain level (subdomains
    included) in both literal and DataFrame forms."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.web import (
        blocklist_filter,
        domain_rollup,
        host_of,
        registered_domain_of,
    )

    rows = [
        (1, "https://www.example.co.uk/a?b=1", "x y"),
        (2, "http://cdn.media.example.co.uk:8080/img", "x"),
        (3, "https://user:pw@Example.COM/path#f", "x y z"),
        (4, "https://sub.pages.github.io/repo", "x"),
        (5, "https://github.io/", "x"),           # bare public suffix
        (6, "https://foo.unknowntld/", "x y"),    # fallback rule
        (7, "https://localhost/", "x"),           # single label
        (8, "not a url at all", "x"),
        (9, "https://evil.com/spam", "x"),
        (10, "https://tracker.evil.com/px", "x"),
        (11, "https://[2001:db8::1]/index", "x"),   # bracketed IPv6
        (12, "http://192.168.3.4:8080/admin", "x"), # IPv4 + port
        (13, "https://user@[::1]:443/q?k=v", "x"),  # userinfo + IPv6
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url", "text"])
    got = {
        r["doc_id"]: (r["h"], r["d"])
        for r in df.select(
            "doc_id",
            host_of("url").alias("h"),
            registered_domain_of(host_of("url")).alias("d"),
        ).collect()
    }
    assert got == {
        1: ("www.example.co.uk", "example.co.uk"),
        2: ("cdn.media.example.co.uk", "example.co.uk"),
        3: ("example.com", "example.com"),
        4: ("sub.pages.github.io", "pages.github.io"),
        5: ("github.io", None),
        6: ("foo.unknowntld", "foo.unknowntld"),
        7: ("localhost", None),
        8: (None, None),
        9: ("evil.com", "evil.com"),
        10: ("tracker.evil.com", "evil.com"),
        # IP hosts: the full (bracketed) literal comes back as the
        # host; NO registered domain is invented — before the r8
        # guard, 11 extracted '[2001' and 12 fell through the
        # last-two-labels fallback to a bogus '3.4'
        11: ("[2001:db8::1]", None),
        12: ("192.168.3.4", None),
        13: ("[::1]", None),
    }
    roll = {
        r["domain"]: (r["n_docs"], r["n_hosts"], r["n_tokens"])
        for r in domain_rollup(df).collect()
    }
    assert roll["example.co.uk"] == (2, 2, 3)
    assert roll["evil.com"] == (2, 2, 2)
    # NULL bucket: 5, 7 (bare suffix / single label), 8 (no host),
    # 11-13 (IP hosts); n_hosts counts the 5 distinct non-null hosts
    assert roll[None] == (6, 5, 6)
    # literal blocklist: both evil.com docs go, including the
    # subdomain; unresolved rows (incl. IP hosts) drop by default
    kept = {r["doc_id"] for r in blocklist_filter(df, ["evil.com"]).collect()}
    assert kept == {1, 2, 3, 4, 6}
    kept_u = {
        r["doc_id"]
        for r in blocklist_filter(
            df, ["evil.com"], keep_unresolved=True
        ).collect()
    }
    assert kept_u == {1, 2, 3, 4, 5, 6, 7, 8, 11, 12, 13}
    # DataFrame blocklist: broadcast anti-join, same result set
    bl = spark.createDataFrame([("evil.com",)], ["domain"])
    kept_df = {r["doc_id"] for r in blocklist_filter(df, bl).collect()}
    assert kept_df == {1, 2, 3, 4, 6}
    assert set(blocklist_filter(df, bl).columns) == set(df.columns)


def test_domain_capped_sample_hand_computed(spark):
    """Per-registered-domain cap enforcement: subdomains count
    against their parent; membership is the salted-md5 rank within
    the domain (verified against hashlib); NULL-domain rows with a
    host are capped per host; unhosted rows drop by default and pass
    through uncapped with keep_unhosted=True."""
    import hashlib

    import pytest

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.web import (
        domain_capped_sample,
    )

    rows = [
        (1, "https://a.example.com/x"),
        (2, "https://b.example.com/x"),
        (3, "https://example.com/x"),
        (4, "https://other.org/x"),
        (5, "https://github.io/x"),      # bare suffix -> host group
        (6, "https://github.io/y"),
        (7, "https://github.io/z"),
        (8, "not a url"),                # unhosted
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url"])

    def rank_key(i: int) -> str:
        return hashlib.md5(f"domcap:v1{i}".encode()).hexdigest()

    exp_example = sorted([1, 2, 3], key=lambda i: (rank_key(i), i))[:2]
    exp_ghio = sorted([5, 6, 7], key=lambda i: (rank_key(i), i))[:2]
    kept = {r["doc_id"] for r in domain_capped_sample(df, cap=2).collect()}
    assert kept == {*exp_example, *exp_ghio, 4}
    kept_u = {
        r["doc_id"]
        for r in domain_capped_sample(df, cap=2, keep_unhosted=True).collect()
    }
    assert kept_u == kept | {8}
    assert set(domain_capped_sample(df, cap=2).columns) == set(df.columns)
    with pytest.raises(ValueError, match="cap"):
        domain_capped_sample(df, cap=0)
    with pytest.raises(ValueError, match="_grp"):
        domain_capped_sample(df.withColumn("_grp", F.lit(1)), cap=2)


def test_bpe_encode_oracle_agrees_on_sub_3_merge_corpus(spark):
    """The bpe_encode ORACLE unrolls exactly 3 merge rounds; on a
    corpus with fewer than 3 learnable merges the per-round LEFT JOIN
    must pass the corpus through unchanged (a cross join would zero
    out every later round and empty the token stream) — pinned by
    running the actual oracle SQL in DuckDB on a 1-merge corpus and
    comparing to the Spark side row-for-row."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entrymod
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import (
        bpe_encode,
        bpe_word_merges,
    )

    rows = [(1, "a b"), (2, "a b"), (3, "c")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    learned = [
        (r["merge_left"], r["merge_right"])
        for r in bpe_word_merges(docs, "text", n_merges=3)
        .orderBy("merge_round")
        .collect()
    ]
    assert len(learned) == 1  # only (a, b) is learnable
    got = sorted(tuple(r) for r in bpe_encode(docs, learned).collect())
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    want = sorted(
        tuple(r)
        for r in con.execute(entrymod.oracle_sql()["bpe_encode"]).fetchall()
    )
    assert got == want and len(got) == 3


def test_registered_domain_property_vs_python(spark):
    """Property check: registered_domain_of must equal a pure-Python
    public-suffix reference on random hosts (random label counts over
    a small alphabet that collides with the rule table, exercising
    longest-proper-suffix, bare-suffix-NULL and the last-two-labels
    fallback) for a random plain-rule table."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.web import registered_domain_of

    labels = st.sampled_from(["a", "bb", "co", "uk", "io", "x9"])
    hosts = st.lists(labels, min_size=1, max_size=5).map(".".join)
    rule_pool = ["uk", "co.uk", "io", "bb.io", "x9", "a"]

    def ref(host: str, rules: list[str]) -> str | None:
        if host in rules:
            return None
        cands = [r for r in rules if host.endswith("." + r)]
        if not cands:
            parts = host.split(".")
            return ".".join(parts[-2:]) if len(parts) >= 2 else None
        suf = max(cands, key=len)
        prefix = host[: -len(suf) - 1]
        return prefix.split(".")[-1] + "." + suf

    @given(
        st.lists(st.sampled_from(rule_pool), min_size=1, max_size=6, unique=True),
        st.lists(hosts, min_size=1, max_size=12),
    )
    @settings(max_examples=8, deadline=None)
    def check(rules, hs):
        df = spark.createDataFrame(
            [(i, h) for i, h in enumerate(hs)], ["i", "h"]
        )
        got = {
            r["i"]: r["d"]
            for r in df.select(
                "i", registered_domain_of(F.col("h"), rules).alias("d")
            ).collect()
        }
        assert got == {i: ref(h, rules) for i, h in enumerate(hs)}

    check()


def test_bpe_apply_property_vs_python_replay(spark):
    """Property check: bpe_apply_merges must equal a pure-Python
    rank-ordered replay (every-occurrence fusion per rank) of the
    merge table LEARNED from the same random corpus — small alphabet
    with runs stresses adjacency, fused-token reuse across ranks, and
    the self-pair exclusion the order-independence relies on."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import (
        bpe_apply_merges,
        bpe_word_merges,
    )

    SEP = "\x01"
    word = st.sampled_from(["a", "b", "c"])
    doc = st.lists(word, min_size=1, max_size=8).map(" ".join)

    def fuse(tokens: list[str], left: str, right: str) -> list[str]:
        out, i = [], 0
        while i < len(tokens):
            if (
                i + 1 < len(tokens)
                and tokens[i] == left
                and tokens[i + 1] == right
            ):
                out.append(left + SEP + right)
                i += 2
            else:
                out.append(tokens[i])
                i += 1
        return out

    @given(st.lists(doc, min_size=1, max_size=10))
    @settings(max_examples=8, deadline=None)
    def check(texts):
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        learned = [
            (r["merge_left"], r["merge_right"])
            for r in bpe_word_merges(docs, "text", n_merges=2)
            .orderBy("merge_round")
            .collect()
        ]
        got = {
            r["doc_id"]: r["tokens"]
            for r in bpe_apply_merges(docs, learned).collect()
        }
        want = {}
        for i, t in enumerate(texts):
            toks = t.strip().split()
            for left, right in learned:
                toks = fuse(toks, left, right)
            want[i] = toks
        assert got == want

    check()


def test_bpe_subword_merges_and_encode_hand_computed(spark):
    """Character-level BPE (Sennrich et al. 2016 proper): merges are
    WITHIN words under an end-of-word marker, pair counts are
    word-frequency-weighted (the learner runs over word TYPES), the
    symbols-drop-by-pair-count invariant holds, and encode replays
    the rules then assigns frequency-ranked ids — all checked
    against a hand-derived trajectory on the classic low/lower/
    newest/widest corpus."""
    import pytest

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import (
        bpe_subword_encode,
        bpe_subword_merges,
    )

    docs = spark.createDataFrame(
        [(1, "low low low lower"), (2, "newest widest")],
        ["doc_id", "text"],
    )
    rows = (
        bpe_subword_merges(docs, "text", n_merges=3)
        .orderBy("merge_round")
        .collect()
    )
    # r1: (l,o) x4 (ties (o,w) on count, wins lexicographically);
    # r2: (lo,w) x4; r3: (low,</w>) x3 — 'low' as a full word
    assert [tuple(r) for r in rows] == [
        (1, "l", "o", 4, 28),
        (2, "lo", "w", 4, 24),
        (3, "low", "</w>", 3, 21),
    ]
    totals = [32] + [r["corpus_symbols_after"] for r in rows]
    for r, (before, after) in zip(rows, zip(totals, totals[1:])):
        assert before - after == r["pair_count"]
    with pytest.raises(ValueError, match="n_merges"):
        bpe_subword_merges(docs, "text", n_merges=0)
    # encode: replay on a different doc set; hand-derived stream
    enc_docs = spark.createDataFrame(
        [(1, "low low lower"), (2, "newest")], ["doc_id", "text"]
    )
    learned = [(r["merge_left"], r["merge_right"]) for r in rows]
    got = {
        (r["doc_id"], r["pos"]): (r["token"], r["token_id"])
        for r in bpe_subword_encode(enc_docs, learned).collect()
    }
    # low -> [low</w>]; lower -> [low, e, r, </w>];
    # newest -> [n, e, w, e, s, t, </w>]
    # vocab: e x3 -> 0; count 2: '</w>' < 'low</w>' -> 1, 2;
    # count 1: low, n, r, s, t, w -> 3..8
    E, W, LW = "e", "</w>", "low</w>"
    expect_tokens = {
        (1, 0): LW, (1, 1): LW, (1, 2): "low", (1, 3): E, (1, 4): "r",
        (1, 5): W,
        (2, 0): "n", (2, 1): E, (2, 2): "w", (2, 3): E, (2, 4): "s",
        (2, 5): "t", (2, 6): W,
    }
    ids = {E: 0, W: 1, LW: 2, "low": 3, "n": 4, "r": 5, "s": 6, "t": 7,
           "w": 8}
    assert got == {
        k: (t, ids[t]) for k, t in expect_tokens.items()
    }
    with pytest.raises(ValueError, match="self-pair"):
        bpe_subword_encode(enc_docs, [("a", "a")])


def test_bpe_subword_empty_word_guard(spark):
    """Empty / all-whitespace documents tokenize to the word '' —
    its symbol sequence must be [</w>] alone (chars('') = [], as the
    oracle and pure-Python reference define), never a phantom ''
    symbol: split('', '') was observed returning [''] in some plan
    contexts, which emitted a bogus '' token and a phantom
    ('', '</w>') pair that could flip a merge argmax."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import (
        bpe_subword_encode,
        bpe_subword_merges,
    )

    docs = spark.createDataFrame(
        [(1, "ab ab"), (2, ""), (3, "   "), (4, "ab")],
        ["doc_id", "text"],
    )
    got = {
        (r["doc_id"], r["pos"]): r["token"]
        for r in bpe_subword_encode(docs, [("a", "b")]).collect()
    }
    # '' and '   ' docs each carry ONE symbol: the bare marker
    assert got == {
        (1, 0): "ab", (1, 1): "</w>", (1, 2): "ab", (1, 3): "</w>",
        (2, 0): "</w>", (3, 0): "</w>",
        (4, 0): "ab", (4, 1): "</w>",
    }
    rules = bpe_subword_merges(docs, "text", n_merges=1).collect()
    # the only learnable pair is (a, b) x3 — never ('', '</w>')
    assert [(r["merge_left"], r["merge_right"], r["pair_count"])
            for r in rules] == [("a", "b", 3)]


def test_qcls_joined_form_rejects_out_of_range_buckets(spark):
    """A featurizer/table size mismatch must fail LOUDLY in the
    broadcast-LUT form (as element_at does in the literal form under
    ANSI) — a silent left-join drop would return a plausible but
    wrong floor-mean."""
    import pytest

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import qcls_score_joined

    feats = spark.createDataFrame(
        [(1, [0, 1, 4090])], ["doc_id", "_f"]
    )
    ok = qcls_score_joined(
        spark.createDataFrame([(1, [0, 1, 2])], ["doc_id", "_f"]),
        [10, 20, 30],
    ).collect()
    assert ok[0]["score_micros"] == 20
    with pytest.raises(Exception, match="bucket"):
        qcls_score_joined(feats, [10, 20, 30]).collect()


def test_frequency_rank_vocab_matches_naive_global_window(spark):
    """The distributed vocab rank (order-aligned (count, prefix)
    buckets + per-log-bin prefix sums; no single-partition window)
    must equal the naive global row_number OVER (count DESC, token
    ASC) bit-for-bit — exercised on a vocabulary that spans several
    log2 count bins, has tie groups crossing prefix-bucket
    boundaries (same count, many first letters), multi-token
    prefixes, sub-prefix-length tokens, and empty-string tokens;
    at prefix_len 1 and 2."""
    import random

    from pyspark.sql import Window

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import (
        frequency_rank_vocab,
    )

    rng = random.Random(8)
    toks = set()
    rows = []
    for i in range(400):
        t = "".join(
            rng.choice("abcxyz")
            for _ in range(rng.randint(1, 4))
        ) + (str(i % 7) if rng.random() < 0.5 else "")
        if t in toks:
            continue
        toks.add(t)
        # counts spanning bins 1..2^10, with heavy ties at 1 and 3
        c = rng.choice([1, 1, 1, 3, 3, 7, 8, 64, 65, 1000, 1023, 1024])
        rows.append((t, c))
    rows.append(("", 3))  # empty token, mid tie group
    if "a" not in toks:  # shorter than prefix_len=2
        rows.append(("a", 3))
    counts = spark.createDataFrame(rows, ["token", "_c"])
    naive = {
        r["token"]: r["rid"]
        for r in counts.select(
            "token",
            (
                F.row_number().over(
                    Window.orderBy(F.desc("_c"), "token")
                )
                - 1
            ).alias("rid"),
        ).collect()
    }
    for plen in (1, 2):
        got = {
            r["token"]: r["token_id"]
            for r in frequency_rank_vocab(counts, prefix_len=plen).collect()
        }
        assert got == naive, f"prefix_len={plen}"


def test_bpe_subword_property_vs_python_reference(spark):
    """Property check for character-level BPE: learn + encode must
    equal a pure-Python reference (word-type dict, frequency-weighted
    pair counts with (count DESC, l, r) argmax and self-pair
    exclusion, parallel fusion per rule, frequency-ranked ids) on
    random small-alphabet corpora — runs, repeated words, and
    single-char words stress marker handling and tie order."""
    import random
    from collections import Counter

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import (
        bpe_subword_encode,
        bpe_subword_merges,
    )

    EOW = "</w>"

    def fuse(seq: list[str], l: str, r: str) -> list[str]:
        out, i = [], 0
        while i < len(seq):
            if i + 1 < len(seq) and seq[i] == l and seq[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(seq[i])
                i += 1
        return out

    def ref(docs: list[str], n_merges: int):
        wt = Counter(w for d in docs for w in d.split())
        syms = {w: list(w) + [EOW] for w in wt}
        rules = []
        for _ in range(n_merges):
            pc: Counter = Counter()
            for w, f in wt.items():
                s = syms[w]
                for a, b in zip(s, s[1:]):
                    if a != b:
                        pc[(a, b)] += f
            if not pc:
                break
            best = min(pc, key=lambda p: (-pc[p], p[0], p[1]))
            rules.append(best)
            for w in syms:
                syms[w] = fuse(syms[w], *best)
        return rules, syms

    rng = random.Random(88)
    for trial in range(4):
        docs = [
            " ".join(
                "".join(
                    rng.choice("ab c")[:1] or "a"
                    for _ in range(rng.randint(1, 5))
                ).strip() or "a"
                for _ in range(rng.randint(1, 8))
            )
            for _ in range(6)
        ]
        # normalize: collapse accidental empties
        docs = [" ".join(d.split()) or "a" for d in docs]
        sdf = spark.createDataFrame(
            list(enumerate(docs)), ["doc_id", "text"]
        )
        n_merges = rng.randint(1, 4)
        rules, syms = ref(docs, n_merges)
        got_rules = [
            (r["merge_left"], r["merge_right"])
            for r in bpe_subword_merges(sdf, "text", n_merges=n_merges)
            .orderBy("merge_round")
            .collect()
        ]
        assert got_rules == rules, f"trial {trial}: rules"
        if not rules:
            continue
        # encode vs reference: replay + frequency-ranked ids
        stream_ref = []
        for doc_id, d in enumerate(docs):
            pos = 0
            for w in d.split():
                for t in syms[w]:
                    stream_ref.append((doc_id, pos, t))
                    pos += 1
        vc = Counter(t for _, _, t in stream_ref)
        order = sorted(vc, key=lambda t: (-vc[t], t))
        ids = {t: i for i, t in enumerate(order)}
        expect = {(d, p): (t, ids[t]) for d, p, t in stream_ref}
        got = {
            (r["doc_id"], r["pos"]): (r["token"], r["token_id"])
            for r in bpe_subword_encode(sdf, rules).collect()
        }
        assert got == expect, f"trial {trial}: stream"


def test_bpe_subword_fixpoint_vs_python_reference(spark):
    """ABSOLUTE correctness of the auto-selected FIXPOINT apply
    branch (rules > BPE_APPLY_FOLD_MAX) against the pure-Python
    reference — until now the fixpoint was pinned only transitively
    (fixpoint == fold differential, fold == python reference).  Learn
    >24 rules on a corpus rich enough to sustain them, let
    bpe_subword_encode pick the branch itself, and compare the full
    (doc, pos) -> (token, token_id) stream to the reference replay."""
    import random
    from collections import Counter

    from etl_based_real_time_air_quality_monitoring_system_spark.operators import text as T

    EOW = "</w>"

    def fuse(seq, l, r):
        out, i = [], 0
        while i < len(seq):
            if i + 1 < len(seq) and seq[i] == l and seq[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(seq[i])
                i += 1
        return out

    def ref(docs, n_merges):
        wt = Counter(w for d in docs for w in d.split())
        syms = {w: list(w) + [EOW] for w in wt}
        rules = []
        for _ in range(n_merges):
            pc = Counter()
            for w, f in wt.items():
                s = syms[w]
                for a, b in zip(s, s[1:]):
                    if a != b:
                        pc[(a, b)] += f
            if not pc:
                break
            best = min(pc, key=lambda p: (-pc[p], p[0], p[1]))
            rules.append(best)
            for w in syms:
                syms[w] = fuse(syms[w], *best)
        return rules, syms

    rng = random.Random(2711)
    docs = [
        " ".join(
            "".join(
                rng.choice("abcdefgh") for _ in range(rng.randint(2, 8))
            )
            for _ in range(10)
        )
        for _ in range(12)
    ]
    n_merges = T.BPE_APPLY_FOLD_MAX + 6
    rules, syms = ref(docs, n_merges)
    # the point of the test is the fixpoint branch — fail loudly if
    # the corpus couldn't sustain enough merges to engage it
    assert len(rules) > T.BPE_APPLY_FOLD_MAX, len(rules)

    sdf = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    got_rules = [
        (r["merge_left"], r["merge_right"])
        for r in T.bpe_subword_merges(sdf, "text", n_merges=n_merges)
        .orderBy("merge_round")
        .collect()
    ]
    assert got_rules == rules

    stream_ref = []
    for doc_id, d in enumerate(docs):
        pos = 0
        for w in d.split():
            for t in syms[w]:
                stream_ref.append((doc_id, pos, t))
                pos += 1
    vc = Counter(t for _, _, t in stream_ref)
    order = sorted(vc, key=lambda t: (-vc[t], t))
    ids = {t: i for i, t in enumerate(order)}
    expect = {(d, p): (t, ids[t]) for d, p, t in stream_ref}
    got = {
        (r["doc_id"], r["pos"]): (r["token"], r["token_id"])
        for r in T.bpe_subword_encode(sdf, rules).collect()
    }
    assert got == expect


def test_bpe_word_merges_degenerate_corpora(spark):
    """Sub-2-token docs contribute no pairs; a corpus with ONLY
    self-pairs learns nothing (empty result, not a crash)."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import bpe_word_merges

    only_self = spark.createDataFrame(
        [(1, "a a a"), (2, "b"), (3, None)], ["doc_id", "text"]
    )
    assert bpe_word_merges(only_self, "text", n_merges=2).count() == 0


def test_bpe_word_merges_property_vs_sequential_fold(spark):
    """Property check: the operator's PARALLEL every-occurrence fusion
    must equal a pure-Python LEFT-TO-RIGHT greedy fold on random
    corpora — the order-independence claim the self-pair exclusion
    exists to guarantee (small alphabet with runs stresses adjacency,
    ties and self-pair cases)."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import bpe_word_merges

    SEP = "\x01"

    def ref_fold(docs: list[list[str]], n_merges: int) -> list[tuple]:
        cur = [list(t) for t in docs]
        out = []
        for rnd in range(1, n_merges + 1):
            counts: Counter = Counter()
            for t in cur:
                for a, b in zip(t, t[1:]):
                    if a != b:
                        counts[(a, b)] += 1
            if not counts:
                break
            (left, right), cnt = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0])
            )
            fused = left + SEP + right
            nxt = []
            for t in cur:
                m, i = [], 0
                while i < len(t):
                    if i + 1 < len(t) and t[i] == left and t[i + 1] == right:
                        m.append(fused)
                        i += 2
                    else:
                        m.append(t[i])
                        i += 1
                nxt.append(m)
            cur = nxt
            out.append((rnd, left, right, cnt, sum(len(t) for t in cur)))
        return out

    token = st.sampled_from(["a", "b", "c", "d"])
    corpus = st.lists(
        st.lists(token, min_size=1, max_size=12), min_size=1, max_size=6
    )

    @settings(max_examples=8, deadline=None)
    @given(docs=corpus)
    def case(docs):
        df = spark.createDataFrame(
            [(i, " ".join(t)) for i, t in enumerate(docs)],
            ["doc_id", "text"],
        )
        got = [
            tuple(r)
            for r in bpe_word_merges(df, "text", n_merges=2)
            .orderBy("merge_round")
            .collect()
        ]
        assert got == ref_fold(docs, 2)

    case()


def test_bm25_topk_hand_computed(spark):
    """bm25_topk must equal a pure-Python reference computing the
    same log-free Okapi BM25 (RSJ idf argument, exact-integer
    saturation ratio, per-term micros floored BEFORE the sum) —
    Python floats are the same IEEE doubles, so the comparison is
    bit-exact, including ranking and tie-breaks."""
    import math

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.retrieval import bm25_topk

    docs = [
        (1, "spark spark shuffle join"),
        (2, "join join join hash"),
        (3, "scan filter scan"),
        (4, "the quick brown fox"),          # matches nothing
        (5, "Hash JOIN hash"),               # lowercase fold
        (6, "join"),                         # short doc, high sat
    ]
    queries = {"qa": ["join", "hash"], "qb": ["scan"], "qc": ["zzz"]}

    toks = {i: t.lower().split() for i, t in docs}
    n, t_total = len(docs), sum(len(v) for v in toks.values())
    ref: dict[str, dict[int, int]] = {}
    for qid, terms in queries.items():
        for term in set(terms):
            df_t = sum(1 for v in toks.values() if term in v)
            if df_t == 0:
                continue
            for i, v in toks.items():
                tf = v.count(term)
                if tf == 0:
                    continue
                dl = len(v)
                idf = ((2.0 * n) - (2.0 * df_t) + 1.0) / ((2.0 * df_t) + 1.0)
                sat = ((tf * 2200.0) * t_total) / (
                    ((1000.0 * t_total) * tf)
                    + (300.0 * t_total)
                    + ((900.0 * dl) * n)
                )
                c = math.floor(((idf * sat) * 1000000.0) + 0.5)
                ref.setdefault(qid, {})
                ref[qid][i] = ref[qid].get(i, 0) + c
    expected = set()
    for qid, per_doc in ref.items():
        ranked = sorted(per_doc.items(), key=lambda kv: (-kv[1], kv[0]))
        for rnk, (i, s) in enumerate(ranked[:3], start=1):
            expected.add((qid, i, s, rnk))

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["query_id"], r["doc_id"], r["score_micros"], r["rnk"])
        for r in bm25_topk(df, queries, k=3).collect()
    }
    assert got == expected
    assert not any(q == "qc" for q, *_ in got)   # absent-term query
    assert not any(d == 4 for _, d, *_ in got)   # unmatched doc

    # mixed-case QUERY terms fold with the corpus when lowercase=True
    # (regression: query terms used to stay verbatim and silently
    # match nothing)
    mixed = {
        (r["query_id"], r["doc_id"], r["score_micros"], r["rnk"])
        for r in bm25_topk(df, {"qa": ["JOIN", "Hash"]}, k=3).collect()
    }
    assert mixed == {t for t in expected if t[0] == "qa"}


def test_line_dedup_hand_computed(spark):
    """line_dedup keeps only the globally-first occurrence (min
    (id, pos)) of every repeated line, reassembles surviving lines
    in original order, and returns every input document — including
    ones whose every line was cut ('' / 0)."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.dedup import line_dedup

    rows = [
        (1, "header\nalpha beta\nfooter"),
        (2, "header\ngamma\nfooter"),
        (3, "header\nalpha beta\ndelta"),
        (4, "unique only"),
        (5, "header\nheader\nfooter"),  # within-doc repeats count too
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [tuple(r) for r in line_dedup(df).orderBy("doc_id").collect()]
    assert got == [
        (1, "header\nalpha beta\nfooter", 3, 3),  # first occurrences
        (2, "gamma", 3, 1),
        (3, "delta", 3, 1),
        (4, "unique only", 1, 1),
        (5, "", 3, 0),                            # all lines were dups
    ]
    # min_count=3: 'header' (5 occurrences) and 'footer' (3) cross
    # the bar; 'alpha beta' (2) now survives everywhere
    got3 = {
        r["doc_id"]: (r["text_clean"], r["n_kept"])
        for r in line_dedup(df, min_count=3).collect()
    }
    assert got3[1] == ("header\nalpha beta\nfooter", 3)
    assert got3[2] == ("gamma", 1)
    assert got3[3] == ("alpha beta\ndelta", 2)
    assert got3[5] == ("", 0)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        line_dedup(df, min_count=1)

    # precomputed lines_col + the empty-array doc: posexplode_outer
    # keeps it alive ('' / 0 / 0), it never silently vanishes
    from pyspark.sql import functions as _F

    arr_df = spark.createDataFrame(
        [(1, ["x", "y"]), (2, ["x"]), (3, [])],
        ["doc_id", "ls"],
    ).select("doc_id", _F.col("ls").cast("array<string>").alias("ls"))
    got_arr = {
        r["doc_id"]: (r["text_clean"], r["n_lines"], r["n_kept"])
        for r in line_dedup(arr_df, lines_col="ls", join_sep="|").collect()
    }
    assert got_arr == {
        1: ("x|y", 2, 2),
        2: ("", 1, 0),      # its only line is a dup of doc 1's first
        3: ("", 0, 0),      # empty array stays visible
    }


def test_substring_dedup_rewrite_hand_computed(spark):
    """The ExactSubstr ACTION: duplicated k-gram spans keep only the
    globally-first occurrence (min (id, pos)); all other covered
    tokens are cut; exactly one copy of every duplicated span
    survives corpus-wide, including within-document self-repeats."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.dedup import (
        substring_dedup_rewrite,
    )

    rows = [
        (1, "a b c d e f g h"),        # keeper of "a b c d e f"
        (2, "x y z w a b c d e f"),    # keeper of "x y z w", dup tail
        (3, "x y z w q r s t"),        # dup head, unique tail
        (4, "p p p p p p p p"),        # pure self-repetition
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [
        tuple(r)
        for r in substring_dedup_rewrite(df, k=4).orderBy("doc_id").collect()
    ]
    assert got == [
        (1, "a b c d e f g h", 8, 8),
        (2, "x y z w", 10, 4),   # its "a b c d e f" copy is cut
        (3, "q r s t", 8, 4),    # its "x y z w" copy is cut
        (4, "p", 8, 1),          # overlapping self-dups collapse to 1
    ]
    # sub-k docs carry no grams and are never cut
    tiny = spark.createDataFrame([(1, "a b"), (2, "a b")], ["doc_id", "text"])
    got_tiny = {
        r["doc_id"]: r["text_clean"]
        for r in substring_dedup_rewrite(tiny, k=4).collect()
    }
    assert got_tiny == {1: "a b", 2: "a b"}

    # NULL-text docs stay visible ('' / 0 / 0) — regression: the
    # plain posexplode used to drop them from the output entirely
    withnull = spark.createDataFrame(
        [(1, "a b c d e"), (2, None)], "doc_id int, text string"
    )
    got_null = {
        r["doc_id"]: (r["text_clean"], r["n_tokens"], r["n_kept"])
        for r in substring_dedup_rewrite(withnull, k=4).collect()
    }
    assert got_null == {1: ("a b c d e", 5, 5), 2: ("", 0, 0)}


def test_line_dedup_property_vs_python_reference(spark):
    """Property check: line_dedup must equal a pure-Python reference
    on random corpora — and the rewrite invariant must hold: after
    the rewrite, every line that was duplicated appears exactly ONCE
    across the corpus, and never-duplicated lines are untouched."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.dedup import line_dedup

    line = st.sampled_from(["aa", "bb", "cc", "dd"])
    corpus = st.lists(
        st.lists(line, min_size=0, max_size=6), min_size=1, max_size=5
    )

    def ref(docs, min_count):
        cnt = Counter(ln for lines in docs for ln in lines)
        first = {}
        for did, lines in enumerate(docs):
            for p, ln in enumerate(lines):
                first.setdefault(ln, (did, p))
        out = {}
        for did, lines in enumerate(docs):
            kept = [
                ln
                for p, ln in enumerate(lines)
                if cnt[ln] < min_count or first[ln] == (did, p)
            ]
            out[did] = ("|".join(kept), len(lines), len(kept))
        return out

    @settings(max_examples=6, deadline=None)
    @given(docs=corpus, mc=st.integers(min_value=2, max_value=3))
    def case(docs, mc):
        df = spark.createDataFrame(
            [(i, lines) for i, lines in enumerate(docs)],
            "doc_id int, ls array<string>",
        )
        got = {
            r["doc_id"]: (r["text_clean"], r["n_lines"], r["n_kept"])
            for r in line_dedup(
                df, lines_col="ls", join_sep="|", min_count=mc
            ).collect()
        }
        expected = ref(docs, mc)
        assert got == expected
        # rewrite invariant at mc=2: post-rewrite, every line occurs
        # exactly once corpus-wide iff it was duplicated; line totals
        # are conserved
        if mc == 2:
            cnt = Counter(ln for lines in docs for ln in lines)
            post = Counter(
                ln
                for txt, _, _ in got.values()
                if txt
                for ln in txt.split("|")
            )
            for ln, c in cnt.items():
                assert post[ln] == 1 if c >= 2 else post[ln] == c

    case()


def test_substring_rewrite_property_vs_python_reference(spark):
    """Property check: substring_dedup_rewrite must equal a
    pure-Python reference (global gram counts, first-occurrence
    keeper, interval cut, token rebuild) on random corpora."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.dedup import (
        substring_dedup_rewrite,
    )

    token = st.sampled_from(["a", "b", "c"])
    corpus = st.lists(
        st.lists(token, min_size=1, max_size=10), min_size=1, max_size=4
    )

    def ref(docs, k, min_count):
        grams = Counter()
        first = {}
        for did, toks in enumerate(docs):
            for p in range(len(toks) - k + 1):
                g = " ".join(toks[p : p + k])
                grams[g] += 1
                first.setdefault(g, (did, p))
        out = {}
        for did, toks in enumerate(docs):
            cut = set()
            for p in range(len(toks) - k + 1):
                g = " ".join(toks[p : p + k])
                if grams[g] >= min_count and first[g] != (did, p):
                    cut.update(range(p, p + k))
            kept = [t for i, t in enumerate(toks) if i not in cut]
            out[did] = (" ".join(kept), len(toks), len(kept))
        return out

    @settings(max_examples=6, deadline=None)
    @given(docs=corpus, k=st.integers(min_value=2, max_value=4))
    def case(docs, k):
        df = spark.createDataFrame(
            [(i, " ".join(toks)) for i, toks in enumerate(docs)],
            ["doc_id", "text"],
        )
        got = {
            r["doc_id"]: (r["text_clean"], r["n_tokens"], r["n_kept"])
            for r in substring_dedup_rewrite(df, k=k).collect()
        }
        assert got == ref(docs, k, 2)

    case()


def test_bm25_topk_property_vs_python_reference(spark):
    """Property check: bm25_topk equals the pure-Python reference
    (identical IEEE double expression tree, micros floored per term)
    on random corpora and random query sets — bit-exact scores,
    ranks, and membership."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.retrieval import bm25_topk

    token = st.sampled_from(["a", "b", "c", "d", "e"])
    corpus = st.lists(
        st.lists(token, min_size=1, max_size=8), min_size=1, max_size=5
    )
    qset = st.dictionaries(
        st.sampled_from(["q1", "q2"]),
        st.lists(token, min_size=1, max_size=3),
        min_size=1,
        max_size=2,
    )

    def ref(docs, queries, k):
        toks = {i: t for i, t in enumerate(docs)}
        n, t_total = len(docs), sum(len(v) for v in toks.values())
        per_q = {}
        for qid, terms in queries.items():
            for term in set(terms):
                df_t = sum(1 for v in toks.values() if term in v)
                if df_t == 0:
                    continue
                for i, v in toks.items():
                    tf = v.count(term)
                    if tf == 0:
                        continue
                    dl = len(v)
                    idf = ((2.0 * n) - (2.0 * df_t) + 1.0) / (
                        (2.0 * df_t) + 1.0
                    )
                    sat = ((tf * 2200.0) * t_total) / (
                        ((1000.0 * t_total) * tf)
                        + (300.0 * t_total)
                        + ((900.0 * dl) * n)
                    )
                    c = math.floor(((idf * sat) * 1000000.0) + 0.5)
                    per_q.setdefault(qid, {})
                    per_q[qid][i] = per_q[qid].get(i, 0) + c
        out = set()
        for qid, per_doc in per_q.items():
            ranked = sorted(per_doc.items(), key=lambda kv: (-kv[1], kv[0]))
            for rnk, (i, s) in enumerate(ranked[:k], start=1):
                out.add((qid, i, s, rnk))
        return out

    @settings(max_examples=6, deadline=None)
    @given(docs=corpus, queries=qset)
    def case(docs, queries):
        df = spark.createDataFrame(
            [(i, " ".join(t)) for i, t in enumerate(docs)],
            ["doc_id", "text"],
        )
        got = {
            (r["query_id"], r["doc_id"], r["score_micros"], r["rnk"])
            for r in bm25_topk(df, queries, k=3).collect()
        }
        assert got == ref(docs, queries, 3)

    case()


def test_lang_id_scores_vs_python_reference(spark):
    """Multi-class language ID must equal a pure-Python reference
    (per-language floor-mean of md5-hashed feature weights, argmax
    with ties to the sorted-first language) exactly, in BOTH the
    literal-fold and broadcast-LUT forms; validation rejects
    single-class and ragged weight tables."""
    import hashlib

    import pytest

    from etl_based_real_time_air_quality_monitoring_system_spark.operators import text as text_mod
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import lang_id_scores

    n_buckets = 64
    langs = ["de", "en", "fr"]
    tables = {
        lg: [
            int(hashlib.md5(f"lw:{lg}:{b}".encode()).hexdigest()[:6], 16)
            % 1_000_001
            for b in range(n_buckets)
        ]
        for lg in langs
    }
    docs = [
        (1, "the cat sat on the mat"),
        (2, "der hund lief schnell"),
        (3, "zzz"),
        (4, None),
    ]

    def ref(text: str) -> tuple[int, str, int]:
        toks = text.strip().split()
        feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        bs = [
            int(hashlib.md5(("langid:v1" + f).encode()).hexdigest()[:7], 16)
            % n_buckets
            for f in feats
        ]
        scores = {
            lg: sum(tables[lg][b] for b in bs) // len(feats) for lg in langs
        }
        best = max(scores.values())
        lang = min(lg for lg in langs if scores[lg] == best)
        return len(feats), lang, best

    expect = {d: ref(t) for d, t in docs[:3]}
    got = {
        r["doc_id"]: (r["n_feats"], r["lang"], r["score_micros"])
        for r in lang_id_scores(
            spark.createDataFrame(docs, ["doc_id", "text"]), tables
        ).collect()
    }
    assert got == expect  # null text drops; 3 rows exact

    # broadcast-LUT form (force by shrinking the literal cap) must be
    # bit-identical, prediction included
    orig = text_mod.QCLS_LITERAL_MAX_BUCKETS
    text_mod.QCLS_LITERAL_MAX_BUCKETS = 1
    try:
        joined = {
            r["doc_id"]: (r["n_feats"], r["lang"], r["score_micros"])
            for r in lang_id_scores(
                spark.createDataFrame(docs, ["doc_id", "text"]), tables
            ).collect()
        }
    finally:
        text_mod.QCLS_LITERAL_MAX_BUCKETS = orig
    assert joined == expect

    # identical tables for every class -> every doc ties -> the
    # sorted-first language wins everywhere
    tied = lang_id_scores(
        spark.createDataFrame(docs, ["doc_id", "text"]),
        {"b_lang": tables["en"], "a_lang": tables["en"]},
    ).collect()
    assert {r["lang"] for r in tied} == {"a_lang"}

    with pytest.raises(ValueError, match=">= 2 language"):
        lang_id_scores(
            spark.createDataFrame(docs, ["doc_id", "text"]),
            {"en": tables["en"]},
        )
    with pytest.raises(ValueError, match="share one"):
        lang_id_scores(
            spark.createDataFrame(docs, ["doc_id", "text"]),
            {"en": tables["en"], "de": tables["de"][:32]},
        )


def _bft_decode(rows, vocab, eow="</w>"):
    """Pure-Python inverse of bpe_subword_encode_total's stream:
    rebuild the word sequence, assembling fallback bytes into UTF-8."""
    words, buf = [], b""
    for r in sorted(rows, key=lambda r: r["pos"]):
        if r["is_byte"]:
            assert r["token"] == f"<0x{r['token_id'] - len(vocab):02X}>"
            buf += bytes([r["token_id"] - len(vocab)])
        elif r["token"] == eow:
            words.append(buf.decode("utf-8"))
            buf = b""
        elif r["token"].endswith(eow):
            buf += r["token"][: -len(eow)].encode("utf-8")
            words.append(buf.decode("utf-8"))
            buf = b""
        else:
            buf += r["token"].encode("utf-8")
    assert buf == b""  # every word closed by an eow marker
    return words


def test_bpe_subword_total_roundtrip(spark):
    """Byte-fallback total encoding: decode(encode(x)) == x
    token-for-token for every document — including multi-byte UTF-8
    far outside the closed vocabulary — and the byte-token tail is
    the deterministic id map len(vocab)+byte.  Validation pins the
    eow-in-vocab requirement."""
    import pytest

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import (
        bpe_subword_encode_total,
        bpe_subword_merges,
    )

    docs = [
        (1, "the cat sat on the mat"),
        (2, "héllo wörld 日本 naïve"),
        (3, "the the the zz %20 <0x41>"),
        (4, "  "),
        (5, None),
    ]
    frame = spark.createDataFrame(docs, ["doc_id", "text"])
    learned = [
        (r["merge_left"], r["merge_right"])
        for r in bpe_subword_merges(frame, "text", n_merges=2)
        .orderBy("merge_round")
        .collect()
    ]
    vocab = ["</w>", "t", "h", "e", "a", "th"]
    out = bpe_subword_encode_total(frame, learned, vocab).collect()
    per: dict[int, list] = {}
    for r in out:
        per.setdefault(r["doc_id"], []).append(r)
    assert set(per) == {1, 2, 3, 4}  # null text drops, blank doc stays
    for doc_id, text in docs[:4]:
        # the engine tokenizer (split on \s+ after trim) yields ['']
        # for blank text — one empty word, encoded as a bare eow
        expect = text.strip().split() if text.strip() else [""]
        assert _bft_decode(per[doc_id], vocab) == expect, doc_id
    # ids: vocab ids < len(vocab), byte ids exactly len(vocab)+byte
    for r in out:
        if r["is_byte"]:
            assert len(vocab) <= r["token_id"] < len(vocab) + 256
        else:
            assert r["token_id"] == vocab.index(r["token"])
    # positions are 0..n-1 dense per doc
    for doc_id, rows in per.items():
        assert sorted(r["pos"] for r in rows) == list(range(len(rows)))

    with pytest.raises(ValueError, match="must be in vocab"):
        bpe_subword_encode_total(frame, learned, ["t", "h"])
    with pytest.raises(ValueError, match="duplicate"):
        bpe_subword_encode_total(frame, learned, ["</w>", "t", "t"])
    with pytest.raises(ValueError, match="self-pair"):
        bpe_subword_encode_total(frame, [("a", "a")], vocab)


def test_bpe_subword_total_roundtrip_property(spark):
    """Hypothesis: round-trip holds for random unicode corpora under
    a random small vocabulary (OOV-heavy by construction)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import bpe_subword_encode_total

    word = st.text(
        alphabet=st.characters(
            blacklist_categories=("Zs", "Zl", "Zp", "Cc", "Cs")
        ),
        min_size=1,
        max_size=5,
    )
    corpus = st.lists(
        st.lists(word, min_size=0, max_size=6), min_size=1, max_size=4
    )

    @settings(max_examples=8, deadline=None)
    @given(corpus=corpus)
    def check(corpus):
        docs = [(i, " ".join(ws)) for i, ws in enumerate(corpus)]
        frame = spark.createDataFrame(docs, ["doc_id", "text"])
        vocab = ["</w>", "e", "t", "a"]
        out = bpe_subword_encode_total(frame, [("e", "t")], vocab).collect()
        per: dict[int, list] = {}
        for r in out:
            per.setdefault(r["doc_id"], []).append(r)
        for i, _ in enumerate(corpus):
            text = docs[i][1]
            expect = text.strip().split() if text.strip() else [""]
            assert _bft_decode(per.get(i, []), vocab) == expect

    check()


def test_prepare_corpus_lang_classifier_stage(spark):
    """prepare_corpus(lang_weights=...) must keep exactly the docs
    lang_id_scores predicts as the keep-language (same-scan literal
    argmax == the operator's own literal form), and reject tables too
    large for the in-scan literal."""
    import hashlib

    import pytest

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import lang_id_scores
    from etl_based_real_time_air_quality_monitoring_system_spark.plans.corpus import prepare_corpus

    n_buckets = 64
    text_en = "alpha bravo charlie delta echo"
    text_xx = "zulu yankee xray whiskey victor"

    def buckets(text: str) -> set[int]:
        toks = text.split()
        feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        return {
            int(hashlib.md5(("langid:v1" + f).encode()).hexdigest()[:7], 16)
            % n_buckets
            for f in feats
        }

    # each class upweights exactly its own family's feature buckets,
    # so family membership decides the argmax deterministically
    tables = {
        "en": [1_000_000 if b in buckets(text_en) else 0 for b in range(n_buckets)],
        "xx": [1_000_000 if b in buckets(text_xx) else 0 for b in range(n_buckets)],
    }
    # unique v{i} suffix defeats the exact-text dedup stage; its
    # buckets weigh 0 in BOTH tables so the argmax is unaffected
    corpus = spark.createDataFrame(
        [
            (i, (text_en if i % 2 == 0 else text_xx) + f" v{i}")
            for i in range(20)
        ],
        ["doc_id", "text"],
    )
    preds = {
        r["doc_id"]: r["lang"]
        for r in lang_id_scores(
            corpus, tables, salt="langid:v1"
        ).collect()
    }
    assert set(preds.values()) == {"en", "xx"}  # both classes occur
    for keep_lang in ("en", "xx"):
        kept = prepare_corpus(
            corpus,
            min_tokens=1,
            min_quality=0.0,
            lang=keep_lang,
            lang_weights=tables,
        ).collect()
        assert {r["doc_id"] for r in kept} == {
            d for d, lg in preds.items() if lg == keep_lang
        }
        assert all(r["lang_pred"] == keep_lang for r in kept)
    with pytest.raises(ValueError, match="too large"):
        prepare_corpus(
            corpus,
            lang_weights={"en": [1] * 600, "xx": [1] * 600},
        )


def test_bpe_subword_decode_spark_side(spark):
    """The Spark-side decoder must rebuild whitespace-normalized
    text exactly — including literal '%' and '+' (which url_decode
    would otherwise mangle), multi-byte UTF-8 split across fallback
    byte tokens, and the blank document."""
    import re

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import (
        bpe_subword_decode,
        bpe_subword_encode_total,
        bpe_subword_merges,
    )

    docs = [
        (1, "the cat sat"),
        (2, "héllo wörld 日本 50% a+b"),
        (3, "  "),
        (4, None),
        (5, "x%2By  spaced\tout"),
    ]
    frame = spark.createDataFrame(docs, ["doc_id", "text"])
    learned = [
        (r["merge_left"], r["merge_right"])
        for r in bpe_subword_merges(frame, "text", n_merges=2)
        .orderBy("merge_round")
        .collect()
    ]
    vocab = ["</w>", "t", "h", "e", "th", "%", "+"]
    enc = bpe_subword_encode_total(frame, learned, vocab)
    dec = {r["doc_id"]: r["text_rebuilt"] for r in bpe_subword_decode(enc).collect()}
    assert set(dec) == {1, 2, 3, 5}
    for doc_id, text in docs:
        if text is None:
            continue
        want = " ".join(re.split(r"\s+", text.strip())) if text.strip() else ""
        assert dec[doc_id] == want, (doc_id, dec[doc_id], want)


def test_normalize_text_hand_computed(spark):
    """The NFKC-subset fold chain on hand-picked inputs covering every
    stage: Cf strip (soft hyphen rejoins a word, ZWSP drops), Cc blank
    (BEL/tab/newline), unicode-space + fullwidth + quote + dash folds,
    ligature/ellipsis expansion, casefold, run collapse + trim, and
    NULL totality."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import normalize_text

    rows = [
        (1, " “ＦＵＬＬｗｉdth”\x07\tok"),
        (2, "co­operate… ﬁnal　‘Q’  end​."),
        (3, "plain  text\nwith\ttabs"),
        (4, None),
        (5, "d—e−f–g «q» ﬀﬃﬆ"),
        (6, ""),
        (7, "   "),
        # the two cross-engine FULL-casing divergences, pre-folded in
        # the table: dotted İ (Java lower -> i+U+0307, utf8proc -> i)
        # and context-sensitive Greek final sigma
        (8, "İstanbul ΣΟΦΟΣ ´acute"),
    ]
    want = {
        1: '"fullwidth" ok',
        2: "cooperate... final 'q' end.",
        3: "plain text with tabs",
        4: None,
        5: 'd-e-f-g "q" ffffist',
        6: "",
        7: "",
        8: "istanbul σοφοσ 'acute",
    }
    df = spark.createDataFrame(rows, ["id", "t"])
    got = {
        r["id"]: r["n"]
        for r in df.select("id", normalize_text("t").alias("n")).collect()
    }
    assert got == want


def test_normalize_text_idempotent_property(spark):
    """normalize(normalize(x)) == normalize(x) on adversarial strings
    drawn from the fold alphabet itself (sources, targets, expansions,
    control/format chars, mixed case, whitespace runs), plus output
    postconditions: no source char survives, lowercase, single
    spaces, trimmed."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import (
        NORMALIZE_EXPANSIONS,
        _NORM_FROM,
        normalize_text,
    )

    alphabet = (
        _NORM_FROM
        + "".join(s for s, _ in NORMALIZE_EXPANSIONS)
        + "\x00\x07\t\n\r\x7f­​‍﻿"
        + "aZ mÉé%+.'\"-"
    )

    @given(
        st.lists(
            st.text(alphabet=alphabet, max_size=24), min_size=1, max_size=24
        )
    )
    @settings(max_examples=5, deadline=None)
    def check(texts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["id", "t"]
        )
        once = {
            r["id"]: r["n"]
            for r in df.select(
                "id", normalize_text("t").alias("n")
            ).collect()
        }
        twice = {
            r["id"]: r["n"]
            for r in df.select(
                "id", normalize_text(normalize_text("t")).alias("n")
            ).collect()
        }
        assert once == twice
        bad = set(_NORM_FROM) | {s for s, _ in NORMALIZE_EXPANSIONS} | set(
            "\x07\t\n­​﻿"
        )
        for v in once.values():
            assert not (set(v) & bad), repr(v)
            assert v == v.lower()
            assert "  " not in v
            assert v == v.strip()

    check()


def test_prepare_corpus_normalize_stage(spark):
    """normalize=True must fold BEFORE the dedup fingerprint and every
    profile tokenization: docs differing only by compatibility chars /
    whitespace shape dedup to ONE survivor (min id), and n_tokens
    counts the normalized tokens."""
    from etl_based_real_time_air_quality_monitoring_system_spark.plans.corpus import prepare_corpus

    base = "the quick brown fox jumps over the lazy dog " * 3
    variants = [
        (1, base.strip()),
        # fullwidth + curly quotes fold away; extra spaces collapse
        (2, base.replace("quick", "ｑｕｉｃｋ").strip() + " "),
        # soft hyphen strips, tab blanks
        (3, base.replace("brown", "br­own").replace(" ", "\t", 1).strip()),
        (4, "a genuinely different document body about other things entirely"),
    ]
    # variant 2/3 normalize to variant 1's text exactly
    out = prepare_corpus(
        spark.createDataFrame(variants, ["doc_id", "text"]),
        min_tokens=1,
        min_quality=0.0,
        lang="en",
        normalize=True,
    ).collect()
    kept = {r["doc_id"] for r in out}
    assert 1 in kept and 2 not in kept and 3 not in kept
    n_base = len(base.split())
    row1 = next(r for r in out if r["doc_id"] == 1)
    assert row1["n_tokens"] == n_base
    assert row1["text"] == " ".join(base.split())
    # without normalize, all four docs fingerprint apart
    raw = prepare_corpus(
        spark.createDataFrame(variants, ["doc_id", "text"]),
        min_tokens=1,
        min_quality=0.0,
        lang="en",
    ).collect()
    assert {r["doc_id"] for r in raw} >= {1, 2, 3}


def test_normalize_text_nfkc_full(spark):
    """The arrow-seam FULL NFKC variant: handles compatibility classes
    the subset doesn't (squared units, vulgar fractions,
    superscripts), matches the pure-Python NFKC reference, agrees
    with the subset on subset-class inputs, stays idempotent, and
    keeps NULL totality."""
    import unicodedata

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import (
        normalize_text,
        normalize_text_nfkc,
    )

    beyond = [
        (1, "5 ㎒ and ㌔ units"),
        (2, "x² plus ½ of ¼"),
        (3, "Ⅻ o'clock ﬁne"),
        (4, None),
    ]
    df = spark.createDataFrame(beyond, ["id", "t"])
    got = {
        r["id"]: r["n"]
        for r in df.select(
            "id", normalize_text_nfkc("t").alias("n")
        ).collect()
    }

    def ref(x):
        # the same chain in pure Python: NFKC, then the subset folds
        # are a no-op on these (post-NFKC chars are ASCII-ish), then
        # lower + collapse
        y = unicodedata.normalize("NFKC", x)
        return " ".join(y.lower().split())

    for i, t in beyond[:3]:
        assert got[i] == ref(t), (i, got[i], ref(t))
    assert got[4] is None
    # NFKC did real work the subset can't: MHz expansion etc.
    assert "mhz" in got[1]
    assert got[2] == "x2 plus 1⁄2 of 1⁄4"
    assert got[3].startswith("xii")

    # agreement with the subset on subset-class inputs
    subset_rows = [
        (1, " “ＦＵＬＬｗｉdth”\x07\tok"),
        (2, "co­operate… ﬁnal　‘Q’  end​."),
        (3, "d—e−f–g «q» ﬀﬃﬆ"),
        # ´ is NFKC-decomposable (space + combining acute) — the
        # pre-fold pins the subset's apostrophe; İ/Σ pre-fold too
        (4, "a´b İstanbul ΣΟΦΟΣ"),
    ]
    sdf = spark.createDataFrame(subset_rows, ["id", "t"])
    both = sdf.select(
        "id",
        normalize_text("t").alias("sub"),
        normalize_text_nfkc("t").alias("full"),
    ).collect()
    for r in both:
        assert r["sub"] == r["full"], (r["id"], r["sub"], r["full"])

    # idempotence of the full chain
    twice = {
        r["id"]: r["n"]
        for r in df.select(
            "id",
            normalize_text_nfkc(normalize_text_nfkc("t")).alias("n"),
        ).collect()
    }
    assert twice == got


def test_bpe_fixpoint_apply_equals_sequential_fold(spark, monkeypatch):
    """The min-rank fixpoint apply path (engaged automatically past
    BPE_APPLY_FOLD_MAX rules — the sequential fold chain
    stack-overflows Catalyst near 256 chained ranks) must equal the
    sequential per-rank fold EXACTLY, across the public apply
    surfaces: same encode stream, same word-level token arrays.
    Forced head-to-head by patching the switch to 0 so both paths run
    on the same learned rule tables."""
    import random
    from collections import Counter

    from etl_based_real_time_air_quality_monitoring_system_spark.operators import text as T

    EOW = "</w>"

    def fuse(seq, l, r):
        out, i = [], 0
        while i < len(seq):
            if i + 1 < len(seq) and seq[i] == l and seq[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(seq[i])
                i += 1
        return out

    def learn(docs, n_merges):
        wt = Counter(w for d in docs for w in d.split())
        syms = {w: list(w) + [EOW] for w in wt}
        rules = []
        for _ in range(n_merges):
            pc = Counter()
            for w, f in wt.items():
                s = syms[w]
                for a, b in zip(s, s[1:]):
                    if a != b:
                        pc[(a, b)] += f
            if not pc:
                break
            best = min(pc, key=lambda p: (-pc[p], p[0], p[1]))
            rules.append(best)
            for w in syms:
                syms[w] = fuse(syms[w], *best)
        return rules

    rng = random.Random(411)
    for trial in range(3):
        docs = [
            " ".join(
                "".join(rng.choice("abcd") for _ in range(rng.randint(1, 6)))
                for _ in range(rng.randint(1, 7))
            )
            for _ in range(8)
        ]
        sdf = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
        rules = learn(docs, 12)
        assert rules, "degenerate trial corpus"

        monkeypatch.setattr(T, "BPE_APPLY_FOLD_MAX", len(rules) + 1)
        seq_enc = sorted(
            tuple(r) for r in T.bpe_subword_encode(sdf, rules).collect()
        )
        monkeypatch.setattr(T, "BPE_APPLY_FOLD_MAX", 0)
        fix_enc = sorted(
            tuple(r) for r in T.bpe_subword_encode(sdf, rules).collect()
        )
        assert fix_enc == seq_enc, f"trial {trial}: subword encode stream"

    # word-level apply surface (sep-joined fused tokens)
    wdocs = [
        "the cat sat on the mat",
        "the cat ate the cat food",
        "on the mat the cat sat",
    ]
    wdf = spark.createDataFrame(list(enumerate(wdocs)), ["doc_id", "text"])
    wrules = [("the", "cat"), ("on", "the"), ("the\x01cat", "sat")]
    monkeypatch.setattr(T, "BPE_APPLY_FOLD_MAX", 24)
    seq_w = sorted(
        (r["doc_id"], tuple(r["tokens"]))
        for r in T.bpe_apply_merges(wdf, wrules).collect()
    )
    monkeypatch.setattr(T, "BPE_APPLY_FOLD_MAX", 0)
    fix_w = sorted(
        (r["doc_id"], tuple(r["tokens"]))
        for r in T.bpe_apply_merges(wdf, wrules).collect()
    )
    assert fix_w == seq_w


def test_apply_ranked_merges_parallelism_pin(spark, monkeypatch):
    """Executed evidence for the r12 apply-chain parallelism pin (the
    r12 verdict's ask): the result of _apply_ranked_merges — fixpoint
    AND fold-chain branches — carries >= max(defaultParallelism,
    input partitions) partitions end-to-end, not the 1-2 tasks AQE
    byte-based coalescing would leave on a tiny-bytes distinct()
    output, and the r13 floor keeps an input that is ALREADY wider
    than defaultParallelism at its own width."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators import text as T

    dp = spark.sparkContext.defaultParallelism
    docs = ["the cat sat on the mat", "a cat ate the mat", "on a mat"]
    sdf = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    # the AQE-starved shape the pin targets: a distinct() exchange
    # whose output is tiny in bytes
    cur = (
        sdf.select(F.explode(T.tokens("text")).alias("_w"))
        .distinct()
        .select("_w", T._word_symbols(F.col("_w"), "</w>").alias("_s"))
        .localCheckpoint(eager=False)
    )
    rules = [("t", "h"), ("th", "e"), ("a", "t")]

    # fixpoint branch (patch the switch to 0, as the differential
    # test does)
    monkeypatch.setattr(T, "BPE_APPLY_FOLD_MAX", 0)
    out_fix = T._apply_ranked_merges(cur, "_s", rules, "", ["_w"])
    assert out_fix.rdd.getNumPartitions() >= dp

    # fold-chain branch
    monkeypatch.setattr(T, "BPE_APPLY_FOLD_MAX", 24)
    out_fold = T._apply_ranked_merges(cur, "_s", rules, "", ["_w"])
    assert out_fold.rdd.getNumPartitions() >= dp

    # floor: an input already wider than defaultParallelism keeps its
    # own width (the 100 TB case — never down-partition a wide scan)
    wide = cur.repartition(dp * 2, "_w")
    out_wide = T._apply_ranked_merges(wide, "_s", rules, "", ["_w"])
    assert out_wide.rdd.getNumPartitions() >= dp * 2


def test_bpe_fixpoint_validation_rejects_bad_tables(spark):
    """_validate_fixpoint_merges: self-pairs, whitespace symbols, and
    tables where a later rule produces an earlier rule's input (the
    one case where min-rank fixpoint diverges from sequential replay)
    must all be rejected loudly."""
    import pytest

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import (
        _validate_fixpoint_merges,
    )

    with pytest.raises(ValueError, match="self-pair"):
        _validate_fixpoint_merges([("a", "a")], "")
    with pytest.raises(ValueError, match="whitespace"):
        _validate_fixpoint_merges([("a b", "c")], "")
    # rule 0 consumes 'bc', rule 1 PRODUCES 'bc' — fixpoint would
    # fuse ('a','bc') on adjacencies sequential replay never sees
    with pytest.raises(ValueError, match="LATER rule"):
        _validate_fixpoint_merges([("a", "bc"), ("b", "c")], "")
    # learner-shaped table passes
    _validate_fixpoint_merges([("b", "c"), ("a", "bc")], "")


def test_bpe_fixpoint_empty_merges_is_identity(spark):
    """_ranked_fixpoint_apply with an EMPTY rule table returns the
    input unchanged (the vacuous-table guard: public callers route
    <= BPE_APPLY_FOLD_MAX rules to the fold branch, so only direct
    internal calls can reach the fixpoint with zero rules — the
    untyped-literal construction below the guard would fail there)."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import (
        _ranked_fixpoint_apply,
    )

    df = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, ["x"])], ["doc_id", "syms"]
    )
    out = _ranked_fixpoint_apply(df, "syms", [], "", ["doc_id"])
    assert out is df
    assert sorted((r["doc_id"], tuple(r["syms"])) for r in out.collect()) == [
        (1, ("a", "b", "c")),
        (2, ("x",)),
    ]


def test_bpe_fixpoint_collision_fallback(spark, monkeypatch):
    """A learner-legitimate COLLISION table (a later rule produces an
    earlier rule's input string — only possible under the subword
    sep='' concatenation) fails the fixpoint precondition — past
    BPE_APPLY_FOLD_MAX the shared branch point must FALL BACK to the
    sequential fold (which replays such tables correctly) up to
    BPE_APPLY_SEQ_FALLBACK_MAX rules, and re-raise with guidance
    beyond that (the fold chain hits the measured ~256-rank Catalyst
    cliff, so there is no safe path)."""
    import pytest

    from etl_based_real_time_air_quality_monitoring_system_spark.operators import text as T

    # subword rules: rank 0 consumes symbol 'bc', rank 2 PRODUCES it
    # (b+c under sep='') — sequential replay never revisits rank 0,
    # min-rank fixpoint would wrongly apply it after rank 2 fires
    rules = [("a", "bc"), ("x", "y"), ("b", "c")]
    df = spark.createDataFrame(
        [(0, "abc xy"), (1, "bca cab")], ["doc_id", "text"]
    )
    # sequential semantics reference (fold path, switch above table)
    monkeypatch.setattr(T, "BPE_APPLY_FOLD_MAX", 24)
    expect = sorted(
        tuple(r) for r in T.bpe_subword_encode(df, rules).collect()
    )
    # force the fixpoint branch: validation fails, fallback replays
    # the fold chain — output must be identical
    monkeypatch.setattr(T, "BPE_APPLY_FOLD_MAX", 0)
    got = sorted(
        tuple(r) for r in T.bpe_subword_encode(df, rules).collect()
    )
    assert got == expect
    # beyond the fold-safe bound the error must propagate
    monkeypatch.setattr(T, "BPE_APPLY_SEQ_FALLBACK_MAX", 2)
    with pytest.raises(ValueError, match="LATER rule"):
        T.bpe_subword_encode(df, rules)
