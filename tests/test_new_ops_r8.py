"""Round-4-continuation operators: k-NN self-join, leak-proof split,
BPE training, PMI collocations — oracle parity plus the structural
properties the oracles can't see."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from tests.oracle import compare


@pytest.mark.parametrize(
    "name",
    [
        "knn_join_embeddings",
        "curation_split_leakproof",
        "bpe_train",
        "text_collocations_pmi",
    ],
)
def test_oracle_parity(spark, name):
    from multithreaded_map_reduce_spark.queries import ALL_ORACLES, ALL_QUERIES

    compare(spark, ALL_QUERIES[name], ALL_ORACLES[name], SF_SMOKE)


def test_knn_join_salt_invariant(spark):
    """Salting is a parallelism knob, never a result knob."""
    from multithreaded_map_reduce_spark.operators.similarity import knn_join_ivf
    from multithreaded_map_reduce_spark.sources.catalog import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    a = knn_join_ivf(emb, "vec_id", "embedding", k=3, n_cells=8, nprobe=2, salt=1)
    b = knn_join_ivf(emb, "vec_id", "embedding", k=3, n_cells=8, nprobe=2, salt=8)
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


def test_knn_join_shape(spark):
    """No self-pairs; every query has <= k neighbors with ranks 1..m."""
    from multithreaded_map_reduce_spark.queries.similarity import (
        KNN_K,
        knn_join_embeddings,
    )

    rows = knn_join_embeddings(spark, SF_SMOKE).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        assert r["query_id"] != r["neighbor_id"]
        by_q.setdefault(r["query_id"], []).append(r)
    for rs in by_q.values():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        assert len(rs) <= KNN_K


def test_leakproof_split_never_separates_near_dups(spark):
    """THE contract: a minhash near-dup pair always lands in ONE split
    (the plain doc_id-hash split has no such guarantee)."""
    from multithreaded_map_reduce_spark.operators.dedup import minhash_dedup_pairs
    from multithreaded_map_reduce_spark.queries.curation import (
        curation_split_leakproof,
    )
    from multithreaded_map_reduce_spark.sources.catalog import load_table

    split = {
        r["doc_id"]: r["split"]
        for r in curation_split_leakproof(spark, SF_SMOKE).collect()
    }
    docs = load_table(spark, SF_SMOKE, "documents")
    pairs = minhash_dedup_pairs(
        docs, "doc_id", "text", n=2, bands=8, rows=4, threshold=0.5
    ).collect()
    assert pairs, "fixture should plant near-dups"
    for p in pairs:
        assert split[p["id_a"]] == split[p["id_b"]], (p["id_a"], p["id_b"])


def test_leakproof_split_covers_every_doc(spark):
    from multithreaded_map_reduce_spark.queries.curation import (
        curation_split_leakproof,
    )
    from multithreaded_map_reduce_spark.sources.catalog import load_table

    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    out = curation_split_leakproof(spark, SF_SMOKE)
    assert out.count() == n_docs
    assert out.select("doc_id").distinct().count() == n_docs


def test_bpe_train_round1_matches_top_pairs(spark):
    """Round 1 of training counts raw adjacent char pairs — exactly the
    statistic bpe_top_pairs ranks, so the learned first merge must be
    its rank-1 row."""
    from multithreaded_map_reduce_spark.queries.textstats import (
        bpe_top_pairs,
        bpe_train,
    )

    top1 = (
        bpe_top_pairs(spark, SF_SMOKE).filter("rank = 1").collect()[0]
    )
    first = bpe_train(spark, SF_SMOKE).filter("round = 1").collect()[0]
    assert first["pair_a"] + first["pair_b"] == top1["pair"]
    assert first["pair_count"] == top1["pair_count"]


def test_bpe_train_rounds_distinct_and_positive(spark):
    from multithreaded_map_reduce_spark.queries.textstats import (
        BPE_TRAIN_ROUNDS,
        bpe_train,
    )

    rows = bpe_train(spark, SF_SMOKE).collect()
    assert len(rows) == BPE_TRAIN_ROUNDS
    merges = {(r["pair_a"], r["pair_b"]) for r in rows}
    assert len(merges) == BPE_TRAIN_ROUNDS  # a merged pair can't win twice
    assert all(r["pair_count"] > 0 for r in rows)


def test_pmi_ranks_and_support(spark):
    from multithreaded_map_reduce_spark.queries.mining import (
        PMI_MIN_PAIR,
        text_collocations_pmi,
    )

    rows = sorted(
        text_collocations_pmi(spark, SF_SMOKE).collect(), key=lambda r: r["rank"]
    )
    assert rows
    units = [r["pmi_units"] for r in rows]
    assert units == sorted(units, reverse=True)
    assert all(r["c_ab"] >= PMI_MIN_PAIR for r in rows)


@pytest.mark.parametrize(
    "name",
    ["linkage_golden_record", "kmv_join_estimate", "text_vocab_coverage"],
)
def test_oracle_parity_batch2(spark, name):
    from multithreaded_map_reduce_spark.queries import ALL_ORACLES, ALL_QUERIES

    compare(spark, ALL_QUERIES[name], ALL_ORACLES[name], SF_SMOKE)


def test_golden_record_structure(spark):
    """Each cluster: >= 2 members, golden_id is the min member, every
    member belongs to exactly one cluster."""
    from multithreaded_map_reduce_spark.queries.mining import linkage_golden_record

    rows = linkage_golden_record(spark, SF_SMOKE).collect()
    assert rows
    seen: set[int] = set()
    for r in rows:
        ids = [int(x) for x in r["member_ids"].split(",")]
        assert r["n_members"] == len(ids) >= 2
        assert r["golden_id"] == min(ids) == r["cluster_id"]
        assert not seen.intersection(ids)
        seen.update(ids)


def test_kmv_join_estimate_sanity(spark):
    """k=64 → ~12% relative error; assert a loose 50% envelope and the
    exact overlap's presence."""
    from multithreaded_map_reduce_spark.queries.sketches import kmv_join_estimate

    r = kmv_join_estimate(spark, SF_SMOKE).collect()[0]
    assert r["exact_overlap"] > 0
    assert 0.5 * r["exact_overlap"] <= r["est_overlap"] <= 1.5 * r["exact_overlap"]


def test_vocab_coverage_rates(spark):
    from multithreaded_map_reduce_spark.queries.textstats import text_vocab_coverage

    rows = text_vocab_coverage(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["oov_rate"] <= 1.0
        assert r["n_oov"] <= r["n_tokens"]


def test_aes_sample_oracle_parity(spark):
    from multithreaded_map_reduce_spark.queries import ALL_ORACLES, ALL_QUERIES

    compare(
        spark,
        ALL_QUERIES["curation_sample_aes"],
        ALL_ORACLES["curation_sample_aes"],
        SF_SMOKE,
    )


def test_aes_sample_exact_k_and_weight_bias(spark):
    """Exactly k rows, and the weighted draw prefers long docs: the
    sample's mean n_chars must exceed the corpus mean (SF_SMOKE corpus
    has enough weight spread for this to hold deterministically)."""
    from multithreaded_map_reduce_spark.queries.curation import (
        AES_K,
        curation_sample_aes,
    )
    from multithreaded_map_reduce_spark.sources.catalog import load_table

    rows = curation_sample_aes(spark, SF_SMOKE).collect()
    assert len(rows) == AES_K
    assert len({r["doc_id"] for r in rows}) == AES_K  # without replacement
    sample_mean = sum(r["n_chars"] for r in rows) / len(rows)
    corpus = load_table(spark, SF_SMOKE, "documents").filter("n_chars > 0")
    corpus_mean = corpus.agg({"n_chars": "avg"}).collect()[0][0]
    assert sample_mean > corpus_mean


@pytest.mark.parametrize(
    "name",
    [
        "copurchase_rules",
        "quality_benford",
        "privacy_dp_counts",
        "connector_federated_union",
    ],
)
def test_oracle_parity_batch3(spark, name):
    from multithreaded_map_reduce_spark.queries import ALL_ORACLES, ALL_QUERIES

    compare(spark, ALL_QUERIES[name], ALL_ORACLES[name], SF_SMOKE)


def test_rules_probability_bounds(spark):
    from multithreaded_map_reduce_spark.queries.mining import copurchase_rules

    rows = copurchase_rules(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0.0 < r["confidence"] <= 1.0
        assert r["lift"] > 0.0


def test_benford_shares_sum_to_one(spark):
    from multithreaded_map_reduce_spark.queries.quality import quality_benford

    rows = quality_benford(spark, SF_SMOKE).collect()
    assert {r["digit"] for r in rows} <= set(range(1, 10))
    assert abs(sum(r["obs_share"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["benford_share"] for r in rows) - 1.0) < 1e-4


def test_dp_counts_noise_bounded_and_deterministic(spark):
    """Noise is Laplace(1): |noisy - true| within a sane bound, and two
    invocations produce identical output (derandomized mechanism)."""
    from multithreaded_map_reduce_spark.queries.privacy import privacy_dp_counts
    from multithreaded_map_reduce_spark.sources.catalog import load_table

    a = {r["lang"]: r["noisy_n"] for r in privacy_dp_counts(spark, SF_SMOKE).collect()}
    b = {r["lang"]: r["noisy_n"] for r in privacy_dp_counts(spark, SF_SMOKE).collect()}
    assert a == b
    true = {
        r["lang"]: r["n"]
        for r in load_table(spark, SF_SMOKE, "documents")
        .groupBy("lang")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    for lang, noisy in a.items():
        assert abs(noisy - true[lang]) < 15  # |Laplace(1)| > 15 has p < 4e-7


def test_seasonal_profile_oracle_parity(spark):
    from multithreaded_map_reduce_spark.queries import ALL_ORACLES, ALL_QUERIES

    compare(
        spark,
        ALL_QUERIES["timeseries_seasonal_profile"],
        ALL_ORACLES["timeseries_seasonal_profile"],
        SF_SMOKE,
    )


def test_seasonal_profile_cells(spark):
    from multithreaded_map_reduce_spark.queries.timeseries import (
        timeseries_seasonal_profile,
    )

    rows = timeseries_seasonal_profile(spark, SF_SMOKE).collect()
    assert all(0 <= r["dow"] <= 6 and 0 <= r["hour"] <= 23 for r in rows)
    assert len({(r["dow"], r["hour"]) for r in rows}) == len(rows)
    assert all(r["load_vs_hour_mean"] > 0 for r in rows)


@pytest.mark.parametrize(
    "name", ["text_lm_interpolated", "curation_interleave"]
)
def test_oracle_parity_batch4(spark, name):
    from multithreaded_map_reduce_spark.queries import ALL_ORACLES, ALL_QUERIES

    compare(spark, ALL_QUERIES[name], ALL_ORACLES[name], SF_SMOKE)


def test_interpolated_nll_between_models(spark):
    """JM smoothing can only soften the bigram surprise: per corpus the
    interpolated avg nll must be >= the pure-bigram avg (interpolation
    mixes in the flatter unigram) while staying finite."""
    from multithreaded_map_reduce_spark.queries.textstats import (
        text_lm_bigram,
        text_lm_interpolated,
    )

    bi = {r["doc_id"]: r["avg_nll"] for r in text_lm_bigram(spark, SF_SMOKE).collect()}
    jm = {
        r["doc_id"]: r["avg_nll"]
        for r in text_lm_interpolated(spark, SF_SMOKE).collect()
    }
    assert set(bi) == set(jm)
    # not a per-doc theorem (a frequent unigram can beat a rare bigram),
    # but corpus-wide the mixture must sit above the trained-on-itself
    # bigram model
    assert sum(jm.values()) >= sum(bi.values())


def test_interleave_round_robin_property(spark):
    """Among the first n_sources positions, every source appears once
    (no source starves the head of the schedule)."""
    from multithreaded_map_reduce_spark.queries.curation import curation_interleave
    from multithreaded_map_reduce_spark.sources.catalog import load_table

    rows = sorted(
        curation_interleave(spark, SF_SMOKE).collect(), key=lambda r: r["position"]
    )
    n_src = load_table(spark, SF_SMOKE, "documents").select("source").distinct().count()
    head = [r["source"] for r in rows[:n_src]]
    assert len(set(head)) == n_src
    assert [r["position"] for r in rows] == list(range(1, len(rows) + 1))


def test_markov_stationary_oracle_parity(spark):
    from multithreaded_map_reduce_spark.queries import ALL_ORACLES, ALL_QUERIES

    compare(
        spark,
        ALL_QUERIES["events_markov_stationary"],
        ALL_ORACLES["events_markov_stationary"],
        SF_SMOKE,
    )


def test_markov_stationary_mass_conserved(spark):
    """Fixed-point units must sum to ~MK_SCALE (truncation loses at
    most iters × states units) and every state keeps positive mass."""
    from multithreaded_map_reduce_spark.queries.graphrank import (
        MK_ITERS,
        MK_SCALE,
        MK_STATES,
        events_markov_stationary,
    )

    rows = events_markov_stationary(spark, SF_SMOKE).collect()
    assert len(rows) == MK_STATES
    total = sum(r["prob_units"] for r in rows)
    slack = MK_ITERS * MK_STATES * max(MK_STATES, 64)
    assert MK_SCALE - slack <= total <= MK_SCALE
    assert all(r["prob_units"] > 0 for r in rows)


@pytest.mark.parametrize(
    "name",
    ["embedding_neardup_clusters", "quality_crosstab_chisq", "timeseries_cusum"],
)
def test_oracle_parity_batch5(spark, name):
    from multithreaded_map_reduce_spark.queries import ALL_ORACLES, ALL_QUERIES

    compare(spark, ALL_QUERIES[name], ALL_ORACLES[name], SF_SMOKE)


def test_embedding_clusters_consistent_with_pairs(spark):
    """Every near-dup pair shares a canonical id; singletons are their
    own canonical."""
    from multithreaded_map_reduce_spark.operators.dedup import embedding_neardup_pairs
    from multithreaded_map_reduce_spark.queries.dedup import (
        embedding_neardup_clusters,
    )
    from multithreaded_map_reduce_spark.sources.catalog import load_table

    canon = {
        r["vec_id"]: r["canonical_id"]
        for r in embedding_neardup_clusters(spark, SF_SMOKE).collect()
    }
    emb = load_table(spark, SF_SMOKE, "embeddings")
    pairs = embedding_neardup_pairs(
        emb, "vec_id", "embedding", "label", min_cosine=0.35
    ).collect()
    assert pairs
    in_pairs = set()
    for p in pairs:
        assert canon[p["id_a"]] == canon[p["id_b"]]
        in_pairs.update((p["id_a"], p["id_b"]))
    for vid, c in canon.items():
        if vid not in in_pairs:
            assert c == vid


def test_chisq_marginals_consistent(spark):
    """Summing expected counts over all cells must give N back."""
    from multithreaded_map_reduce_spark.queries.quality import quality_crosstab_chisq

    rows = quality_crosstab_chisq(spark, SF_SMOKE).collect()
    n_obs = sum(r["obs"] for r in rows)
    n_exp = sum(r["expected"] for r in rows)
    assert abs(n_exp - n_obs) < 1.0  # expected marginals telescope to N
    assert all(r["chisq_contrib"] >= 0 for r in rows)


def test_cusum_telescopes_to_zero(spark):
    """The last cumulative scaled deviation is Σ(n_d·D − total) = 0."""
    from multithreaded_map_reduce_spark.queries.timeseries import timeseries_cusum

    rows = sorted(timeseries_cusum(spark, SF_SMOKE).collect(), key=lambda r: r["day"])
    assert rows
    assert rows[-1]["cusum_scaled"] == 0


def test_binaryfile_decode_oracle_parity(spark):
    from multithreaded_map_reduce_spark.queries import ALL_ORACLES, ALL_QUERIES

    compare(
        spark,
        ALL_QUERIES["connector_binaryfile_decode"],
        ALL_ORACLES["connector_binaryfile_decode"],
        SF_SMOKE,
    )


def test_binaryfile_matches_inline_decode(spark):
    """The file round-trip must be byte-transparent: features from
    binaryFile-read blobs equal features from the in-memory blobs."""
    from pyspark.sql import functions as F

    from multithreaded_map_reduce_spark.operators.multimodal import (
        documents_as_ppm_images,
        extract_image_features,
    )
    from multithreaded_map_reduce_spark.queries.connectors import (
        connector_binaryfile_decode,
    )
    from multithreaded_map_reduce_spark.sources.catalog import load_table

    via_files = {
        tuple(r) for r in connector_binaryfile_decode(spark, SF_SMOKE).collect()
    }
    docs = load_table(spark, SF_SMOKE, "documents").filter(
        (F.col("doc_id") < 100) & (F.length("text") > 0)
    )
    inline = {
        tuple(r)
        for r in extract_image_features(documents_as_ppm_images(docs)).collect()
    }
    assert via_files == inline


def test_hll_set_ops_oracle_parity(spark):
    from multithreaded_map_reduce_spark.queries import ALL_ORACLES, ALL_QUERIES

    compare(spark, ALL_QUERIES["hll_set_ops"], ALL_ORACLES["hll_set_ops"], SF_SMOKE)


def test_hll_set_ops_algebra(spark):
    """Algebraic identities (accuracy at tiny cardinalities is NOT the
    contract — the raw estimator's small-range bias is deliberate and
    documented in hll_distinct): max-merge union dominates each side,
    never exceeds the sum, and intersection is exactly the
    inclusion-exclusion residue. In this fixture every customer has
    orders but only some customers have events, so A ⊂ B strictly."""
    from multithreaded_map_reduce_spark.queries.sketches import hll_set_ops

    r = hll_set_ops(spark, SF_SMOKE).collect()[0]
    assert r["hll_union"] >= max(r["hll_a"], r["hll_b"]) - 1e-3
    assert r["hll_union"] <= r["hll_a"] + r["hll_b"] + 1e-3
    assert r["exact_overlap"] > 0
    ie = round(r["hll_a"] + r["hll_b"] - r["hll_union"], 3)
    assert abs(ie - r["hll_intersection"]) <= 2e-3
    # events users are a PROPER subset of customers: union ≈ B side
    assert r["hll_a"] < r["hll_b"]
    assert r["hll_union"] == r["hll_b"]


@pytest.mark.parametrize("name", ["text_zipf_fit", "quality_mahalanobis2d"])
def test_oracle_parity_batch6(spark, name):
    from multithreaded_map_reduce_spark.queries import ALL_ORACLES, ALL_QUERIES

    compare(spark, ALL_QUERIES[name], ALL_ORACLES[name], SF_SMOKE)


def test_zipf_slope_negative(spark):
    """Frequency falls with rank, so the fitted log-log slope must be
    negative with a negative-correlation structure."""
    from multithreaded_map_reduce_spark.queries.textstats import text_zipf_fit

    r = text_zipf_fit(spark, SF_SMOKE).collect()[0]
    assert r["vocab_size"] > 1
    assert r["zipf_slope"] < 0


def test_mahalanobis_ranks_and_positivity(spark):
    from multithreaded_map_reduce_spark.queries.quality import (
        MAHA_TOPK,
        quality_mahalanobis2d,
    )

    rows = sorted(
        quality_mahalanobis2d(spark, SF_SMOKE).collect(), key=lambda r: r["rank"]
    )
    assert 0 < len(rows) <= MAHA_TOPK
    vals = [r["maha_sq"] for r in rows]
    assert vals == sorted(vals, reverse=True)
    assert all(v >= 0 for v in vals)


@pytest.mark.parametrize(
    "name", ["text_entropy_by_lang", "arrow_group_robust_stats"]
)
def test_oracle_parity_batch7(spark, name):
    from multithreaded_map_reduce_spark.queries import ALL_ORACLES, ALL_QUERIES

    compare(spark, ALL_QUERIES[name], ALL_ORACLES[name], SF_SMOKE)


def test_entropy_bounds(spark):
    """0 <= H <= ln(vocab) per language."""
    import math

    from multithreaded_map_reduce_spark.queries.textstats import text_entropy_by_lang

    rows = text_entropy_by_lang(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert -1e-9 <= r["entropy_nats"] <= math.log(r["vocab"]) + 1e-6


def test_arrow_group_stats_medians_ordered(spark):
    from multithreaded_map_reduce_spark.queries.udfs import arrow_group_robust_stats

    for r in arrow_group_robust_stats(spark, SF_SMOKE).collect():
        assert r["min_chars"] <= r["median_lo"] <= r["median_hi"] <= r["max_chars"]


def test_pipeline_report_oracle_parity(spark):
    from multithreaded_map_reduce_spark.queries import ALL_ORACLES, ALL_QUERIES

    compare(
        spark,
        ALL_QUERIES["curation_pipeline_report"],
        ALL_ORACLES["curation_pipeline_report"],
        SF_SMOKE,
    )


def test_pipeline_report_accounting(spark):
    """Split totals can't exceed the corpus, and exact dedup + quality
    filtering must actually drop something in this fixture."""
    from multithreaded_map_reduce_spark.queries.curation import (
        curation_pipeline_report,
    )
    from multithreaded_map_reduce_spark.sources.catalog import load_table

    rows = curation_pipeline_report(spark, SF_SMOKE).collect()
    n_total = load_table(spark, SF_SMOKE, "documents").count()
    kept = sum(r["n_docs"] for r in rows)
    assert 0 < kept < n_total
    assert {r["split"] for r in rows} <= {"train", "valid", "test"}
    assert all(r["sum_tokens"] > 0 and r["sum_chars"] > 0 for r in rows)
