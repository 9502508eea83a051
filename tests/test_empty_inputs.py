"""Empty-input totality: every core operator must return an EMPTY
result (never raise) when handed zero rows — the behavior a pipeline
stage sees on an empty partition day, a fully-filtered source, or a
first incremental run."""

from __future__ import annotations

import pytest


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


def test_exact_dedup_empty(spark):
    from multithreaded_map_reduce_spark.operators.dedup import exact_dedup

    assert exact_dedup(_empty_docs(spark), ["text"], "doc_id").count() == 0


def test_minhash_pairs_empty(spark):
    from multithreaded_map_reduce_spark.operators.dedup import minhash_dedup_pairs

    assert minhash_dedup_pairs(_empty_docs(spark), "doc_id", "text").count() == 0


def test_simhash_pairs_empty(spark):
    from multithreaded_map_reduce_spark.operators.dedup import simhash_pairs

    assert simhash_pairs(_empty_docs(spark), "doc_id", "text").count() == 0


def test_shingles_empty_and_whitespace_only(spark):
    from multithreaded_map_reduce_spark.operators.dedup import shingle_hash_rows

    assert shingle_hash_rows(_empty_docs(spark), "doc_id", "text").count() == 0
    ws = spark.createDataFrame([(1, "   "), (2, "")], "doc_id long, text string")
    assert shingle_hash_rows(ws, "doc_id", "text").count() == 0


def test_connected_components_empty(spark):
    from multithreaded_map_reduce_spark.operators.graph import connected_components

    edges = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(edges).count() == 0


def test_knn_join_empty(spark):
    from multithreaded_map_reduce_spark.operators.similarity import knn_join_ivf

    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert knn_join_ivf(emb, "vec_id", "embedding", dim=4).count() == 0


def test_incremental_pairs_empty_batch(spark):
    """First-ingest shape: corpus present, batch empty (and vice versa)."""
    from multithreaded_map_reduce_spark.operators.dedup import (
        minhash_incremental_pairs,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma")],
        "doc_id long, text string",
    )
    empty = _empty_docs(spark)
    assert minhash_incremental_pairs(corpus, empty, "doc_id", "text").count() == 0
    out = minhash_incremental_pairs(empty, corpus, "doc_id", "text")
    assert out.filter("match_in = 'corpus'").count() == 0


# ------------------------------- round-10 continuation operators


def test_hits_empty_edges_splits_mass_uniformly(spark):
    """HITS on a graph with NO edges: normalization denominators are
    0 → div yields NULL auth/hub (no raise, no wrong mass)."""
    from multithreaded_map_reduce_spark.operators.pagerank import hits

    nodes = spark.createDataFrame([(0,), (1,)], ["id"])
    edges = spark.createDataFrame([], "src long, dst long, w long")
    rows = hits(nodes, edges, num_iter=2).collect()
    assert len(rows) == 2
    assert all(r.auth_units is None and r.hub_units is None for r in rows)


def test_patchify_empty_corpus(spark):
    from unittest import mock

    import multithreaded_map_reduce_spark.queries.multimodal as mm

    empty = spark.createDataFrame([], "doc_id long, text string")
    with mock.patch.object(mm, "load_table", lambda s, sf, t: empty):
        assert mm.multimodal_image_patches(spark, "x").count() == 0


def test_shot_detection_empty_corpus(spark):
    from unittest import mock

    import multithreaded_map_reduce_spark.queries.multimodal as mm

    empty = spark.createDataFrame([], "doc_id long, text string")
    with mock.patch.object(mm, "load_table", lambda s, sf, t: empty):
        assert mm.multimodal_shot_detection(spark, "x").count() == 0


def test_rake_empty_and_all_stopword_corpus(spark):
    from unittest import mock

    import multithreaded_map_reduce_spark.queries.textstats as ts

    for rows in ([], [(1, "the of to and")]):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        with mock.patch.object(ts, "load_table", lambda s, sf, t: df):
            assert ts.text_rake_keywords(spark, "x").count() == 0


def test_changepoint_single_day_series(spark):
    """One distinct day → no candidate split → EMPTY result, no raise."""
    from unittest import mock

    import multithreaded_map_reduce_spark.queries.timeseries as tq

    one = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1.0), (2, "2024-01-01 11:00:00", 2.0)],
        "event_id long, ts string, value double",
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "value")
    with mock.patch.object(tq, "load_table", lambda s, sf, t: one):
        assert tq.timeseries_changepoint(spark, "x").count() == 0


def test_kendall_single_day_yields_null_tau(spark):
    from unittest import mock

    import multithreaded_map_reduce_spark.queries.timeseries as tq

    one = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1.0)],
        "event_id long, ts string, value double",
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "value")
    with mock.patch.object(tq, "load_table", lambda s, sf, t: one):
        rows = tq.timeseries_kendall_comovement(spark, "x").collect()
    assert len(rows) == 1
    assert rows[0].n0 == 0
    assert rows[0].tau_b is None or rows[0].tau_b != rows[0].tau_b


def test_holt_winters_short_series(spark):
    """A 3-bucket series (far below the 36-tap window) still forecasts
    — missing lags enter the fold as zeros."""
    from unittest import mock

    import multithreaded_map_reduce_spark.queries.timeseries as tq

    short = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 1.0),
            (2, "2024-01-01 11:30:00", 1.0),
            (3, "2024-01-01 12:10:00", 1.0),
        ],
        "event_id long, ts string, value double",
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "value")
    with mock.patch.object(tq, "load_table", lambda s, sf, t: short):
        rows = tq.timeseries_holt_winters(spark, "x").collect()
    assert len(rows) == 3
    assert all(r.forecast is not None for r in rows)


def test_ams_f2_empty_stream(spark):
    from unittest import mock

    import multithreaded_map_reduce_spark.queries.sketches as sk

    empty = spark.createDataFrame([], "l_partkey long")
    with mock.patch.object(sk, "load_table", lambda s, sf, t: empty):
        rows = sk.sketch_ams_f2(spark, "x").collect()
    # empty stream: n_rows = 0; true F2 side aggregates to NULL/0 —
    # must not raise
    assert len(rows) <= 1


def test_feature_hashing_empty_corpus(spark):
    from unittest import mock

    import multithreaded_map_reduce_spark.queries.textstats as ts

    empty = spark.createDataFrame([], "doc_id long, text string")
    with mock.patch.object(ts, "load_table", lambda s, sf, t: empty):
        rows = ts.text_feature_hashing(spark, "x").collect()
    assert len(rows) == 1
    assert rows[0].buckets_used == 0
