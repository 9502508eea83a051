"""Dedup suite vs DuckDB oracles + semantic sanity checks."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from tests.oracle import compare

DEDUP_QUERIES = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "embedding_neardup",
]


@pytest.mark.parametrize("name", DEDUP_QUERIES)
def test_oracle_parity(spark, name):
    from multithreaded_map_reduce_spark.queries import ALL_ORACLES, ALL_QUERIES

    compare(spark, ALL_QUERIES[name], ALL_ORACLES[name], SF_SMOKE)


def test_near_dups_found(spark):
    """The fixture plants true near-duplicates; the char-ngram query
    must surface at least one pair at very high similarity."""
    from multithreaded_map_reduce_spark.queries.dedup import dedup_ngram_jaccard

    rows = dedup_ngram_jaccard(spark, SF_SMOKE).collect()
    assert rows, "expected planted near-dup pairs"
    assert any(r["jaccard"] >= 0.9 for r in rows)


def test_dedup_idempotent(spark):
    """Dedup of an already-deduped set is the identity (property test)."""
    from multithreaded_map_reduce_spark.operators.dedup import exact_dedup
    from multithreaded_map_reduce_spark.sources.catalog import load_table

    from pyspark.sql import functions as F

    docs = load_table(spark, SF_SMOKE, "documents")
    once = exact_dedup(docs, ["text"], "doc_id")
    # copies are conserved
    total = once.groupBy().sum("n_copies").collect()[0][0]
    assert total == docs.count()
    # re-dedup over survivors yields all-singleton groups
    kept = docs.join(once, docs.doc_id == once.keep_id, "left_semi")
    again = exact_dedup(kept, ["text"], "doc_id")
    assert again.filter(F.col("n_copies") > 1).count() == 0


def test_simhash_banding_lossless(spark):
    """Band-join candidates ≡ brute force for hamming ≤ 2 (pigeonhole).

    The oracle parity test already proves this against DuckDB brute
    force; here we additionally check pair symmetry/ordering invariants.
    """
    from multithreaded_map_reduce_spark.queries.dedup import dedup_simhash

    rows = dedup_simhash(spark, SF_SMOKE).collect()
    assert all(r["id_a"] < r["id_b"] for r in rows)
    assert len({(r["id_a"], r["id_b"]) for r in rows}) == len(rows)


def test_lsh_bucket_cap_bounds_degenerate_buckets(spark):
    """500 identical docs would make every band bucket hold 500 ids and
    the candidate join go quadratic (~2M pairs); the max_bucket cap must
    drop those buckets before the self-join."""
    from pyspark.sql import functions as F

    from multithreaded_map_reduce_spark.operators.dedup import (
        minhash_candidates,
        shingle_hash_rows,
    )

    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate banner text repeated everywhere").alias("text"),
    )
    rows = shingle_hash_rows(docs, "doc_id", "text", n=2)
    capped = minhash_candidates(rows, bands=16, rows_per_band=2, max_bucket=100)
    assert capped.count() == 0  # every bucket is degenerate -> dropped
    uncapped = minhash_candidates(rows, bands=16, rows_per_band=2, max_bucket=None)
    assert uncapped.count() == 500 * 499 // 2  # what the cap prevents


def test_shingle_rows_match_short_docs(spark):
    """Documents with fewer than n tokens fold all tokens into one
    shingle; zero-token documents drop out."""
    from pyspark.sql import functions as F

    from multithreaded_map_reduce_spark.functions.hashing import (
        POLY_BASE,
        POLY_MOD,
        token_hash,
    )
    from multithreaded_map_reduce_spark.operators.dedup import shingle_hash_rows

    docs = spark.createDataFrame(
        [(1, "solo"), (2, "two tokens"), (3, "   "), (4, "a b c")],
        "doc_id long, text string",
    )
    got = {
        r["id"]: r["h"]
        for r in shingle_hash_rows(docs, "doc_id", "text", n=2).collect()
    }
    th = {
        r["t"]: r["h"]
        for r in spark.createDataFrame(
            [("solo",), ("two",), ("tokens",), ("a",), ("b",), ("c",)], "t string"
        ).select("t", token_hash(F.col("t")).alias("h")).collect()
    }
    assert got[1] == th["solo"]  # 1 token: fold = the token hash itself
    assert got[2] == (th["two"] * POLY_BASE + th["tokens"]) % POLY_MOD
    assert 3 not in got  # whitespace-only: no tokens, no rows


def test_connected_components_chain(spark):
    """Min-label propagation must close transitive chains (diameter 3
    needs several rounds), not just direct neighbors."""
    from multithreaded_map_reduce_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (21, 20), (21, 22)],
        "id_a long, id_b long",
    )
    got = {r["id"]: r["root"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_dedup_clusters_oracle(spark):
    from multithreaded_map_reduce_spark.queries import ALL_ORACLES, ALL_QUERIES
    from tests.conftest import SF_SMOKE
    from tests.oracle import compare

    assert compare(
        spark, ALL_QUERIES["dedup_clusters"], ALL_ORACLES["dedup_clusters"], SF_SMOKE
    ) > 0


def test_simhash_sql_twin_matches_dataframe_builder(spark):
    """Identical (id_a, id_b, hamming) sets from the SQL-string and
    Column-builder simhash pipelines."""
    from multithreaded_map_reduce_spark.operators.dedup import (
        simhash_pairs,
        simhash_pairs_sql,
    )
    from multithreaded_map_reduce_spark.sources.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    old = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_pairs(docs, "doc_id", "text", 2).collect()
    }
    new = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_pairs_sql(docs, "doc_id", "text", 2).collect()
    }
    assert old == new and old


def test_star_cc_matches_label_propagation(spark):
    """large-star/small-star must produce the identical (id, root)
    labeling as min-label propagation — on a DEEP path graph (the case
    star-CC exists for: O(log n) rounds vs O(diameter)), a seeded
    random graph, and cliques bridged by a chain."""
    import random

    from multithreaded_map_reduce_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)
    nodes = list(range(100, 160))
    cases = [
        [(i, i + 1) for i in range(40)],  # path: diameter 40
        [(rng.choice(nodes), rng.choice(nodes)) for _ in range(50)],
        [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (12, 10), (2, 10), (50, 51)],
    ]
    for es in cases:
        edges = spark.createDataFrame(
            [(a, b) for a, b in es if a != b], "id_a long, id_b long"
        )
        lp = {(r.id, r.root) for r in connected_components(edges, max_iter=50).collect()}
        st = {(r.id, r.root) for r in connected_components_star(edges).collect()}
        assert lp == st


def test_dedup_clusters_bigstar_oracle(spark):
    from multithreaded_map_reduce_spark.queries import ALL_ORACLES, ALL_QUERIES
    from tests.conftest import SF_SMOKE
    from tests.oracle import compare

    assert compare(
        spark,
        ALL_QUERIES["dedup_clusters_bigstar"],
        ALL_ORACLES["dedup_clusters_bigstar"],
        SF_SMOKE,
    ) > 0


def test_simhash_bucket_cap_bounds_degenerate_buckets(spark):
    """VERDICT r2 item 4: with 32-bit banding there are ≤ 4×256 buckets
    TOTAL, so a near-identical corpus slice concentrates into a handful
    of buckets and pair expansion goes quadratic. The max_bucket cap
    must bound candidates BEFORE expansion — 5k near-identical docs
    complete with zero surviving (degenerate) buckets, while a small
    uncapped control on the same corpus shape confirms what is being
    prevented."""
    from pyspark.sql import functions as F

    from multithreaded_map_reduce_spark.operators.dedup import simhash_pairs

    docs = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("the same boilerplate banner text repeated on every page v"),
            (F.col("id") % 3).cast("string"),
        ).alias("text"),
    )
    capped = simhash_pairs(docs, "doc_id", "text", max_hamming=2, max_bucket=50)
    assert capped.count() == 0  # every bucket oversized -> dropped whole

    small = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("the same boilerplate banner text repeated on every page v"),
            (F.col("id") % 3).cast("string"),
        ).alias("text"),
    )
    uncapped = simhash_pairs(small, "doc_id", "text", max_hamming=2, max_bucket=None)
    # 3 identical-text groups of ~67 docs: every within-group pair is
    # hamming 0, so the uncapped pair count is at least sum C(|g|,2).
    assert uncapped.count() >= 3 * (66 * 65 // 2)


def test_simhash_wide_64bit_matches_bruteforce(spark):
    """The 64-bit/16-bit-band scale configuration must still be
    pigeonhole-lossless: banded pairs == brute-force pairs for
    hamming <= 3 on a small corpus."""
    from pyspark.sql import functions as F

    from multithreaded_map_reduce_spark.operators.dedup import (
        simhash_fingerprints_wide,
        simhash_pairs,
    )

    docs = spark.createDataFrame(
        [
            (i, f"alpha beta gamma delta epsilon zeta token{i % 7} eta theta")
            for i in range(60)
        ],
        ["doc_id", "text"],
    )
    banded = {
        (r["id_a"], r["id_b"])
        for r in simhash_pairs(
            docs, "doc_id", "text", max_hamming=3, max_bucket=None, bits=64
        ).collect()
    }
    fp = {r["id"]: r["simhash"] for r in simhash_fingerprints_wide(docs, "doc_id", "text").collect()}
    brute = {
        (a, b)
        for a in fp
        for b in fp
        if a < b and bin((fp[a] ^ fp[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    assert banded == brute
    assert brute  # the corpus must actually produce near-dup pairs


def test_blocked_pairs_raise_on_oversized_block(spark):
    """VERDICT r2 item 6: a hot blocking key must fail fast, not melt
    the cluster with an O(B^2) self-join."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.errors import SparkRuntimeException

    from multithreaded_map_reduce_spark.operators.dedup import (
        blocked_jaccard_pairs,
        embedding_neardup_pairs,
    )

    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.lit("en").alias("lang"),
        F.concat(F.lit("document text number "), F.col("id").cast("string")).alias("text"),
    )
    with pytest.raises(SparkRuntimeException, match="max_block"):
        blocked_jaccard_pairs(
            docs, "doc_id", "text", "lang", max_block=100
        ).count()
    # under the cap: runs fine
    assert (
        blocked_jaccard_pairs(docs, "doc_id", "text", "lang", max_block=1000).count()
        >= 0
    )

    emb = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.lit(0).alias("label"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with pytest.raises(SparkRuntimeException, match="max_block"):
        embedding_neardup_pairs(
            emb, "vec_id", "embedding", "label", max_block=100
        ).count()


def test_incremental_covers_all_batch_pairs(spark):
    """Incremental dedup must find EXACTLY the full-pipeline pairs that
    touch a batch doc (corpus×corpus pairs and nothing else removed) —
    same banding, caps and threshold, so the two pipelines are
    equivalent on the batch slice."""
    from pyspark.sql import functions as F

    from multithreaded_map_reduce_spark.operators.dedup import (
        minhash_dedup_pairs,
        minhash_incremental_pairs,
    )
    from multithreaded_map_reduce_spark.sources.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    full = {
        (r["id_a"], r["id_b"])
        for r in minhash_dedup_pairs(
            docs, "doc_id", "text", n=2, bands=8, rows=4, threshold=0.5
        ).collect()
    }
    expected = {
        (a, b) for a, b in full if a % 10 == 0 or b % 10 == 0
    }
    inc = minhash_incremental_pairs(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        "doc_id",
        "text",
        n=2,
        bands=8,
        rows=4,
        threshold=0.5,
    ).collect()
    got = {(min(r["new_id"], r["match_id"]), max(r["new_id"], r["match_id"])) for r in inc}
    assert got == expected
    # orientation contract: new_id is always the batch doc (or the
    # larger id for batch-internal pairs)
    for r in inc:
        assert r["new_id"] % 10 == 0
        if r["match_in"] == "batch":
            assert r["new_id"] > r["match_id"]


def test_soft_weights_gate_and_mass(spark):
    """Soft dedup matches its oracle; per-cluster weight mass is
    n_copies * (1e9 div n_copies) <= 1e9 with equality iff n divides."""
    from multithreaded_map_reduce_spark.queries import ALL_ORACLES, ALL_QUERIES
    from tests.conftest import SF_SMOKE
    from tests.oracle import compare

    assert compare(
        spark,
        ALL_QUERIES["dedup_soft_weights"],
        ALL_ORACLES["dedup_soft_weights"],
        SF_SMOKE,
    ) > 0
    for r in ALL_QUERIES["dedup_soft_weights"](spark, SF_SMOKE).collect():
        assert r["weight_units"] * r["n_copies"] <= 1_000_000_000
        assert r["weight_units"] == 1_000_000_000 // r["n_copies"]
