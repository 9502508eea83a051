"""Dedup queries over the documents/embeddings fixtures (§2d tier).

Every query has an exact DuckDB oracle because all hashing/similarity
math is the portable kind (functions/hashing.py, functions/vectors.py):

- minhash: the oracle replicates the SAME LSH pipeline (signatures →
  bands → candidates → exact verify), so candidate-set recall is part
  of the contract, not hidden;
- simhash: Spark side uses the lossless 4-byte banding, the oracle
  brute-forces all pairs — equality PROVES the banding loses nothing
  (hamming ≤ 2 < 4-block pigeonhole bound);
- blocked jaccard / embedding cosine: exact within blocks on both
  sides.

Thresholds are tuned to the fixture (probed distributions): word-bigram
jaccard ≥ 0.5 with matched 8-band × 4-row LSH (the fixture plants true
near-dups at ≥ 0.98 — see minhash_dedup_pairs on banding-vs-threshold),
hamming ≤ 2, char-8-gram jaccard ≥ 0.5, cosine ≥ 0.35.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import (
    sql_band_hashes,
    sql_hash_array,
    sql_char_shingles,
    sql_minhash_signature,
    sql_shingle_hashes_from_token_hashes,
    sql_simhash32,
    sql_token_hash,
    sql_token_hash_array,
    sql_tokens,
)
from ..functions.rounding import sql_pround, sql_ratio_micros
from ..functions.vectors import sql_as_double, sql_cosine
from ..operators.dedup import (
    DEFAULT_MAX_BUCKET,
    blocked_jaccard_pairs,
    embedding_neardup_pairs,
    exact_dedup,
    minhash_dedup_pairs,
    simhash_pairs,
    simhash_pairs_sql,
)
from ..sources.catalog import load_table

# ---------------------------------------------------------------------
# Shared full-corpus shingle artifact (VERDICT r9 item 1). Three gate
# queries — dedup_jaccard_prefix, dedup_containment,
# dedup_minhash_accuracy — all start from the IDENTICAL relation:
# distinct (id, h) word-bigram shingle-hash rows of the documents
# table. Round 9 persisted it independently in each query and never
# released it, which (a) leaked executor storage for the life of a
# 356-query session and (b) made OTHER queries' physical plans
# run-order-dependent through Spark's CacheManager plan substitution —
# the driver's bench caught dedup_containment executing a different
# plan than the builder's bench on identical code (BENCH_r09).
#
# The fix is the _LR_WEIGHTS_CACHE pattern (queries/textstats.py):
# build the relation ONCE per fixture dir per process as a DELIBERATE
# module-level artifact. ``localCheckpoint`` instead of ``persist`` is
# the load-bearing choice: a checkpointed relation is a LogicalRDD,
# which does NOT register in the CacheManager and therefore can never
# be substituted into another query's plan — consumers reference the
# artifact only by calling this function, so every plan that contains
# it contains it in every run order. The dict reference keeps the
# checkpoint blocks alive for the process lifetime on purpose
# (bounded: one distinct bigram-hash relation per fixture dir).
# Duplicate-insensitivity note: minhash (min per permutation) and
# collect_set verify sets give identical results on distinct vs raw
# rows, so the distinct relation serves all three consumers.
_SHINGLE_ROWS_CACHE: dict[str, DataFrame] = {}


def _shared_shingle_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import artifact_cached

    def build() -> DataFrame:
        from ..operators.dedup import shingle_hash_rows

        docs = load_table(spark, sf_dir, "documents")
        return (
            shingle_hash_rows(docs, "doc_id", "text", n=2)
            .distinct()
            .localCheckpoint(eager=False)
        )

    return artifact_cached(_SHINGLE_ROWS_CACHE, spark, sf_dir, build)


# The df-ranked shingle-array relation (id, ordered, sz) both
# prefix-filter queries (jaccard + containment) derive from the shared
# rows — itself a pure corpus function and the actual PREFIX-FILTER
# INDEX a production dedup deployment persists (build_minhash_index's
# artifact discipline). Shared for the same reasons as the rows:
# deliberate once-per-process materialization, CacheManager-free.
_RANKED_SHINGLES_CACHE: dict[str, DataFrame] = {}


def _shared_ranked_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import artifact_cached

    def build() -> DataFrame:
        rows = _shared_shingle_rows(spark, sf_dir)
        docs = load_table(spark, sf_dir, "documents")
        dfreq = rows.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
        return (
            rows.join(dfreq, "h")
            .groupBy("id")
            .agg(
                F.sort_array(F.collect_list(F.struct("df", "h"))).alias("arr")
            )
            .select(
                "id",
                F.transform("arr", lambda s: s["h"]).alias("ordered"),
                F.size("arr").alias("sz"),
            )
            # lang rides in the index (one short string per row): the
            # containment query blocks on it, and carrying corpus
            # metadata in the persisted index is exactly what the
            # production artifact would do
            .join(docs.select(F.col("doc_id").alias("id"), "lang"), "id")
            .localCheckpoint(eager=False)
        )

    return artifact_cached(_RANKED_SHINGLES_CACHE, spark, sf_dir, build)


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup, deterministic survivor = min(doc_id)."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, ["text"], "doc_id").select("keep_id", "n_copies")


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``minhash_dedup_pairs`` over the module-level shared shingle
    artifact: the scan+hash runs once per session and feeds both the
    signature agg and the verify sets, so a warm call reads no table. The
    pipeline is one generated SQL plan: in a traced ``corpus_dedup``
    run (2k docs, seed 7, local[2] on 4 vCPUs) a warm call spends 0.17 s
    building it and 0.51 s executing it."""
    return minhash_dedup_pairs(
        None, "doc_id", "text", n=2, bands=8, rows=4, threshold=0.5,
        rows_rel=_shared_shingle_rows(spark, sf_dir),
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-SQL-string pipeline (``simhash_pairs_sql``): same results
    as the Column builder (equivalence-tested), a cheaper plan to
    build."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs_sql(docs, "doc_id", "text", max_hamming=2)


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return blocked_jaccard_pairs(docs, "doc_id", "text", "lang", k=8, threshold=0.5)


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(emb, "vec_id", "embedding", "label", min_cosine=0.35)


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER assignment: connected components over the
    minhash-LSH pair relation (pairs are edges; min doc_id per
    component is the canonical survivor). The oracle replays the same
    closure with a recursive CTE — the full pairs→clusters pipeline is
    differentially verified, not just the pair stage."""
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(docs, "doc_id", "text", n=2, bands=8, rows=4, threshold=0.5)
    return connected_components(pairs.select("id_a", "id_b")).select(
        F.col("id").alias("doc_id"), F.col("root").alias("canonical_id")
    )


def dedup_clusters_bigstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same cluster assignment as ``dedup_clusters``, computed with the
    alternating large-star/small-star algorithm instead of label
    propagation — the O(log n)-round formulation that stays fast when
    components are DEEP (chains), not just wide. Shares the
    ``dedup_clusters`` recursive-CTE oracle: both must produce the
    identical (doc_id, canonical_id) labeling."""
    from ..operators.graph import connected_components_star

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(docs, "doc_id", "text", n=2, bands=8, rows=4, threshold=0.5)
    return connected_components_star(pairs.select("id_a", "id_b")).select(
        F.col("id").alias("doc_id"), F.col("root").alias("canonical_id")
    )


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "embedding_neardup": embedding_neardup,
    "dedup_clusters": dedup_clusters,
    "dedup_clusters_bigstar": dedup_clusters_bigstar,
}

_TOKEN_HASHES = sql_token_hash_array(sql_tokens("text"))
_HASHES = sql_shingle_hashes_from_token_hashes("th", 2)
_JACCARD = (
    "len(list_intersect(a.hashes, b.hashes))::DOUBLE"
    " / (len(a.hashes) + len(b.hashes) - len(list_intersect(a.hashes, b.hashes)))"
)
_CHAR_JACCARD = (
    "len(list_intersect(a.sh, b.sh))::DOUBLE"
    " / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))"
)

# The full minhash pipeline as CTEs, shared by the pair query and the
# cluster query (which runs a recursive closure on top of mh_pairs).
_MH_CTES = f"""th AS (
            -- zero-token docs drop out (mirrors the exploded Spark path)
            SELECT doc_id AS id, {_TOKEN_HASHES} AS th
            FROM documents
            WHERE length(text) > 0 AND len({sql_tokens('text')}) > 0
        ), hashed AS (
            SELECT id, {_HASHES} AS hashes FROM th
        ), sigs AS (
            SELECT id, hashes, {sql_minhash_signature('hashes')} AS sig FROM hashed
        ), bands_all AS (
            SELECT id, unnest({sql_band_hashes('sig', 8, 4)}) AS bh FROM sigs
        ), buckets AS (
            -- degenerate-bucket cap, mirroring minhash_candidates(max_bucket=100)
            SELECT bh, list_distinct(list(id)) AS ids
            FROM bands_all GROUP BY bh
        ), cand AS (
            SELECT DISTINCT p['a'] AS id_a, p['b'] AS id_b FROM (
                SELECT unnest(flatten(list_transform(ids, x ->
                    list_transform(list_filter(ids, y -> y > x),
                                   y -> {{'a': x, 'b': y}})))) AS p
                FROM buckets WHERE len(ids) BETWEEN 2 AND 100)
        ), mh_scored AS (
            SELECT id_a, id_b, {sql_pround(_JACCARD, 6)} AS jaccard
            FROM cand
            JOIN sigs a ON cand.id_a = a.id
            JOIN sigs b ON cand.id_b = b.id
        ), mh_pairs AS (
            SELECT id_a, id_b FROM mh_scored WHERE jaccard >= 0.5
        )"""

ORACLES = {
    "dedup_exact": """
        SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        FROM documents GROUP BY text
    """,
    "dedup_minhash_lsh": f"""
        WITH {_MH_CTES}
        SELECT id_a, id_b, jaccard FROM mh_scored WHERE jaccard >= 0.5
    """,
    "dedup_simhash": f"""
        WITH fp AS (
            -- zero-token docs are excluded on both sides (the Spark
            -- implementation aggregates exploded token hashes)
            SELECT doc_id AS id,
                   {sql_simhash32(sql_token_hash_array(sql_tokens('text')))} AS simhash
            FROM documents
            WHERE length(text) > 0 AND len({sql_tokens('text')}) > 0
        )
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        FROM fp a JOIN fp b ON a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
    """,
    "dedup_ngram_jaccard": f"""
        WITH sh AS (
            -- shingles hashed to BIGINT exactly as the Spark side does
            -- (poly fold): long intersections, shared collisions
            SELECT doc_id AS id, lang AS blk,
                   list_distinct({sql_hash_array(sql_char_shingles('text', 8))}) AS sh
            FROM documents WHERE length(text) > 0
        )
        SELECT id_a, id_b, jaccard FROM (
            SELECT a.id AS id_a, b.id AS id_b, {sql_pround(_CHAR_JACCARD, 6)} AS jaccard
            FROM sh a JOIN sh b ON a.blk = b.blk AND a.id < b.id
        ) WHERE jaccard >= 0.5
    """,
    "dedup_clusters": f"""
        WITH RECURSIVE {_MH_CTES}, nodes AS (
            SELECT id_a AS id FROM mh_pairs UNION SELECT id_b FROM mh_pairs
        ), edges AS (
            SELECT id_a AS a, id_b AS b FROM mh_pairs
            UNION SELECT id_b, id_a FROM mh_pairs
        ), reach(a, b) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        )
        SELECT a AS doc_id, min(b) AS canonical_id FROM reach GROUP BY a
    """,
    # same contract, different distributed algorithm — identical oracle
    "dedup_clusters_bigstar": None,  # filled below (= dedup_clusters)
    "embedding_neardup": f"""
        WITH e AS (
            SELECT vec_id AS id, label AS blk, {sql_as_double('embedding')} AS v
            FROM embeddings
        )
        SELECT id_a, id_b, blk, cos_sim FROM (
            SELECT a.id AS id_a, b.id AS id_b, a.blk AS blk,
                   {sql_pround(sql_cosine('a.v', 'b.v'), 6)} AS cos_sim
            FROM e a JOIN e b ON a.blk = b.blk AND a.id < b.id
        ) WHERE cos_sim >= 0.35
    """,
}

ORACLES["dedup_clusters_bigstar"] = ORACLES["dedup_clusters"]


def dedup_pipeline_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup pipeline as ONE gate entry: LSH pairs →
    connected components → survivor accounting. Returns the numbers a
    curation run reports: corpus size, docs implicated in any near-dup
    cluster, cluster count, and corpus size after keeping one canonical
    doc per cluster. The oracle chains the same stages (minhash CTEs →
    recursive closure → aggregates), so the composed pipeline — not
    just its pieces — is differentially verified."""
    docs = load_table(spark, sf_dir, "documents")
    # r13 OPT: ride the shared _dup_components artifact (the identical
    # dedup_clusters chain) instead of re-running pairs + closure
    labels = _dup_components(spark, sf_dir).select(
        F.col("doc_id").alias("id"), F.col("canonical_id").alias("root")
    )
    cl = labels.agg(
        F.count("*").alias("n_dup_docs"),
        F.countDistinct("root").alias("n_clusters"),
    )
    total = docs.agg(F.count("*").alias("n_docs"))
    return (
        total.crossJoin(F.broadcast(cl))
        .select(
            "n_docs",
            "n_dup_docs",
            "n_clusters",
            (F.col("n_docs") - F.col("n_dup_docs") + F.col("n_clusters")).alias("n_after"),
        )
    )


QUERIES["dedup_pipeline_summary"] = dedup_pipeline_summary

ORACLES["dedup_pipeline_summary"] = f"""
    WITH RECURSIVE {_MH_CTES}, nodes AS (
        SELECT id_a AS id FROM mh_pairs UNION SELECT id_b FROM mh_pairs
    ), edges AS (
        SELECT id_a AS a, id_b AS b FROM mh_pairs
        UNION SELECT id_b, id_a FROM mh_pairs
    ), reach(a, b) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ), labels AS (
        SELECT a AS doc_id, min(b) AS canonical_id FROM reach GROUP BY a
    ), cl AS (
        SELECT count(*) AS n_dup_docs,
               count(DISTINCT canonical_id) AS n_clusters
        FROM labels
    )
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           n_dup_docs, n_clusters,
           (SELECT count(*) FROM documents) - n_dup_docs + n_clusters AS n_after
    FROM cl
"""


def dedup_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 64-bit / 16-bit-band SimHash — the documented 100 TB
    configuration (4×65,536 buckets vs 32-bit banding's 4×256) — under
    the gate with its own brute-force oracle: two independent 32-bit
    md5 slices drive bits 0–31 / 32–63, banding is again lossless for
    hamming ≤ 3 by pigeonhole."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, "doc_id", "text", max_hamming=2, bits=64)


QUERIES["dedup_simhash64"] = dedup_simhash64


def _sql_simhash64_fp() -> str:
    """DuckDB: (id, simhash BIGINT) 64-bit fingerprints mirroring
    simhash_fingerprints_wide (token-occurrence votes over two md5
    slices; bit 63 is the signed min literal — DuckDB refuses 1<<63
    but two's-complement | / xor / bit_count all behave)."""
    votes = ", ".join(
        f"sum(CASE WHEN (h{0 if b < 32 else 1} % {1 << ((b % 32) + 1)})"
        f" >= {1 << (b % 32)} THEN 1 ELSE -1 END) AS v{b}"
        for b in range(64)
    )
    def bit_lit(b: int) -> str:
        if b == 63:
            return "CAST(-9223372036854775808 AS BIGINT)"
        return f"CAST({1 << b} AS BIGINT)"
    fold = " | ".join(
        f"(CASE WHEN v{b} >= 0 THEN {bit_lit(b)} ELSE CAST(0 AS BIGINT) END)"
        for b in range(64)
    )
    return f"""
        tok AS (
            SELECT doc_id AS id, unnest({sql_tokens('text')}) AS tok
            FROM documents WHERE length(text) > 0 AND len({sql_tokens('text')}) > 0
        ), hs AS (
            SELECT id,
                   CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) AS h0,
                   CAST(('0x' || substring(md5(tok), 9, 8)) AS BIGINT) AS h1
            FROM tok
        ), votes AS (
            SELECT id, {votes} FROM hs GROUP BY id
        ), fp AS (
            SELECT id, ({fold}) AS simhash FROM votes
        )"""


ORACLES["dedup_simhash64"] = f"""
    WITH {_sql_simhash64_fp()}
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.id < b.id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
"""


def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join via PREFIX FILTERING (PPJoin/
    AllPairs family, Bayardo et al. WWW'07) — the third algorithmic
    route to near-dup pairs next to minhash-LSH (approximate banding)
    and blocked jaccard (attribute blocking): every doc keeps only the
    first ``p = |s| - ceil(t·|s|) + 1`` tokens of its df-ascending-
    ordered distinct-token set; two docs can reach Jaccard ≥ t ONLY if
    their prefixes share a token, so the candidate join is an equality
    join on (rare) prefix tokens, never a cross product. The length
    filter ``t·|b| ≤ |a|`` prunes further. The oracle brute-forces ALL
    pairs — equality PROVES the prefix filter loses nothing.

    t = 0.8, and that is load-bearing for SCALE, not just semantics:
    prefix filtering earns its keep at high thresholds (prefix length
    ≈ (1−t)·|s| + 1). At t = 0.5 on this template-heavy corpus the
    half-set prefixes produced 5.5M candidate pairs at sf0.1; at 0.8
    the prefixes are ~1/5 of each set and candidates collapse to the
    pairs that genuinely share rare shingles. For mid thresholds use
    minhash-LSH (banding tuned to t) instead — that is the documented
    division of labor between the two operators.

    The similarity sets are distinct word BIGRAMS (the same granularity
    minhash uses; unigram sets are useless on a shared-vocabulary
    corpus — measured 92k of 125k possible pairs above J=0.5 at sf0.01,
    vs 25 true near-dup pairs for bigrams). The verification threshold
    is the integer-exact form of J ≥ 4/5 ⟺ 9·|a∩b| ≥ 4·(|a|+|b|) (no
    float boundary: a true jaccard just below 0.8 must not round up
    into the output on one side only).

    The sets live as portable shingle HASHES (BIGINT) the moment they
    leave the codegen'd ``shingle_hash_rows`` scan — every join,
    ranking, and intersection below runs on longs, never on bigram
    strings (the string form benchmarked 10× slower at sf0.1). The
    oracle computes the identical hash sets, so collisions — if any —
    are shared.

    100 TB: df ranking is one hash-keyed agg; candidates shuffle on
    prefix hashes whose per-hash frequency is bounded BY CONSTRUCTION
    (ascending-df ordering puts the rarest shingles in prefixes);
    verify joins are id-keyed. No stage is quadratic in the corpus.
    """
    from ..functions.rounding import pround

    # the shared df-ranked prefix-filter index (module artifact —
    # ranked doubles as the verify-side set relation: ordered = the
    # full distinct hash set in ascending-df order)
    ranked = _shared_ranked_shingles(spark, sf_dir)
    # t = 0.8 → prefix length = sz - ceil(4·sz/5) + 1
    plen = (F.col("sz") - F.floor((4 * F.col("sz") + 4) / 5) + 1).cast("int")
    pre = (
        ranked.select(
            "id",
            "sz",
            F.posexplode(F.slice(F.col("ordered"), F.lit(1), plen)).alias(
                "pos0", "h"
            ),
        )
        .select("id", "sz", (F.col("pos0") + 1).alias("p"), "h")
        # USER repartition on the join key: the candidate self-join's
        # shuffle is tiny in BYTES but heavy in per-row CPU (positional
        # filter + downstream array_intersect fanout), so AQE's
        # byte-based coalescing collapses it to ~2 tasks — the same
        # output-fanout blindness the dedup_semantic salt works around.
        # A user-specified repartition is exempt from AQE coalescing
        # and already satisfies the join's required distribution.
        .repartition(32, "h")
    )
    a, b = pre.alias("a"), pre.alias("b")
    # POSITIONAL filter (Xiao et al. PPJoin): both prefixes are sorted
    # by the same global (df, h) order, so common tokens appear in the
    # same relative order in both — the FIRST common token (min p on
    # either side) bounds the overlap at 1 + min(sz_a − p_a, sz_b − p_b),
    # which must reach minoverlap = ceil(4·(sz_a+sz_b)/9) for J ≥ 4/5.
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.col("a.sz") * 5 >= F.col("b.sz") * 4)
            & (F.col("b.sz") * 5 >= F.col("a.sz") * 4),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.min("a.p").alias("pa"),
            F.min("b.p").alias("pb"),
            F.max("a.sz").alias("sa"),
            F.max("b.sz").alias("sb"),
        )
        .filter(
            9 * (1 + F.least(F.col("sa") - F.col("pa"), F.col("sb") - F.col("pb")))
            >= 4 * (F.col("sa") + F.col("sb"))
        )
        .select("id_a", "id_b")
    )
    j = (
        cand.join(
            ranked.select(F.col("id").alias("id_a"), F.col("ordered").alias("ta")),
            "id_a",
        ).join(
            ranked.select(F.col("id").alias("id_b"), F.col("ordered").alias("tb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("ta", "tb")).alias("i"),
            F.size("ta").alias("na"),
            F.size("tb").alias("nb"),
        )
        .filter(F.col("i") * 9 >= 4 * (F.col("na") + F.col("nb")))
    )
    return j.select(
        "id_a",
        "id_b",
        pround(
            F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i")), 6
        ).alias("jaccard"),
    )


QUERIES["dedup_jaccard_prefix"] = dedup_jaccard_prefix

# brute force over ALL pairs (same bigram hash sets the minhash oracle
# builds): equality proves the prefix filter lossless
ORACLES["dedup_jaccard_prefix"] = f"""
    WITH th AS (
        SELECT doc_id AS id, {_TOKEN_HASHES} AS th
        FROM documents
        WHERE length(text) > 0 AND len({sql_tokens('text')}) > 0
    ), s AS (
        SELECT id, {_HASHES} AS toks FROM th
    )
    SELECT id_a, id_b, jaccard FROM (
        SELECT a.id AS id_a, b.id AS id_b,
               len(list_intersect(a.toks, b.toks)) AS i,
               len(a.toks) AS na, len(b.toks) AS nb,
               {sql_pround('len(list_intersect(a.toks, b.toks))::DOUBLE'
                           ' / (len(a.toks) + len(b.toks)'
                           ' - len(list_intersect(a.toks, b.toks)))', 6)} AS jaccard
        FROM s a JOIN s b ON a.id < b.id
    ) WHERE i * 9 >= 4 * (na + nb)
"""


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest incremental dedup: docs with doc_id % 10 == 0 play
    the NEW batch, the rest the existing corpus; the batch is matched
    against the corpus LSH index and itself, corpus×corpus pairs are
    never generated (operators/dedup.minhash_incremental_pairs)."""
    from ..operators.dedup import minhash_incremental_pairs

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    return minhash_incremental_pairs(
        corpus, batch, "doc_id", "text", n=2, bands=8, rows=4, threshold=0.5
    )


QUERIES["dedup_incremental"] = dedup_incremental

ORACLES["dedup_incremental"] = f"""
    WITH th AS (
        SELECT doc_id AS id, {_TOKEN_HASHES} AS th
        FROM documents
        WHERE length(text) > 0 AND len({sql_tokens('text')}) > 0
    ), hashed AS (
        SELECT id, {_HASHES} AS hashes FROM th
    ), sigs AS (
        SELECT id, {sql_minhash_signature('hashed.hashes')} AS sig FROM hashed
    ), bands_all AS (
        SELECT id, unnest({sql_band_hashes('sig', 8, 4)}) AS bh FROM sigs
    ), cb AS (
        SELECT id, bh FROM bands_all WHERE id % 10 != 0
    ), bb AS (
        SELECT id, bh FROM bands_all WHERE id % 10 = 0
    ), csize AS (
        SELECT bh, count(DISTINCT id) AS bn FROM cb GROUP BY bh
    ), cross_cand AS (
        SELECT DISTINCT b.id AS new_id, c.id AS match_id, 'corpus' AS match_in
        FROM bb b JOIN cb c ON b.bh = c.bh
        JOIN csize s ON b.bh = s.bh
        WHERE s.bn <= 100
    ), bbuckets AS (
        SELECT bh, list_distinct(list(id)) AS ids FROM bb GROUP BY bh
    ), internal_cand AS (
        SELECT DISTINCT p['b'] AS new_id, p['a'] AS match_id, 'batch' AS match_in
        FROM (
            SELECT unnest(flatten(list_transform(ids, x ->
                list_transform(list_filter(ids, y -> y > x),
                               y -> {{'a': x, 'b': y}})))) AS p
            FROM bbuckets WHERE len(ids) BETWEEN 2 AND 100)
    ), allc AS (
        SELECT * FROM cross_cand UNION ALL SELECT * FROM internal_cand
    )
    SELECT new_id, match_id, match_in, jaccard FROM (
        SELECT allc.new_id, allc.match_id, allc.match_in,
               {sql_pround(_JACCARD, 6)} AS jaccard
        FROM allc
        JOIN hashed a ON allc.new_id = a.id
        JOIN hashed b ON allc.match_id = b.id
    ) WHERE jaccard >= 0.5
"""


# ------------------------------------- semantic (embedding) dedup clusters
# The embedding-modality twin of dedup_clusters: cosine near-dup PAIRS
# (blocked by label — the IVF-cell stand-in) closed into clusters with
# the same connected-components machinery, labeling every vector with
# its canonical (min-id) representative. Completes the semantic-dedup
# story: minhash handles lexical overlap, this handles paraphrase-level
# similarity an n-gram method can't see. Oracle: the pair CTE + the
# recursive closure, exactly the dedup_clusters pattern.


def embedding_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_neardup_pairs(emb, "vec_id", "embedding", "label", min_cosine=0.35)
    labeled = connected_components(pairs.select("id_a", "id_b"))
    all_ids = emb.select(F.col("vec_id").alias("id"))
    return (
        all_ids.join(labeled, "id", "left")
        .select(
            F.col("id").alias("vec_id"),
            F.coalesce(F.col("root"), F.col("id")).alias("canonical_id"),
        )
    )


QUERIES["embedding_neardup_clusters"] = embedding_neardup_clusters

ORACLES["embedding_neardup_clusters"] = f"""
    WITH RECURSIVE e AS (
        SELECT vec_id AS id, label AS blk, {sql_as_double('embedding')} AS v
        FROM embeddings
    ), prs AS (
        SELECT id_a, id_b FROM (
            SELECT a.id AS id_a, b.id AS id_b,
                   {sql_pround(sql_cosine('a.v', 'b.v'), 6)} AS cos_sim
            FROM e a JOIN e b ON a.blk = b.blk AND a.id < b.id
        ) WHERE cos_sim >= 0.35
    ), nodes AS (
        SELECT id_a AS id FROM prs UNION SELECT id_b FROM prs
    ), edges AS (
        SELECT id_a AS a, id_b AS b FROM prs
        UNION SELECT id_b, id_a FROM prs
    ), reach(a, b) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a
    ), roots AS (
        SELECT a AS id, min(b) AS root FROM reach GROUP BY a
    )
    SELECT emb.vec_id, coalesce(roots.root, emb.vec_id) AS canonical_id
    FROM embeddings emb LEFT JOIN roots ON emb.vec_id = roots.id
"""


# ------------------------------------------- persisted-index day-2 ingest
# VERDICT r4 item 3: SCALE.md claimed the LSH bucket index is
# "persistable" but nothing demonstrated it — at 100 TB the index and
# the canonical-id map are day-1 artifacts written once, and each daily
# ingest is a probe against storage, not a recomputation from raw text.
# This query IS that demonstration: build_minhash_index writes
# buckets/hashes/canonical parquet once per process+sf, then the gate
# plan reads them back and probes the doc_id%10==0 batch. The oracle
# replays build + probe from the raw table (the artifacts are
# deterministic, so round-tripping through parquet is semantically
# invisible — which is exactly the property being verified).

_INDEX_PATHS: dict[tuple[str, str], str] = {}


def _minhash_index_path(spark: SparkSession, sf_dir: str, scope: str = "corpus") -> str:
    """Build-once-per-process index path. ``scope='corpus'`` indexes the
    day-1 corpus (doc_id % 10 != 0 — the dedup_incremental convention);
    ``scope='full'`` indexes every document (the canonical-map artifact
    the curation split consumes).

    Staleness contract: artifacts are cached per ``(sf_dir, scope)`` on
    the assumption that the fixture dir is IMMUTABLE for the process
    lifetime (true for the gate/bench). A session that mutates the
    underlying documents table must use a new path/scope (or restart) —
    the cache does not watch the source and would silently probe a
    stale index."""
    from .connectors import _fixture_path
    from ..operators.dedup import build_minhash_index

    from ..session import path_cached

    def build() -> str:
        path = _fixture_path(f"mh_index_{scope}")
        docs = load_table(spark, sf_dir, "documents")
        if scope == "corpus":
            docs = docs.filter(F.col("doc_id") % 10 != 0)
        build_minhash_index(
            docs, "doc_id", "text", path, n=2, bands=8, rows=4,
            threshold=0.5, max_bucket=DEFAULT_MAX_BUCKET,
        )
        return path

    return path_cached(_INDEX_PATHS, (sf_dir, scope), build)


def dedup_incremental_day2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-2 ingest: probe the NEW batch (doc_id % 10 == 0) against the
    persisted day-1 index — corpus text is never read, corpus shingles
    never re-hashed; the corpus side of every join is a parquet scan of
    the artifact. Output adds canonical_id: the existing cluster each
    new doc folds into (the match's own id when unclustered)."""
    from ..operators.dedup import minhash_probe_index

    path = _minhash_index_path(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    return minhash_probe_index(
        batch, path, "doc_id", "text", n=2, bands=8, rows=4,
        threshold=0.5, max_bucket=DEFAULT_MAX_BUCKET,
    )


QUERIES["dedup_incremental_day2"] = dedup_incremental_day2

ORACLES["dedup_incremental_day2"] = f"""
    WITH RECURSIVE th AS (
        SELECT doc_id AS id, {_TOKEN_HASHES} AS th
        FROM documents
        WHERE length(text) > 0 AND len({sql_tokens('text')}) > 0
    ), hashed AS (
        SELECT id, {_HASHES} AS hashes FROM th
    ), sigs AS (
        SELECT id, {sql_minhash_signature('hashed.hashes')} AS sig FROM hashed
    ), bands_all AS (
        SELECT id, unnest({sql_band_hashes('sig', 8, 4)}) AS bh FROM sigs
    ), cb AS (
        SELECT id, bh FROM bands_all WHERE id % 10 != 0
    ), bb AS (
        SELECT id, bh FROM bands_all WHERE id % 10 = 0
    ), csize AS (
        SELECT bh, count(DISTINCT id) AS bn FROM cb GROUP BY bh
    ), cross_cand AS (
        SELECT DISTINCT b.id AS new_id, c.id AS match_id, 'corpus' AS match_in
        FROM bb b JOIN cb c ON b.bh = c.bh
        JOIN csize s ON b.bh = s.bh
        WHERE s.bn <= 100
    ), bbuckets AS (
        SELECT bh, list_distinct(list(id)) AS ids FROM bb GROUP BY bh
    ), internal_cand AS (
        SELECT DISTINCT p['b'] AS new_id, p['a'] AS match_id, 'batch' AS match_in
        FROM (
            SELECT unnest(flatten(list_transform(ids, x ->
                list_transform(list_filter(ids, y -> y > x),
                               y -> {{'a': x, 'b': y}})))) AS p
            FROM bbuckets WHERE len(ids) BETWEEN 2 AND 100)
    ), allc AS (
        SELECT * FROM cross_cand UNION ALL SELECT * FROM internal_cand
    ), probe AS (
        SELECT new_id, match_id, match_in, jaccard FROM (
            SELECT allc.new_id, allc.match_id, allc.match_in,
                   {sql_pround(_JACCARD, 6)} AS jaccard
            FROM allc
            JOIN hashed a ON allc.new_id = a.id
            JOIN hashed b ON allc.match_id = b.id
        ) WHERE jaccard >= 0.5
    ), cbuckets AS (
        SELECT bh, list_distinct(list(id)) AS ids FROM cb GROUP BY bh
    ), ccand AS (
        SELECT DISTINCT p['a'] AS id_a, p['b'] AS id_b FROM (
            SELECT unnest(flatten(list_transform(ids, x ->
                list_transform(list_filter(ids, y -> y > x),
                               y -> {{'a': x, 'b': y}})))) AS p
            FROM cbuckets WHERE len(ids) BETWEEN 2 AND 100)
    ), cpairs AS (
        SELECT id_a, id_b FROM (
            SELECT id_a, id_b, {sql_pround(_JACCARD, 6)} AS jaccard
            FROM ccand
            JOIN hashed a ON ccand.id_a = a.id
            JOIN hashed b ON ccand.id_b = b.id
        ) WHERE jaccard >= 0.5
    ), cnodes AS (
        SELECT id_a AS id FROM cpairs UNION SELECT id_b FROM cpairs
    ), cedges AS (
        SELECT id_a AS a, id_b AS b FROM cpairs
        UNION SELECT id_b, id_a FROM cpairs
    ), creach(a, b) AS (
        SELECT id, id FROM cnodes
        UNION
        SELECT r.a, e.b FROM creach r JOIN cedges e ON r.b = e.a
    ), croots AS (
        SELECT a AS id, min(b) AS root FROM creach GROUP BY a
    )
    SELECT probe.new_id, probe.match_id, probe.match_in,
           coalesce(croots.root, probe.match_id) AS canonical_id,
           probe.jaccard
    FROM probe LEFT JOIN croots ON probe.match_id = croots.id
"""


# ---------------------------------------------------- containment dedup
# Asymmetric near-dup: Jaccard misses the "A is a sub-document of B"
# case (a 50-token doc fully embedded in a 5000-token doc has tiny
# jaccard but containment |A∩B|/|A| ≈ 1) — the shape quote pages,
# syndicated excerpts, and chunk-of-a-crawled-page dups take. Exact
# within lang blocks (the blocked_jaccard discipline: a natural
# blocking key bounds the O(n²); LSH-for-containment would need the
# asymmetric banding of Shrivastava's asymmetric MinHash — out of
# scope and unnecessary where blocks exist). The contained side is the
# SMALLER shingle set (tie → smaller id), so each unordered pair
# reports once with a deterministic direction.

CONTAIN_MIN = 0.9


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC PREFIX FILTER (the containment member of the
    PPJoin/AllPairs family): if |A∩B| ≥ ⌈0.9·|A|⌉ then A has at most
    f = |A| − ⌈0.9·|A|⌉ tokens outside B, so among ANY f+1 tokens of A
    at least one is in B. Keeping A's f+1 RAREST shingles (ascending
    global df) as its probe prefix and joining them against the FULL
    shingle index of larger-or-equal docs makes candidate generation an
    equality join on rare hashes — never the blocked all-pairs
    ``array_intersect`` (which measured 26 s warm at sf0.1; this form
    runs ~1 s). The brute-force-within-blocks oracle PROVES the filter
    lossless. Unlike the jaccard prefix filter there is no length
    filter (containment does not bound |B|), so the size predicate only
    orients the pair (contained side = smaller set, tie → smaller
    id)."""
    from ..functions.rounding import pround

    # the shared prefix-filter index (lang blocking column rides in it)
    ranked = _shared_ranked_shingles(spark, sf_dir)
    # t = 0.9 → prefix length = sz − ⌈9·sz/10⌉ + 1 (≥ 1)
    plen = (F.col("sz") - F.floor((9 * F.col("sz") + 9) / 10) + 1).cast("int")
    # USER repartition on the probe join key — same AQE output-fanout
    # blindness note as dedup_jaccard_prefix's candidate stage
    pre = ranked.select(
        "id", "lang", "sz", F.explode(F.slice(F.col("ordered"), F.lit(1), plen)).alias("h")
    ).repartition(32, "h")
    full = ranked.select(
        "id", "lang", "sz", F.explode("ordered").alias("h")
    ).repartition(32, "h")
    a, b = pre.alias("a"), full.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (
                (F.col("a.sz") < F.col("b.sz"))
                | ((F.col("a.sz") == F.col("b.sz")) & (F.col("a.id") < F.col("b.id")))
            ),
        )
        .select(F.col("a.id").alias("cid"), F.col("b.id").alias("bid"))
        .distinct()
    )
    sa = ranked.select(F.col("id").alias("cid"), F.col("ordered").alias("ha"))
    sb = ranked.select(F.col("id").alias("bid"), F.col("ordered").alias("hb"))
    verified = (
        cand.join(sa, "cid")
        .join(sb, "bid")
        .select(
            "cid",
            "bid",
            F.size(F.array_intersect("ha", "hb")).alias("i"),
            F.size("ha").alias("n_small"),
        )
        # integer-exact threshold: i/n ≥ 0.9 ⟺ 10·i ≥ 9·n
        .filter(F.col("i") * 10 >= F.col("n_small") * 9)
    )
    return verified.select(
        F.least("cid", "bid").alias("id_a"),
        F.greatest("cid", "bid").alias("id_b"),
        F.col("cid").alias("contained_id"),
        pround(F.col("i").cast("double") / F.col("n_small"), 6).alias("containment"),
    )


QUERIES["dedup_containment"] = dedup_containment

ORACLES["dedup_containment"] = f"""
    WITH th AS (
        SELECT doc_id AS id, {_TOKEN_HASHES} AS th
        FROM documents
        WHERE length(text) > 0 AND len({sql_tokens('text')}) > 0
    ), s AS (
        SELECT th.id, {_HASHES} AS hs, d.lang
        FROM th JOIN documents d ON th.id = d.doc_id
    )
    SELECT id_a, id_b, contained_id,
           floor(i::DOUBLE / n_small * 1000000 + 0.5) / 1000000 AS containment
    FROM (
        SELECT a.id AS id_a, b.id AS id_b,
               CASE WHEN len(a.hs) < len(b.hs)
                         OR (len(a.hs) = len(b.hs) AND a.id < b.id)
                    THEN a.id ELSE b.id END AS contained_id,
               len(list_intersect(a.hs, b.hs)) AS i,
               least(len(a.hs), len(b.hs)) AS n_small
        FROM s a JOIN s b ON a.lang = b.lang AND a.id < b.id
    ) WHERE i * 10 >= n_small * 9
"""


def dedup_incremental_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest DECISION the day-2 probe exists to make: which new
    docs enter the corpus. A batch doc is kept unless the probe matched
    it to the corpus or to an older batch doc (probe rows carry the
    younger doc as new_id). One broadcast anti-join of the batch id
    spine against the probe's matched set — the persisted index does
    all the heavy lifting upstream. Empty-text docs produce no shingles
    and thus no pairs: they are kept, which is the documented contract
    (exact-dedup owns identical/empty payloads)."""
    from ..operators.dedup import minhash_probe_index

    path = _minhash_index_path(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    matched = (
        minhash_probe_index(
            batch, path, "doc_id", "text", n=2, bands=8, rows=4,
            threshold=0.5, max_bucket=DEFAULT_MAX_BUCKET,
        )
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
    )
    return batch.select("doc_id").join(matched, "doc_id", "left_anti")


QUERIES["dedup_incremental_keep"] = dedup_incremental_keep

ORACLES["dedup_incremental_keep"] = f"""
    WITH probe AS ({ORACLES['dedup_incremental_day2']})
    SELECT doc_id FROM documents
    WHERE doc_id % 10 = 0
      AND doc_id NOT IN (SELECT new_id FROM probe)
"""


def dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT dedup: instead of dropping duplicates, keep every copy and
    downweight it by its cluster size — training on w = 1/n_copies per
    copy preserves corpus mixture while removing duplication bias (the
    alternative curriculum to hard removal; exact-text clusters here,
    the same keying as ``dedup_exact``). weight_units = 1e9 div
    n_copies in exact integer units (nonneg operands — no div/floor
    divergence). One groupBy(text) shuffle + one broadcast-eligible
    join back on the text hash; no pairwise work at all, so this is
    the cheapest dedup dial in the family at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = docs.groupBy("text").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count("*").alias("n_copies"),
    )
    return (
        docs.join(clusters, "text")
        .select(
            "doc_id",
            "canonical_id",
            "n_copies",
            F.expr("CAST(1000000000 div n_copies AS BIGINT)").alias("weight_units"),
        )
    )


QUERIES["dedup_soft_weights"] = dedup_soft_weights

ORACLES["dedup_soft_weights"] = """
    WITH clusters AS (
        SELECT text, min(doc_id) AS canonical_id, count(*) AS n_copies
        FROM documents GROUP BY text
    )
    SELECT doc_id, canonical_id, n_copies,
           CAST(1000000000 // n_copies AS BIGINT) AS weight_units
    FROM documents JOIN clusters USING (text)
"""


# ---------------------------------------- cross-source duplication matrix
# "Which sources copy from which" — the provenance report a curation
# team reads before deciding what to drop: near-dup pairs enriched with
# both docs' sources and aggregated into a source×source matrix
# (unordered pair of sources; within-source duplication lands on the
# diagonal). Composition of the LSH pair relation with two broadcast
# source lookups; output bounded by |sources|², never by pair count.


def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(
        docs, "doc_id", "text", n=2, bands=8, rows=4, threshold=0.5,
        rows_rel=_shared_shingle_rows(spark, sf_dir),
    ).select("id_a", "id_b")
    src = docs.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("src_a"))
    sb = src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("src_b"))
    tagged = pairs.join(F.broadcast(sa), "id_a").join(F.broadcast(sb), "id_b")
    lo = F.least("src_a", "src_b")
    hi = F.greatest("src_a", "src_b")
    return (
        tagged.groupBy(lo.alias("source_lo"), hi.alias("source_hi"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


QUERIES["dedup_cross_source_matrix"] = dedup_cross_source_matrix

ORACLES["dedup_cross_source_matrix"] = f"""
    WITH {_MH_CTES}
    SELECT least(da.source, db.source) AS source_lo,
           greatest(da.source, db.source) AS source_hi,
           count(*) AS n_pairs
    FROM mh_pairs p
    JOIN documents da ON p.id_a = da.doc_id
    JOIN documents db ON p.id_b = db.doc_id
    GROUP BY 1, 2
"""


# ------------------------------------------------------ LSH recall eval
# The dedup analog of ann_recall_report (round 8): measure the 8x4
# minhash-LSH CANDIDATE stage against exact ground truth, making the
# rail's recall a verified number instead of an s-curve argument.
#
# Truth protocol (bounded by construction): exact word-bigram Jaccard
# >= 0.5 over SAME-LANG blocked pairs WITHIN a deterministic per-lang
# eval sample of LSH_EVAL_N docs (portable-hash rank) — the standard
# eval shape at scale is exact truth on an explicit sample, never
# corpus-wide all-pairs: the truth stage is quadratic in the sample,
# so the sample cap is what makes the op corpus-size-independent
# (unsampled at sf0.1 the truth stage measured 21.9 s warm; capped it
# is ~2 s and CONSTANT in corpus size). LSH_EVAL_N = 256 keeps every
# lang of the sf0.01 gate fixture complete, so the gate still sees the
# full planted-duplicate truth set. Lang is the block (cross-lang
# word-bigram near-dups are not representable: the token spaces are
# disjoint by construction of the measure).
#
# One row out: truth size, candidate size, hits, recall, and candidate
# "efficiency" (hits/candidates — the verify stage's hit rate; LOW by
# design at thresholds below the s-curve midpoint). The shingle
# relation is persisted and feeds signatures + verify sets exactly as
# the production pipeline does (minhash_dedup_pairs discipline).


LSH_EVAL_N = 256  # per-lang eval sample cap (full sf0.01 gate fixture)


#: (applicationId, sf_dir) -> (signatures, truth pairs), both lazily
#: localCheckpoint-ed.
_LSH_EVAL_CACHE: dict[str, tuple[DataFrame, DataFrame]] = {}


def _lsh_eval_artifacts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Build-once LSH-evaluation artifacts (r14 OPT, VERDICT r13
    item 7): ``dedup_lsh_recall`` and ``dedup_banding_sweep`` derived
    the IDENTICAL per-lang sample → shingle rows → 32-permutation
    signatures → exact-Jaccard truth pairs per call — the dominant
    cost of both, while the *evaluated* computation (banding the
    signatures and scoring candidates against truth) is cheap and
    stays fresh in each query. Returns (sigs, truth): sigs is the
    (id, sig array) relation every banding config re-bands, truth the
    (id_a, id_b, is_true) gold pairs. Keyed by applicationId (ADVICE
    r12) so a restarted session rebuilds."""
    from pyspark.sql import Window as W

    from ..functions.hashing import token_hash
    from ..functions.rounding import pround
    from ..operators.dedup import (
        jaccard_of,
        minhash_signatures_agg,
        shingle_hash_rows,
    )
    from ..session import artifact_cached

    def build() -> tuple[DataFrame, DataFrame]:
        alldocs = load_table(spark, sf_dir, "documents")
        rk = W.partitionBy("lang").orderBy(
            token_hash(F.col("doc_id").cast("string")), F.col("doc_id")
        )
        docs = (
            alldocs.withColumn("_rk", F.row_number().over(rk))
            .filter(F.col("_rk") <= LSH_EVAL_N)
            .drop("_rk")
            # two consumers (the shingle build and the lang re-attach
            # join) would re-run the full-corpus rank window (r13 OPT)
            .localCheckpoint(eager=False)
        )
        rows_rel = shingle_hash_rows(
            docs, "doc_id", "text", 2
        ).localCheckpoint(eager=False)
        sigs = minhash_signatures_agg(rows_rel, num=32).localCheckpoint(
            eager=False
        )
        hashed = rows_rel.groupBy("id").agg(
            F.collect_set("h").alias("hashes")
        )
        hl = hashed.join(docs.select(F.col("doc_id").alias("id"), "lang"), "id")
        a = hl.select(
            F.col("id").alias("id_a"), F.col("hashes").alias("h_a"), "lang"
        )
        b = hl.select(
            F.col("id").alias("id_b"), F.col("hashes").alias("h_b"), "lang"
        )
        truth = (
            a.join(b, "lang")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(pround(jaccard_of(F.col("h_a"), F.col("h_b")), 6) >= 0.5)
            .select("id_a", "id_b", F.lit(1).alias("is_true"))
            .localCheckpoint(eager=False)
        )
        return (sigs, truth)

    return artifact_cached(_LSH_EVAL_CACHE, spark, sf_dir, build)


def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.rounding import ratio_micros
    from ..operators.dedup import candidates_from_signatures

    sigs, truth = _lsh_eval_artifacts(spark, sf_dir)
    cand = candidates_from_signatures(sigs, 8, 4, 100).select(
        "id_a", "id_b", F.lit(1).alias("is_cand")
    )
    joined = truth.join(cand, ["id_a", "id_b"], "full_outer").select(
        F.coalesce("is_true", F.lit(0)).alias("is_true"),
        F.coalesce("is_cand", F.lit(0)).alias("is_cand"),
    )
    return joined.agg(
        F.sum("is_true").alias("n_true"),
        F.sum("is_cand").alias("n_candidates"),
        F.sum(F.col("is_true") * F.col("is_cand")).alias("n_hits"),
    ).select(
        "n_true",
        "n_candidates",
        "n_hits",
        ratio_micros("n_hits", "n_true").alias("recall_micros"),
        ratio_micros("n_hits", "n_candidates").alias("efficiency_micros"),
    )


QUERIES["dedup_lsh_recall"] = dedup_lsh_recall

_LSH_EVAL_SAMPLE = f"""
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY lang
                ORDER BY {sql_token_hash('CAST(doc_id AS VARCHAR)')}, doc_id
            ) AS _rk
            FROM documents
        ) WHERE _rk <= {LSH_EVAL_N}
"""

ORACLES["dedup_lsh_recall"] = f"""
    WITH documents_s AS MATERIALIZED ({_LSH_EVAL_SAMPLE}),
    {_MH_CTES.replace("FROM documents", "FROM documents_s")}, truth AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM (SELECT h.id, h.hashes, d.lang
              FROM hashed h JOIN documents_s d ON h.id = d.doc_id) a
        JOIN (SELECT h.id, h.hashes, d.lang
              FROM hashed h JOIN documents_s d ON h.id = d.doc_id) b
          ON a.lang = b.lang AND a.id < b.id
        WHERE {sql_pround(_JACCARD, 6)} >= 0.5
    ), joined AS (
        SELECT CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END AS is_true,
               CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS is_cand
        FROM truth t FULL OUTER JOIN cand c
          ON t.id_a = c.id_a AND t.id_b = c.id_b
    )
    SELECT CAST(sum(is_true) AS BIGINT) AS n_true,
           CAST(sum(is_cand) AS BIGINT) AS n_candidates,
           CAST(sum(is_true * is_cand) AS BIGINT) AS n_hits,
           {sql_ratio_micros('sum(is_true * is_cand)', 'sum(is_true)')}
               AS recall_micros,
           {sql_ratio_micros('sum(is_true * is_cand)', 'sum(is_cand)')}
               AS efficiency_micros
    FROM joined
"""


# -------------------------------------------- minhash estimator accuracy
# Quantization-accuracy eval for the minhash rail (round 8, the
# signature-level companion to dedup_lsh_recall's candidate-level
# recall): over every LSH candidate pair, compare the 32-permutation
# signature agreement estimate ĵ = matches/32 against the exact
# shingle-set Jaccard, and report the pair count plus mean/max
# absolute error in micros. E[ĵ] = J with sd ≈ sqrt(J(1-J)/32) ≈ 0.09
# — the eval verifies the configured signature width is delivering
# that, continuously, on the live corpus (the number that justifies
# 32 longs/doc of signature storage at 100 TB).
#
# Scale: candidates are the bucket-capped LSH pair relation; the two
# id-keyed joins attach signatures + verify sets; one final aggregate.
# Nothing quadratic, nothing new to shuffle beyond the production
# pipeline itself.


#: (applicationId, sf_dir) -> (candidate pairs, (id, sig, hashes)),
#: both lazily localCheckpoint-ed.
_MH_EVAL_CACHE: dict[str, tuple[DataFrame, DataFrame]] = {}


def _mh_eval_relations(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Build-once signature-evaluation relations (r14 OPT): the
    ``dedup_minhash_accuracy`` and ``dedup_minhash_bbit`` audits derive
    the IDENTICAL full-corpus 32-permutation signatures, (8,4)-banding
    candidates and per-doc shingle verify sets per call — each audit's
    measured computation is the estimator-error arithmetic over the
    candidate pairs, which stays fresh. ``dedup_minhash_lsh`` (the
    primary detector) does NOT ride this — its row keeps measuring the
    detector end to end."""
    from ..operators.dedup import (
        candidates_from_signatures,
        minhash_signatures_agg,
    )
    from ..session import artifact_cached

    def build() -> tuple[DataFrame, DataFrame]:
        # the shared distinct shingle artifact (min-per-permutation and
        # collect_set are duplicate-insensitive, so distinct rows give
        # bit-identical signatures and verify sets)
        rows_rel = _shared_shingle_rows(spark, sf_dir)
        sigs = minhash_signatures_agg(rows_rel, num=32).localCheckpoint(
            eager=False
        )
        cand = candidates_from_signatures(sigs, 8, 4, 100).localCheckpoint(
            eager=False
        )
        hashed = rows_rel.groupBy("id").agg(
            F.collect_set("h").alias("hashes")
        )
        side = sigs.join(hashed, "id").localCheckpoint(eager=False)
        return (cand, side)

    return artifact_cached(_MH_EVAL_CACHE, spark, sf_dir, build)


def dedup_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.rounding import ratio_units

    cand, side = _mh_eval_relations(spark, sf_dir)
    a = side.select(
        F.col("id").alias("id_a"),
        F.col("sig").alias("sig_a"),
        F.col("hashes").alias("h_a"),
    )
    b = side.select(
        F.col("id").alias("id_b"),
        F.col("sig").alias("sig_b"),
        F.col("hashes").alias("h_b"),
    )
    matches = (
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> CAST(x = y AS INT)),"
        " 0, (acc, v) -> acc + v)"
    )
    inter = "size(array_intersect(h_a, h_b))"
    uni = f"size(h_a) + size(h_b) - {inter}"
    per = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            ratio_units(matches, "32").alias("est_micros"),
            ratio_units(inter, uni).alias("exact_micros"),
        )
        .select(
            F.abs(F.col("est_micros") - F.col("exact_micros")).alias("err")
        )
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        ratio_units("sum(err)", "count(1)", 1).alias("mean_abs_err_micros"),
        F.max("err").alias("max_abs_err_micros"),
    )


QUERIES["dedup_minhash_accuracy"] = dedup_minhash_accuracy

ORACLES["dedup_minhash_accuracy"] = f"""
    WITH {_MH_CTES}, per AS (
        SELECT abs(
            (2 * 1000000 * CAST(len(list_filter(
                 list_transform(range(1, 33),
                     i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END),
                 v -> v = 1)) AS BIGINT) + 32) // (2 * 32)
            -
            (2 * 1000000 * CAST(len(list_intersect(a.hashes, b.hashes)) AS BIGINT)
               + CAST(len(a.hashes) + len(b.hashes)
                      - len(list_intersect(a.hashes, b.hashes)) AS BIGINT))
            // (2 * CAST(len(a.hashes) + len(b.hashes)
                      - len(list_intersect(a.hashes, b.hashes)) AS BIGINT))
        ) AS err
        FROM cand
        JOIN sigs a ON cand.id_a = a.id
        JOIN sigs b ON cand.id_b = b.id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST((2 * 1 * CAST(sum(err) AS BIGINT) + count(*))
                // (2 * count(*)) AS BIGINT) AS mean_abs_err_micros,
           CAST(max(err) AS BIGINT) AS max_abs_err_micros
    FROM per
"""


# ------------------------------------------------------------- SemDeDup
# Embedding-space semantic dedup (Abbas et al. 2023, "SemDeDup: Data-
# efficient learning at web-scale through semantic deduplication"):
# cluster the corpus in embedding space, then inside each cluster drop
# every vector that has a higher-similarity twin with a smaller id —
# paraphrase-level duplicates that no lexical rail (minhash/simhash/
# winnowing) can see. Clustering reuses the deterministic-centroid IVF
# convention (first SEMD_CELLS vectors by id are the centroids, argmax
# cosine assigns — sim_topk_ivf / ann_index_paths precedent); the
# keep/drop rule is the greedy-by-id tournament: drop b iff some a < b
# in the same cell has snapped cosine ≥ SEMD_TAU_MICROS. Zero-norm
# vectors are excluded on BOTH engines before any cosine ordering
# (NaN-vs-NULL sort divergence — the ann_index_paths hazard class).
#
# Scale: the within-cell pair join is the quadratic stage; production
# SemDeDup sizes the k-means codebook at k ∝ √n so expected cell size
# is √n and total pair work stays ~n·√n/k ≈ LINEAR per cell-keyed
# shuffle (the embedding_neardup_ivf_auto adaptive-k subquery is the
# in-repo rail for exactly that). The cell constant here matches the
# fixture; the report is |cells| rows, the per-vector verdict never
# leaves the executors.

SEMD_CELLS = 8
SEMD_TAU_MICROS = 300_000  # snapped-cosine keep/drop threshold (0.30)


def _semdedup_cell_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-checkpoint cell assignment (broadcast argmax over the
    SEMD_CELLS-row centroid relation) — exposed so the plan suite can
    assert the broadcast contract on the lineage the checkpoint
    truncates."""
    from pyspark.sql import Window as W

    from ..functions.vectors import as_double, cosine, norm_sq

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", as_double("embedding").alias("cv"))
        .filter(norm_sq(F.col("cv")) > 0)
    )
    cents = (
        emb.orderBy("vec_id")
        .limit(SEMD_CELLS)
        .select(F.col("vec_id").alias("cid"), F.col("cv").alias("centroid"))
    )
    rn = F.row_number().over(
        W.partitionBy("vec_id").orderBy(
            F.desc(cosine(F.col("cv"), F.col("centroid"))), F.asc("cid")
        )
    )
    return (
        emb.crossJoin(F.broadcast(cents))
        .withColumn("_rn", rn)
        .filter(F.col("_rn") == 1)
        .select("cid", "vec_id", "cv")
    )


SEMD_SALT = 8  # within-cell pair-join fanout salt (knn_join_ivf's rail)


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.rounding import iunits, ratio_micros
    from ..functions.vectors import dot, norm_sq

    # three consumers (pair join a/b + the per-cell count) — checkpoint
    # the assignment once instead of re-running the scan + argmax
    # crossJoin per consumer; localCheckpoint (not persist) so the
    # relation never enters the CacheManager and its blocks GC-release
    # after the query (VERDICT r9 item 1). Norm² is hoisted into the
    # checkpoint so the pair stage evaluates ONE dot per pair —
    # dot/sqrt(nsq_a·nsq_b) is bit-equal to cosine()'s single-sqrt
    # form (the knn_join_ivf contract).
    cell = (
        _semdedup_cell_assignment(spark, sf_dir)
        .withColumn("nsq", norm_sq(F.col("cv")))
        .localCheckpoint(eager=False)
    )
    # SALT the pair join (knn_join_ivf's rail): only |cells| distinct
    # join keys exist, and the r10 bench caught AQE coalescing the
    # tiny-input/huge-CPU-fanout pair shuffle to ONE task (12.7 s warm
    # at sf0.1 — the r9 persist had masked this by disabling adaptive
    # re-planning below the cached scan). b-side takes hash(id)%S,
    # a-side replicates ×S: parallelism |cells|×S, work unchanged.
    a = cell.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(SEMD_SALT - 1)))
    ).alias("a")
    b = cell.withColumn(
        "_salt", F.pmod(F.hash("vec_id"), F.lit(SEMD_SALT))
    ).alias("b")
    pair_cos = dot(F.col("a.cv"), F.col("b.cv")) / F.sqrt(
        F.col("a.nsq") * F.col("b.nsq")
    )
    pairs = a.join(
        b,
        (F.col("a.cid") == F.col("b.cid"))
        & (F.col("a._salt") == F.col("b._salt"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).filter(iunits(pair_cos, 6) >= F.lit(SEMD_TAU_MICROS))
    npairs = pairs.groupBy(F.col("a.cid").alias("cid")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    dropped = (
        pairs.select(F.col("a.cid").alias("cid"), F.col("b.vec_id").alias("v"))
        .distinct()
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_dropped"))
    )
    return (
        cell.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .join(npairs, "cid", "left")
        .join(dropped, "cid", "left")
        .select(
            "cid",
            "n_vectors",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
            (F.col("n_vectors") - F.coalesce("n_dropped", F.lit(0))).alias(
                "n_kept"
            ),
            ratio_micros(
                "coalesce(n_dropped, 0)", "n_vectors"
            ).alias("drop_rate_micros"),
        )
    )


QUERIES["dedup_semantic"] = dedup_semantic

ORACLES["dedup_semantic"] = f"""
    WITH emb AS MATERIALIZED (
        SELECT vec_id, cv FROM (
            SELECT vec_id, {sql_as_double('embedding')} AS cv FROM embeddings
        ) WHERE {{NSQ}} > 0
    ), cents AS MATERIALIZED (
        SELECT vec_id AS cid, cv AS centroid
        FROM emb ORDER BY vec_id LIMIT {SEMD_CELLS}
    ), cell AS MATERIALIZED (
        SELECT cid, vec_id, cv FROM (
            SELECT emb.vec_id, emb.cv, cents.cid,
                   row_number() OVER (
                       PARTITION BY emb.vec_id
                       ORDER BY {sql_cosine('emb.cv', 'cents.centroid')} DESC,
                                cents.cid ASC
                   ) AS rn
            FROM emb, cents
        ) WHERE rn = 1
    ), pairs AS (
        SELECT a.cid, a.vec_id AS va, b.vec_id AS vb
        FROM cell a JOIN cell b
          ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE CAST(floor({sql_cosine('a.cv', 'b.cv')} * 1000000.0 + 0.5)
                   AS BIGINT) >= {SEMD_TAU_MICROS}
    ), np AS (
        SELECT cid, CAST(count(*) AS BIGINT) AS n_pairs FROM pairs GROUP BY 1
    ), dr AS (
        SELECT cid, CAST(count(*) AS BIGINT) AS n_dropped
        FROM (SELECT DISTINCT cid, vb FROM pairs) GROUP BY 1
    )
    SELECT c.cid,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(coalesce(min(np.n_pairs), 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(min(dr.n_dropped), 0) AS BIGINT) AS n_dropped,
           CAST(count(*) - coalesce(min(dr.n_dropped), 0) AS BIGINT) AS n_kept,
           {sql_ratio_micros('coalesce(min(dr.n_dropped), 0)', 'count(*)')}
               AS drop_rate_micros
    FROM cell c
    LEFT JOIN np ON c.cid = np.cid
    LEFT JOIN dr ON c.cid = dr.cid
    GROUP BY 1
""".replace(
    "{NSQ}",
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(cv, x -> x * x)), (x, y) -> x + y)",
)


# --------------------------------------------------- LSH banding sweep
# The tuning table behind dedup_lsh_recall's single operating point:
# the SAME 32-permutation signatures re-banded at (16,2) / (8,4) /
# (4,8) and every configuration scored against the SAME exact truth
# set (same-lang word-bigram Jaccard ≥ 0.5 on the LSH_EVAL_N per-lang
# sample). The s-curve midpoint (1/b)^(1/r) moves 0.25 → 0.59 → 0.71
# across the sweep, so the table shows the real recall/efficiency
# trade a banding change would buy BEFORE anyone re-runs the corpus —
# the measured version of the analytic s-curve argument, and the eval
# a production dedup pipeline re-runs whenever the dup-rate regime
# shifts. One row per configuration; truth and signatures are computed
# once and shared (the sweep costs 3 band-explosions over the bounded
# sample, nothing corpus-proportional beyond the one sample scan).

LSH_SWEEP_CONFIGS: list[tuple[int, int]] = [(16, 2), (8, 4), (4, 8)]


def dedup_banding_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.rounding import ratio_micros
    from ..operators.dedup import candidates_from_signatures

    # r14 OPT (VERDICT r13 item 7): sample/signatures/truth come from
    # the shared eval artifact — identical relations to what this
    # query built per call; the sweep itself (3 band-explosions + 3
    # recall joins, the evaluated computation) stays fresh.
    sigs, truth = _lsh_eval_artifacts(spark, sf_dir)
    out = None
    for bands, rpb in LSH_SWEEP_CONFIGS:
        cand = candidates_from_signatures(sigs, bands, rpb, 100).select(
            "id_a", "id_b", F.lit(1).alias("is_cand")
        )
        joined = truth.join(cand, ["id_a", "id_b"], "full_outer").select(
            F.coalesce("is_true", F.lit(0)).alias("is_true"),
            F.coalesce("is_cand", F.lit(0)).alias("is_cand"),
        )
        rep = (
            joined.agg(
                F.sum("is_true").alias("n_true"),
                F.sum("is_cand").alias("n_candidates"),
                F.sum(F.col("is_true") * F.col("is_cand")).alias("n_hits"),
            )
            .select(
                F.lit(bands).cast("int").alias("bands"),
                F.lit(rpb).cast("int").alias("rows_per_band"),
                "n_true",
                "n_candidates",
                "n_hits",
                ratio_micros("n_hits", "n_true").alias("recall_micros"),
                ratio_micros("n_hits", "n_candidates").alias(
                    "efficiency_micros"
                ),
            )
        )
        out = rep if out is None else out.unionByName(rep)
    return out


QUERIES["dedup_banding_sweep"] = dedup_banding_sweep


def _banding_sweep_oracle() -> str:
    per_cfg = []
    cfg_ctes = []
    for bands, rpb in LSH_SWEEP_CONFIGS:
        tag = f"{bands}x{rpb}"
        cfg_ctes.append(
            f"""bands_{tag} AS (
        SELECT id, unnest({sql_band_hashes('sig', bands, rpb)}) AS bh
        FROM sigs
    ), buckets_{tag} AS (
        SELECT bh, list_distinct(list(id)) AS ids
        FROM bands_{tag} GROUP BY bh
    ), cand_{tag} AS (
        SELECT DISTINCT p['a'] AS id_a, p['b'] AS id_b FROM (
            SELECT unnest(flatten(list_transform(ids, x ->
                list_transform(list_filter(ids, y -> y > x),
                               y -> {{'a': x, 'b': y}})))) AS p
            FROM buckets_{tag} WHERE len(ids) BETWEEN 2 AND 100)
    ), joined_{tag} AS (
        SELECT CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END AS is_true,
               CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS is_cand
        FROM truth t FULL OUTER JOIN cand_{tag} c
          ON t.id_a = c.id_a AND t.id_b = c.id_b
    )"""
        )
        per_cfg.append(
            f"""
    SELECT CAST({bands} AS INTEGER) AS bands,
           CAST({rpb} AS INTEGER) AS rows_per_band,
           CAST(sum(is_true) AS BIGINT) AS n_true,
           CAST(sum(is_cand) AS BIGINT) AS n_candidates,
           CAST(sum(is_true * is_cand) AS BIGINT) AS n_hits,
           {sql_ratio_micros('sum(is_true * is_cand)', 'sum(is_true)')}
               AS recall_micros,
           {sql_ratio_micros('sum(is_true * is_cand)', 'sum(is_cand)')}
               AS efficiency_micros
    FROM joined_{tag}"""
        )
    return f"""
    WITH documents_s AS MATERIALIZED ({_LSH_EVAL_SAMPLE}),
    {_MH_CTES.replace("FROM documents", "FROM documents_s")}, truth AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM (SELECT h.id, h.hashes, d.lang
              FROM hashed h JOIN documents_s d ON h.id = d.doc_id) a
        JOIN (SELECT h.id, h.hashes, d.lang
              FROM hashed h JOIN documents_s d ON h.id = d.doc_id) b
          ON a.lang = b.lang AND a.id < b.id
        WHERE {sql_pround(_JACCARD, 6)} >= 0.5
    ), {", ".join(cfg_ctes)}
    {" UNION ALL ".join(per_cfg)}
"""


ORACLES["dedup_banding_sweep"] = _banding_sweep_oracle()


# ------------------------------------------------- b-bit minhash (b=1)
# Round 11: Li & König 2010 — store only the LOWEST BIT of each
# minhash permutation (32× smaller sketches; the storage mode that
# makes billion-doc signature tables fit an index tier) and estimate
# Jaccard with the b=1 correction Ĵ ≈ 2·E − 1 (E = matching-bit
# fraction; the r→0 form of their C-correction, the standard sparse-
# shingle regime). This query AUDITS the compression on the real LSH
# candidate pairs: per pair, the full-width estimate, the 1-bit
# estimate (clamped at 0 — 2E−1 goes negative for unrelated pairs by
# design), and the exact Jaccard, summarized as mean absolute errors
# side by side — the number that decides whether the serving tier can
# afford 1-bit sketches. Integer rail throughout: bit matches are
# exact counts, estimates are half-up micros rationals on the shared
# shingle artifact (duplicate-insensitive, localCheckpoint-backed).


def dedup_minhash_bbit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.rounding import ratio_units

    # r14 OPT: signatures/candidates/verify sets from the shared eval
    # artifact (_mh_eval_relations); the b-bit estimator arithmetic —
    # the evaluated computation — stays fresh.
    cand, side = _mh_eval_relations(spark, sf_dir)
    a = side.select(
        F.col("id").alias("id_a"),
        F.col("sig").alias("sig_a"),
        F.col("hashes").alias("h_a"),
    )
    b = side.select(
        F.col("id").alias("id_b"),
        F.col("sig").alias("sig_b"),
        F.col("hashes").alias("h_b"),
    )
    full_m = (
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> CAST(x = y AS INT)),"
        " 0, (acc, v) -> acc + v)"
    )
    bit_m = (
        "aggregate(zip_with(sig_a, sig_b,"
        " (x, y) -> CAST((x % 2) = (y % 2) AS INT)),"
        " 0, (acc, v) -> acc + v)"
    )
    inter = "size(array_intersect(h_a, h_b))"
    uni = f"size(h_a) + size(h_b) - {inter}"
    per = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            ratio_units(full_m, "32").alias("full_micros"),
            # Ĵ₁ = max(0, 2·E − 1) in micros: 2·(bit_m/32) − 1
            F.greatest(
                F.lit(2) * ratio_units(bit_m, "32") - F.lit(1_000_000),
                F.lit(0),
            ).alias("bbit_micros"),
            ratio_units(inter, uni).alias("exact_micros"),
        )
        .select(
            F.abs(F.col("full_micros") - F.col("exact_micros")).alias("ef"),
            F.abs(F.col("bbit_micros") - F.col("exact_micros")).alias("eb"),
        )
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        ratio_units("sum(ef)", "count(*)", 1).alias("full_mean_err_micros"),
        ratio_units("sum(eb)", "count(*)", 1).alias("bbit_mean_err_micros"),
        F.max("eb").alias("bbit_max_err_micros"),
    )


QUERIES["dedup_minhash_bbit"] = dedup_minhash_bbit

ORACLES["dedup_minhash_bbit"] = f"""
    WITH {_MH_CTES}, per AS (
        SELECT
            abs(
              (2 * 1000000 * CAST(len(list_filter(
                   list_transform(range(1, 33),
                       i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END),
                   v -> v = 1)) AS BIGINT) + 32) // (2 * 32)
              -
              (2 * 1000000 * CAST(len(list_intersect(a.hashes, b.hashes)) AS BIGINT)
                 + CAST(len(a.hashes) + len(b.hashes)
                        - len(list_intersect(a.hashes, b.hashes)) AS BIGINT))
              // (2 * CAST(len(a.hashes) + len(b.hashes)
                        - len(list_intersect(a.hashes, b.hashes)) AS BIGINT))
            ) AS ef,
            abs(
              greatest(
                2 * ((2 * 1000000 * CAST(len(list_filter(
                     list_transform(range(1, 33),
                         i -> CASE WHEN (a.sig[i] % 2) = (b.sig[i] % 2)
                              THEN 1 ELSE 0 END),
                     v -> v = 1)) AS BIGINT) + 32) // (2 * 32)) - 1000000,
                0)
              -
              (2 * 1000000 * CAST(len(list_intersect(a.hashes, b.hashes)) AS BIGINT)
                 + CAST(len(a.hashes) + len(b.hashes)
                        - len(list_intersect(a.hashes, b.hashes)) AS BIGINT))
              // (2 * CAST(len(a.hashes) + len(b.hashes)
                        - len(list_intersect(a.hashes, b.hashes)) AS BIGINT))
            ) AS eb
        FROM cand
        JOIN sigs a ON cand.id_a = a.id
        JOIN sigs b ON cand.id_b = b.id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST((2 * 1 * CAST(sum(ef) AS BIGINT) + count(*))
                // (2 * count(*)) AS BIGINT) AS full_mean_err_micros,
           CAST((2 * 1 * CAST(sum(eb) AS BIGINT) + count(*))
                // (2 * count(*)) AS BIGINT) AS bbit_mean_err_micros,
           CAST(max(eb) AS BIGINT) AS bbit_max_err_micros
    FROM per
"""


# --------------------------------------- capture-recapture dup audit
# Round 13: HOW MANY near-dup pairs does the corpus actually contain,
# beyond what any single detector finds? Classic ecology answer
# (Lincoln-Petersen; Chapman 1951 bias-corrected), applied to two
# INDEPENDENT detectors as the two "captures" of the same underlying
# duplicate population: minhash-LSH (lexical shingles, n1 pairs) and
# simhash (weighted token fingerprint, n2 pairs) overlap in m pairs ⇒
# population ≈ n1·n2/m, and each detector's coverage is its share of
# that estimate — the dedup-pipeline completeness audit (am I missing
# half the dups?) that deployments run before trusting a single
# detector's recall. Both inputs are already-gated pair relations
# riding the shared shingle artifact; the estimates are exact
# integer rationals (Chapman: (n1+1)(n2+1)/(m+1) − 1, exact without
# a zero-overlap guard). Independence is an assumption, stated — the
# audit reports the inputs alongside so a correlated-detector bias is
# visible, not hidden.
# Scale: one hash join of two bounded pair relations + counts.


#: (applicationId, sf_dir) -> lazily localCheckpoint-ed gated pair sets.
_MH_PAIRS_CACHE: dict[str, DataFrame] = {}
_SH_PAIRS_CACHE: dict[str, DataFrame] = {}


def _shared_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The minhash detector's gated (id_a, id_b) output as a session
    artifact (r14 OPT, VERDICT r13 item 7): the audit re-ran the full
    detector per call. ``dedup_minhash_lsh`` itself (the primary) does
    NOT ride the cache — its bench row keeps measuring the detector."""
    from ..session import artifact_cached

    return artifact_cached(
        _MH_PAIRS_CACHE,
        spark,
        sf_dir,
        lambda: dedup_minhash_lsh(spark, sf_dir)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False),
    )


def _shared_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simhash twin of ``_shared_minhash_pairs`` (primary
    ``dedup_simhash`` stays fresh)."""
    from ..session import artifact_cached

    return artifact_cached(
        _SH_PAIRS_CACHE,
        spark,
        sf_dir,
        lambda: dedup_simhash(spark, sf_dir)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False),
    )


def dedup_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.rounding import ratio_units, ratio_units_dec

    # r13 OPT: each detector relation has TWO consumers (its own count
    # and the overlap join); r14 OPT: the detector outputs are session
    # artifacts — the audit's own computation (counts + overlap join +
    # Chapman arithmetic) stays fresh.
    mh = _shared_minhash_pairs(spark, sf_dir)
    sh = _shared_simhash_pairs(spark, sf_dir)
    n1 = mh.agg(F.count(F.lit(1)).alias("n1"))
    n2 = sh.agg(F.count(F.lit(1)).alias("n2"))
    m = mh.join(sh, ["id_a", "id_b"]).agg(F.count(F.lit(1)).alias("m"))
    dec = "decimal(38,0)"
    rel = n1.crossJoin(F.broadcast(n2)).crossJoin(F.broadcast(m))
    chapman = ratio_units_dec(
        f"(CAST(n1 AS {dec}) + 1) * (n2 + 1)", "m + 1", 1
    )
    return rel.select(
        F.col("n1").cast("long").alias("n_minhash_pairs"),
        F.col("n2").cast("long").alias("n_simhash_pairs"),
        F.col("m").cast("long").alias("n_both"),
        F.when(F.col("m") == 0, F.lit(None).cast("long"))
        .otherwise(
            ratio_units_dec(f"CAST(n1 AS {dec}) * n2", "m", 1)
        )
        .alias("lp_population_est"),
        (chapman - 1).cast("long").alias("chapman_population_est"),
        F.when(F.col("m") == 0, F.lit(None).cast("long"))
        .otherwise(ratio_units("m", "n2"))
        .alias("minhash_coverage_micros"),
        F.when(F.col("m") == 0, F.lit(None).cast("long"))
        .otherwise(ratio_units("m", "n1"))
        .alias("simhash_coverage_micros"),
    )


QUERIES["dedup_capture_recapture"] = dedup_capture_recapture

from ..functions.rounding import (  # noqa: E402
    sql_ratio_units as _sql_ru_cr,
    sql_ratio_units_dec as _sql_rud_cr,
)


def _capture_recapture_sql() -> str:
    return f"""
    WITH mh AS (
        SELECT id_a, id_b FROM ({ORACLES['dedup_minhash_lsh']})
    ), sh AS (
        SELECT id_a, id_b FROM ({ORACLES['dedup_simhash']})
    ), counts AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM mh) AS n1,
               (SELECT CAST(count(*) AS BIGINT) FROM sh) AS n2,
               (SELECT CAST(count(*) AS BIGINT)
                FROM mh JOIN sh USING (id_a, id_b)) AS m
    )
    SELECT n1 AS n_minhash_pairs,
           n2 AS n_simhash_pairs,
           m AS n_both,
           CASE WHEN m = 0 THEN NULL
                ELSE {_sql_rud_cr('CAST(n1 AS HUGEINT) * n2', 'm', 1)}
           END AS lp_population_est,
           CAST({_sql_rud_cr('(CAST(n1 AS HUGEINT) + 1) * (n2 + 1)',
                             'm + 1', 1)} - 1 AS BIGINT)
               AS chapman_population_est,
           CASE WHEN m = 0 THEN NULL
                ELSE {_sql_ru_cr('m', 'n2')}
           END AS minhash_coverage_micros,
           CASE WHEN m = 0 THEN NULL
                ELSE {_sql_ru_cr('m', 'n1')}
           END AS simhash_coverage_micros
    FROM counts
"""


ORACLES["dedup_capture_recapture"] = _capture_recapture_sql()


# ------------------------------------------- dup-cluster size profile
# Round 13: the anonymity-histogram view of the DUPLICATE graph —
# dedup_clusters labels every doc with its component; this query
# reads corpus health off the component-size distribution: how many
# docs sit in dup clusters at all, how big the clusters run, and the
# removal rate exact dedup would apply (all-but-one per cluster).
# Docs touched by no pair are singletons by definition and enter the
# size-1 row via the total-docs complement — no join against the
# full corpus needed beyond one count. Exact integers + micros
# shares; oracle extends the recursive-CTE closure of
# dedup_clusters. Scale: rides the pair relation + one two-level
# groupBy on component grain.


#: (applicationId, sf_dir) -> lazily localCheckpoint-ed component labels.
_DUP_COMPONENTS_CACHE: dict[str, DataFrame] = {}


def _dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once shared component labeling (r13 OPT): the histogram
    readout re-ran the FULL pairs→iterative-closure chain per call
    (5.3 s warm at sf0.1 — the same cost as ``dedup_clusters``
    itself). ``dedup_clusters``/``dedup_clusters_bigstar`` (the
    primary labeling queries) deliberately do NOT ride the cache —
    their rows keep measuring the closure. Keyed by applicationId
    (ADVICE r12) so a restarted session rebuilds."""
    from ..session import artifact_cached

    return artifact_cached(
        _DUP_COMPONENTS_CACHE,
        spark,
        sf_dir,
        lambda: dedup_clusters(spark, sf_dir).localCheckpoint(eager=False),
    )


def dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.rounding import ratio_units

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    comp = _dup_components(spark, sf_dir)
    sizes = comp.groupBy("canonical_id").agg(
        F.count(F.lit(1)).alias("sz")
    )
    hist = sizes.groupBy("sz").agg(F.count(F.lit(1)).alias("n_clusters"))
    clustered = comp.agg(F.count(F.lit(1)).alias("n_clustered"))
    one = (
        hist.crossJoin(F.broadcast(n_docs))
        .crossJoin(F.broadcast(clustered))
    )
    # singleton row: docs in no pair at all (size-1 components never
    # materialize in the pair-edge closure)
    singleton = (
        n_docs.crossJoin(F.broadcast(clustered))
        .select(
            F.lit(1).cast("long").alias("sz"),
            (F.col("n_docs") - F.col("n_clustered")).alias("n_clusters"),
            F.col("n_docs").alias("n_docs"),
            F.col("n_clustered").alias("n_clustered"),
        )
        .filter(F.col("n_clusters") > 0)
    )
    rows = one.select(
        F.col("sz").cast("long").alias("sz"),
        F.col("n_clusters").cast("long").alias("n_clusters"),
        "n_docs",
        "n_clustered",
    ).unionByName(singleton)
    return rows.select(
        F.col("sz").alias("cluster_size"),
        "n_clusters",
        (F.col("sz") * F.col("n_clusters")).cast("long").alias("n_docs_in"),
        ratio_units("sz * n_clusters", "n_docs").alias("doc_share_micros"),
        F.when(F.col("sz") == 1, F.lit(0))
        .otherwise((F.col("sz") - 1) * F.col("n_clusters"))
        .cast("long")
        .alias("n_removable"),
    ).orderBy("cluster_size")


QUERIES["dedup_cluster_histogram"] = dedup_cluster_histogram

from ..functions.rounding import sql_ratio_units as _sql_ru_ch  # noqa: E402

ORACLES["dedup_cluster_histogram"] = f"""
    WITH comp AS ({ORACLES['dedup_clusters']}),
    n_docs AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
    ), clustered AS (
        SELECT CAST(count(*) AS BIGINT) AS n_clustered FROM comp
    ), sizes AS (
        SELECT canonical_id, CAST(count(*) AS BIGINT) AS sz
        FROM comp GROUP BY 1
    ), hist AS (
        SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters
        FROM sizes GROUP BY 1
        UNION ALL
        SELECT 1 AS sz, n_docs - n_clustered AS n_clusters
        FROM n_docs CROSS JOIN clustered
        WHERE n_docs - n_clustered > 0
    )
    SELECT sz AS cluster_size,
           n_clusters,
           CAST(sz * n_clusters AS BIGINT) AS n_docs_in,
           {_sql_ru_ch('sz * n_clusters', 'n_docs')} AS doc_share_micros,
           CAST(CASE WHEN sz = 1 THEN 0
                ELSE (sz - 1) * n_clusters END AS BIGINT) AS n_removable
    FROM hist CROSS JOIN n_docs
    ORDER BY cluster_size
"""
