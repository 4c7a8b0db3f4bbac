"""Vector index attestations: IVF probes (ad-hoc, persisted index,
bulk), PQ/ADC with exact re-rank, embedding near-dup at scale."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bi_utils_spark.queries.core import load, register
from bi_utils_spark.queries.llmtext import _pair_recall_summary
from bi_utils_spark.queries.neardup import TARGET_VEC_SQL



def raw_emb_near_dup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw IVF-celled near-dup pair join (benched; attested by the
    oracle-backed q_emb_near_dup_ivf summary)."""
    from bi_utils_spark.operators.dedup import embedding_near_dup_pairs_ivf

    emb = load(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs_ivf(emb, threshold=0.45, num_cells=8)


@register(
    "q_emb_near_dup_ivf",
    """
    WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0)
    SELECT CAST((SELECT count(*) FROM sub) AS BIGINT) AS n_subset,
           CAST(count(*) AS BIGINT) AS n_exact_pairs,
           CAST(0 AS BIGINT) AS false_positives,
           1 AS recall_ge_080
    FROM sub a JOIN sub b ON a.vec_id < b.vec_id
     AND round(list_cosine_similarity(a.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[]), 9) >= 0.45
    """,
)
def q_emb_near_dup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-bound oracle row for IVF-celled embedding near-dup:
    exact all-pairs cosine over the deterministic vec_id % 5 subset
    is ground truth DuckDB recomputes; the IVF pairs restricted to
    that subset may contain no false positive (candidates are scored
    with exact cosine) and must recall ≥ 80% of the exact pairs."""
    from bi_utils_spark.operators.dedup import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_ivf,
    )

    emb = load(spark, sf_dir, "embeddings")
    sub = emb.filter(F.col("vec_id") % 5 == 0)
    exact = embedding_near_dup_pairs(sub, threshold=0.45)
    ivf_sub = (
        embedding_near_dup_pairs_ivf(emb, threshold=0.45, num_cells=8)
        .filter((F.col("id_a") % 5 == 0) & (F.col("id_b") % 5 == 0))
    )
    n_subset = sub.agg(F.count("*").alias("n_subset"))
    return n_subset.crossJoin(
        _pair_recall_summary(exact, ivf_sub, 0.8, "recall_ge_080").withColumnRenamed(
            "n_exact", "n_exact_pairs"
        )
    )


def raw_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw IVF probe (benched; attested by the oracle-backed
    q_ivf_topk summary)."""
    from bi_utils_spark.operators.similarity import ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    target = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    out = ivf_topk(emb, [float(x) for x in target], k=10, num_cells=8, nprobe=3)
    return out.select("vec_id", F.round("score", 9).alias("score"))


@register(
    "q_ivf_topk",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_corpus,
           CAST(least(10, count(*)) AS BIGINT) AS n_exact,
           1 AS recall_ge_050
    FROM embeddings
    """,
)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-bound oracle row for the IVF top-k probe: exact top-10
    for the same query vector is computed Spark-side (one scan +
    TakeOrdered); the nprobe=3 probe must recall ≥ 50% of it (the
    recall floor that holds across all fixture scales: measured 0.5
    at sf0.001, 0.6 at sf0.01, 0.8 at sf0.1 — near-random synthetic
    embeddings scatter true neighbors across cells, the documented
    IVF weakness on unclustered data). Corpus size anchors the row
    to the data."""
    from bi_utils_spark.operators.similarity import cosine_topk, ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    target = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    probe = ivf_topk(emb, target, k=10, num_cells=8, nprobe=3).select("vec_id")
    exact = cosine_topk(emb, target, k=10).select("vec_id")
    n_corpus = emb.agg(F.count("*").alias("n_corpus"))
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    found = probe.join(exact, "vec_id", "left_semi").agg(
        F.count("*").alias("__found")
    )
    return (
        n_corpus.crossJoin(n_exact)
        .crossJoin(found)
        .select(
            "n_corpus",
            "n_exact",
            (
                F.col("__found").cast("double")
                >= 0.5 * F.col("n_exact").cast("double")
            )
            .cast("int")
            .alias("recall_ge_050"),
        )
    )


def _ivf_index_dir(sf_dir: str) -> str:
    """Per-SF scratch dir for the persisted index (rebuilt by
    :func:`_cached_ivf_index` when unusable, reused otherwise — so the
    bench's repeat timings measure the PROBE path, which is what
    serving pays)."""
    import hashlib
    import tempfile

    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:12]
    return os.path.join(
        tempfile.gettempdir(), f"bi_utils_spark_ivf_{tag}"
    )


def _cached_ivf_index(emb: DataFrame, sf_dir: str) -> str:
    """The per-SF index dir, built from ``emb`` unless a manifest the
    current reader accepts is already there (one left by an older
    layout, without the pinned vectors schema, is rebuilt)."""
    from bi_utils_spark.operators.vector_index import (
        _load_manifest,
        _vectors_schema,
        write_ivf_index,
    )

    path = _ivf_index_dir(sf_dir)
    try:
        _vectors_schema(path, _load_manifest(path))
    except (OSError, ValueError):
        write_ivf_index(emb, path, num_cells=8, iters=2)
    return path


@register(
    "q_ivf_index_topk",
    f"""
    SELECT vec_id,
           round(list_cosine_similarity(embedding::DOUBLE[], {TARGET_VEC_SQL}), 6)
             AS score
    FROM embeddings
    ORDER BY score DESC, vec_id ASC
    LIMIT 10
    """,
)
def q_ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVF index (X107, r7): build-once parquet index
    (vectors partitioned by cell_id, centroid metadata, manifest),
    then probe. With nprobe = num_cells the probe provably equals
    the EXACT cosine top-k — that is this oracle (not a recall
    bound): a green row proves the index round-trips vectors
    losslessly and the probe arithmetic is exact. The pruned-probe
    serving path (nprobe < cells, PartitionFilters I/O) is
    plan-asserted in test_ivf and benched raw."""
    from bi_utils_spark.operators.vector_index import (
        ivf_index_probe,
        write_ivf_index,
    )

    emb = load(spark, sf_dir, "embeddings")
    target = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    path = _ivf_index_dir(sf_dir)
    write_ivf_index(emb, path, num_cells=8, iters=2)
    out = ivf_index_probe(spark, path, target, k=10, nprobe=8)
    return out.select("vec_id", F.round("score", 6).alias("score"))


def raw_ivf_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving path alone: probe nprobe=3 of 8 cells against the
    cached persisted index (built on first call per SF) — repeat
    walls measure partition-pruned probe I/O, the per-query cost a
    vector-serving deployment pays."""
    from bi_utils_spark.operators.vector_index import ivf_index_probe

    emb = load(spark, sf_dir, "embeddings")
    target = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    path = _cached_ivf_index(emb, sf_dir)
    return ivf_index_probe(spark, path, target, k=10, nprobe=3)


@register(
    "q_ivf_batch_topk",
    """
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv FROM embeddings
      WHERE vec_id IN (1, 7, 42, 99, 123)
    ),
    scored AS (
      SELECT q.qid, e.vec_id,
             list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[])
               AS s
      FROM embeddings e, q
    ),
    ranked AS (
      SELECT qid, vec_id, s,
             row_number() OVER (
               PARTITION BY qid ORDER BY s DESC, vec_id ASC
             ) AS rn
      FROM scored
    )
    SELECT qid, vec_id, round(s, 6) AS score FROM ranked WHERE rn <= 5
    """,
)
def q_ivf_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk probe of the persisted IVF index (X107, r8): a query
    TABLE (5 vectors) against the stored layout via
    `vector_index.ivf_index_probe_many` — assignment reuses the
    build's map-only pass, the probed-cell union partition-prunes
    the vector scan, candidates meet in an equi-join on cell_id.
    With nprobe = num_cells the batch probe EQUALS the exact
    per-query cosine top-k — that is this oracle (DuckDB replays
    the full cross scoring + per-query rank). The pruned serving
    config (nprobe=3) is benched raw and plan-asserted in
    test_ivf."""
    from bi_utils_spark.operators.vector_index import ivf_index_probe_many

    emb = load(spark, sf_dir, "embeddings")
    path = _cached_ivf_index(emb, sf_dir)
    queries = emb.where(
        F.col("vec_id").isin([1, 7, 42, 99, 123])
    ).select(F.col("vec_id").alias("qid"), "embedding")
    out = ivf_index_probe_many(
        spark, path, queries, k=5, nprobe=8, query_id_col="qid"
    )
    return out.select(
        "qid", "vec_id", F.round("score", 6).alias("score")
    )


def raw_ivf_batch_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bulk serving path alone: 5 queries × nprobe=3 of 8 cells
    against the cached persisted index — repeat walls measure the
    partition-pruned batch probe, the per-batch cost a bulk
    re-ranking job pays."""
    from bi_utils_spark.operators.vector_index import ivf_index_probe_many

    emb = load(spark, sf_dir, "embeddings")
    path = _cached_ivf_index(emb, sf_dir)
    queries = emb.where(
        F.col("vec_id").isin([1, 7, 42, 99, 123])
    ).select(F.col("vec_id").alias("qid"), "embedding")
    return ivf_index_probe_many(
        spark, path, queries, k=5, nprobe=3, query_id_col="qid"
    )


def raw_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw PQ query path (benched): train → encode (map-only) →
    codegen ADC scan → exact re-rank of the 100-row shortlist."""
    from bi_utils_spark.operators.pq import pq_encode, pq_topk, pq_train

    emb = load(spark, sf_dir, "embeddings")
    target = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    cb = pq_train(emb, num_subspaces=8, num_centroids=256, iters=5)
    codes = pq_encode(emb, cb)
    out = pq_topk(codes, cb, target, k=10, refine_with=emb, refine_factor=10)
    return out.select("vec_id", F.round("score", 9).alias("score"))


@register(
    "q_pq_topk",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_corpus,
           CAST(least(10, count(*)) AS BIGINT) AS n_exact,
           1 AS recall_ge_050
    FROM embeddings
    """,
)
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-bound oracle row for PQ search (operators/pq.py):
    8×256 codebooks (8 B/vector — 64× compression), codegen ADC
    shortlist of 10k, exact re-rank to top-10. Measured recall@10 vs
    the exact scan: 1.0 at sf0.001/sf0.01, 0.8 at sf0.1
    (near-random synthetic embeddings are PQ's worst case — scores
    are tightly bunched); the asserted floor is 0.5."""
    from bi_utils_spark.operators.pq import pq_encode, pq_topk, pq_train
    from bi_utils_spark.operators.similarity import cosine_topk

    emb = load(spark, sf_dir, "embeddings")
    target = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    cb = pq_train(emb, num_subspaces=8, num_centroids=256, iters=5)
    codes = pq_encode(emb, cb)
    probe = pq_topk(
        codes, cb, target, k=10, refine_with=emb, refine_factor=10
    ).select("vec_id")
    exact = cosine_topk(emb, target, k=10).select("vec_id")
    n_corpus = emb.agg(F.count("*").alias("n_corpus"))
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    found = probe.join(exact, "vec_id", "left_semi").agg(
        F.count("*").alias("__found")
    )
    return (
        n_corpus.crossJoin(n_exact)
        .crossJoin(found)
        .select(
            "n_corpus",
            "n_exact",
            (
                F.col("__found").cast("double")
                >= 0.5 * F.col("n_exact").cast("double")
            )
            .cast("int")
            .alias("recall_ge_050"),
        )
    )
