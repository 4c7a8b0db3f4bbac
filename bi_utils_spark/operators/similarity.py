"""Vector similarity search over embedding columns (SURVEY.md §2.14 X3/X4).

Two paths:

- **Exact**: brute-force cosine, computed with native array
  expressions (zip_with multiply + sequential aggregate) — fully
  codegen'd, no Python, deterministic fold order (matches a scalar
  loop, so a SQL oracle reproduces it bit-for-bit in double).
- **Approximate**: random-hyperplane LSH — sign-bit signatures over
  deterministic seeded hyperplanes, Hamming-banded candidate join,
  exact re-rank of candidates. The scale path: candidates per query
  are ~bucket-sized, not corpus-sized.

Scale notes: query-vs-corpus top-k broadcasts the query (map-only
scan + TakeOrdered); self-join top-k shuffles on LSH buckets only.
At 100 TB the corpus scan is the floor; IVF-style partition pruning
(cluster the corpus, scan nearest cells) drops that floor — the
bucketed join here is the same idea with hyperplane cells.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bi_utils_spark.functions.litarrays import lit_double_array


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array columns (cast to double)."""
    a, b = _as_double(a), _as_double(b)
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against one query vector.

    The query is a literal array folded into codegen (broadcast by
    construction); the plan is scan → project score → TakeOrdered(k).
    Ties break on id for determinism.
    """
    q = lit_double_array(query_vec)
    scored = df.select(
        F.col(id_col), cosine(F.col(vec_col), q).alias("score")
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def cosine_self_join_threshold(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs (a < b) with cosine ≥ threshold (X4).

    O(n²) scoring — correct baseline and oracle target. Normalizes
    once before the join so the pair score is a plain dot product.
    Use the LSH variant for corpora where n² is unpayable.
    """
    withv = df.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    ).withColumn("nrm", norm(F.col("v")))
    normed = withv.select(
        "id", F.transform(F.col("v"), lambda x: x / F.col("nrm")).alias("unit")
    )
    a = normed.alias("a")
    b = normed.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            dot(F.col("a.unit"), F.col("b.unit")).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def _hyperplanes(dim: int, num_planes: int, seed: int) -> list[list[float]]:
    rnd = random.Random(seed)
    return [
        [rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)
    ]


def lsh_signature(
    vec_col: Column, planes: list[list[float]]
) -> Column:
    """Sign-bit signature: bit i = 1 iff <v, plane_i> > 0 (packed long)."""
    v = _as_double(vec_col)
    bits = [
        F.when(
            dot(v, lit_double_array(plane)) > 0,
            F.shiftleft(F.lit(1).cast("long"), i),
        ).otherwise(F.lit(0).cast("long"))
        for i, plane in enumerate(planes)
    ]
    out = bits[0]
    for bcol in bits[1:]:
        out = out.bitwiseOR(bcol)
    return out


def ann_self_join_topk(
    df: DataFrame,
    k: int = 5,
    num_planes: int = 16,
    num_bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate k-NN per vector: hyperplane-LSH buckets → exact
    cosine re-rank within candidates → top-k per query id.

    Random-hyperplane LSH: P[signatures agree on a bit] =
    1 − angle/π, so near-identical vectors collide in whole bands.
    Bands of sign bits are the join key; only bucket-mates are scored.
    Recall < 1 by construction — property-tested against the exact
    join rather than oracle-hashed.
    """
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = _hyperplanes(dim, num_planes, seed)
    bits_per_band = num_planes // num_bands
    mask = (1 << bits_per_band) - 1

    sig = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        lsh_signature(F.col(vec_col), planes).alias("sig"),
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_id"),
                F.shiftright(F.col("sig"), i * bits_per_band)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
            for i in range(num_bands)
        ]
    )
    keyed = sig.select("id", "vec", F.explode(band_structs).alias("b")).select(
        "id", "vec", F.col("b.band_id").alias("bi"), F.col("b.band_val").alias("bv")
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    scored = (
        a.join(
            b,
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("query_id"),
            F.col("b.id").alias("neighbor_id"),
        )
        .distinct()
        .join(sig.select(F.col("id"), F.col("vec").alias("qv")), F.col("query_id") == F.col("id"))
        .drop("id")
        .join(sig.select(F.col("id"), F.col("vec").alias("nv")), F.col("neighbor_id") == F.col("id"))
        .drop("id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("nv")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def exact_knn_all(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact k-NN for every vector (O(n²)) — recall baseline for ANN."""
    normed = df.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    )
    a = normed.alias("a")
    b = normed.alias("b")
    scored = a.join(b, F.col("a.id") != F.col("b.id")).select(
        F.col("a.id").alias("query_id"),
        F.col("b.id").alias("neighbor_id"),
        cosine(F.col("a.v"), F.col("b.v")).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def centroids_by_label(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Per-group centroid of an embedding column — an aggregation over
    arrays done JVM-side: element-wise sum via aggregate+zip_with,
    then divide by count. (The UDAF the reference never had, §2.13.)"""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    zero = F.array_repeat(F.lit(0.0), dim)
    summed = df.groupBy(label_col).agg(
        F.aggregate(
            F.collect_list(_as_double(F.col(vec_col))),
            zero,
            lambda acc, v: F.zip_with(acc, v, lambda x, y: x + y),
        ).alias("vec_sum"),
        F.count("*").alias("n"),
    )
    return summed.select(
        label_col,
        F.transform(F.col("vec_sum"), lambda x: x / F.col("n")).alias("centroid"),
        "n",
    )


def centroid_dims(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Long-form per-label centroids: one row per ``(label, dim)``.

    Deterministic-aggregation variant of :func:`centroids_by_label`:
    elements are quantized to fixed point (``round(v * 1e7)`` as
    BIGINT — 1e-7 absolute resolution, below float32's own precision
    at unit scale) and summed as integers, so the result is
    bit-identical under any row order or partitioning (double sums
    are not) — the property the hash-exact oracle gate needs. Note
    DECIMAL casts don't work here: engines disagree by 1 ulp on
    double→decimal rounding, while ``v * 1e7`` + half-away rounding
    is pure double math that agrees everywhere. It is also the shape
    that scales: ``posexplode`` shards the (label, dim) key space
    across the cluster with map-side partial aggregation, instead of
    holding whole-vector state per group.
    """
    long = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(_as_double(F.col(vec_col))).alias("dim0", "v"),
    )
    return long.groupBy("label", (F.col("dim0") + 1).alias("dim")).agg(
        (
            (F.sum(F.round(F.col("v") * 1e7).cast("long")) / F.lit(1e7))
            / F.count("*")
        ).alias("c"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) index — the partition-pruning ANN path (X3 scale
# variant). Spherical k-means coarse quantizer built with broadcast
# joins; probing nprobe cells turns a full corpus scan into a
# fractional one. At 100 TB: write the corpus partitioned/bucketed by
# cell_id once, and every probe becomes parquet partition pruning.
# ---------------------------------------------------------------------------


def _unit(vec: Column) -> Column:
    v = _as_double(vec)
    n = F.sqrt(
        F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    return F.transform(v, lambda x: x / n)


def kmeans_centroids(
    df: DataFrame,
    num_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
    dim: int | None = None,
    train_sample: int | None = None,
) -> DataFrame:
    """Deterministic spherical k-means → (cell_id, centroid[unit]).

    Trains on a bounded, hash-selected sample collected to the driver
    and runs Lloyd iterations as numpy matmuls — the coarse quantizer
    is index *metadata*, and its training cost must not grow with the
    corpus (the FAISS design: train on a sample, assign distributed).

    Sample draw: a hash-threshold filter ``pmod(xxhash64(id), M) <
    thr`` keeps ~2× the requested rows (thr from a count that is
    parquet-metadata-cheap on plain scans), then the tiny survivor
    set is hash-ordered and limited. Data-dependent and
    partitioning-independent, so reproducible for fixed data — and
    unlike the previous full-corpus ``orderBy(xxhash64).limit(n)``,
    the per-partition top-n heaps and the single-reducer merge see
    ~2n rows, not every embedding in the corpus (at 100 TB the old
    draw shipped partitions × n rows to one task just to keep 4096).
    Only the per-vector *assignment* (ivf_assign*) touches the full
    corpus.
    """
    import numpy as np

    if train_sample is None:
        train_sample = max(num_cells * 256, 4096)
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    n_total = base.count()
    if n_total > train_sample * 4:
        # oversample 2x so hash variance can't starve the draw; the
        # subsequent limit() trims back to exactly train_sample
        m = 1 << 20
        thr = -(-(train_sample * 2 * m) // n_total)  # ceil
        base = base.filter(F.pmod(F.xxhash64(F.col("id")), F.lit(m)) < thr)
    sample = (
        base.orderBy(F.xxhash64(F.col("id")), F.col("id"))
        .limit(train_sample)
        .collect()
    )
    X = np.asarray([list(r["v"]) for r in sample], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
    k = min(num_cells, X.shape[0])
    C = X[:k].copy()
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)  # ties → lowest cell_id
        for c in range(k):
            members = X[assign == c]
            if len(members):
                s = members.sum(axis=0)
                C[c] = s / max(np.linalg.norm(s), 1e-300)
    from bi_utils_spark.operators.localrel import local_df

    return local_df(
        df.sparkSession,
        [(i, [float(x) for x in C[i]]) for i in range(k)],
        "cell_id int, centroid array<double>",
    )


def _collect_centroid_matrix(centroids: DataFrame):
    """Centroid table → (cell_id vector, matrix). num_cells rows by
    design — index metadata, safe to hold on the driver/executors."""
    import numpy as np

    rows = sorted(centroids.collect(), key=lambda r: r["cell_id"])
    ids = np.asarray([int(r["cell_id"]) for r in rows])
    mat = np.asarray([list(r["centroid"]) for r in rows], dtype=np.float64)
    return ids, mat


def _unit_query(query_vec: list[float]) -> list[float]:
    """The query scaled to unit length (a zero vector stays zero)."""
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec)) or 1.0
    return [float(x) / qn for x in query_vec]


def _rank_cells(cell_ids, cent, qu: list[float], nprobe: int) -> list[int]:
    """The ``nprobe`` cells nearest the unit query ``qu``: one numpy
    ``cent @ qu`` over an (ascending ``cell_ids``, matrix) pair as
    :func:`_collect_centroid_matrix` returns it; a stable sort breaks
    ties toward the lower cell_id, as assignment does."""
    import numpy as np

    order = np.argsort(-(cent @ np.asarray(qu, dtype=np.float64)), kind="stable")
    return [int(c) for c in cell_ids[order[:nprobe]]]


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach cell_id to every vector (the index build output — persist
    or write partitioned by cell_id for probe-time pruning).

    Map-only: normalize + nearest-centroid argmax happen in ONE
    Arrow-batched numpy matmul per batch (no cross join, no shuffle) —
    at 100 TB this is a single pass over the corpus with the centroid
    matrix shipped in the task closure.
    """
    return ivf_assign_multi(df, centroids, 1, id_col, vec_col)


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    num_cells: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: probe the ``nprobe`` cells nearest the query,
    exact cosine re-rank inside them. Recall is property-tested against
    ``cosine_topk``; scan cost drops to ~nprobe/num_cells of the corpus
    (exactly nprobe partitions once the index is written out)."""
    if centroids is None:
        centroids = kmeans_centroids(df, num_cells, id_col, vec_col, iters)
    qu = _unit_query(query_vec)

    # Cell ranking is driver-side: the centroid table IS the index
    # metadata (num_cells rows), never big.
    cell_ids, cent = _collect_centroid_matrix(centroids)
    probe = _rank_cells(cell_ids, cent, qu, nprobe)

    assigned = _ivf_assign_matrix(df, cell_ids, cent, 1, id_col, vec_col)
    qcol = lit_double_array(qu)
    return (
        assigned.filter(F.col("cell_id").isin(probe))
        .select(
            F.col("id").alias(id_col),
            dot(F.col("u"), qcol).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def ivf_assign_multi(
    df: DataFrame,
    centroids: DataFrame,
    num_assign: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-assignment: index every vector into its ``num_assign``
    nearest cells (one output row per (id, cell)). The standard recall
    fix for IVF candidate generation — near-boundary vectors appear in
    all their plausible cells, so near-dup pairs meet in at least one.
    Index size grows ×num_assign; probe cost is unchanged.

    Map-only (see ivf_assign): one numpy matmul + stable top-m argsort
    per Arrow batch; ties break toward the lower cell_id.
    """
    cell_ids, cent = _collect_centroid_matrix(centroids)
    return _ivf_assign_matrix(df, cell_ids, cent, num_assign, id_col, vec_col)


def _ivf_assign_matrix(
    df: DataFrame,
    cell_ids,
    cent,
    num_assign: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`ivf_assign_multi` over a centroid table already on the
    driver: ``cell_ids`` ascending, ``cent`` the matching (num_cells,
    d) float64 matrix. For callers that hold the index metadata
    (``vector_index`` reads it from parquet without a Spark job)."""
    from pyspark.sql.types import ArrayType, DoubleType, IntegerType, StructField, StructType

    m = min(num_assign, len(cell_ids))
    src = df.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
    out_schema = StructType(
        [
            src.schema["id"],
            StructField("u", ArrayType(DoubleType()), False),
            StructField("cell_id", IntegerType(), False),
        ]
    )

    import pandas as pd  # noqa: PLC0415

    def assign(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            U = np.asarray([list(v) for v in pdf["v"]], dtype=np.float64)
            U /= np.maximum(np.linalg.norm(U, axis=1, keepdims=True), 1e-300)
            S = U @ cent.T
            top = np.argsort(-S, axis=1, kind="stable")[:, :m]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy().repeat(m),
                    "u": [list(U[i]) for i in range(n) for _ in range(m)],
                    "cell_id": cell_ids[top].reshape(-1),
                }
            )

    return src.mapInPandas(assign, schema=out_schema)


def cosine_pairs_blocked(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int | None = None,
    target_block: int = 1024,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold via blocked matrix multiply.

    Same answer as cosine_self_join_threshold, different physics: the
    corpus is packed into ~``target_block``-row blocks (one row per
    block carrying an id array + a flattened vector matrix), block
    PAIRS are joined, and each pair is scored as ONE numpy matmul in
    an Arrow-batched mapInPandas — thousands of SIMD dot products per
    Python call instead of one codegen'd fold per pair. Use this when
    n² scoring is required (ground truth, recall audits); use the IVF/
    LSH variants when it is not.

    Scale: work is n²/2 dots regardless; this layout spreads block
    pairs across executors evenly and ships each block once per
    partner block. Scores may differ from the sequential fold in the
    last float ulp (SIMD summation order) — exact pair SETS at any
    sane threshold, but not bit-identical scores: keep oracle-hashed
    queries on the fold path.
    """
    import math as _math

    n = df.count()
    if num_blocks is None:
        num_blocks = max(1, _math.ceil(n / target_block))

    unit = df.select(
        F.col(id_col).alias("id"), _unit(F.col(vec_col)).alias("u")
    ).withColumn("bkt", F.pmod(F.xxhash64(F.col("id")), F.lit(num_blocks)))
    packed = unit.groupBy("bkt").agg(
        F.collect_list("id").alias("ids"),
        F.collect_list("u").alias("vecs"),
    )
    pairs = (
        packed.alias("a")
        .join(packed.alias("b"), F.col("a.bkt") <= F.col("b.bkt"))
        .select(
            F.col("a.bkt").alias("bkt_a"),
            F.col("b.bkt").alias("bkt_b"),
            F.col("a.ids").alias("ids_a"),
            F.col("a.vecs").alias("vecs_a"),
            F.col("b.ids").alias("ids_b"),
            F.col("b.vecs").alias("vecs_b"),
        )
        # one block pair per task: matmul work spreads evenly
        .repartition(num_blocks * (num_blocks + 1) // 2)
    )

    import pandas as pd  # noqa: PLC0415

    def score(batches):
        import numpy as np

        for pdf in batches:
            out_a, out_b, out_s = [], [], []
            for row in pdf.itertuples(index=False):
                ids_a = np.asarray(row.ids_a)
                ids_b = np.asarray(row.ids_b)
                A = np.asarray([list(v) for v in row.vecs_a])
                B = np.asarray([list(v) for v in row.vecs_b])
                S = A @ B.T
                ia, ib = np.nonzero(S >= threshold)
                if row.bkt_a == row.bkt_b:
                    # diagonal block: S holds both (i,j) and (j,i)
                    keep = ids_a[ia] < ids_b[ib]
                else:
                    # off-diagonal: each pair appears once; id order is
                    # uncorrelated with block order — normalize below
                    keep = ids_a[ia] != ids_b[ib]
                lo = np.minimum(ids_a[ia][keep], ids_b[ib][keep])
                hi = np.maximum(ids_a[ia][keep], ids_b[ib][keep])
                out_a.extend(lo)
                out_b.extend(hi)
                out_s.extend(S[ia, ib][keep])
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "score": out_s})

    return pairs.mapInPandas(score, schema="id_a long, id_b long, score double")


def knn_join_exact(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 9,
    max_broadcast_rows: int | None = 100_000,
) -> DataFrame:
    """(query_id, neighbor_id, score, rank) — for every QUERY vector,
    its top-``k`` corpus neighbors by cosine: the retrieval join a
    RAG/embedding-eval pipeline runs between a (small) query batch
    and a (large) corpus.

    Exact form, oracle-checkable: the query side broadcasts (batches
    are small by definition), each corpus row scores |Q| dots
    map-side — casts and norms hoisted per side, one fold per pair —
    and one shuffle on query_id ranks the candidates. Ties break on
    neighbor id; scores round to ``round_digits`` so ranking is
    engine-portable.

    Scale: the shuffle carries |Q|·|corpus| candidate rows — fine up
    to ~10⁴ queries × 10⁷ corpus rows per run; beyond that use
    :func:`knn_join_blocked` (per-partition numpy top-k shrinks the
    shuffle to |Q|·k·partitions rows) or probe the IVF/PQ index per
    query batch. ``max_broadcast_rows`` enforces that contract: a
    query side over the bound raises ``BroadcastSizeError`` instead
    of planning a runaway BNLJ (None = caller has sized the batch).
    """
    from bi_utils_spark.operators.guards import require_broadcastable

    queries = require_broadcastable(
        queries, max_broadcast_rows, "query",
        "knn_join_exact", "similarity.knn_join_blocked",
    )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        _as_double(F.col(vec_col)).alias("__qv"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("__cv"),
    )
    qt = q.schema["query_id"].dataType.simpleString()
    ct = c.schema["neighbor_id"].dataType.simpleString()
    # The query batch rides to every task like the old broadcast side
    # did (bounded by the guard above); scoring runs as ONE vectorized
    # numpy pass per Arrow batch instead of the former
    # BroadcastNestedLoopJoin whose zip_with/aggregate fold was
    # interpreted per element (guide §4.2 — measured ~50 task-seconds
    # for 2×10⁶ pairs at d=64; the numpy pass is milliseconds).
    # BIT-IDENTICAL by construction: the fold was a SEQUENTIAL
    # dim-order chain of IEEE double mul/add per pair, and the numpy
    # loop accumulates in the same dim order with the same scalar ops
    # (sqrt and division are correctly rounded in both runtimes);
    # rounding stays JVM-side (F.round below) so the half-up decimal
    # semantics are untouched. NULL/ragged/mismatched-dim vectors
    # yield NULL scores exactly as zip_with's null-padding did;
    # non-finite values flow through IEEE arithmetic identically.
    qrows = [(r["query_id"], r["__qv"]) for r in q.collect()]
    bq = corpus.sparkSession.sparkContext.broadcast(qrows)

    def _seq_sq_norm(M):
        import numpy as np

        acc = np.zeros(M.shape[0], dtype=np.float64)
        for j in range(M.shape[1]):
            acc = acc + M[:, j] * M[:, j]
        return np.sqrt(acc)

    def score_batches(batches):
        import numpy as np
        import pandas as pd

        qlist = bq.value
        null_qids = [qid for qid, v in qlist if v is None]
        by_dim: dict[int, tuple[list, list]] = {}
        for qid, v in qlist:
            if v is None:
                continue
            ids, vecs = by_dim.setdefault(len(v), ([], []))
            ids.append(qid)
            vecs.append(np.asarray(v, dtype=np.float64))
        groups = []
        for d, (ids, vecs) in by_dim.items():
            Qm = np.vstack(vecs)
            groups.append((d, np.asarray(ids, dtype=object), Qm, _seq_sq_norm(Qm)))

        for pdf in batches:
            nc = len(pdf)
            if nc == 0:
                continue
            cids = pdf["neighbor_id"].to_numpy(dtype=object)
            vals = list(pdf["__cv"])
            for d, qids, Qm, qn in groups:
                ok = np.array(
                    [v is not None and len(v) == d for v in vals], dtype=bool
                )
                nq = len(qids)
                if ok.any():
                    C = np.vstack(
                        [np.asarray(v, dtype=np.float64) for v, o in zip(vals, ok) if o]
                    )
                    cn = _seq_sq_norm(C)
                    # chunk the query axis so the score matrix stays
                    # tens of MB however large the (guard-bounded)
                    # batch is; per-pair arithmetic is unaffected
                    step = max(1, 8_388_608 // max(C.shape[0], 1))
                    for q0 in range(0, nq, step):
                        Qc = Qm[q0 : q0 + step]
                        S = np.zeros((C.shape[0], Qc.shape[0]), dtype=np.float64)
                        for j in range(d):
                            S = S + C[:, j][:, None] * Qc[:, j][None, :]
                        with np.errstate(divide="ignore", invalid="ignore"):
                            S = S / (qn[q0 : q0 + step][None, :] * cn[:, None])
                        yield pd.DataFrame(
                            {
                                "query_id": np.tile(
                                    qids[q0 : q0 + step], C.shape[0]
                                ),
                                "neighbor_id": np.repeat(cids[ok], Qc.shape[0]),
                                "score": S.ravel(),
                            }
                        )
                if (~ok).any():
                    bad = cids[~ok]
                    yield pd.DataFrame(
                        {
                            "query_id": np.tile(qids, len(bad)),
                            "neighbor_id": np.repeat(bad, nq),
                            "score": pd.array([None] * (len(bad) * nq), dtype="Float64"),
                        }
                    )
            if null_qids:
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(
                            np.asarray(null_qids, dtype=object), nc
                        ),
                        "neighbor_id": np.tile(cids, len(null_qids)),
                        "score": pd.array(
                            [None] * (len(null_qids) * nc), dtype="Float64"
                        ),
                    }
                )

    scored = c.mapInPandas(
        score_batches, schema=f"query_id {qt}, neighbor_id {ct}, score double"
    ).select(
        "query_id",
        "neighbor_id",
        F.round(F.col("score"), round_digits).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_join_blocked(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale form of :func:`knn_join_exact`: per-partition numpy
    top-k, then a global re-rank of only the partial winners.

    Each corpus partition computes its own top-k per query with one
    BLAS matmul (queries collected to the driver once — bounded by
    the batch contract), so the shuffle carries |Q|·k·partitions
    rows instead of |Q|·|corpus|. Results equal knn_join_exact up to
    SIMD last-ulp score differences (neighbor SETS equal at test
    scale, asserted; registry queries needing exact hashes use the
    exact form).
    """
    import pandas as pd  # noqa: PLC0415

    qrows = queries.select(
        F.col(query_id).alias("qid"), _as_double(F.col(vec_col)).alias("v")
    ).collect()
    qids = [r["qid"] for r in qrows]
    import numpy as np

    Q = np.asarray([list(r["v"]) for r in qrows], dtype=np.float64)
    Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
    spark = queries.sparkSession
    bQ = spark.sparkContext.broadcast((qids, Q))

    def partial(batches):
        ids_q, Qm = bQ.value
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.asarray([list(v) for v in pdf["__cv"]], dtype=np.float64)
            C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
            S = Qm @ C.T  # |Q| x |partition|
            top = min(k, S.shape[1])
            idx = np.argpartition(-S, top - 1, axis=1)[:, :top]
            out_q, out_n, out_s = [], [], []
            nid = pdf["__nid"].to_numpy()
            for qi in range(S.shape[0]):
                out_q.extend([ids_q[qi]] * top)
                out_n.extend(nid[idx[qi]])
                out_s.extend(np.round(S[qi, idx[qi]], 9))
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "score": out_s}
            )

    c = corpus.select(
        F.col(corpus_id).alias("__nid"), _as_double(F.col(vec_col)).alias("__cv")
    )
    # id field types follow the input schemas (string/int doc ids work
    # the same as the generic knn_join_exact — not hardcoded to long)
    qt = queries.schema[query_id].dataType.simpleString()
    ct = corpus.schema[corpus_id].dataType.simpleString()
    partials = c.mapInPandas(
        partial, schema=f"query_id {qt}, neighbor_id {ct}, score double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
