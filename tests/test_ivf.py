"""IVF index + embedding-cosine dedup (operators/similarity.py, dedup.py)."""

import pytest
from pyspark.sql import functions as F

from bi_utils_spark.operators.dedup import (
    embedding_dedup_exact,
    embedding_near_dup_pairs,
    embedding_near_dup_pairs_ivf,
)
from bi_utils_spark.operators.similarity import (
    cosine_topk,
    ivf_assign,
    ivf_topk,
    kmeans_centroids,
)
from bi_utils_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


def test_kmeans_deterministic_and_unit(spark, emb):
    c1 = kmeans_centroids(emb, num_cells=8, iters=2)
    c2 = kmeans_centroids(emb, num_cells=8, iters=2)
    r1 = {r["cell_id"]: r["centroid"] for r in c1.collect()}
    r2 = {r["cell_id"]: r["centroid"] for r in c2.collect()}
    assert r1 == r2
    for v in r1.values():
        assert abs(sum(x * x for x in v) - 1.0) < 1e-9


def test_ivf_assign_covers_all_rows(spark, emb):
    cents = kmeans_centroids(emb, num_cells=8, iters=1)
    assigned = ivf_assign(emb, cents)
    assert assigned.count() == emb.count()
    assert assigned.select("id").distinct().count() == emb.count()
    n_cells = assigned.select("cell_id").distinct().count()
    assert 1 < n_cells <= 8


def test_ivf_topk_recall_vs_exact(spark, emb):
    target = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    q = [float(x) for x in target]
    exact = {r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()}
    approx = {r["vec_id"] for r in ivf_topk(emb, q, k=10, num_cells=8, nprobe=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF recall {recall} too low"


def test_embedding_dedup_exact_drops_near_dups(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # near-dup of 1 → dropped
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    kept = sorted(r["vec_id"] for r in embedding_dedup_exact(df, threshold=0.95).collect())
    assert kept == [1, 3, 4]


def test_ivf_pairs_subset_of_exact_with_recall(spark, emb):
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(emb, threshold=0.45).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs_ivf(emb, threshold=0.45, num_cells=8).collect()
    }
    assert approx <= exact            # no false positives (exact verify)
    if exact:
        assert len(approx) / len(exact) >= 0.3   # cells keep a usable share


def test_blocked_pairs_match_fold_pairs(spark, emb):
    # same pair set as the codegen fold path (scores equal to ~1 ulp)
    from bi_utils_spark.operators.similarity import (
        cosine_pairs_blocked,
        cosine_self_join_threshold,
    )

    fold = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in cosine_self_join_threshold(emb, threshold=0.45).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in cosine_pairs_blocked(emb, threshold=0.45, num_blocks=4).collect()
    }
    assert set(fold) == set(blocked)
    for k in fold:
        assert abs(fold[k] - blocked[k]) < 1e-9


# --- retrieval kNN join (similarity.py) -----------------------------------


def test_knn_join_blocked_matches_exact_sets(spark, sf_dir):
    from bi_utils_spark.operators.similarity import (
        knn_join_blocked,
        knn_join_exact,
    )
    from bi_utils_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 25 == 0)
    c = emb.filter(F.col("vec_id") % 25 != 0)
    exact = knn_join_exact(q, c, k=5)
    blocked = knn_join_blocked(q, c, k=5)
    ex = {}
    for r in exact.collect():
        ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    bl = {}
    for r in blocked.collect():
        bl.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert ex == bl


def test_knn_join_exact_rank_contract(spark, sf_dir):
    from bi_utils_spark.operators.similarity import knn_join_exact
    from bi_utils_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 25 == 0)
    c = emb.filter(F.col("vec_id") % 25 != 0)
    out = knn_join_exact(q, c, k=3).collect()
    per = {}
    for r in out:
        per.setdefault(r["query_id"], []).append((r["rank"], r["score"]))
    for qid, rows in per.items():
        rows.sort()
        assert [r[0] for r in rows] == [1, 2, 3]
        scores = [r[1] for r in rows]
        assert scores == sorted(scores, reverse=True)


# --- persisted IVF index (operators/vector_index.py, r7) -------------------


def test_index_full_probe_equals_exact(spark, emb, tmp_path):
    """nprobe = num_cells: the persisted-index probe must EQUAL the
    exact cosine top-k (same ids, same scores to 1e-9)."""
    from bi_utils_spark.operators.vector_index import (
        ivf_index_probe,
        write_ivf_index,
    )

    path = str(tmp_path / "ivf")
    man = write_ivf_index(emb, path, num_cells=8, iters=2)
    assert man["num_cells"] == 8
    target = [float(x) for x in emb.first()["embedding"]]
    got = ivf_index_probe(spark, path, target, k=10, nprobe=8).collect()
    want = cosine_topk(emb, target, k=10).collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]
    for g, w in zip(got, want):
        assert abs(g["score"] - w["score"]) < 1e-9


def test_index_probe_is_partition_pruned(spark, emb, tmp_path):
    """The probe's cell predicate lands in PartitionFilters — the
    scan reads nprobe directories, not the corpus plus a row
    filter."""
    from bi_utils_spark.operators.vector_index import (
        ivf_index_probe,
        write_ivf_index,
    )

    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, num_cells=8, iters=1)
    target = [float(x) for x in emb.first()["embedding"]]
    probe = ivf_index_probe(spark, path, target, k=5, nprobe=2)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    pf = [
        line for line in plan.splitlines() if "PartitionFilters" in line
    ]
    assert pf and any("cell_id" in line for line in pf), plan
    # and the row-level data filters do NOT re-apply the cell predicate
    assert probe.count() == 5


def test_index_multi_assign_unique_ids(spark, emb, tmp_path):
    from bi_utils_spark.operators.vector_index import (
        ivf_index_probe,
        write_ivf_index,
    )

    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, num_cells=8, iters=1, num_assign=2)
    target = [float(x) for x in emb.first()["embedding"]]
    got = ivf_index_probe(spark, path, target, k=20, nprobe=8).collect()
    ids = [r["vec_id"] for r in got]
    assert len(ids) == len(set(ids)) == 20
    # full probe of the doubled index still equals the exact top-k
    want = [r["vec_id"] for r in cosine_topk(emb, target, k=20).collect()]
    assert ids == want


def test_index_append_without_retrain(spark, emb, tmp_path):
    """Appending a delta against the stored centroids: appended ids
    are probe-visible, pre-existing assignments untouched, and a
    full probe still equals the exact top-k over the UNION corpus."""
    from bi_utils_spark.operators.vector_index import (
        ivf_index_append,
        ivf_index_probe,
        ivf_index_stats,
        write_ivf_index,
    )

    old = emb.filter(F.col("vec_id") % 2 == 0)
    delta = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivf")
    write_ivf_index(old, path, num_cells=8, iters=2)
    n_before = ivf_index_stats(spark, path).agg(
        F.sum("n_vectors")
    ).first()[0]
    assert n_before == old.count()
    ivf_index_append(spark, path, delta)
    n_after = ivf_index_stats(spark, path).agg(
        F.sum("n_vectors")
    ).first()[0]
    assert n_after == emb.count()
    target = [float(x) for x in emb.first()["embedding"]]
    got = [
        r["vec_id"]
        for r in ivf_index_probe(spark, path, target, k=10, nprobe=8).collect()
    ]
    want = [r["vec_id"] for r in cosine_topk(emb, target, k=10).collect()]
    assert got == want


def test_index_probe_many_full_equals_exact_per_query(spark, emb, tmp_path):
    """Batch probe (r8): with nprobe = num_cells every query's top-k
    EQUALS its exact cosine top-k — ids and scores."""
    from bi_utils_spark.operators.vector_index import (
        ivf_index_probe_many,
        write_ivf_index,
    )

    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, num_cells=8, iters=2)
    qids = [1, 7, 42]
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    got = ivf_index_probe_many(
        spark, path, queries, k=5, nprobe=8, query_id_col="qid"
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append((r["vec_id"], r["score"]))
    assert set(by_q) == set(qids)
    for qid in qids:
        target = [
            float(x)
            for x in emb.filter(F.col("vec_id") == qid).first()["embedding"]
        ]
        want = cosine_topk(emb, target, k=5).collect()
        assert [p[0] for p in by_q[qid]] == [r["vec_id"] for r in want]
        for (_, g), w in zip(by_q[qid], want):
            assert abs(g - w["score"]) < 1e-9


def test_index_probe_many_is_partition_pruned(spark, emb, tmp_path):
    """The batch probe's union-of-cells predicate lands in
    PartitionFilters — I/O is |probed cells|/num_cells by
    construction, same as the single-query probe."""
    from bi_utils_spark.operators.vector_index import (
        ivf_index_probe_many,
        write_ivf_index,
    )

    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, num_cells=8, iters=1)
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    probe = ivf_index_probe_many(spark, path, queries, k=3, nprobe=2)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    pf = [
        line for line in plan.splitlines() if "PartitionFilters" in line
    ]
    assert pf and any("cell_id" in line for line in pf), plan
    got = probe.collect()
    assert {r["qid"] for r in got} == {0, 1}
    assert all(
        len([r for r in got if r["qid"] == q]) == 3 for q in (0, 1)
    )


def test_index_probe_many_broadcast_off_identical(spark, emb, tmp_path):
    from bi_utils_spark.operators.vector_index import (
        ivf_index_probe_many,
        write_ivf_index,
    )

    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, num_cells=8, iters=1)
    queries = emb.filter(F.col("vec_id").isin([3, 9])).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    a = ivf_index_probe_many(
        spark, path, queries, k=4, nprobe=8, broadcast_queries=True
    ).collect()
    b = ivf_index_probe_many(
        spark, path, queries, k=4, nprobe=8, broadcast_queries=False
    ).collect()
    key = lambda r: (r["qid"], r["vec_id"])  # noqa: E731
    assert sorted(map(key, a)) == sorted(map(key, b))


def test_index_probe_many_rejects_id_collision(spark, emb, tmp_path):
    from bi_utils_spark.operators.vector_index import (
        ivf_index_probe_many,
        write_ivf_index,
    )

    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, num_cells=4, iters=1)
    with pytest.raises(ValueError, match="collides"):
        ivf_index_probe_many(
            spark, path, emb, k=3, query_id_col="vec_id"
        )


def test_index_probe_runs_one_job(spark, emb, tmp_path):
    """A num_assign=1 probe is ONE Spark job: centroids and schema
    come from the driver-side metadata, only the top-k runs on
    Spark."""
    from bi_utils_spark.operators.vector_index import (
        ivf_index_probe,
        write_ivf_index,
    )

    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, num_cells=8, iters=1)
    target = [float(x) for x in emb.first()["embedding"]]
    sc = spark.sparkContext
    group = f"ivf-probe-{tmp_path.name}"
    sc.setJobGroup(group, "one-job probe")
    try:
        rows = ivf_index_probe(spark, path, target, k=5, nprobe=2).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 5
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1, jobs


@pytest.fixture
def empty_cell_index(spark, tmp_path):
    """2-d unit vectors in the first quadrant (no angle on the
    diagonal) against three cells: 0 = +x, 1 = +y and 2, pointing
    into the third quadrant, which no vector is nearest — so
    ``vectors/cell_id=2`` is never written."""
    import math

    from bi_utils_spark.operators.vector_index import write_ivf_index

    rows = []
    for i in range(40):
        a = (i + 0.5) / 40 * math.pi / 2
        rows.append((i, [math.cos(a), math.sin(a)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    h = 1 / math.sqrt(2)
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [-h, -h])],
        "cell_id int, centroid array<double>",
    )
    path = str(tmp_path / "ivf")
    write_ivf_index(df, path, centroids=cents)
    assert not (tmp_path / "ivf" / "vectors" / "cell_id=2").exists()
    return df, path


def test_index_probe_skips_empty_cell(spark, empty_cell_index):
    """Probed cells without a directory are skipped: the result
    equals the exact top-k over the probed cells that exist, and a
    probe of the empty cell alone is empty."""
    from bi_utils_spark.operators.vector_index import ivf_index_probe

    df, path = empty_cell_index
    q = [-1.0, -0.2]  # cells ranked 2, 1, 0
    got = ivf_index_probe(spark, path, q, k=5, nprobe=2).collect()
    cell1 = df.where(F.col("vec_id") >= 20)  # angles above the diagonal
    want = cosine_topk(cell1, q, k=5).collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]
    for g, w in zip(got, want):
        assert abs(g["score"] - w["score"]) < 1e-9
    full = ivf_index_probe(spark, path, q, k=5, nprobe=3).collect()
    assert [r["vec_id"] for r in full] == [
        r["vec_id"] for r in cosine_topk(df, q, k=5).collect()
    ]
    assert ivf_index_probe(spark, path, q, k=5, nprobe=1).collect() == []


def test_index_without_pinned_schema_must_be_rebuilt(spark, emb, tmp_path):
    """An index whose manifest predates the pinned vectors schema is
    refused by every reader and by append, with a rebuild hint — no
    fallback to schema inference."""
    import json
    import os

    from bi_utils_spark.operators.vector_index import (
        ivf_index_append,
        ivf_index_probe,
        ivf_index_probe_many,
        ivf_index_stats,
        write_ivf_index,
    )

    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, num_cells=4, iters=1)
    mpath = os.path.join(path, "_MANIFEST.json")
    with open(mpath) as fh:
        man = json.load(fh)
    del man["vectors_schema"]
    with open(mpath, "w") as fh:
        json.dump(man, fh)
    target = [float(x) for x in emb.first()["embedding"]]
    queries = emb.select(F.col("vec_id").alias("qid"), "embedding")
    calls = [
        lambda: ivf_index_probe(spark, path, target),
        lambda: ivf_index_probe_many(spark, path, queries),
        lambda: ivf_index_stats(spark, path),
        lambda: ivf_index_append(spark, path, emb),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="rebuild it with write_ivf_index"):
            call()


def test_index_appends_full_probe_equals_exact_union(spark, emb, tmp_path):
    """Two appends into a multi-assigned index: a full probe equals
    the exact cosine top-k over the union — ids and scores."""
    from bi_utils_spark.operators.vector_index import (
        ivf_index_append,
        ivf_index_probe,
        write_ivf_index,
    )

    path = str(tmp_path / "ivf")
    write_ivf_index(
        emb.filter(F.col("vec_id") % 3 == 0), path, num_cells=8, iters=1,
        num_assign=2,
    )
    ivf_index_append(spark, path, emb.filter(F.col("vec_id") % 3 == 1))
    ivf_index_append(spark, path, emb.filter(F.col("vec_id") % 3 == 2))
    target = [float(x) for x in emb.first()["embedding"]]
    got = ivf_index_probe(spark, path, target, k=10, nprobe=8).collect()
    want = cosine_topk(emb, target, k=10).collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]
    for g, w in zip(got, want):
        assert abs(g["score"] - w["score"]) < 1e-9
