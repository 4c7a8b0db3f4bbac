"""Arrow LSH signature kernel (operators/lshkern.py) pinned against the
row-wise Spark formulations it replaced: Spark's own xxhash64, the
shingle-hash-row MinHash lanes, collect_set shingle sets and the
64-lane SimHash vote."""

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from bi_utils_spark.operators.dedup import (
    _MERSENNE,
    _signatures_from_rows,
    shingle_hash_rows,
)
from bi_utils_spark.operators.lshkern import (
    _INT32_MAX,
    _list_offsets,
    per_doc_signatures,
    xxh64_long,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "The quick brown fox jumps over the lazy cat"),
    (3, "a a a a a a a a"),
    (4, "one"),
    (5, "two words"),
    (6, "   leading and trailing   whitespace\tand\ttabs\n"),
    (7, None),
    (8, ""),
    (9, "   "),
    (10, "\t\n "),
    (11, "UPPER lower MiXeD upper LOWER mixed"),
    (12, " ".join(f"tok{i % 37}" for i in range(400))),
    (13, "three word doc"),
    (14, "four words in doc"),
    (15, "the quick brown fox"),
]


@pytest.fixture(scope="module")
def docs(spark):
    # several partitions, so the kernel sees more than one Arrow batch
    return spark.createDataFrame(DOCS, "id long, text string").repartition(3)


def _coeffs(n: int, seed: int = 42) -> list[tuple[int, int]]:
    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, _MERSENNE), rnd.randrange(0, _MERSENNE))
        for _ in range(n)
    ]


def _rowwise_simhash(df, shingle_n):
    """The pre-kernel simhash64_rows: 64 sum-of-bit lanes over the
    xxhash64 of each shingle-hash row; bit i set iff 2·Σbit_i > n."""
    rows = shingle_hash_rows(df, "id", "text", shingle_n)
    h64 = F.xxhash64(F.col("sh"))
    lanes = [
        F.sum(F.shiftright(h64, i).bitwiseAND(F.lit(1))).alias(f"_b{i}")
        for i in range(64)
    ]
    agg = rows.groupBy("id").agg(F.count("*").alias("_n"), *lanes)
    fp = F.lit(0).cast("long")
    for i in range(64):
        mask = (1 << i) if i < 63 else -(1 << 63)
        fp = fp.bitwiseOR(
            F.when(F.col(f"_b{i}") * 2 > F.col("_n"), F.lit(mask).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
    return agg.select("id", fp.alias("fp"))


def test_xxh64_long_matches_spark_xxhash64(spark):
    rng = np.random.default_rng(7)
    vals = [0, 1, -1, 42, _MERSENNE, -(1 << 63), (1 << 63) - 1] + [
        int(x) for x in rng.integers(-(1 << 63), (1 << 63) - 1, 500)
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    want = [r[0] for r in df.select(F.xxhash64("v")).collect()]
    got = xxh64_long(np.asarray(vals, dtype=np.int64)).tolist()
    assert got == want


@pytest.mark.parametrize("shingle_n", [1, 2, 3, 4, 5])
def test_per_doc_signatures_match_rowwise(spark, docs, shingle_n):
    coeffs = _coeffs(16)
    kern = {
        r["id"]: r
        for r in per_doc_signatures(
            docs, "id", "text", shingle_n, coeffs=coeffs,
            want_set=True, want_fp=True,
        ).collect()
    }
    rows = shingle_hash_rows(docs, "id", "text", shingle_n)
    minhash = {
        r["id"]: r["minhash"]
        for r in _signatures_from_rows(rows, coeffs).collect()
    }
    sets = {
        r["id"]: r["s"]
        for r in rows.groupBy("id")
        .agg(F.sort_array(F.collect_set("sh")).alias("s"))
        .collect()
    }
    fps = {r["id"]: r["fp"] for r in _rowwise_simhash(docs, shingle_n).collect()}

    # NULL text vanishes on both sides; empty and whitespace-only
    # text is one empty token, so it still gets a signature
    want_ids = {i for i, t in DOCS if t is not None}
    assert set(kern) == set(minhash) == set(sets) == set(fps) == want_ids
    for i in want_ids:
        assert kern[i]["minhash"] == minhash[i], i
        assert kern[i]["sh_set"] == sets[i], i
        assert kern[i]["fp"] == fps[i], i


def test_list_offsets_prefix_sums():
    offs = _list_offsets(np.array([3, 0, 2], dtype=np.int64))
    assert offs.dtype == np.int32
    assert offs.tolist() == [0, 3, 3, 5]
    assert _list_offsets(np.array([], dtype=np.int64)).tolist() == [0]
    edge = _list_offsets(np.array([_INT32_MAX - 1, 1], dtype=np.int64))
    assert edge.tolist() == [0, _INT32_MAX - 1, _INT32_MAX]


def test_list_offsets_refuse_int32_overflow():
    # each count fits int32; their running sum does not — an unchecked
    # int32 cast would wrap to a negative offset
    counts = np.array([1 << 30, 1 << 30, 5], dtype=np.int64)
    with pytest.raises(OverflowError, match="int32 offset range"):
        _list_offsets(counts)
