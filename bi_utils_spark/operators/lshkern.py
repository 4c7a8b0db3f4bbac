"""Arrow-side LSH signature kernels (r13, guide §4.2).

The row-wise signature formulations in ``operators/dedup.py``
(shingle_hash_rows → 64/65-lane min/sum aggregation) are fully
codegen'd but pay two structural costs per corpus pass:

- the n-token shingle combine is a ``lead()`` window partitioned by
  doc id, so EVERY token row crosses an exchange before a single
  signature lane is computed — at 100 TB that is the whole tokenized
  corpus through a shuffle just to zip each token with its n−1
  successors, which live in the same row group anyway;
- the 64 minhash/simhash lanes are evaluated per shingle ROW as 64
  separate aggregate expressions.

Both disappear when the per-document signature is computed where the
document already is: one JVM map-only projection turns the text into
an ``array<bigint>`` of token hashes (``xxhash64`` stays in codegen —
bit-identical token hashing with zero Python reimplementation risk),
and one ``mapInArrow`` stage computes the shingle combine and the
signature lanes per Arrow batch in vectorized numpy. No exchange
anywhere: the corpus shuffles signatures (16–512 B/doc), never token
rows.

Exactness: every arithmetic step is int64 with proven headroom
(shingle combine < 2⁵², lane affine map < 2⁶³), ``np.mod`` matches
Spark's ``pmod`` for positive moduli, and the one hash computed in
numpy — ``xxhash64`` over the int64 shingle hash that the SimHash
votes use — is Spark's XXH64 long fast-path replicated in uint64
(pinned bit-identical against ``F.xxhash64`` by
tests/test_lshkern.py). Signatures are therefore byte-equal to the
row-wise formulation's, property-tested per function.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_M31 = (1 << 31) - 1  # Mersenne-31 (dedup._MERSENNE)
_SHINGLE_P = 1_000_003  # dedup._SHINGLE_P

# XXH64 primes (public domain reference constants)
_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def xxh64_long(v: np.ndarray, seed: int = 42) -> np.ndarray:
    """Spark ``xxhash64`` over a BIGINT column, vectorized: XXH64's
    8-byte fast path (hashLong) with Spark's default seed 42 —
    bit-identical to ``F.xxhash64(col.cast("long"))``."""
    x = np.ascontiguousarray(v).view(np.uint64)
    with np.errstate(over="ignore"):
        k1 = x * _P2
        k1 = (k1 << np.uint64(31)) | (k1 >> np.uint64(33))
        k1 = k1 * _P1
        h = (np.uint64(seed) + _P5 + np.uint64(8)) ^ k1
        h = ((h << np.uint64(27)) | (h >> np.uint64(37))) * _P1 + _P4
        h = h ^ (h >> np.uint64(33))
        h = h * _P2
        h = h ^ (h >> np.uint64(29))
        h = h * _P3
        h = h ^ (h >> np.uint64(32))
    return h.view(np.int64)


def _token_hash_df(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, __th): per-doc int64 token-hash array — JVM map-only.

    Tokenization and per-token xxhash64 are the exact expressions
    shingle_hash_rows evaluates (split(trim(lower)), xxhash64), so
    token hashes are bit-identical by construction; they just stay
    packed in one array row instead of exploding to token rows."""
    from bi_utils_spark.operators.textstats import tokens

    return df.select(
        F.col(id_col).alias("id"),
        F.transform(tokens(text_col), lambda t: F.xxhash64(t)).alias("__th"),
    )


def _flat_shingles(
    flat_th: np.ndarray, lengths: np.ndarray, n: int
) -> tuple[np.ndarray, np.ndarray]:
    """Replicate shingle_hash_rows over a flattened batch: token
    hashes of all docs concatenated (``flat_th``) with per-doc token
    counts (``lengths``) → (flat shingle hashes, per-doc shingle
    counts). Zero-padding past the last token and the short-document
    single-shingle contract are reproduced exactly; every doc with
    ≥ 1 token yields ≥ 1 shingle."""
    h = np.mod(flat_th.astype(np.int64, copy=False), _M31)
    if n == 1:
        return h, lengths
    total = int(h.shape[0])
    if total == 0:
        return h, lengths
    len_rep = np.repeat(lengths, lengths)
    starts_rep = np.repeat(
        np.concatenate(([0], np.cumsum(lengths)[:-1])), lengths
    )
    pos = np.arange(total, dtype=np.int64) - starts_rep
    dist_end = len_rep - pos  # tokens remaining, current included
    c = h.copy()
    for j in range(1, n):
        nxt = np.zeros_like(h)
        nxt[:-j] = h[j:]
        nxt[dist_end <= j] = 0  # zero-pad past the doc's last token
        c = np.mod(c * _SHINGLE_P + nxt, _M31)
    keep = (pos <= len_rep - n) | ((len_rep < n) & (pos == 0))
    counts = np.where(lengths >= n, lengths - n + 1, np.int64(1))
    return c[keep], counts.astype(np.int64, copy=False)


def _lane_minima(
    sh: np.ndarray, counts: np.ndarray, coeffs: list[tuple[int, int]]
) -> np.ndarray:
    """(ndocs, k) per-doc minima of (a·sh + b) mod M31 — the minhash
    lanes. a, sh < 2³¹ keeps a·sh + b < 2⁶³: int64-exact."""
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    out = np.empty((counts.shape[0], len(coeffs)), dtype=np.int64)
    for i, (a, b) in enumerate(coeffs):
        lane = np.mod(np.int64(a) * sh + np.int64(b), _M31)
        out[:, i] = np.minimum.reduceat(lane, starts)
    return out


def _doc_unique(
    sh: np.ndarray, counts: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc distinct shingle hashes over the flat batch: composite
    (doc << 31) | sh keys (sh ∈ [0, 2³¹)) make one np.unique do every
    doc at once. Returns (flat distinct values, per-doc counts)."""
    doc = np.repeat(
        np.arange(counts.shape[0], dtype=np.int64), counts
    )
    key = np.unique((doc << np.int64(31)) | sh)
    udoc = key >> np.int64(31)
    uval = key & np.int64(_M31)
    ucounts = np.bincount(udoc, minlength=counts.shape[0]).astype(np.int64)
    return uval, ucounts


def _simhash_fp(sh: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Per-doc 64-bit SimHash from the flat shingle hashes: bit i of
    the fingerprint is set iff 2·Σ bit_i(xxhash64(sh)) > n — the
    simhash64_rows vote, with the re-hash in numpy (bit-exact XXH64
    long path)."""
    h64 = xxh64_long(sh)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    nd = counts.shape[0]
    fpbits = np.zeros((nd, 64), dtype=bool)
    for i in range(64):
        bit = (h64 >> np.int64(i)) & np.int64(1)
        votes = np.add.reduceat(bit, starts)
        fpbits[:, i] = votes * 2 > counts
    packed = np.packbits(fpbits, axis=1, bitorder="little")
    return np.ascontiguousarray(packed).view(np.int64).ravel()


_INT32_MAX = (1 << 31) - 1


def _list_offsets(counts: np.ndarray) -> np.ndarray:
    """Arrow ``list<>`` offsets (int32) for per-row element ``counts``.
    The cumulative sum runs in int64 and is range-checked, so a batch
    with more than 2³¹−1 list entries raises instead of wrapping into
    corrupt offsets."""
    offs = np.concatenate(([0], np.cumsum(counts, dtype=np.int64)))
    if offs[-1] > _INT32_MAX:
        raise OverflowError(
            f"{int(offs[-1])} list entries in one Arrow batch exceed the "
            "int32 offset range; lower spark.sql.execution.arrow."
            "maxRecordsPerBatch"
        )
    return offs.astype(np.int32)


def per_doc_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    coeffs: list[tuple[int, int]] | None = None,
    want_set: bool = False,
    want_fp: bool = False,
) -> DataFrame:
    """One map-only pass: (id[, minhash][, sh_set][, fp]) per doc.

    Column semantics match the row-wise formulations exactly:
    ``minhash`` = minhash_signatures' array (len(coeffs) lanes),
    ``sh_set`` = collect_set of the doc's shingle hashes (sorted —
    consumers are set-algebraic), ``fp`` = simhash64_rows' fingerprint.
    Docs whose text is NULL vanish (posexplode semantics). The plan
    is Scan → Project(tokens/xxhash64) → MapInArrow: no exchange."""
    import pyarrow as pa
    import pyarrow.compute as pc

    id_dt = df.schema[id_col].dataType.simpleString()
    out_fields = [f"id {id_dt}"]
    if coeffs is not None:
        out_fields.append("minhash array<bigint>")
    if want_set:
        out_fields.append("sh_set array<bigint>")
    if want_fp:
        out_fields.append("fp bigint")
    out_schema = ", ".join(out_fields)
    n = shingle_n
    cfs = list(coeffs) if coeffs is not None else None

    th_df = _token_hash_df(df, id_col, text_col)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if rb.num_rows and rb.column(1).null_count:
                rb = rb.filter(pc.is_valid(rb.column(1)))
            nd = rb.num_rows
            arrays: list[pa.Array] = [rb.column(0)]
            if nd == 0:
                flat = np.empty(0, dtype=np.int64)
                lengths = np.empty(0, dtype=np.int64)
            else:
                th = rb.column(1)
                lengths = pc.list_value_length(th).to_numpy().astype(np.int64)
                flat = pc.list_flatten(th).to_numpy(
                    zero_copy_only=False
                ).astype(np.int64, copy=False)
            sh, counts = _flat_shingles(flat, lengths, n)
            if cfs is not None:
                mat = (
                    _lane_minima(sh, counts, cfs)
                    if nd
                    else np.empty((0, len(cfs)), dtype=np.int64)
                )
                offs = _list_offsets(np.full(nd, len(cfs), dtype=np.int64))
                arrays.append(
                    pa.ListArray.from_arrays(
                        pa.array(offs, type=pa.int32()),
                        pa.array(mat.ravel(), type=pa.int64()),
                    )
                )
            if want_set:
                uval, ucounts = (
                    _doc_unique(sh, counts)
                    if nd
                    else (np.empty(0, dtype=np.int64), counts)
                )
                soffs = _list_offsets(ucounts)
                arrays.append(
                    pa.ListArray.from_arrays(
                        pa.array(soffs, type=pa.int32()),
                        pa.array(uval, type=pa.int64()),
                    )
                )
            if want_fp:
                fp = (
                    _simhash_fp(sh, counts)
                    if nd
                    else np.empty(0, dtype=np.int64)
                )
                arrays.append(pa.array(fp, type=pa.int64()))
            yield pa.RecordBatch.from_arrays(
                arrays, names=[f.split(" ")[0] for f in out_fields]
            )

    return th_df.mapInArrow(run, schema=out_schema)
