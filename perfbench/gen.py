"""Seeded input generators with ground truth for the two workloads.

Every generator is a pure function of its seed: the same seed yields
byte-identical files. The program under test only ever sees the files
written here; the ground truth (expected table, planted pairs, exact
top-k) stays in this process for the correctness checks.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# etl_upsert: nested order pages, an upsert model and the read query model
# ---------------------------------------------------------------------------

ETL_SCHEMA = (
    "order_id long, day string, ts timestamp, "
    "customer struct<id: long, country: string>, "
    "lines array<struct<line_no: int, sku: string, qty: int, price_cents: long>>"
)
# column order of a flattened row, as read_landed names them
ETL_COLUMNS = (
    "order_id", "lines__line_no", "customer__id", "customer__country",
    "lines__sku", "lines__qty", "lines__price_cents", "ts", "day",
)
ETL_PKS = ("order_id", "lines__line_no")
LOOKBACK_S = 3600  # the watermark lookback, "1 hour"
_COUNTRIES = ("AT", "CH", "DE", "FR", "NL", "PL")
_EPOCH0 = int(dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc).timestamp())


@dataclass(frozen=True)
class EtlSpec:
    base_days: int = 3
    base_orders_per_day: int = 150
    new_orders: int = 96        # per page
    # updates per page by day age (0 = newest day): recent days get most
    update_ages: tuple[int, ...] = (28, 16, 12)
    late_rows: int = 8          # per page, older than any watermark
    batch_s: int = 2 * 3600     # clock advance per page
    customers: int = 400
    skus: int = 300
    pages: int = 60             # upper bound on pages one run can consume


def _day(ts: int) -> str:
    return dt.datetime.fromtimestamp(ts, dt.timezone.utc).strftime("%Y-%m-%d")


def _iso(ts: int) -> str:
    return dt.datetime.fromtimestamp(ts, dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )


def _order(rng: random.Random, spec: EtlSpec, oid: int, ts: int) -> dict:
    return {
        "order_id": oid,
        "day": _day(ts),
        "ts": _iso(ts),
        "customer": {
            "id": rng.randrange(spec.customers),
            "country": rng.choice(_COUNTRIES),
        },
        "lines": [
            {
                "line_no": i,
                "sku": f"sku-{rng.randrange(spec.skus):04d}",
                "qty": rng.randint(1, 5),
                "price_cents": rng.randint(199, 19999),
            }
            for i in range(rng.randint(1, 4))
        ],
    }


@dataclass
class EtlInputs:
    base: list[dict]
    pages: list[list[dict]]
    read_days: list[str]          # the day each post-commit read queries


def gen_etl(seed: int, spec: EtlSpec = EtlSpec()) -> EtlInputs:
    """Base load plus ``spec.pages`` delta pages of a fixed shape (new
    orders, updates per day age, late rows), so that every seed asks
    the same amount of work. Updates keep an order's day and line set
    (partition-stable upserts); late rows carry timestamps days
    behind the clock."""
    rng = random.Random(f"etl-{seed}")
    orders: dict[int, dict] = {}       # order_id -> latest record
    by_day: dict[str, list[int]] = {}

    def add(rec: dict) -> dict:
        orders[rec["order_id"]] = rec
        by_day.setdefault(rec["day"], []).append(rec["order_id"])
        return rec

    base = [
        add(_order(rng, spec, len(orders) + 1,
                   _EPOCH0 + d * 86400 + rng.randrange(86400)))
        for d in range(spec.base_days)
        for _ in range(spec.base_orders_per_day)
    ]
    next_id = len(orders) + 1
    clock = _EPOCH0 + spec.base_days * 86400
    pages, read_days = [], []
    for p in range(spec.pages):
        days = sorted(by_day)
        page = []
        for age, n in enumerate(spec.update_ages):
            day = days[max(len(days) - 1 - age, 0)]
            for oid in sorted(rng.sample(by_day[day], min(n, len(by_day[day])))):
                rec = dict(orders[oid], ts=_iso(clock + rng.randrange(spec.batch_s)), lines=[
                    dict(ln, qty=rng.randint(1, 5), price_cents=rng.randint(199, 19999))
                    for ln in orders[oid]["lines"]
                ])
                orders[oid] = rec
                page.append(rec)
        for j in range(spec.late_rows):
            old = clock + rng.randrange(spec.batch_s) - (3 + j % 8) * 86400
            page.append(_order(rng, spec, next_id, old))
            next_id += 1
        for _ in range(spec.new_orders):
            page.append(add(_order(rng, spec, next_id, clock + rng.randrange(spec.batch_s))))
            next_id += 1
        rng.shuffle(page)
        pages.append(page)
        clock += spec.batch_s
        days = sorted(by_day)
        read_days.append(days[max(len(days) - 1 - p % 3, 0)])
    return EtlInputs(base, pages, read_days)


def write_jsonl(records: list[dict], path: str) -> int:
    """Write one landed page; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = "".join(
        json.dumps(r, sort_keys=True, separators=(",", ":")) + "\n"
        for r in records
    ).encode()
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def _flat_rows(rec: dict) -> list[tuple]:
    ts = int(dt.datetime.strptime(rec["ts"], "%Y-%m-%dT%H:%M:%SZ")
             .replace(tzinfo=dt.timezone.utc).timestamp())
    return [
        (rec["order_id"], ln["line_no"], rec["customer"]["id"],
         rec["customer"]["country"], ln["sku"], ln["qty"],
         ln["price_cents"], ts, rec["day"])
        for ln in rec["lines"]
    ]


class EtlModel:
    """The expected table: upsert by (order_id, line_no) of the rows a
    page keeps after the delta-load watermark (max ts - lookback)."""

    def __init__(self, base: list[dict]):
        self.rows: dict[tuple, tuple] = {}
        for rec in base:
            for row in _flat_rows(rec):
                self.rows[row[:2]] = row

    def apply(self, page: list[dict]) -> tuple[int, int]:
        """Upsert one page; returns (rows merged, late rows dropped)."""
        wm = max(r[7] for r in self.rows.values()) - LOOKBACK_S
        kept = dropped = 0
        for rec in page:
            for row in _flat_rows(rec):
                if row[7] >= wm:
                    self.rows[row[:2]] = row
                    kept += 1
                else:
                    dropped += 1
        return kept, dropped

    def read(self, day: str) -> list[tuple]:
        """The post-commit read: latest row per customer in ``day``
        (ties by order_id, line_no, descending), then per country the
        row count and sum of qty * price_cents."""
        latest: dict[int, tuple] = {}
        for row in self.rows.values():
            if row[8] != day:
                continue
            cur = latest.get(row[2])
            if cur is None or (row[7], row[0], row[1]) > (cur[7], cur[0], cur[1]):
                latest[row[2]] = row
        agg: dict[str, list[int]] = {}
        for row in latest.values():
            a = agg.setdefault(row[3], [0, 0])
            a[0] += 1
            a[1] += row[5] * row[6]
        return sorted((c, n, s) for c, (n, s) in agg.items())

    def digest(self) -> str:
        return table_digest(self.rows.values())


def table_digest(rows) -> str:
    """Order-insensitive hash of a row set."""
    h = hashlib.sha256()
    for row in sorted(tuple(r) for r in rows):
        h.update(repr(row).encode())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# llm_dedup: corpus shards with planted exact and near duplicates
# ---------------------------------------------------------------------------

STOPWORDS = ("the", "and", "of", "to", "a", "is")
BOILERPLATE = (
    "subscribe to the newsletter and follow us for more stories",
    "all rights reserved and reproduction is prohibited without consent",
    "click here to read the terms of service and the privacy notice",
)
SHINGLE_N = 3
THRESHOLD = 0.7       # near-dup Jaccard threshold
QUALITY_MIN = 0.9     # stage-1 quality filter: quality_score >= this


@dataclass(frozen=True)
class LlmSpec:
    shard_docs: int = 600
    vocab: int = 6000
    exact_dups: int = 40        # planted exact copies per shard
    near_above: int = 30        # planted pairs mutated lightly: Jaccard mostly above THRESHOLD
    near_below: int = 30        # planted pairs mutated heavily: Jaccard mostly below it
    templates: int = 3          # hot template docs per shard
    template_copies: int = 12
    short_frac: float = 0.06    # docs too short to pass the quality filter


def _vocab(rng: random.Random, n: int) -> list[str]:
    syll = [a + b for a in "bcdfghjklmnprstvwz" for b in "aeiou"]
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(syll) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def _doc_tokens(rng: random.Random, vocab: list[str], n: int) -> list[str]:
    out = []
    for i in range(n):
        if i % 4 == 0:
            out.append(rng.choice(STOPWORDS))
        else:
            # Zipf-like head: low ranks are much more frequent
            out.append(vocab[min(int(rng.paretovariate(1.1)) - 1, len(vocab) - 1)]
                       if rng.random() < 0.3 else rng.choice(vocab))
    return out


def shingles(tokens: list[str], n: int = SHINGLE_N) -> set[tuple]:
    """Word n-gram set, the same shingling the dedup operators hash
    (a doc shorter than n is one shingle)."""
    if len(tokens) < n:
        return {tuple(tokens)}
    return {tuple(tokens[i:i + n]) for i in range(len(tokens) - n + 1)}


def jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def _mutate(rng: random.Random, toks: list[str], vocab: list[str], rate: float) -> list[str]:
    """A copy with each non-stopword token replaced at ``rate``, and
    at least one replaced, so a near duplicate is never an exact one."""
    out = [rng.choice(vocab) if t not in STOPWORDS and rng.random() < rate else t
           for t in toks]
    if out == toks:
        i = next(i for i, t in enumerate(toks) if t not in STOPWORDS)
        out[i] = next(w for w in vocab if w != toks[i])
    return out


def passes_quality(toks: list[str]) -> bool:
    """textstats.quality_score(text) >= QUALITY_MIN on a cleaned
    document, in the same floating-point steps (the generated text has
    no punctuation, so the punctuation gate always passes)."""
    n = len(toks)
    sw = sum(t in STOPWORDS for t in toks) / n
    return ((float(n >= 20) + 1.0) + min(sw * 5.0, 1.0)) / 3.0 >= QUALITY_MIN


def _noisy(rng: random.Random, toks: list[str]) -> str:
    """Raw text whose cleaned form is ``" ".join(toks)``: markup tags
    and whitespace runs that clean_text removes."""
    parts = []
    for i, t in enumerate(toks):
        if i and i % 17 == 0:
            parts.append(rng.choice(("<br>", "<p>", "</p>", "<b>")))
        parts.append(t)
    return rng.choice(("", "<p> ", "<div>")) + "  ".join(parts) if rng.random() < 0.5 \
        else " ".join(parts)


@dataclass
class LlmShard:
    ids: list[int]
    raw: list[str]
    clean: dict[int, list[str]]               # id -> cleaned tokens
    kept: set[int]                            # ids passing the quality filter
    exact_dups: int                           # planted copies among kept docs
    planted: list[tuple[int, int, float]]     # (id_a, id_b, true Jaccard)


def gen_llm_shard(seed: int, k: int, spec: LlmSpec = LlmSpec()) -> LlmShard:
    """Shard ``k`` of the corpus; shards are independent, so a run
    generates only the ones it consumes."""
    vocab = _vocab(random.Random(f"vocab-{seed}"), spec.vocab)
    rng = random.Random(f"llm-{seed}-{k}")
    base_id = k * 1_000_000
    docs: list[list[str]] = []
    kept: set[int] = set()

    def add(toks: list[str]) -> int:
        docs.append(toks)
        if passes_quality(toks):
            kept.add(base_id + len(docs) - 1)
        return base_id + len(docs) - 1

    def length() -> int:  # long-tailed, always past the length gate
        return min(int(rng.lognormvariate(4.4, 0.7)) + 24, 1500)

    n_special = (spec.exact_dups + 2 * (spec.near_above + spec.near_below)
                 + spec.templates * spec.template_copies)
    n_short = int(spec.shard_docs * spec.short_frac)
    for _ in range(spec.shard_docs - n_special - n_short):
        toks = _doc_tokens(rng, vocab, length())
        if rng.random() < 0.3:
            toks = toks + rng.choice(BOILERPLATE).split()
        add(toks)
    for _ in range(n_short):
        add(_doc_tokens(rng, vocab, rng.randint(3, 15)))
    originals = sorted(kept)
    for _ in range(spec.exact_dups):
        add(list(docs[rng.choice(originals) - base_id]))
    planted = []
    for rate, n in ((0.02, spec.near_above), (0.2, spec.near_below)):
        for _ in range(n):
            a = _doc_tokens(rng, vocab, length())
            b = _mutate(rng, a, vocab, rate)
            ia, ib = add(a), add(b)
            planted.append((ia, ib, jaccard(a, b)))
    for _ in range(spec.templates):
        tmpl = _doc_tokens(rng, vocab, 60)
        for _ in range(spec.template_copies):
            add(_mutate(rng, tmpl, vocab, 0.03))
    order = list(range(len(docs)))
    rng.shuffle(order)  # planted docs do not cluster by id
    ids = [base_id + i for i in order]
    raw = [_noisy(rng, docs[i]) for i in order]
    clean = {base_id + i: t for i, t in enumerate(docs)}
    # exact duplicates among kept docs, counted on cleaned text
    seen, dups = set(), 0
    for i in sorted(kept):
        key = " ".join(clean[i])
        dups += key in seen
        seen.add(key)
    return LlmShard(ids, raw, clean, kept, dups, planted)


def write_shard(shard: LlmShard, path: str, files: int = 4) -> None:
    """One shard as a parquet directory of ``files`` parts, so a scan
    of it has one task per core."""
    os.makedirs(path, exist_ok=True)
    n = len(shard.ids)
    for f in range(files):
        lo, hi = f * n // files, (f + 1) * n // files
        pq.write_table(
            pa.table({"id": pa.array(shard.ids[lo:hi], pa.int64()),
                      "text": pa.array(shard.raw[lo:hi], pa.string())}),
            os.path.join(path, f"part-{f}.parquet"),
        )


# ---------------------------------------------------------------------------
# document embeddings for the semantic index: a Gaussian mixture
# ---------------------------------------------------------------------------

BASE_ID = 900_000_000  # ids of the base corpus the index starts from


@dataclass(frozen=True)
class VecSpec:
    base: int = 2000
    dim: int = 32
    clusters: int = 24
    spread: float = 0.9
    queries_per_shard: int = 2
    k: int = 10


class Embeddings:
    """Clustered vectors: a base corpus, one vector per shard document
    and a few query vectors per shard, all drawn from one mixture."""

    def __init__(self, seed: int, spec: VecSpec = VecSpec()):
        self.seed, self.spec = seed, spec
        rng = np.random.default_rng([seed, 0])
        self.centers = rng.normal(size=(spec.clusters, spec.dim))
        self.weights = rng.dirichlet(np.full(spec.clusters, 2.0))
        self.base = self._draw(rng, spec.base)

    def _draw(self, rng: np.random.Generator, n: int) -> np.ndarray:
        c = rng.choice(self.spec.clusters, size=n, p=self.weights)
        return self.centers[c] + self.spec.spread * rng.normal(size=(n, self.spec.dim))

    def shard(self, k: int, n_docs: int) -> tuple[np.ndarray, np.ndarray]:
        """(document vectors, query vectors) of shard ``k``."""
        rng = np.random.default_rng([self.seed, 1, k])
        return self._draw(rng, n_docs), self._draw(rng, self.spec.queries_per_shard)


def write_vectors(ids, vecs: np.ndarray, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(vecs.ravel(), pa.float64()), vecs.shape[1]
    ).cast(pa.list_(pa.float64()))
    pq.write_table(pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": emb}), path)


def unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=-1, keepdims=True)


def exact_topk(ids: np.ndarray, corpus: np.ndarray, query: np.ndarray, k: int) -> list[int]:
    """Ids of the exact cosine top-k, ties broken by the smaller id."""
    s = unit(corpus) @ unit(query)
    order = np.lexsort((ids, -s))
    return [int(ids[i]) for i in order[:k]]
