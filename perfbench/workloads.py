"""The closed-loop workloads, one client each.

Each workload generates its inputs from the seed, builds its fixture
(timed as part of set-up), runs ops until the time is up, checks the
program's outputs against the generator's ground truth, and, when
traced, collects its layer counters between ops (outside op timing).
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import gen
from spans import Tracer

TIMED_CAP_S = 90  # the timed phase ends here even short of MIN_CYCLES


@dataclass
class OpLog:
    writes: list[float] = field(default_factory=list)
    reads: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    work: float = 0.0          # throughput units completed
    elapsed: float = 0.0
    errors: list[str] = field(default_factory=list)     # exception type per failed op


class Workload:
    name = ""
    throughput_unit = ""
    WARMUP = 1   # untimed steps before the timed phase (JIT, first-use paths)
    CYCLE = 1    # steps in one repeating pattern of op kinds
    MIN_CYCLES = 1
    PYTHON_WORKERS = True  # whether the ops run Python UDFs (set-up warms them)

    def __init__(self, spark, tmp: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.inputs = os.path.join(tmp, "inputs")
        self.counters: dict[str, float] = {}

    # -- hooks -------------------------------------------------------------
    def prepare(self) -> None:
        """Generate the input files (not part of set-up time)."""

    def build_fixture(self, dest: str, tracer: Tracer) -> None:
        """The state one run needs before its first op."""

    def step(self, i: int, tracer: Tracer, log: OpLog) -> None:
        """One loop step: one or more write/read ops."""
        raise NotImplementedError

    def exhausted(self, i: int) -> bool:
        """Whether the inputs end before step ``i``."""
        return False

    def check(self) -> list[str]:
        """Problems found in the program's outputs; empty when correct."""
        raise NotImplementedError

    def recall(self) -> float:
        raise NotImplementedError

    def recall_at_k(self) -> float:
        raise NotImplementedError

    def finish_counters(self, tracer: Tracer) -> None:
        """Counters read once after the traced phase."""

    # -- the loop ----------------------------------------------------------
    def run(self, seconds: float, tracer: Tracer | None = None) -> tuple[OpLog, OpLog]:
        """WARMUP untimed steps, then whole cycles of CYCLE steps until
        ``seconds`` have passed and MIN_CYCLES cycles have run. The
        fixed minimum keeps the op mix, and so the medians, the same
        from run to run; a faster program runs more cycles.

        With a ``tracer``, odd cycles are traced and even ones are not,
        on the same warm state; returns (untraced log, traced log)."""
        null = Tracer()
        for i in range(self.WARMUP):
            self.step(i, null, OpLog())
        logs = (OpLog(), OpLog())
        t0 = time.perf_counter()
        i = self.WARMUP
        while not self.exhausted(i):
            el = time.perf_counter() - t0
            cycle, pos = divmod(i - self.WARMUP, self.CYCLE)
            if el >= TIMED_CAP_S or (pos == 0 and el >= seconds and cycle >= self.MIN_CYCLES):
                break
            traced = tracer is not None and cycle % 2 == 1
            if traced:
                tracer.op = i
            self.step(i, tracer if traced else null, logs[traced])
            i += 1
        for g in logs:
            g.elapsed = time.perf_counter() - t0
        return logs

    def timed(self, log: OpLog, kind: list[float], fn, *args):
        """Run one op; record its latency, or count it as failed.
        Returns (ok, result)."""
        log.attempted += 1
        t = time.perf_counter()
        try:
            out = fn(*args)
        except Exception as e:  # noqa: BLE001 — a failed op is counted, the run goes on
            log.failed += 1
            log.errors.append(type(e).__name__)
            traceback.print_exc()
            return False, None
        kind.append(time.perf_counter() - t)
        return True, out


def _dir_bytes(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


# ---------------------------------------------------------------------------


class EtlUpsert(Workload):
    """Landed nested pages -> watermark filter -> MERGE into a table
    partitioned by day, compacting every CYCLE commits; one
    partition-filtered read after each commit."""

    name = "etl_upsert"
    throughput_unit = "rows/s"
    CYCLE = 4              # commits per compaction
    WARMUP = 2 * CYCLE     # whole untimed cycles, until the JIT has settled
    MIN_CYCLES = 2
    PYTHON_WORKERS = False

    def prepare(self) -> None:
        self.data = gen.gen_etl(self.seed)
        base = self.data.base
        for part in range(4):
            gen.write_jsonl(base[part::4], os.path.join(
                self.inputs, "base", f"part-{part}.jsonl"))
        self.page_bytes = [
            gen.write_jsonl(p, os.path.join(self.inputs, "pages", f"{i:05d}", "page.jsonl"))
            for i, p in enumerate(self.data.pages)
        ]

    def build_fixture(self, dest: str, tracer: Tracer) -> None:
        from bi_utils_spark.operators.txtable import create_table
        from bi_utils_spark.sources.rest import read_landed

        df = read_landed(self.spark, os.path.join(self.inputs, "base"),
                         schema=gen.ETL_SCHEMA)
        create_table(df, dest, partition_cols=["day"])
        self.table = dest
        self.model = gen.EtlModel(self.data.base)
        self.applied: list[int] = []
        self.read_results: list[tuple[int, str, list]] = []

    def exhausted(self, i: int) -> bool:
        return i >= len(self.data.pages)

    def _write(self, i: int, tracer: Tracer):
        from pyspark.sql import functions as F

        from bi_utils_spark.operators.relational import max_watermark
        from bi_utils_spark.operators.txtable import (
            compact_table, merge_tx_table, read_table)
        from bi_utils_spark.sources.rest import read_landed

        with tracer.span("sources.read_landed"):
            flat = read_landed(self.spark, os.path.join(self.inputs, "pages", f"{i:05d}"),
                               schema=gen.ETL_SCHEMA)
            with tracer.span("sources.read_landed.sink"):
                flat = flat.localCheckpoint()
        with tracer.span("operators.relational.max_watermark"):
            wm = max_watermark(read_table(self.spark, self.table), "ts",
                               lookback="1 hour")
        src = flat.where(F.col("ts") >= F.lit(wm))
        with tracer.span("operators.txtable.merge_tx_table"):
            merge_tx_table(self.spark, self.table, src, list(gen.ETL_PKS))
        if self._compacts(i):
            with tracer.span("operators.txtable.compact_table"):
                compact_table(self.spark, self.table)
        return flat, src

    def _compacts(self, i: int) -> bool:
        # warm-up cycles compact too, so no timed compaction is the first
        return i % self.CYCLE == self.CYCLE - 1

    def _report_sum(self, col: str) -> int:
        from bi_utils_spark.operators.txtable import table_file_report

        return sum(r[col] for r in table_file_report(self.spark, self.table).collect())

    def _read(self, day: str, tracer: Tracer):
        from pyspark.sql import functions as F

        from bi_utils_spark.operators.relational import latest_per_key
        from bi_utils_spark.operators.txtable import read_table

        with tracer.span("operators.txtable.read_table"):
            df = read_table(self.spark, self.table, partition_filter={"day": day})
        with tracer.span("operators.relational.latest_per_key"):
            q = (latest_per_key(df, ["customer__id"], "ts",
                                ["order_id", "lines__line_no"])
                 .groupBy("customer__country")
                 .agg(F.count("*").alias("n"),
                      F.sum(F.col("lines__qty") * F.col("lines__price_cents")).alias("v")))
            with tracer.span("operators.relational.latest_per_key.sink"):
                rows = q.collect()
        return sorted((r["customer__country"], r["n"], r["v"]) for r in rows)

    def step(self, i: int, tracer: Tracer, log: OpLog) -> None:
        traced = tracer.enabled
        if traced:
            before = _dir_bytes(self.table)
            live_bytes = self._report_sum("total_bytes")
        ok, out = self.timed(log, log.writes, self._write, i, tracer)
        if ok:
            kept, _dropped = self.model.apply(self.data.pages[i])
            self.applied.append(i)
            log.work += kept
            if traced:
                self._count_write(i, out, before, live_bytes)
        day = self.data.read_days[i]
        if traced:
            self._add("live_files_at_read", self._report_sum("n_files"))
        ok, rows = self.timed(log, log.reads, self._read, day, tracer)
        if ok:
            self.read_results.append((len(self.applied), day, rows))

    def _add(self, key: str, v: float) -> None:
        self.counters[key] = self.counters.get(key, 0.0) + v

    def _count_write(self, i: int, out, before: dict[str, int], live_bytes: int) -> None:
        flat, src = out
        n_flat, n_src = flat.count(), src.count()
        self._add("rows_in", len(self.data.pages[i]))
        self._add("rows_out", n_flat)
        self._add("late", n_flat - n_src)
        self._add("batches", 1)
        self._add("source_bytes", self.page_bytes[i])
        added = {p: b for p, b in _dir_bytes(self.table).items() if p not in before}
        self._add("bytes_written", sum(added.values()))
        if self._compacts(i):
            self._add("compactions", 1)
            self._add("compact_bytes", live_bytes)

    def finish_counters(self, tracer: Tracer) -> None:
        from bi_utils_spark.operators.txtable import table_history

        hist = [r for r in table_history(self.spark, self.table).collect()
                if r["action"] == "merge"]
        c = self.counters
        c["files_added_per_commit"] = statistics.fmean(r["n_added"] for r in hist)
        c["files_removed_per_commit"] = statistics.fmean(r["n_removed"] for r in hist)
        c["live_files"] = float(self._report_sum("n_files"))

    def check(self) -> list[str]:
        from pyspark.sql import functions as F

        from bi_utils_spark.operators.txtable import read_table

        cols = [F.col(c) for c in gen.ETL_COLUMNS]
        cols[gen.ETL_COLUMNS.index("ts")] = F.unix_seconds(F.col("ts")).alias("ts")
        return self.compare(
            [tuple(r) for r in read_table(self.spark, self.table).select(*cols).collect()])

    def compare(self, table_rows: list[tuple]) -> list[str]:
        """Problems in the recorded reads and the final table rows,
        against the model replayed over the pages that committed."""
        problems = []
        replay = gen.EtlModel(self.data.base)
        done = 0
        for n_applied, day, rows in self.read_results:
            while done < n_applied:
                replay.apply(self.data.pages[self.applied[done]])
                done += 1
            if rows != replay.read(day):
                problems.append(f"etl read of day {day} after {n_applied} commits "
                                f"returned {rows}, expected {replay.read(day)}")
        if gen.table_digest(table_rows) != self.model.digest():
            problems.append(f"etl final table ({len(table_rows)} rows) does not match "
                            f"the model ({len(self.model.rows)} rows)")
        return problems

    def recall(self) -> float:
        """A fixed placeholder: every workload reports every end-to-end
        metric, but the etl reads are exact and a wrong one fails
        check(), so nothing the program does moves this."""
        return 1.0 if self.read_results else 0.0

    recall_at_k = recall


# ---------------------------------------------------------------------------


class LlmDedup(Workload):
    """Staged corpus pass per shard: clean + quality filter, exact
    dedup, MinHash near-dup join, then the shard's document embeddings
    appended to a persisted IVF index; each stage writes its output.
    The read op is a single-query top-k probe of that index."""

    name = "llm_dedup"
    throughput_unit = "docs/s"
    WARMUP = 2
    MIN_CYCLES = 3
    NUM_CELLS = 16
    NPROBE = 4

    def prepare(self) -> None:
        self.shards: list[gen.LlmShard] = []
        self.queries: list[np.ndarray] = []
        self.shard_vecs: list[np.ndarray] = []
        self.emb = gen.Embeddings(self.seed)
        self.base_ids = gen.BASE_ID + np.arange(len(self.emb.base))
        gen.write_vectors(self.base_ids, self.emb.base,
                          os.path.join(self.inputs, "emb-base.parquet"))

    def _shard(self, k: int) -> gen.LlmShard:
        """Generate shard ``k`` (and its embeddings) on first use."""
        while len(self.shards) <= k:
            j = len(self.shards)
            sh = gen.gen_llm_shard(self.seed, j)
            gen.write_shard(sh, os.path.join(self.inputs, f"shard-{j:05d}.parquet"))
            docs, queries = self.emb.shard(j, len(sh.ids))
            gen.write_vectors(sh.ids, docs, os.path.join(self.inputs, f"emb-{j:05d}.parquet"))
            self.shards.append(sh)
            self.queries.append(queries)
            self.shard_vecs.append(docs)
        return self.shards[k]

    def build_fixture(self, dest: str, tracer: Tracer) -> None:
        from bi_utils_spark.operators.vector_index import write_ivf_index
        from bi_utils_spark.sources.tables import load_table

        self.out = dest
        self.index = os.path.join(dest, "index")
        with tracer.span("operators.vector_index.write_ivf_index"):
            write_ivf_index(load_table(self.spark, self.inputs, "emb-base"), self.index,
                            num_cells=self.NUM_CELLS)
        self.pairs: dict[int, list[tuple[int, int, float]]] = {}
        self.indexed: list[int] = []    # shards appended to the index, in order
        self.probes: list[tuple[int, int, int, list]] = []

    def _write(self, k: int, tracer: Tracer) -> None:
        from pyspark.sql import functions as F

        from bi_utils_spark.operators.dedup import dedup_exact, minhash_near_dup_join
        from bi_utils_spark.operators.textclean import clean_text
        from bi_utils_spark.operators.textstats import quality_score
        from bi_utils_spark.operators.vector_index import ivf_index_append
        from bi_utils_spark.sources.tables import load_table

        name = f"shard-{k:05d}"
        s1, s2, s3 = (os.path.join(self.out, f"s{s}") for s in (1, 2, 3))
        with tracer.span("sources.load_table"):
            docs = load_table(self.spark, self.inputs, name)
        with tracer.span("operators.textclean.clean_text"):
            cleaned = docs.select("id", clean_text("text").alias("text"))
            kept = cleaned.where(quality_score("text") >= F.lit(gen.QUALITY_MIN))
            with tracer.span("operators.textclean.clean_text.sink"):
                kept.write.parquet(os.path.join(s1, f"{name}.parquet"))
        with tracer.span("sources.load_table"):
            d1 = load_table(self.spark, s1, name)
        with tracer.span("operators.dedup.dedup_exact"):
            d2 = dedup_exact(d1, ["text"], "id")
            with tracer.span("operators.dedup.dedup_exact.sink"):
                d2.write.parquet(os.path.join(s2, f"{name}.parquet"))
        with tracer.span("sources.load_table"):
            d2 = load_table(self.spark, s2, name)
        with tracer.span("operators.dedup.minhash_near_dup_join"):
            pairs = minhash_near_dup_join(d2, "id", "text", threshold=gen.THRESHOLD)
            with tracer.span("operators.dedup.minhash_near_dup_join.sink"):
                pairs.write.parquet(os.path.join(s3, f"{name}.parquet"))
        with tracer.span("sources.load_table"):
            emb = load_table(self.spark, self.inputs, f"emb-{k:05d}")
        with tracer.span("operators.vector_index.ivf_index_append"):
            ivf_index_append(self.spark, self.index, emb)

    def _probe(self, q: np.ndarray, tracer: Tracer) -> list[tuple[int, float]]:
        from bi_utils_spark.operators.vector_index import ivf_index_probe

        with tracer.span("operators.vector_index.ivf_index_probe"):
            df = ivf_index_probe(self.spark, self.index, q.tolist(),
                                 k=self.emb.spec.k, nprobe=self.NPROBE)
            with tracer.span("operators.vector_index.ivf_index_probe.sink"):
                rows = df.collect()
        return [(r["vec_id"], r["score"]) for r in rows]

    def step(self, i: int, tracer: Tracer, log: OpLog) -> None:
        shard = self._shard(i)
        if self.timed(log, log.writes, self._write, i, tracer)[0]:
            self.indexed.append(i)
            log.work += len(shard.ids)
            path = os.path.join(self.out, "s3", f"shard-{i:05d}.parquet")
            self.pairs[i] = [(r["id_a"], r["id_b"], r["jaccard"])
                             for r in pq.ParquetDataset(path).read().to_pylist()]
        for j, q in enumerate(self.queries[i]):
            ok, rows = self.timed(log, log.reads, self._probe, q, tracer)
            if ok:
                self.probes.append((i, j, len(self.indexed), rows))
        if tracer.enabled:
            self._count(f"shard-{i:05d}", shard)

    def _rows(self, stage: int, name: str) -> int:
        return pq.ParquetDataset(os.path.join(self.out, f"s{stage}", f"{name}.parquet")) \
            .read(columns=[]).num_rows

    def _count(self, name: str, shard: gen.LlmShard) -> None:
        from bi_utils_spark.operators.dedup import (
            lsh_bucket_stats, minhash_candidates, minhash_signatures)
        from bi_utils_spark.sources.tables import load_table

        n1, n2, n3 = (self._rows(s, name) for s in (1, 2, 3))
        sigs = minhash_signatures(load_table(self.spark, os.path.join(self.out, "s2"), name),
                                  "id", "text").localCheckpoint()
        cand = minhash_candidates(sigs).count()
        top = lsh_bucket_stats(sigs).first()
        c = self.counters
        for k, v in (("shards", 1), ("docs_in", len(shard.ids)), ("docs_kept", n1),
                     ("exact_dups_removed", n1 - n2), ("candidate_pairs", cand),
                     ("verified_pairs", n3)):
            c[k] = c.get(k, 0.0) + v
        c["max_bucket_size"] = max(c.get("max_bucket_size", 0.0),
                                   float(top["bucket_size"]) if top else 0.0)

    def _exact(self, i: int, j: int, indexed: int) -> tuple[dict[int, float], list[int]]:
        """Cosine of query ``j`` of shard ``i`` against every vector in
        the index after ``indexed`` appends, and the exact top-k ids."""
        shards = self.indexed[:indexed]
        ids = np.concatenate([self.base_ids] + [self.shards[k].ids for k in shards])
        vecs = np.vstack([self.emb.base] + [self.shard_vecs[k] for k in shards])
        q = self.queries[i][j]
        top = gen.exact_topk(ids, vecs, q, self.emb.spec.k)
        return dict(zip(ids.tolist(), gen.unit(vecs) @ gen.unit(q))), top

    def check(self) -> list[str]:
        problems = []
        for k, pairs in sorted(self.pairs.items()):
            sh = self.shards[k]
            name = f"shard-{k:05d}"
            kept = set(pq.ParquetDataset(os.path.join(self.out, "s1", f"{name}.parquet"))
                       .read(columns=["id"]).column("id").to_pylist())
            if kept != sh.kept:
                problems.append(f"{name}: quality filter kept {len(kept)} docs, "
                                f"expected {len(sh.kept)}")
            removed = len(kept) - self._rows(2, name)
            if removed != sh.exact_dups:
                problems.append(f"{name}: exact dedup removed {removed}, planted "
                                f"{sh.exact_dups}")
            for a, b, j in pairs:
                true_j = gen.jaccard(sh.clean[a], sh.clean[b])
                if true_j < gen.THRESHOLD or abs(true_j - j) > 1e-9:
                    problems.append(f"{name}: pair ({a}, {b}) reported Jaccard {j}, "
                                    f"exact {true_j}")
                    break
        for i, j, indexed, rows in self.probes:
            scores, _ = self._exact(i, j, indexed)
            if len(rows) != self.emb.spec.k:
                problems.append(f"probe {i}.{j}: {len(rows)} results, expected "
                                f"{self.emb.spec.k}")
            for vid, score in rows:
                if vid not in scores or abs(float(scores[vid]) - score) > 1e-6:
                    problems.append(f"probe {i}.{j}: id {vid} score {score} does not "
                                    "match the numpy cosine")
                    break
        return problems

    def recall(self) -> float:
        """Planted near-dup pairs found, over those at or above the
        Jaccard threshold whose documents pass the quality filter."""
        found = want = 0
        for k, pairs in self.pairs.items():
            got = {(a, b) for a, b, _ in pairs}
            kept = self.shards[k].kept
            for a, b, j in self.shards[k].planted:
                if j >= gen.THRESHOLD and a in kept and b in kept:
                    want += 1
                    found += (min(a, b), max(a, b)) in got
        return found / want if want else 0.0

    def recall_at_k(self) -> float:
        """Mean recall@k of the probes against the exact numpy top-k."""
        hits = []
        for i, j, indexed, rows in self.probes:
            _, top = self._exact(i, j, indexed)
            hits.append(len(set(top) & {vid for vid, _ in rows}) / self.emb.spec.k)
        return statistics.fmean(hits) if hits else 0.0


WORKLOADS = {w.name: w for w in (EtlUpsert, LlmDedup)}
