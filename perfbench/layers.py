"""Per-layer metrics of a traced run: the declared list and how each
value is derived from spans, event-log totals and workload counters.

Span counters are means per call. A span that a workload never opens
reports 0, so every run prints the same metric names.
"""

from __future__ import annotations

from spans import SPAN_COUNTERS

SPANS = (
    "sources.read_landed",
    "sources.load_table",
    "operators.relational.max_watermark",
    "operators.relational.latest_per_key",
    "operators.txtable.merge_tx_table",
    "operators.txtable.compact_table",
    "operators.txtable.read_table",
    "operators.textclean.clean_text",
    "operators.dedup.dedup_exact",
    "operators.dedup.minhash_near_dup_join",
    "operators.vector_index.write_ivf_index",
    "operators.vector_index.ivf_index_append",
    "operators.vector_index.ivf_index_probe",
)
# lazy calls whose result the workload materializes inside the span
SINKS = (
    "sources.read_landed",
    "operators.relational.latest_per_key",
    "operators.textclean.clean_text",
    "operators.dedup.dedup_exact",
    "operators.dedup.minhash_near_dup_join",
    "operators.vector_index.ivf_index_probe",
)
_COUNTER_UNIT = {"wall_s": "s", "self_s": "s", "driver_s": "s", "tasks": "count",
                 "cpu_s": "s", "shuffle_bytes": "B", "spill_bytes": "B"}

# (name, unit, better) for counters that are not span timings
SPECIFIC = (
    ("session.get_spark_s", "s", "lower"),
    ("session.worker_warm_s", "s", "lower"),
    ("operators.nested.rows_out_per_row_in", "ratio", "higher"),
    ("operators.relational.late_rows_dropped", "rows", "lower"),
    ("operators.txtable.files_added_per_commit", "files", "lower"),
    ("operators.txtable.files_removed_per_commit", "files", "lower"),
    ("operators.txtable.bytes_written_per_source_byte", "ratio", "lower"),
    ("operators.txtable.live_files", "files", "lower"),
    ("operators.txtable.files_scanned_frac", "ratio", "lower"),
    ("operators.txtable.compact_bytes_rewritten", "B", "lower"),
    ("operators.txtable.commit_conflicts", "count", "lower"),
    ("operators.textstats.docs_kept_frac", "ratio", "higher"),
    ("operators.dedup.exact_dups_removed", "docs", "higher"),
    ("operators.dedup.candidate_pairs", "pairs", "lower"),
    ("operators.dedup.verified_pairs", "pairs", "higher"),
    ("operators.dedup.candidate_precision", "ratio", "higher"),
    ("operators.dedup.max_bucket_size", "docs", "lower"),
    ("operators.lshkern.arrow_bytes_to_python", "B", "lower"),
    ("operators.vector_index.rows_scored_per_result", "ratio", "lower"),
    ("operators.vector_index.cells_probed_frac", "ratio", "lower"),
    ("operators.vector_index.jobs_per_probe", "count", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
)


def declared() -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better)."""
    out = [(f"{s}.{c}", _COUNTER_UNIT[c], "lower") for s in SPANS for c in SPAN_COUNTERS]
    out += [(f"{s}.sink.wall_s", "s", "lower") for s in SINKS]
    return out + list(SPECIFIC)


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _busy_per_work(log) -> float:
    return _ratio(sum(log.writes) + sum(log.reads), log.work)


def per_layer(wl, by_span: dict, log, tlog, get_spark_s: float,
              worker_warm_s: float) -> dict[str, tuple[float, str]]:
    units = {n: u for n, u, _ in declared()}
    v: dict[str, float] = {n: 0.0 for n in units}
    for s in SPANS:
        for c in SPAN_COUNTERS:
            v[f"{s}.{c}"] = by_span.get(s, {}).get(c, 0.0)
    for s in SINKS:
        v[f"{s}.sink.wall_s"] = by_span.get(f"{s}.sink", {}).get("wall_s", 0.0)

    def sql(span: str, node: str, metric: str) -> float:
        return by_span.get(span, {}).get("sql", {}).get((node, metric), 0.0)

    def calls(span: str) -> int:
        return by_span.get(span, {}).get("calls", 0)

    c = wl.counters
    v["session.get_spark_s"] = get_spark_s
    v["session.worker_warm_s"] = worker_warm_s
    v["trace.overhead_frac"] = _ratio(_busy_per_work(tlog), _busy_per_work(log)) - 1.0
    if wl.name == "etl_upsert":
        v["operators.nested.rows_out_per_row_in"] = _ratio(c["rows_out"], c["rows_in"])
        v["operators.relational.late_rows_dropped"] = _ratio(c["late"], c["batches"])
        v["operators.txtable.files_added_per_commit"] = c["files_added_per_commit"]
        v["operators.txtable.files_removed_per_commit"] = c["files_removed_per_commit"]
        v["operators.txtable.bytes_written_per_source_byte"] = _ratio(
            c["bytes_written"], c["source_bytes"])
        v["operators.txtable.live_files"] = c["live_files"]
        v["operators.txtable.files_scanned_frac"] = _ratio(
            sql("operators.relational.latest_per_key.sink", "Scan parquet",
                "number of files read"), c["live_files_at_read"])
        v["operators.txtable.compact_bytes_rewritten"] = _ratio(
            c.get("compact_bytes", 0.0), c.get("compactions", 0.0))
        v["operators.txtable.commit_conflicts"] = float(
            tlog.errors.count("ConcurrentWriteError"))
    elif wl.name == "llm_dedup":
        shards = c["shards"]
        v["operators.textstats.docs_kept_frac"] = _ratio(c["docs_kept"], c["docs_in"])
        v["operators.dedup.exact_dups_removed"] = _ratio(c["exact_dups_removed"], shards)
        v["operators.dedup.candidate_pairs"] = _ratio(c["candidate_pairs"], shards)
        v["operators.dedup.verified_pairs"] = _ratio(c["verified_pairs"], shards)
        v["operators.dedup.candidate_precision"] = _ratio(
            c["verified_pairs"], c["candidate_pairs"])
        v["operators.dedup.max_bucket_size"] = c["max_bucket_size"]
        span = "operators.dedup.minhash_near_dup_join"
        v["operators.lshkern.arrow_bytes_to_python"] = _ratio(
            sql(span, "MapInArrow", "data sent to Python workers"), calls(span))
        span = "operators.vector_index.ivf_index_probe"
        n = calls(span)
        sink = f"{span}.sink"
        v["operators.vector_index.rows_scored_per_result"] = _ratio(
            sql(sink, "Scan parquet", "number of output rows"), n * wl.emb.spec.k)
        v["operators.vector_index.cells_probed_frac"] = _ratio(
            sql(sink, "Scan parquet", "number of partitions read"), n * wl.NUM_CELLS)
        v["operators.vector_index.jobs_per_probe"] = _ratio(
            by_span.get(span, {}).get("jobs", 0), n)
    return {n: (v[n], units[n]) for n in units}
