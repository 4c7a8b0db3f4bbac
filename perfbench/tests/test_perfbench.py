"""The benchmark's own tests; they need no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import gen
import layers
import stats
from spans import EventLog, Span, covered, span_metrics
from workloads import EtlUpsert, LlmDedup, OpLog

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _inputs(wl_cls, seed: int, tmp) -> str:
    wl = wl_cls(None, str(tmp), seed)
    wl.prepare()
    if isinstance(wl, LlmDedup):
        wl._shard(1)
    return wl.inputs


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


@pytest.mark.parametrize("wl_cls", [EtlUpsert, LlmDedup])
def test_same_seed_gives_byte_identical_inputs(wl_cls, tmp_path):
    a = _inputs(wl_cls, 7, tmp_path / "a")
    b = _inputs(wl_cls, 7, tmp_path / "b")
    c = _inputs(wl_cls, 8, tmp_path / "c")
    assert _same_tree(a, b)
    assert not _same_tree(a, c)


def test_etl_pages_have_a_seed_independent_shape():
    a, b = gen.gen_etl(1), gen.gen_etl(2)
    assert [len(p) for p in a.pages] == [len(p) for p in b.pages]
    assert [d[-2:] for d in a.read_days] == [d[-2:] for d in b.read_days]


def test_llm_ground_truth():
    sh = gen.gen_llm_shard(3, 0)
    assert sh.exact_dups >= gen.LlmSpec().exact_dups
    above = [j for _, _, j in sh.planted if j >= gen.THRESHOLD]
    below = [j for _, _, j in sh.planted if j < gen.THRESHOLD]
    assert len(above) >= gen.LlmSpec().near_above * 2 // 3
    assert len(below) >= gen.LlmSpec().near_below * 2 // 3
    assert all(a in sh.kept and b in sh.kept for a, b, _ in sh.planted)
    assert 0 < len(sh.ids) - len(sh.kept) < len(sh.ids) // 4


def test_metric_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert all(stats.valid_name(n) for n in names), [n for n in names if not stats.valid_name(n)]
    assert len(names) == len(set(names))
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == layers.declared()
    assert not stats.valid_name("bad name") and not stats.valid_name(".dot")


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert stats.tail(list(range(10))) is None
    assert stats.tail([5.0] * 10) is None
    value, pct = stats.tail([float(x) for x in range(11)])
    assert value == 0.0 and pct == pytest.approx(100 / 11)
    xs = [float(x) for x in range(100, 0, -1)]
    value, pct = stats.tail(xs)
    assert value == 90.0 and pct == 90.0
    assert sum(x > value for x in xs) == stats.MIN_BEYOND


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3), (5, 6)], 2.5, 5.5) == pytest.approx(1.0)
    assert covered([], 0, 1) == 0


def test_span_self_and_driver_time():
    spans = [
        Span("s0", "op.a", 0.0, 10.0, None, 0),
        Span("s1", "op.a.sink", 4.0, 8.0, "s0", 0),
        Span("s2", "op.a", 20.0, 22.0, None, 1),
    ]
    groups = {
        "s0": {"jobs": 1, "stages": [(1.0, 2.0)], "sql": {},
               "totals": {"tasks": 2, "cpu_s": 0.5, "shuffle_bytes": 10, "spill_bytes": 0}},
        "s1": {"jobs": 2, "stages": [(4.0, 7.0), (6.0, 7.5)], "sql": {("Scan parquet", "rows"): 3},
               "totals": {"tasks": 4, "cpu_s": 1.5, "shuffle_bytes": 0, "spill_bytes": 8}},
    }
    m = span_metrics(spans, groups)
    a = m["op.a"]
    assert a["calls"] == 2 and a["jobs"] == 3
    assert a["wall_s"] == pytest.approx((10 + 2) / 2)
    assert a["self_s"] == pytest.approx((10 - 4 + 2) / 2)
    # stages cover 1 s + 3.5 s of the first call and none of the second
    assert a["driver_s"] == pytest.approx((10 - 4.5 + 2) / 2)
    assert a["tasks"] == pytest.approx(3) and a["cpu_s"] == pytest.approx(1.0)
    assert a["sql"][("Scan parquet", "rows")] == 3
    assert m["op.a.sink"]["wall_s"] == pytest.approx(4)


def test_event_log_groups_jobs(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "s0", "spark.sql.execution.id": "0"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "jobGroupId": "s0", "sparkPlanInfo": {
             "nodeName": "Scan parquet ", "children": [],
             "metrics": [{"name": "number of files read", "accumulatorId": 7}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "Disk Bytes Spilled": 5,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 11}},
         "Task Info": {"Accumulables": [{"ID": 9, "Update": 4, "Metadata": "sql"}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Submission Time": 1000, "Completion Time": 3000}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 0, "accumUpdates": [[7, 3]]},
    ]
    (tmp_path / "local-1").write_text("".join(json.dumps(e) + "\n" for e in events))
    g = EventLog(str(tmp_path)).group_stats()["s0"]
    assert g["jobs"] == 1 and g["stages"] == [(1.0, 3.0)]
    assert g["totals"]["cpu_s"] == 2.0 and g["totals"]["spill_bytes"] == 5
    assert g["totals"]["shuffle_bytes"] == 11
    assert g["sql"] == {("Scan parquet", "number of files read"): 3.0}


# -- the correctness checks reject corrupted outputs --------------------------


def _etl(tmp_path, pages: int) -> EtlUpsert:
    wl = EtlUpsert(None, str(tmp_path), 4)
    wl.data = gen.gen_etl(4)
    wl.model = gen.EtlModel(wl.data.base)
    wl.applied, wl.read_results = [], []
    for i in range(pages):
        wl.model.apply(wl.data.pages[i])
        wl.applied.append(i)
        day = wl.data.read_days[i]
        wl.read_results.append((i + 1, day, wl.model.read(day)))
    return wl


def test_etl_check_accepts_the_model_and_rejects_corruption(tmp_path):
    wl = _etl(tmp_path, 3)
    rows = list(wl.model.rows.values())
    assert wl.compare(rows) == []
    bad = list(rows)
    bad[5] = bad[5][:5] + (bad[5][5] + 1,) + bad[5][6:]
    assert wl.compare(bad)
    assert wl.compare(rows[1:])
    day, got = wl.read_results[1][1], wl.read_results[1][2]
    wl.read_results[1] = (2, day, [(c, n, s + 1) for c, n, s in got])
    assert any("read of day" in p for p in wl.compare(rows))


def test_etl_watermark_drops_late_rows():
    data = gen.gen_etl(5)
    model = gen.EtlModel(data.base)
    kept, dropped = model.apply(data.pages[0])
    assert dropped > 0 and kept > 0


def _write_ids(path: str, ids: list[int]) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), os.path.join(path, "p.parquet"))


def _llm(tmp_path) -> LlmDedup:
    """An llm_dedup state with the outputs a correct program writes."""
    wl = LlmDedup(None, str(tmp_path), 6)
    wl.prepare()
    sh = wl._shard(0)
    wl.out = str(tmp_path / "out")
    kept = sorted(sh.kept)
    _write_ids(os.path.join(wl.out, "s1", "shard-00000.parquet"), kept)
    seen, survivors = set(), []
    for i in kept:
        key = " ".join(sh.clean[i])
        if key not in seen:
            seen.add(key)
            survivors.append(i)
    _write_ids(os.path.join(wl.out, "s2", "shard-00000.parquet"), survivors)
    wl.pairs = {0: [(min(a, b), max(a, b), j) for a, b, j in sh.planted if j >= gen.THRESHOLD]}
    wl.indexed = [0]
    scores, top = wl._exact(0, 0, 1)
    wl.probes = [(0, 0, 1, [(v, float(scores[v])) for v in top])]
    return wl


def test_llm_check_accepts_exact_outputs(tmp_path):
    wl = _llm(tmp_path)
    assert wl.check() == []
    assert wl.recall() == 1.0 and wl.recall_at_k() == 1.0


def test_llm_check_rejects_a_pair_below_the_threshold(tmp_path):
    wl = _llm(tmp_path)
    a, b, j = next(p for p in wl.shards[0].planted if p[2] < gen.THRESHOLD)
    wl.pairs[0].append((a, b, 0.9))
    assert any("Jaccard" in p for p in wl.check())


def test_llm_check_rejects_a_wrong_dedup_count(tmp_path):
    wl = _llm(tmp_path)
    _write_ids(os.path.join(wl.out, "s2", "shard-00000.parquet"), sorted(wl.shards[0].kept))
    assert any("exact dedup" in p for p in wl.check())


def test_llm_check_rejects_a_wrong_probe_score(tmp_path):
    wl = _llm(tmp_path)
    i, j, n, rows = wl.probes[0]
    wl.probes[0] = (i, j, n, [(rows[0][0], rows[0][1] + 1e-4)] + rows[1:])
    assert any("numpy cosine" in p for p in wl.check())
    assert wl.recall_at_k() == 1.0


def test_exact_topk_breaks_ties_by_id():
    ids = np.array([5, 3, 9])
    corpus = np.array([[1.0, 0.0], [2.0, 0.0], [0.0, 1.0]])
    assert gen.exact_topk(ids, corpus, np.array([1.0, 0.0]), 2) == [3, 5]


def test_oplog_defaults():
    log = OpLog()
    assert log.attempted == log.failed == 0 and log.errors == []
