"""Tests of the benchmark's own parts: seeded inputs and the event-log
parser.  Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import workloads  # noqa: E402
from capture_eventlog import FIXTURE, TURNS  # noqa: E402
from ocr_auto_label_spark.labelcore.extract import TOKEN_RE, analyze_token  # noqa: E402


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            h.update(name.encode() + fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_same_seed_gives_identical_bytes(tmp_path, monkeypatch, workload):
    monkeypatch.setitem(workloads.SIZES, workload, 1_000)
    a = workloads.materialize(workload, 7, str(tmp_path / "a"))
    b = workloads.materialize(workload, 7, str(tmp_path / "b"))
    c = workloads.materialize(workload, 8, str(tmp_path / "c"))
    assert len(os.listdir(a)) == workloads.N_FILES
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_label_dense_exceeds_the_worker_lru():
    pdf = workloads.generate_label_dense(workloads.SIZES["label-dense"], seed=1)
    per_turn = [
        ([m.group(0) for m in TOKEN_RE.finditer(text)], [m.group(0) for m in TOKEN_RE.finditer(tool)])
        for text, tool in zip(pdf["text"], pdf["tool"])
    ]
    tokens = [t for text, tool in per_turn for t in text + tool]
    distinct = len(set(tokens))
    # one Python worker's analyze_token cache cannot hold the working set ...
    assert distinct > 1.5 * analyze_token.cache_info().maxsize
    # ... and tokens barely repeat, so its hit ratio stays low at any
    # worker count
    assert distinct / len(tokens) > 0.95
    # every turn carries labels in both columns: none can skip Python
    assert all(len(text) >= 3 and tool for text, tool in per_turn)


def test_label_dense_mixes_noise_corrupt_and_clean_codes():
    pdf = workloads.generate_label_dense(2_000, seed=2)
    tokens = [m.group(0) for s in list(pdf["text"]) + list(pdf["tool"])
              for m in TOKEN_RE.finditer(s)]
    analyze_token.cache_clear()
    results = [analyze_token(t) for t in tokens]
    noise = sum(r is None for r in results) / len(results)
    corrected = sum(r is not None and r[2] > 0 for r in results) / len(results)
    canonical = sum(r is not None and r[3] == r[0] for r in results) / len(results)
    analyze_token.cache_clear()
    assert 0.10 < noise < 0.25
    assert corrected > 0.15
    assert canonical < 0.02


def test_curation_docs_shares():
    pdf = workloads.generate_curation_docs(4_000, seed=1)
    assert list(pdf.columns) == ["doc_id", "text", "lang", "source", "n_chars"]
    assert pdf["doc_id"].is_unique
    assert (pdf["n_chars"] == pdf["text"].str.len()).all()
    junk = pdf["text"].str.startswith("!?")
    real = pdf.loc[~junk, "text"]
    dup_share = 1 - real.nunique() / len(real)
    assert abs(dup_share - workloads.DUP_SHARE) < 0.03
    assert abs(junk.mean() - workloads.JUNK_SHARE) < 0.02


@pytest.fixture(scope="module")
def tiny_log():
    return eventlog.parse(FIXTURE)


def test_eventlog_python_rows_cover_every_turn_once(tiny_log):
    execs = tiny_log.in_window(0, float("inf"))
    writes = [ex for ex in execs if "ArrowEvalPython" in ex.nodes]
    assert len(writes) == 2  # 64 buckets in waves of 32
    py = eventlog.python_metrics(tiny_log, writes)
    assert py["rows"] == TURNS
    assert py["arrow_bytes_sent"] > 0 and py["arrow_bytes_returned"] > py["arrow_bytes_sent"]
    assert py["python_boot_ms"] > 0
    # the Python operator runs only in the wave writes
    assert eventlog.python_metrics(tiny_log, [ex for ex in execs if ex not in writes]) == {
        k: 0 for k in py}


def test_eventlog_shuffle_only_in_lineage_aggregation(tiny_log):
    execs = tiny_log.in_window(0, float("inf"))
    writes = [ex for ex in execs if "ArrowEvalPython" in ex.nodes]
    verifies = [ex for ex in execs if ex not in writes]
    assert eventlog.engine_metrics(tiny_log, writes)["shuffle_bytes"] == 0
    assert eventlog.engine_metrics(tiny_log, verifies)["shuffle_bytes"] > 0
    # each wave scans the whole input and writes its buckets
    scanned = [tiny_log.metric([ex], "Scan", "size of files read") for ex in writes]
    assert scanned[0] == scanned[1] > 0
    assert tiny_log.metric(writes, "Execute InsertInto", "written output") > 0


def test_eventlog_window_and_task_join(tiny_log):
    execs = tiny_log.in_window(0, float("inf"))
    assert [ex.id for ex in execs] == sorted(tiny_log.executions)
    first = execs[0]
    assert tiny_log.in_window(first.start_ms, first.start_ms) == [first]
    assert all(ex.end_ms >= ex.start_ms for ex in execs)
    tasks = tiny_log.tasks_of(execs)
    assert tasks and all(t.duration_ms >= 0 for t in tasks)
    assert eventlog.engine_metrics(tiny_log, execs)["task_skew"] >= 1.0


def test_stage_skew_uses_the_heaviest_stage():
    t = lambda stage, ms: eventlog.Task(stage, ms, 0, 0)  # noqa: E731
    assert eventlog.stage_skew([t(1, 10), t(1, 10), t(2, 100), t(2, 300), t(2, 100)]) == 3.0
    assert eventlog.stage_skew([t(1, 10)]) == 1.0


def test_fixture_is_trimmed_to_the_parsed_fields():
    with open(FIXTURE) as fh:
        events = [json.loads(line) for line in fh]
    kinds = {ev["Event"].rsplit(".", 1)[-1] for ev in events}
    assert kinds <= {"SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate",
                     "SparkListenerSQLExecutionEnd", "SparkListenerDriverAccumUpdates",
                     "SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerTaskEnd"}
