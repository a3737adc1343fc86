"""Regenerate ``data/tiny_eventlog.jsonl``, the event-log fixture of the
parser tests: one traced extraction job over a tiny ``mixed-chat`` input
(``TURNS`` turns, the job's default 64 buckets in 2 waves), trimmed to the
events and fields ``perfbench/eventlog.py`` reads.

    python3 perfbench/tests/capture_eventlog.py <scratch dir>
"""

from __future__ import annotations

import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
sys.path.insert(0, os.path.dirname(HERE))

TURNS = 400
SEED = 3
FIXTURE = os.path.join(HERE, "data", "tiny_eventlog.jsonl")
_SQL = "org.apache.spark.sql.execution.ui."


def _plan(p: dict) -> dict:
    return {"nodeName": p["nodeName"],
            "metrics": [{"name": m["name"], "accumulatorId": m["accumulatorId"]}
                        for m in p.get("metrics", ())],
            "children": [_plan(c) for c in p.get("children", ())]}


def trim(ev: dict) -> dict | None:
    """The fields ``eventlog.parse`` reads; None for events it ignores."""
    kind = ev["Event"]
    if kind in (_SQL + "SparkListenerSQLExecutionStart",
                _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
        out = {"Event": kind, "executionId": ev["executionId"],
               "sparkPlanInfo": _plan(ev["sparkPlanInfo"])}
        if "time" in ev:
            out["time"] = ev["time"]
        return out
    if kind == _SQL + "SparkListenerSQLExecutionEnd":
        return {"Event": kind, "executionId": ev["executionId"], "time": ev["time"]}
    if kind == _SQL + "SparkListenerDriverAccumUpdates":
        return ev
    if kind == "SparkListenerJobStart":
        exec_id = (ev.get("Properties") or {}).get("spark.sql.execution.id")
        return {"Event": kind, "Job ID": ev["Job ID"], "Submission Time": ev["Submission Time"],
                "Stage IDs": ev["Stage IDs"],
                "Properties": {} if exec_id is None else {"spark.sql.execution.id": exec_id}}
    if kind == "SparkListenerJobEnd":
        return {"Event": kind, "Job ID": ev["Job ID"], "Completion Time": ev["Completion Time"]}
    if kind == "SparkListenerTaskEnd":
        info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
        return {"Event": kind, "Stage ID": ev["Stage ID"], "Task Info": {
            "Launch Time": info["Launch Time"], "Finish Time": info["Finish Time"],
            "Accumulables": [{"ID": a["ID"], "Update": a.get("Update")}
                             for a in info.get("Accumulables", ())]},
            "Task Metrics": {
                "JVM GC Time": tm.get("JVM GC Time", 0),
                "Shuffle Write Metrics": {"Shuffle Bytes Written": (
                    tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)}}}
    return None


def main(scratch: str) -> None:
    import eventlog
    from child import N_BUCKETS, WAVE_SIZE, session_conf
    from ocr_auto_label_spark.datagen import generate_transcripts
    from ocr_auto_label_spark.lineage import run_extraction_with_checkpoint
    from ocr_auto_label_spark.session import build_spark

    inp = os.path.join(scratch, "input.parquet")
    os.makedirs(inp, exist_ok=True)
    generate_transcripts(TURNS, SEED).to_parquet(os.path.join(inp, "part-0.parquet"),
                                                 index=False)
    events = os.path.join(scratch, "events")
    spark = build_spark(master="local[2]", extra_conf=session_conf(scratch, events))
    try:
        run_extraction_with_checkpoint(spark, inp, os.path.join(scratch, "out"),
                                       os.path.join(scratch, "lineage"), "tiny",
                                       n_buckets=N_BUCKETS, wave_size=WAVE_SIZE)
    finally:
        spark.stop()
    (log_dir,) = glob.glob(os.path.join(events, "*"))
    os.makedirs(os.path.dirname(FIXTURE), exist_ok=True)
    with open(FIXTURE, "w") as out:
        for fname in eventlog.event_files(log_dir):
            with open(fname) as fh:
                for line in fh:
                    ev = trim(json.loads(line))
                    if ev is not None:
                        out.write(json.dumps(ev) + "\n")


if __name__ == "__main__":
    main(sys.argv[1])
