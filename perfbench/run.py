"""End-to-end benchmark of the extraction and curation jobs.

    python3 perfbench/run.py --workload mixed-chat --seed 1 --seconds 30 --trace 0

Run from the repository root.  One invocation:

1. generates the workload's input from ``--seed`` (outside any timed
   region) under ``.bench_work/inputs``;
2. with ``--trace 0``, makes untraced runs for about ``--seconds`` (at
   least one) — each a fresh Python process (``perfbench/child.py``) that
   builds its SparkSession with an explicit ``local[nproc]`` master and
   runs one job to completion — and verifies each run's output;
3. with ``--trace 1``, makes one untraced ``local[nproc]`` run, on
   ``mixed-chat`` one ``local[1]`` run, and one traced run (Spark event log
   on, layer probes after the job, process-tree memory sampled from
   ``/proc``), times the layers in-process, and reports the per-layer
   metrics instead.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (medians over the runs).  The full record —
host, raw per-run values, input shape, spans — is written to
``.bench_work/records/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import procs  # noqa: E402
import verify  # noqa: E402
import workloads  # noqa: E402
from child import N_BUCKETS  # noqa: E402

WORK = os.path.join(ROOT, ".bench_work")
# One invocation must end within 180 s: no run may outlast this.  After the
# last run only its verification, the event-log parse and the record remain.
DEADLINE_S = 175
# session.py's spark.sql.execution.arrow.maxRecordsPerBatch
ARROW_BATCH_ROWS = 50_000
# In-process layer timings use this many leading rows of the input.
LAYER_SAMPLE_ROWS = 10_000
# Only this workload makes the local[1] run of the scaling pair: with a third
# run the traced invocations of the slower workloads come near 180 s.
SCALING_WORKLOAD = "mixed-chat"


def _metric_units(block: str) -> dict[str, str]:
    """Name -> unit of every metric in ``block`` of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[block]}


class Spans:
    """Spans kept in memory and written out when the benchmark ends."""

    def __init__(self, run_id: str):
        self.run_id, self.items = run_id, []

    def add(self, name: str, start: float, end: float, parent: str | None = None,
            **attrs) -> str:
        self.items.append({"name": name, "start": start, "end": end, "parent": parent,
                           "run_id": self.run_id, **attrs})
        return name

    def timed(self, name: str, fn, parent: str | None = None):
        t = time.monotonic()
        out = fn()
        self.add(name, t, time.monotonic(), parent)
        return out


def host_info() -> dict:
    try:
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except OSError:
        sha = None
    digest = hashlib.sha256()
    for base in ("ocr_auto_label_spark", "jobs", "perfbench"):
        for dirpath, _, files in sorted(os.walk(os.path.join(ROOT, base))):
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(dirpath, f), "rb") as fh:
                        digest.update(fh.read())
    return {"cores": len(os.sched_getaffinity(0)), "git_sha": sha,
            "source_sha256": digest.hexdigest(), "python": sys.version.split()[0]}


def input_shape(workload: str, pdf) -> dict:
    """The input properties the workloads are chosen for."""
    if workload == "curation-docs":
        return {"docs": len(pdf), "dup_share": 1 - pdf["text"].nunique() / len(pdf),
                "junk_docs": int(pdf["text"].str.startswith("!?").sum())}
    from ocr_auto_label_spark.labelcore.boilerplate import normalize_text
    from ocr_auto_label_spark.labelcore.extract import TOKEN_RE

    tokens, no_python = [], 0
    for text, tool in zip(pdf["text"], pdf["tool"]):
        found = [m.group(0) for s in (text, tool) if s for m in TOKEN_RE.finditer(s)]
        tokens += found
        no_python += not found and normalize_text(text) == text
    return {"turns": len(pdf), "tokens": len(tokens), "distinct_tokens": len(set(tokens)),
            "no_python_turn_frac": no_python / len(pdf)}


def run_leg(spec: dict, spans: Spans, parent: str, timeout_s: float) -> dict:
    """Launch one run (sampling its memory when traced); wait for its whole session."""
    tmp = os.path.join(spec["work"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every write under the work directory, spark-submit's launcher JVM too
    env = dict(os.environ, PYTHONPATH=ROOT, SPARK_GRAFT_CPUS=str(spec["cores"]),
               SPARK_LOCAL_DIRS=os.path.join(spec["work"], "spark-local"), TMPDIR=tmp,
               SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    log_path = os.path.join(spec["work"], "child.log")
    spec["launched"] = time.monotonic()
    with open(log_path, "w") as log:
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "child.py"),
                                 json.dumps(spec)], cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        # sampling PSS costs the host CPU, so only the traced run pays it
        sampler = procs.SessionSampler(proc.pid, memory=spec["trace"])
        try:
            out, _ = proc.communicate(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            procs.reap_session(proc.pid, grace_s=0)
            out, _ = proc.communicate()
        finally:
            sampler.stop()
            procs.reap_session(proc.pid)
    ended = time.monotonic()
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        with open(log_path) as fh:
            tail = fh.read()[-2000:]
        raise RuntimeError(f"run exited {proc.returncode}: {tail}")
    res = json.loads(lines[-1])
    job_end = res["job_start"] + res["job_s"]
    # the session's CPU starts at 0 with the launch: everything up to the
    # ready session is set-up (interpreter, imports, both JVMs, SparkContext)
    res["setup_cpu_s"] = sampler.cpu_at(res["job_start"])
    res["job_cpu_s"] = sampler.cpu_at(job_end) - res["setup_cpu_s"]
    if spec["trace"]:
        res["peak_rss_mb"] = sampler.peak_mb
    name = spans.add(f"leg.{spec['leg']}", spec["launched"], ended, parent,
                     cores=spec["cores"], trace=spec["trace"])
    spans.add("setup", spec["launched"], res["job_start"], name)
    spans.add("job", res["job_start"], res["job_start"] + res["job_s"], name)
    return res


def verify_leg(workload: str, spec: dict, res: dict, inputs) -> None:
    if workload == "curation-docs":
        verify.verify_curation(res["summary"], inputs, spec["output"])
    else:
        verify.verify_extraction(res["summary"], inputs, spec["output"], spec["lineage"],
                                 N_BUCKETS)


def layer_probes(workload: str, pdf) -> dict:
    """In-process timings of labelcore and the UDF body over a fixed
    leading sample (single process, cold ``analyze_token`` cache)."""
    if workload == "curation-docs":
        return {}
    from ocr_auto_label_spark.functions.udfs import extract_turn_udf
    from ocr_auto_label_spark.labelcore.boilerplate import normalize_text
    from ocr_auto_label_spark.labelcore.extract import TOKEN_RE, analyze_token

    sample = pdf.iloc[:LAYER_SAMPLE_ROWS]
    texts, tools = list(sample["text"]), list(sample["tool"])
    t0 = time.monotonic()
    for t in texts:
        normalize_text(t)
    t1 = time.monotonic()
    tokens = [m.group(0) for s in texts + tools if s for m in TOKEN_RE.finditer(s)]
    t2 = time.monotonic()
    analyze_token.cache_clear()
    noise = sum(analyze_token(tok) is None for tok in tokens)
    t3 = time.monotonic()
    info = analyze_token.cache_info()
    analyze_token.cache_clear()
    t4 = time.monotonic()
    for i in range(0, len(sample), ARROW_BATCH_ROWS):
        batch = sample.iloc[i:i + ARROW_BATCH_ROWS]
        extract_turn_udf.func(batch["text"], batch["tool"])
    t5 = time.monotonic()
    analyze_token.cache_clear()
    return {
        "labelcore.sample_turns": len(sample),
        "labelcore.normalize_s": t1 - t0,
        "labelcore.token_scan_s": t2 - t1,
        "labelcore.analyze_cold_s": t3 - t2,
        "labelcore.cache_hit_ratio": info.hits / max(info.hits + info.misses, 1),
        "labelcore.noise_frac": noise / max(len(tokens), 1),
        "udfs.body_s": t5 - t4,
    }


def spark_layers(workload: str, res: dict, input_bytes: int) -> dict:
    """Per-layer block of the traced run, from its Spark event log, over
    the SQL executions and plain Spark jobs that started during the job."""
    log = eventlog.parse(res["event_dir"])
    start, end = res["job_window_ms"]
    execs = log.in_window(start, end)
    writes = [ex for ex in execs if "ArrowEvalPython" in ex.nodes]
    verifies = [ex for ex in execs if ex not in writes]
    # the data path: everything for curation; the output writes for
    # extraction, whose lineage aggregation is reported on its own
    data = execs if workload == "curation-docs" else writes
    engine = eventlog.engine_metrics(log, execs)
    bytes_read = log.metric(execs, "Scan", "size of files read")
    out = {
        "io.bytes_read": bytes_read,
        "io.read_amplification": bytes_read / max(input_bytes, 1),
        **{f"udfs.{k}": v for k, v in eventlog.python_metrics(log, execs).items()},
        "spark.tasks": engine["tasks"],
        "spark.task_skew": engine["task_skew"],
        "spark.gc_ms": engine["gc_ms"],
        "spark.shuffle_bytes": eventlog.engine_metrics(log, data)["shuffle_bytes"],
        "spark.sql_executions": len(execs),
        "spark.sql_s": sum(ex.duration_s for ex in execs),
        "spark.plain_jobs_s": log.plain_job_s(start, end),
    }
    if workload != "curation-docs":
        out.update({
            "lineage.waves": len(writes),
            "lineage.write_s": sum(ex.duration_s for ex in writes),
            "lineage.verify_s": sum(ex.duration_s for ex in verifies),
            "lineage.bytes_written": log.metric(writes, "Execute InsertInto", "written output"),
            "lineage.shuffle_bytes": eventlog.engine_metrics(log, verifies)["shuffle_bytes"],
        })
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    nproc = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:8]}"
    spans = Spans(run_id)
    t_start = time.monotonic()
    root_span = "benchmark"
    record = {"run_id": run_id, "workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "host": host_info(),
              "load_before": os.getloadavg()}
    run_dir = os.path.join(WORK, "runs", run_id)

    path = spans.timed("generate_input", lambda: workloads.materialize(
        args.workload, args.seed, os.path.join(WORK, "inputs")), root_span)
    inputs = workloads.read_input(path)
    input_bytes = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))
    record["input"] = spans.timed("input_shape", lambda: input_shape(args.workload, inputs),
                                  root_span)
    record["input"]["bytes"] = input_bytes

    legs: list[dict] = []

    def launch(cores: int, trace: bool) -> dict | None:
        leg_no = len(legs)
        work = os.path.join(run_dir, f"leg{leg_no}")
        spec = {"workload": args.workload, "input": path, "cores": cores, "trace": trace,
                "work": work, "output": os.path.join(work, "out"),
                "lineage": os.path.join(work, "lineage"), "run_id": f"{run_id}-{leg_no}",
                "leg": leg_no}
        os.makedirs(work, exist_ok=True)
        entry = {"leg": leg_no, "cores": cores, "trace": trace}
        legs.append(entry)
        t_leg = time.monotonic()
        try:
            res = run_leg(spec, spans, root_span, t_start + DEADLINE_S - time.monotonic())
            spans.timed(f"verify.{leg_no}", lambda: verify_leg(args.workload, spec, res, inputs),
                        root_span)
            if trace:
                res["layers"] = spans.timed("trace.event_log", lambda: spark_layers(
                    args.workload, res, input_bytes), root_span)
        except Exception as exc:  # a failed run is counted, not fatal
            entry["error"] = "".join(traceback.format_exception_only(exc)).strip()[-2000:]
            print(f"run {leg_no} failed: {entry['error']}", file=sys.stderr)
            return None
        finally:
            entry["wall_s"] = time.monotonic() - t_leg
            shutil.rmtree(work, ignore_errors=True)
        entry.update({k: res[k] for k in ("setup_cpu_s", "setup_wall_s", "job_s", "job_cpu_s",
                                          "peak_rss_mb", "summary") if k in res})
        return res

    rows = len(inputs)
    values: dict[str, float] = {}
    if not args.trace:
        # untraced local[nproc] runs for --seconds, at least one
        t_measure = time.monotonic()
        launch(nproc, False)
        while (time.monotonic() - t_measure + max(leg["wall_s"] for leg in legs)
               <= args.seconds):
            launch(nproc, False)
        full = [leg for leg in legs if "error" not in leg]
        if not full:
            return _no_result(record, legs, spans, t_start, run_dir)

        def med(key: str) -> float:
            return statistics.median(leg[key] for leg in full)

        values = {"setup_s": med("setup_cpu_s"), "job_cpu_s": med("job_cpu_s")}
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in _metric_units("end_to_end").items()}
        values.update({"setup_wall_s": med("setup_wall_s"), "job_s": med("job_s"),
                       "rows_per_s": rows / med("job_s")})
    else:
        # in-process timings first: after the runs the deadline is near
        probes = spans.timed("trace.layer_probes", lambda: layer_probes(args.workload, inputs),
                             root_span)
        # an untraced local[nproc] run, the reference for the traced run's
        # overhead, and right after it the local[1] run of the scaling pair
        scaling = args.workload == SCALING_WORKLOAD
        untraced = launch(nproc, False)
        one = launch(1, False) if untraced and scaling else None
        traced = launch(nproc, True) if untraced and (one or not scaling) else None
        if traced is None:
            return _no_result(record, legs, spans, t_start, run_dir)
        layers = {**traced["layers"], **traced["probes"], **probes}
        shape = record["input"]
        layers["labelcore.tokens"] = shape.get("tokens", 0)
        layers["labelcore.distinct_tokens"] = shape.get("distinct_tokens", 0)
        layers["labelcore.no_python_turn_frac"] = shape.get("no_python_turn_frac", 0.0)
        if one:
            layers["scaling.rows_per_s_1core"] = rows / one["job_s"]
            layers["scaling.eff"] = one["job_s"] / (nproc * untraced["job_s"])
        summary = traced["summary"]
        if args.workload == "curation-docs":
            layers.update({
                "curation.rows_in": summary["rows_in"],
                "curation.rows_gated": summary["rows_quality_pass"],
                "curation.rows_deduped": summary["rows_after_dedup"],
                "curation.contaminated": summary["contaminated_docs"],
            })
        parts = layers["spark.sql_s"] + layers["spark.plain_jobs_s"]
        layers.update({
            "scaling.rows_per_s": rows / untraced["job_s"],
            "proc.peak_rss_mb": traced["peak_rss_mb"],
            "proc.job_cpu_s": untraced["job_cpu_s"],
            "proc.setup_wall_s": untraced["setup_wall_s"],
            "trace.job_s": traced["job_s"],
            "trace.overhead_frac": traced["job_s"] / untraced["job_s"] - 1,
            # job time inside no Spark SQL execution or job: driver-side work
            "trace.unaccounted_frac": 1 - parts / traced["job_s"],
        })
        # a layer the workload does not run reads 0
        metrics = {k: {"value": layers.get(k, 0), "unit": u}
                   for k, u in _metric_units("per_layer").items()}
        record["layers_measured"] = sorted(layers)

    attempted, failed = len(legs), sum("error" in leg for leg in legs)
    record.update({"legs": legs, "end_to_end": values, "metrics": metrics,
                   "load_after": os.getloadavg()})
    _write_record(record, spans, t_start, run_dir)
    for name, m in metrics.items():
        print(f"{args.workload:14s} {name:32s} {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _no_result(record: dict, legs: list, spans: Spans, t_start: float, run_dir: str) -> int:
    record.update({"legs": legs, "load_after": os.getloadavg()})
    _write_record(record, spans, t_start, run_dir)
    print("a required run failed; no result", file=sys.stderr)
    return 1


def _write_record(record: dict, spans: Spans, t_start: float, run_dir: str) -> None:
    spans.add("benchmark", t_start, time.monotonic(), None)
    record["spans"] = spans.items
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records", f"{record['run_id']}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
