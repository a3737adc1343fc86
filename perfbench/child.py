"""One benchmark run: a fresh Python process that builds its SparkSession
and runs one job to completion, the way ``spark-submit`` runs
``jobs/run_extraction.py`` or ``jobs/run_curation.py``.

    python3 perfbench/child.py '<json spec>'

The spec names the workload, input, output directory, core count and the
parent's ``time.monotonic()`` at launch (CLOCK_MONOTONIC is system-wide,
so ``setup_wall_s`` spans interpreter start, imports and JVM start, and
``job_start`` lets the parent split its CPU timeline of the run).  With
``trace`` set, the Spark event log is on and, after the timed job, the
layer probes run in the same warm session.  The last stdout line is one
JSON object.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ocr_auto_label_spark.session import build_spark  # noqa: E402

# The jobs' CLI defaults (jobs/run_extraction.py, jobs/run_curation.py).
N_BUCKETS = 64
WAVE_SIZE = 32
CURATION_DEFAULTS = dict(min_quality=0.5, min_tokens=1, max_dup_word_frac=1.0, ngram_n=13)
# The extraction UDF's inputs plus the bucket key and the turn key.
SCAN_COLS = ["conv_id", "turn_idx", "text", "tool"]


def session_conf(work: str, event_dir: str | None) -> dict[str, str]:
    """Keep every file Spark writes under ``work``; event log only when traced."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
        })
    return conf


def _noop(df) -> float:
    t = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t


def _timed(fn) -> tuple[float, object]:
    t = time.monotonic()
    out = fn()
    return time.monotonic() - t, out


def run_job(spark, spec: dict) -> dict:
    if spec["workload"] == "curation-docs":
        from ocr_auto_label_spark.plans.curation_pipeline import curate_corpus

        docs = spark.read.parquet(spec["input"])
        return curate_corpus(spark, docs, spec["output"], **CURATION_DEFAULTS)
    from ocr_auto_label_spark.lineage import run_extraction_with_checkpoint

    return run_extraction_with_checkpoint(
        spark, spec["input"], spec["output"], spec["lineage"], spec["run_id"],
        n_buckets=N_BUCKETS, wave_size=WAVE_SIZE,
    )


def extraction_probes(spark, spec: dict) -> dict:
    """Layer probes after the timed job: noop sinks over the scan and over
    ``extract_turns``, then the lineage resume paths."""
    from ocr_auto_label_spark.io.sources import read_transcripts
    from ocr_auto_label_spark.lineage import completed_buckets, run_extraction_with_checkpoint
    from ocr_auto_label_spark.plans.extraction_pipeline import extract_turns

    scan = read_transcripts(spark, spec["input"])
    completed_s, done = _timed(lambda: completed_buckets(spark, spec["lineage"], spec["run_id"]))
    resume_s, resumed = _timed(lambda: run_extraction_with_checkpoint(
        spark, spec["input"], spec["output"], spec["lineage"], spec["run_id"],
        n_buckets=N_BUCKETS, wave_size=WAVE_SIZE,
    ))
    if len(done) != N_BUCKETS or resumed["buckets_processed"] != 0:
        raise RuntimeError(f"resume probe did not skip every bucket: {resumed}")
    return {
        "io.scan_s": _noop(scan.select(*SCAN_COLS)),
        "plans.extract_turns_s": _noop(extract_turns(scan)),
        "lineage.completed_buckets_s": completed_s,
        "lineage.noop_resume_s": resume_s,
    }


def curation_probes(spark, spec: dict) -> dict:
    """Noop sinks over the scan and the curation stages, and
    decontamination over the written corpus."""
    from ocr_auto_label_spark.operators.sampling import cross_split_contamination
    from ocr_auto_label_spark.plans.curation_pipeline import exact_dedup_rows, quality_gates

    docs = spark.read.parquet(spec["input"])
    gates = dict(CURATION_DEFAULTS)
    ngram_n = gates.pop("ngram_n")
    gated = quality_gates(docs, **gates)
    curated = spark.read.parquet(os.path.join(spec["output"], "curated"))
    return {
        "io.scan_s": _noop(docs),
        "curation.gates_s": _noop(gated),
        "curation.dedup_s": _noop(exact_dedup_rows(gated)),
        "curation.decontam_s": _noop(cross_split_contamination(
            curated.select("doc_id", "text", "split"), n=ngram_n)),
    }


def main() -> None:
    spec = json.loads(sys.argv[1])
    work = spec["work"]
    event_dir = os.path.join(work, "events") if spec.get("trace") else None
    spark = build_spark(
        app_name=f"perfbench-{spec['workload']}",
        master=f"local[{spec['cores']}]",
        extra_conf=session_conf(work, event_dir),
    )
    ready = time.monotonic()
    try:
        window_start = time.time() * 1000
        job_s, summary = _timed(lambda: run_job(spark, spec))
        window = [window_start, time.time() * 1000]
        probes = {}
        if spec.get("trace"):
            probe = curation_probes if spec["workload"] == "curation-docs" else extraction_probes
            probes = probe(spark, spec)
    finally:
        spark.stop()
    print(json.dumps({
        "setup_wall_s": ready - spec["launched"],
        "job_start": ready,
        "job_s": job_s,
        "job_window_ms": window,
        "summary": summary,
        "probes": probes,
        "event_dir": event_dir,
    }, default=str))


if __name__ == "__main__":
    main()
