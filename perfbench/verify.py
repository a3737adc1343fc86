"""Output verification for every benchmark run.  Each check raises
``VerificationError``; the runner counts a raising run as failed.

Extraction: the job summary processed every bucket; rows out equal turns
in, one per turn; lineage covers every bucket and every turn; and on a
fixed sample of buckets every turn's ``extracted_text`` and candidate
spans equal ``labelcore.extract.extract_turn`` on the input row.

Curation: the summary's stage counts equal the row counts of the written
split table and decontamination report, the written corpus has no exact
duplicate text, and the gates rejected every junk document.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow.dataset as ds

from ocr_auto_label_spark.labelcore.extract import extract_turn

SAMPLE_BUCKETS = (0, 21, 42, 63)
_CAND_FIELDS = ("label", "raw", "begin", "end", "source_col", "pattern_id",
                "corrections", "canonical", "canonical_sim", "confidence", "rank")


class VerificationError(AssertionError):
    pass


def _check(ok: bool, what: str) -> None:
    if not ok:
        raise VerificationError(what)


def _read(path: str, partitioning: str | None = "hive", columns=None) -> pd.DataFrame:
    return ds.dataset(path, format="parquet", partitioning=partitioning).to_table(
        columns=columns).to_pandas(ignore_metadata=True)


def verify_extraction(summary: dict, inputs: pd.DataFrame, output: str, lineage: str,
                      n_buckets: int) -> int:
    """Returns the number of turns compared against ``extract_turn``."""
    _check(summary["buckets_processed"] == n_buckets and summary["buckets_resumed"] == 0,
           f"buckets processed {summary['buckets_processed']} of {n_buckets}")
    keys = _read(output, columns=["conv_id", "turn_idx", "part_bucket"])
    _check(len(keys) == len(inputs), f"rows out {len(keys)} != turns in {len(inputs)}")
    _check(not keys.duplicated(["conv_id", "turn_idx"]).any(), "a turn was written twice")
    lin = _read(lineage, partitioning=None)
    _check(sorted(lin["part_bucket"]) == list(range(n_buckets)),
           "lineage does not hold exactly one row per bucket")
    _check((lin["status"] == "complete").all(), "lineage has an incomplete bucket")
    _check(int(lin["row_count"].sum()) == len(inputs), "lineage row counts != turns in")
    counts = keys.groupby("part_bucket").size()
    _check(all(int(counts.get(b, 0)) == int(r) for b, r in
               zip(lin["part_bucket"], lin["row_count"])), "lineage row_count != bucket rows")

    sample = pd.concat([
        _read(os.path.join(output, f"part_bucket={b}"), partitioning=None,
              columns=["conv_id", "turn_idx", "extracted_text", "candidates"])
        for b in SAMPLE_BUCKETS if os.path.isdir(os.path.join(output, f"part_bucket={b}"))
    ])
    joined = sample.merge(inputs[["conv_id", "turn_idx", "text", "tool"]],
                          on=["conv_id", "turn_idx"], how="left", validate="one_to_one",
                          indicator=True)
    _check(len(joined) > 0, "no sampled bucket was written")
    _check((joined["_merge"] == "both").all(), "a sampled output turn is not in the input")
    for row in joined.itertuples(index=False):
        want_text, want = extract_turn(row.text, row.tool)
        got_text = row.extracted_text
        _check(got_text == want_text, f"extracted_text differs for {row.conv_id}/{row.turn_idx}")
        got = [tuple(c[f] for f in _CAND_FIELDS) for c in row.candidates]
        exp = [tuple(getattr(c, f) for f in _CAND_FIELDS) for c in want]
        _check(got == exp, f"candidates differ for {row.conv_id}/{row.turn_idx}")
    return len(joined)


def verify_curation(summary: dict, inputs: pd.DataFrame, output: str) -> int:
    """Returns the number of curated rows checked."""
    _check(summary["rows_in"] == len(inputs), "rows_in != docs in")
    junk = int(inputs["text"].str.startswith("!?").sum())
    _check(summary["rows_quality_pass"] <= len(inputs) - junk, "gates passed too many docs")
    curated = _read(os.path.join(output, "curated"), columns=["doc_id", "text", "split"])
    split_counts = {k: int(v) for k, v in curated["split"].value_counts().items()}
    _check({k: v for k, v in summary["split_counts"].items() if v} == split_counts,
           f"split counts {summary['split_counts']} != written {split_counts}")
    _check(len(curated) == summary["rows_after_dedup"], "rows_after_dedup != curated rows")
    _check(not curated["text"].str.startswith("!?").any(), "a junk doc reached the corpus")
    _check(curated["text"].is_unique, "curated corpus holds an exact duplicate")
    report = _read(os.path.join(output, "decontam_report"), partitioning=None)
    _check(len(report) == summary["eval_docs"]
           == len(curated) - split_counts.get("train", 0), "report rows != eval docs")
    _check(int((report["n_contam"] > 0).sum()) == summary["contaminated_docs"],
           "contaminated_docs != report rows with overlap")
    _check(int(report["n_contam"].sum()) == summary["contaminated_grams"],
           "contaminated_grams != report overlap sum")
    _check(summary["contaminated_docs"] > 0, "no planted 13-gram overlap was found")
    return len(curated)
