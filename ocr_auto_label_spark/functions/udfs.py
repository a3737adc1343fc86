"""The Arrow-vectorized pandas UDF wrapping the pure-Python labelcore.

Contract (BASELINE.json north_star): **zero per-row Python UDFs** — every
Python crossing is an Arrow-batched ``pandas_udf`` (``ArrowEvalPython`` in
the physical plan, never ``BatchEvalPython``; asserted in tests).

Vectorization strategy for the extraction UDF:
  1. every non-empty ``text``/``tool`` value runs the span scan directly
     (``re.finditer`` must yield offsets, which pandas ``str`` ops cannot;
     on a turn with no label-shaped token it costs the one scan a
     prefilter would),
  2. token-level results go through the lru-cached ``analyze_token`` —
     labels repeat heavily, so grammar validation / confusion fan-out /
     fuzzy match run once per distinct token, not once per occurrence.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf

from ocr_auto_label_spark.labelcore.boilerplate import normalize_text
from ocr_auto_label_spark.labelcore.extract import _SOURCE_ORDER, TOKEN_RE, analyze_token
from ocr_auto_label_spark.schemas import EXTRACT_RESULT_SCHEMA


def _normalize_series(s: pd.Series) -> pd.Series:
    """labelcore.boilerplate.normalize_text mapped over the batch —
    byte-identical by construction (ONE implementation for oracle and
    UDF).  Pandas str.replace loops rows in Python anyway, so mapping the
    scalar function costs the same per row while its match-impossible
    gates skip ~40% of the regex scans on typical turns."""
    return s.map(normalize_text, na_action="ignore")


def _scan_row(raw: str, source_col: str) -> list[dict]:
    """Token scan → candidate dicts (unranked).  Token analysis goes
    through ``labelcore.extract.analyze_token`` — the SAME lru-cached
    function the pure-Python oracle uses (one implementation, and the
    cache persists across Arrow batches in a reused worker process)."""
    out = []
    for m in TOKEN_RE.finditer(raw):
        res = analyze_token(m.group(0))
        if res is None:
            continue
        label, pattern_id, edits, canon, sim, conf = res
        out.append({
            "label": label, "raw": m.group(0), "begin": m.start(),
            "end": m.end(), "source_col": source_col,
            "pattern_id": pattern_id, "corrections": edits,
            "canonical": canon, "canonical_sim": sim, "confidence": conf,
            "rank": 0,
        })
    return out


def _rank_key(c: dict) -> tuple:
    # identical ordering to labelcore.extract.rank_candidates (step 6)
    return (-c["confidence"], _SOURCE_ORDER[c["source_col"]], c["begin"])


def _extract_batch(text: pd.Series, tool: pd.Series) -> pd.DataFrame:
    extracted = _normalize_series(text)
    cands_col: list[list[dict]] = []
    text_vals = text.to_numpy(dtype=object)
    tool_vals = tool.to_numpy(dtype=object)
    for i in range(len(text_vals)):
        tv, lv = text_vals[i], tool_vals[i]
        cands: list[dict] = []
        # TOKEN_RE.finditer on a miss costs the same single scan a
        # str.contains prefilter would — scan directly, no double pass
        if isinstance(tv, str) and tv:
            cands.extend(_scan_row(tv, "text"))
        if isinstance(lv, str) and lv:
            cands.extend(_scan_row(lv, "tool"))
        if len(cands) > 1:
            cands.sort(key=_rank_key)
        for r, c in enumerate(cands):
            c["rank"] = r + 1
        cands_col.append(cands)
    return pd.DataFrame({
        "extracted_text": extracted,
        "candidates": pd.Series(cands_col, index=text.index),
    })


@pandas_udf(EXTRACT_RESULT_SCHEMA)
def extract_turn_udf(text: pd.Series, tool: pd.Series) -> pd.DataFrame:
    """(text, tool) → struct<extracted_text, candidates array<struct>>.

    Ranking happens inside the UDF (per-turn argsort), so the flagship
    pipeline needs **no shuffle** for W7 candidate ranking — extraction is
    embarrassingly parallel per turn.
    """
    return _extract_batch(text, tool)
