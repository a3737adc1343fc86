"""Seeded benchmark inputs, one generator per workload.

Every input is a pure function of ``(workload, seed)`` and is written as
parquet under the benchmark's own work directory, never the shared
``datagen`` cache.  The three workloads stress different layers:

- ``mixed-chat``: the repository's own transcript generator
  (``datagen.generate_transcripts``) — canonical labels, many turns that
  need no Python work, so the Arrow boundary, the scan and the sink
  dominate.
- ``label-dense``: transcripts whose turns all carry several mostly
  non-canonical, partly confusion-corrupted grammar codes plus noise
  tokens, so cold ``analyze_token`` work dominates and the per-worker LRU
  cannot hold the working set.
- ``curation-docs``: a documents table (``doc_id, text, lang, source,
  n_chars``) with planted exact duplicates, planted 13-gram passages shared
  across documents, and a share of documents the quality gates reject.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

from ocr_auto_label_spark.datagen import generate_transcripts
from ocr_auto_label_spark.labelcore.grammar import SAMPLE_CODE_PATTERNS

WORKLOADS = ("mixed-chat", "label-dense", "curation-docs")

# Input sizes.  A run is several fresh processes, each paying JVM start;
# these sizes keep one job at a few seconds on a 4-core host.
SIZES = {"mixed-chat": 40_000, "label-dense": 20_000, "curation-docs": 3_000}

# Every input is written as this many equal parquet files: the files are
# far below Spark's split size, so each is one scan task, and 8 tasks keep
# 1, 2 or 4 cores evenly busy.
N_FILES = 8

_EPOCH = np.datetime64("2026-01-01T00:00:00")

# ---------------------------------------------------------------- label-dense

# Confusions the extractor repairs (labelcore.confusion.CONFUSION_GROUPS).
_CONFUSE = {"0": "O", "1": "I", "8": "B", "D": "0", "B": "8"}
_ALPHA = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
_PATTERNS = {p.id: p for p in SAMPLE_CODE_PATTERNS}
# Share of grammar codes per pattern; mwi_type_1 alone has over 1M codes.
_PATTERN_MIX = (("mwi_type_1", 0.6), ("mwi_type_0", 0.15),
                ("ken_type_0", 0.1), ("generic_3_digit", 0.15))
_LABEL_TEMPLATES = (
    "Batch {} logged after the rerun.",
    "Sample {} and the follow-up were scanned.",
    "<b>{}</b> matched the field sheet.",
    "ID {} confirmed by the lab.",
)


def _random_codes(rng: np.random.Generator, pattern_id: str, n: int) -> list[str]:
    """``n`` uniformly drawn grammar-valid codes of one pattern."""
    cols = []
    for seg in _PATTERNS[pattern_id].segments:
        if seg.type == "fixed" and seg.value == "[A-Z]{3}":
            letters = rng.choice(_ALPHA, (n, 3))
            cols.append([a + b + c for a, b, c in letters])
        elif seg.type == "fixed":
            cols.append([str(seg.value)] * n)
        elif seg.type == "range":
            cols.append(rng.integers(seg.min, seg.max + 1, n).astype(str))
        else:  # rangeWithLetters
            nums = rng.integers(seg.min, seg.max + 1, n).astype(str)
            lets = rng.choice(np.array(seg.letters), n)
            cols.append([a + b for a, b in zip(nums, lets)])
    return [".".join(parts) for parts in zip(*cols)]


def _corrupt(rng: np.random.Generator, code: str) -> str:
    """One confusion swap (or a dropped period) the extractor may repair."""
    if rng.random() < 0.8:
        pos = [i for i, c in enumerate(code) if c in _CONFUSE]
        if pos:
            i = pos[int(rng.integers(len(pos)))]
            return code[:i] + _CONFUSE[code[i]] + code[i + 1:]
    dots = [i for i, c in enumerate(code) if c == "."]
    if len(dots) > 1:
        i = dots[int(rng.integers(1, len(dots)))]
        return code[:i] + code[i + 1:]
    return code


def _label_tokens(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` label-shaped tokens: 15% noise (three letters then two
    out-of-range segments: matches ``TOKEN_RE``, no pattern, even after
    correction), 30% corrupted grammar codes, the rest clean codes drawn
    uniformly from each pattern's universe (so almost none canonical)."""
    pids = [p for p, _ in _PATTERN_MIX]
    which = rng.choice(len(pids), n, p=[w for _, w in _PATTERN_MIX])
    tokens = np.empty(n, dtype=object)
    for k, pid in enumerate(pids):
        idx = np.flatnonzero(which == k)
        tokens[idx] = _random_codes(rng, pid, len(idx))
    kind = rng.random(n)
    for i in np.flatnonzero((kind >= 0.15) & (kind < 0.45)):
        tokens[i] = _corrupt(rng, tokens[i])
    noise = np.flatnonzero(kind < 0.15)
    heads = rng.choice(_ALPHA, (len(noise), 3))
    segs = rng.integers(20, 100, (len(noise), 2))
    for i, h, (a, b) in zip(noise, heads, segs):
        tokens[i] = f"{''.join(h)}.{a}.{b}"
    return list(tokens)


def generate_label_dense(n_turns: int, seed: int) -> pd.DataFrame:
    """Transcript-schema table where every turn carries 3-5 label-shaped
    tokens in ``text`` and 1-2 in ``tool``."""
    rng = np.random.default_rng(seed)
    n_text = rng.integers(3, 6, n_turns)
    n_tool = rng.integers(1, 3, n_turns)
    tokens = iter(_label_tokens(rng, int(n_text.sum() + n_tool.sum())))
    templates = rng.integers(len(_LABEL_TEMPLATES), size=int(n_text.sum()))
    t_iter = iter(templates)
    texts = [
        "\n".join(_LABEL_TEMPLATES[next(t_iter)].format(next(tokens)) for _ in range(k))
        for k in n_text
    ]
    tools = [
        '{"status": "ok", "sample_ids": [%s]}'
        % ", ".join(f'"{next(tokens)}"' for _ in range(k))
        for k in n_tool
    ]
    # conversations of 2-11 turns, turn_idx restarting per conversation
    sizes = rng.integers(2, 12, n_turns)
    conv = np.repeat(np.arange(n_turns), sizes)[:n_turns]
    starts = np.r_[0, np.flatnonzero(np.diff(conv)) + 1]
    turn_idx = np.arange(n_turns) - np.repeat(starts, np.diff(np.r_[starts, n_turns]))
    ts = np.cumsum(rng.integers(5, 90, n_turns))
    return pd.DataFrame({
        "conv_id": pd.array([f"dense-{c:07d}" for c in conv], dtype="string"),
        "turn_idx": pd.array(turn_idx, dtype="int32"),
        "role": pd.array(np.array(["user", "assistant", "tool"])[rng.integers(3, size=n_turns)],
                         dtype="string"),
        "text": pd.array(texts, dtype="string"),
        "tool": pd.array(tools, dtype="string"),
        "ts": _EPOCH + ts.astype("timedelta64[s]"),
    })


# -------------------------------------------------------------- curation-docs

_LANGS = ("en", "de", "es", "fr", "zh")
_VOCAB_SIZE = 6_000
DUP_SHARE = 0.10        # docs that are exact copies of an earlier doc
PASSAGE_SHARE = 0.10    # docs carrying a planted 20-word shared passage
JUNK_SHARE = 0.05       # docs the quality gates reject
_PASSAGE_WORDS = 20     # > the 13-gram decontamination window
_DOCS_PER_PASSAGE = 4


def _vocab(rng: np.random.Generator) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, _VOCAB_SIZE)
    return np.array(["".join(rng.choice(letters, n)) for n in lens])


def generate_curation_docs(n_docs: int, seed: int) -> pd.DataFrame:
    """Documents table with the schema of the repository's
    ``documents.parquet`` fixtures and stated duplicate, shared-passage
    and junk shares."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)
    n_passages = max(1, int(n_docs * PASSAGE_SHARE) // _DOCS_PER_PASSAGE)
    passages = [" ".join(rng.choice(vocab, _PASSAGE_WORDS)) for _ in range(n_passages)]
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if r < JUNK_SHARE:
            texts.append("!? " * int(rng.integers(1, 6)))
        elif r < JUNK_SHARE + DUP_SHARE and texts:
            texts.append(texts[int(rng.integers(len(texts)))])
        else:
            words = " ".join(rng.choice(vocab, int(rng.integers(40, 160))))
            if r < JUNK_SHARE + DUP_SHARE + PASSAGE_SHARE:
                words = f"{words} {passages[int(rng.integers(n_passages))]}"
            texts.append(words)
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": pd.array(texts, dtype="string"),
        "lang": pd.array(rng.choice(_LANGS, n_docs), dtype="string"),
        "source": pd.array([f"src{int(s)}" for s in rng.integers(0, 8, n_docs)],
                           dtype="string"),
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


# ------------------------------------------------------------------ materialize


def _write_parquet(pdf: pd.DataFrame, path: str) -> str:
    """Write ``pdf`` as a multi-file parquet directory, atomically."""
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rows = -(-len(pdf) // N_FILES)
    for i in range(N_FILES):
        pdf.iloc[i * rows:(i + 1) * rows].to_parquet(
            os.path.join(tmp, f"part-{i:05d}.parquet"), index=False,
            row_group_size=8192,
        )
    os.rename(tmp, path)
    return path


def materialize(workload: str, seed: int, base_dir: str) -> str:
    """Generate (or reuse) the input of ``workload`` for ``seed`` under
    ``base_dir``; returns the parquet directory."""
    n = SIZES[workload]
    os.makedirs(base_dir, exist_ok=True)
    if workload == "mixed-chat":
        return _write_parquet(generate_transcripts(n, seed),
                              os.path.join(base_dir, f"mixed_chat_n{n}_s{seed}.parquet"))
    if workload == "label-dense":
        return _write_parquet(generate_label_dense(n, seed),
                              os.path.join(base_dir, f"label_dense_n{n}_s{seed}.parquet"))
    if workload == "curation-docs":
        return _write_parquet(generate_curation_docs(n, seed),
                              os.path.join(base_dir, f"curation_docs_n{n}_s{seed}.parquet"))
    raise ValueError(f"unknown workload {workload!r}")


def read_input(path: str) -> pd.DataFrame:
    """The input as plain object columns (strings or None)."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").to_table().to_pandas(ignore_metadata=True)
