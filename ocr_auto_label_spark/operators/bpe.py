"""BPE tokenizer training (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units" §3.2).

The classic algorithm: start from characters, repeatedly merge the most
frequent adjacent symbol pair.  Training data for the pair statistics is
the DISTINCT-WORD vocabulary weighted by word frequency — the same
distinct-value compression every heavy operator here uses (a 100 TB
corpus has ~10⁷–10⁸ distinct words, not 10¹²; all pair counting happens
on that vocabulary table, never on the token stream).

Shape (the production tokenizer-trainer design — HuggingFace tokenizers
and SentencePiece train this way): ONE distributed, map-side-combined
word count; a BOUNDED driver pull of its top ``max_vocab`` rows by
(cnt DESC, word) — the cap is every production trainer's min-frequency
cutoff; then the merge loop runs locally as incremental pair-count
maintenance (O(affected words) per merge, so 32k merges stay one Spark
job, not 32k).  Ties break by (count DESC, a ASC, b ASC), a total order,
so training is bit-reproducible at any parallelism and replayable as a
static chained-CTE SQL oracle.

A word's symbol sequence is a STRING — symbols joined by two spaces,
padded with one space on each end (symbols never contain whitespace, by
tokenization).  That is the form the DuckDB oracle rewrites with a
literal ``replace(seq, ' a  b ', ' ab ')`` per merge (left-to-right
non-overlapping, EXACTLY the greedy merge including ``a a a → (aa) a``);
here every word gets its final sequence from :func:`apply_merges`.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ocr_auto_label_spark.operators.textstats import word_tokens


def word_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over the corpus — the weighted training vocabulary."""
    toks = F.filter(word_tokens(F.col(text_col)), lambda w: w != F.lit(""))
    return (
        df.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# split back to symbols: trim the outer pad, split on the 2-space joiner
_SYMS = "split(trim(seq), '  ')"


def bpe_train(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    max_vocab: int = 4_000_000,
) -> tuple[list[dict], DataFrame]:
    """Train ``n_merges`` BPE merges on ``df[text_col]``.

    Returns ``(merges, words)``: ``merges`` is the ordered merge table
    (step, a, b, merged, total), and ``words`` is the vocabulary frame
    (word, cnt, seq) over EVERY corpus word, with ``seq`` holding the
    word's final symbol sequence (two-space joined, padded) — the
    segmenter state that :func:`bpe_segment_counts` and any encoder join
    against.  Pair statistics come from the top ``max_vocab`` words only
    (frequency-cutoff semantics); words beyond the cap are still
    segmented by the trained table.  Raises if the corpus runs out of
    mergeable pairs before ``n_merges`` (pick n_merges well under
    capacity; the SQL oracle replays a fixed-length chain).

    The word count is materialized once and feeds both the head pull and
    the encoder replay; the returned frame is materialized once too and
    keeps the word count's size statistics, so a join against it
    broadcasts the vocabulary, not the corpus side."""
    if n_merges < 1:
        raise ValueError("bpe_train: n_merges must be >= 1")
    wf = word_frequencies(df, text_col).localCheckpoint(eager=True)
    head = (
        wf.orderBy(F.desc("cnt"), F.asc("word")).limit(max_vocab).collect()
    )
    merges = _local_bpe_delta([(r.word, int(r.cnt)) for r in head], n_merges)
    return merges, apply_merges(wf, merges).localCheckpoint(eager=True)


def _merge_symbols(syms: list[str], a: str, b: str) -> list[str]:
    """One merge step on a symbol list: left-to-right, non-overlapping —
    the exact semantics of ``replace(seq, ' a  b ', ' ab ')`` on the
    two-space-joined string (so ``a a a → (aa) a``)."""
    out: list[str] = []
    i, n = 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _local_bpe_delta(
    vocab: list[tuple[str, int]], n_merges: int
) -> list[dict]:
    """The standard incremental BPE trainer (Sennrich's reference
    ``learn_bpe`` index structure): pair counts plus a pair→words inverted
    index, updated per merge by re-counting ONLY the words whose sequence
    contains the merged pair.  O(affected words) per step instead of a
    full corpus pass; tie-break (count DESC, a ASC, b ASC).  Returns the
    merge table (tests/test_bpe.py checks it against a from-scratch
    greedy reference)."""
    seqs = [list(w) for w, _ in vocab]
    cnts = [c for _, c in vocab]
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    for idx, syms in enumerate(seqs):
        c = cnts[idx]
        for p in zip(syms, syms[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + c
            pair_words.setdefault(p, set()).add(idx)
    merges: list[dict] = []
    for step in range(n_merges):
        if not pair_counts:
            raise ValueError(
                f"bpe_train: no adjacent pairs left at step {step} — "
                "n_merges exceeds the corpus's merge capacity"
            )
        (a, b), total = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        merges.append(
            {"step": step, "a": a, "b": b, "merged": a + b, "total": total}
        )
        for idx in pair_words.get((a, b), set()).copy():
            old = seqs[idx]
            new = _merge_symbols(old, a, b)
            c = cnts[idx]
            # apply the word's NET change in adjacencies — the per-word
            # form of Sennrich's update_pair_statistics.  Occurrence
            # Counters, not per-position loops: a pair can occur several
            # times in one word; pairs away from the merge sites cancel
            # out and are never touched.
            new_pc = Counter(zip(new, new[1:]))
            diff = Counter(new_pc)
            diff.subtract(zip(old, old[1:]))
            for p, k in diff.items():
                if not k:
                    continue
                left = pair_counts.get(p, 0) + c * k
                if left:
                    pair_counts[p] = left
                else:
                    del pair_counts[p]
                if k > 0:
                    pair_words.setdefault(p, set()).add(idx)
                elif p not in new_pc:
                    ws = pair_words[p]
                    ws.discard(idx)
                    if not ws:
                        del pair_words[p]
            seqs[idx] = new
    return merges


def apply_merges(
    words: DataFrame, merges: list[dict], word_col: str = "word"
) -> DataFrame:
    """Add ``seq`` (two-space joined, padded) to a ``(word, …)`` frame by
    replaying the trained merge table per word, in merge order — the BPE
    ENCODER, for the trainer's vocabulary frame and for unseen text.
    Per-word replay equals the oracle's global replace-chain: each
    ``replace`` only reads the word's own sequence.  A word skips the
    steps whose pair it does not contain: the next step to fire is the
    earliest later step whose pair is adjacent in the word now, so one
    word costs O(merges it takes × its length), not O(merge table).
    Arrow-batched pandas UDF (the merge table broadcasts in the closure;
    it is merges-sized, never corpus-sized)."""
    from pyspark.sql.functions import pandas_udf

    # every step of a pair, ascending: the skip stays an exact replay
    # even for a table that repeats a pair
    steps: dict[tuple[str, str], list[int]] = {}
    for i, m in enumerate(merges):
        steps.setdefault((m["a"], m["b"]), []).append(i)

    @pandas_udf("string")
    def _seq(col: pd.Series) -> pd.Series:
        def enc(w: str) -> str:
            syms, done = list(w), -1
            while True:
                nxt = None
                for p in zip(syms, syms[1:]):
                    for s in steps.get(p, ()):
                        if s > done:
                            if nxt is None or s < nxt:
                                nxt = s
                            break
                if nxt is None:
                    return " " + "  ".join(syms) + " "
                done = nxt
                syms = _merge_symbols(syms, merges[done]["a"], merges[done]["b"])

        return col.map(enc)

    return words.withColumn("seq", _seq(F.col(word_col)))


def bpe_vocab(words: DataFrame) -> DataFrame:
    """(symbol, total) — occurrence-weighted counts of the final symbol
    inventory (chars + merged units)."""
    return (
        words.select(
            "cnt", F.explode(F.expr(_SYMS)).alias("symbol")
        )
        .groupBy("symbol")
        .agg(F.sum("cnt").alias("total"))
    )


def bpe_segment_counts(
    df: DataFrame,
    words: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_symbols, n_words) — per-document token counts AFTER the
    trained merges (the compression the tokenizer buys).  One explode +
    one word-keyed equi-join against the vocabulary's per-word symbol
    count (AQE broadcast-or-shuffle; every corpus word is in the
    vocabulary by construction)."""
    toks = F.filter(word_tokens(F.col(text_col)), lambda w: w != F.lit(""))
    per_word = words.select(
        "word", F.size(F.expr(_SYMS)).alias("n_sym")
    )
    return (
        df.select(F.col(id_col).alias("id"), F.explode(toks).alias("word"))
        .join(per_word, "word")
        .groupBy("id")
        .agg(
            F.sum("n_sym").cast("long").alias("n_symbols"),
            F.count(F.lit(1)).alias("n_words"),
        )
    )
