"""Line-level document cleaning — the C4/RefinedWeb pre-dedup pass
that fixes documents from the inside instead of dropping them whole:
split a document into lines, apply per-line keep rules, reassemble
the survivors in order, and drop documents left with too few lines.

Everything is ONE in-row expression per document (split → higher-order
``filter`` → ``array_join``): no explode, no shuffle, no state — the
operator runs inside the scan's whole-stage-codegen project at any
corpus size, and the per-line rules are engine-portable enough to be
oracle-checked against DuckDB's ``list_filter`` lambdas.

Reference: the reference pipeline cleans transcripts document-at-a-
time inside Lambda handlers (see SURVEY.md §2 text functions); this is
the corpus-scale generalization a pretraining pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _line_keep_rule(
    min_words: int, banned_substrings: tuple[str, ...]
) -> "callable":
    """Per-line predicate: a line survives when its trimmed form is
    non-empty, has at least ``min_words`` whitespace-separated words,
    and contains none of ``banned_substrings`` (case-insensitive)."""

    def rule(line: Column) -> Column:
        trimmed = F.trim(line)
        keep = (trimmed != F.lit("")) & (
            F.size(F.split(trimmed, r"\s+")) >= F.lit(min_words)
        )
        lowered = F.lower(line)
        for b in banned_substrings:
            keep = keep & ~lowered.contains(b.lower())
        return keep

    return rule


def clean_lines(
    df: DataFrame,
    text_col: str,
    min_words: int = 3,
    banned_substrings: tuple[str, ...] = (),
    line_sep: str = "\n",
    min_lines_kept: int = 1,
) -> DataFrame:
    """Keep each document's surviving lines (in original order) and
    the documents that retain at least ``min_lines_kept`` of them.

    Adds ``text_clean`` (survivors re-joined with ``line_sep``),
    ``n_lines_kept`` and ``n_lines_dropped``; all other columns pass
    through.  ``line_sep`` is a LITERAL separator (it is regex-escaped
    before the split), so callers can split on multi-char separators
    without regex surprises.
    """
    escaped = "".join(
        ("\\" + c) if c in r".^$*+?()[]{}|\\" else c for c in line_sep
    )
    lines = F.split(F.col(text_col), escaped)
    kept = F.filter(lines, _line_keep_rule(min_words, banned_substrings))
    out = (
        df.withColumn("_lines", lines)
        .withColumn("_kept", kept)
        .withColumn("text_clean", F.array_join(F.col("_kept"), line_sep))
        .withColumn("n_lines_kept", F.size(F.col("_kept")))
        .withColumn(
            "n_lines_dropped",
            F.size(F.col("_lines")) - F.size(F.col("_kept")),
        )
        .drop("_lines", "_kept")
    )
    return out.filter(F.col("n_lines_kept") >= F.lit(min_lines_kept))
