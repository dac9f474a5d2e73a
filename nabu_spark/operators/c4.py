"""C4-style cleaning filters (Raffel et al. 2020, public method): the
line- and page-level heuristics the original C4 pipeline applied to
Common-Crawl text, as pure JVM codegen — no Python in the hot path.

Line filters (a line survives iff ALL hold):
  * ends in terminal punctuation (. ! ? ") after right-trim
  * has >= 5 whitespace words
  * does not contain the word "javascript" (case-insensitive) — the
    enable-javascript boilerplate heuristic

Page filters (flags, not silent drops — callers filter on ``c4_keep``):
  * no "lorem ipsum" (case-insensitive)
  * no '{' (code page heuristic)
  * >= 3 sentences in the CLEANED text (terminal-punct occurrences)

This complements the Gopher battery (textstats.gopher_quality_flags) and
the jusText-lite extractor: C4's rules are line-oriented where Gopher's are
document-statistical. At 100 TB everything here is one narrow projection —
split / filter / array_join higher-order functions inside whole-stage
codegen, no shuffle, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

TERMINAL_RE = r'[.!?"]\s*$'


def _line_ok(line: Column) -> Column:
    t = F.trim(line)
    return (
        t.rlike(TERMINAL_RE)
        & (F.size(F.split(t, r"\s+")) >= 5)
        & ~F.lower(t).contains("javascript")
    )


def c4_clean(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Add C4 columns: ``c4_text`` (surviving lines joined), ``c4_n_lines``
    (kept line count), ``c4_n_sentences`` (terminal-punct count in the
    cleaned text), and ``c4_keep`` (page-level verdict)."""
    # one column of kept lines: higher-order functions get no subexpression
    # elimination, so each inlined copy would re-run the per-line filter
    return (
        docs.withColumn(
            "_c4_kept", F.filter(F.split(F.col(text_col), "\n"), _line_ok))
        .withColumn("c4_text", F.array_join("_c4_kept", "\n"))
        .withColumn("c4_n_lines", F.size("_c4_kept"))
        # k terminators split into k+1 pieces
        .withColumn("c4_n_sentences",
                    F.size(F.split("c4_text", r'[.!?]')) - F.lit(1))
        .withColumn(
            "c4_keep",
            ~F.lower(F.col(text_col)).contains("lorem ipsum")
            & ~F.col(text_col).contains("{")
            & (F.col("c4_n_sentences") >= 3),
        )
        .drop("_c4_kept")
    )
