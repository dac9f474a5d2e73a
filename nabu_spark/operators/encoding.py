"""Encoding hygiene for web corpora: mojibake detection and repair.

The classic web-text defect: UTF-8 bytes decoded as cp1252/latin-1 somewhere
in a pipeline ("café" -> "cafÃ©", "don’t" -> "donâ€™t"), sometimes twice.
The repair is the exact inverse — re-encode as cp1252 and decode as UTF-8 —
applied iteratively until it stops round-tripping (clean text fails the
strict UTF-8 decode immediately, so convergence is detection).

Semantics are whole-string (a string is repaired only when ALL of it
re-encodes to cp1252 and strictly decodes as UTF-8): segment-wise repair
like ftfy's would need heuristic boundaries; the whole-string form is
deterministic, exactly invertible, and never corrupts clean text — the
property the driver gate proves (corrupt -> fix == identity on the
original).

Scale shape: detection is pure codegen (regexp marker counts); repair is
one narrow Arrow pass, no shuffle, no state.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F

# High-signal mojibake markers: UTF-8 lead bytes 0xC3/0xC2 seen through
# cp1252 ('Ã', 'Â') and the 0xE2 0x80 0x9x punctuation family ('â€¦' etc.)
MOJIBAKE_MARKER_RE = r"(Ã.|Â.|â€.)"

MAX_ROUNDS = 3  # double-encoded is common, triple is the practical ceiling


def fix_text(s: str) -> tuple[str, int]:
    """Iteratively undo cp1252-misdecoded UTF-8. Returns (fixed, rounds).
    Clean text converges in 0 rounds: ASCII round-trips to itself, and text
    with real accents fails the strict UTF-8 decode of its cp1252 bytes."""
    if s is None:
        return s, 0
    rounds = 0
    for _ in range(MAX_ROUNDS):
        try:
            candidate = s.encode("cp1252").decode("utf-8")
        except (UnicodeEncodeError, UnicodeDecodeError):
            break
        if candidate == s:
            break
        s = candidate
        rounds += 1
    return s, rounds


def corrupt_text(s: str, times: int = 1) -> str:
    """The defect being repaired (for tests and the gate corpus): UTF-8
    bytes misdecoded as cp1252. Raises if the text hits one of cp1252's
    five unmapped bytes (0x81/0x8D/0x8F/0x90/0x9D) — pick fixture text
    accordingly, as real-world corrupters did."""
    for _ in range(times):
        s = s.encode("utf-8").decode("cp1252")
    return s


def mojibake_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_markers, suspect): pure-codegen detection pass — route only
    suspect rows through the repair UDF at scale."""
    n = F.coalesce(
        F.length(F.regexp_replace(text_col, MOJIBAKE_MARKER_RE, "\x00\x00"))
        - F.length(F.regexp_replace(text_col, MOJIBAKE_MARKER_RE, "")),
        F.lit(0),
    ) / 2
    return df.select(
        F.col(id_col),
        n.cast("int").alias("n_markers"),
        (n > 0).alias("suspect"),
    )


def fix_mojibake(
    df: DataFrame, id_col: str, text_col: str, *, route_suspects: bool = True
) -> DataFrame:
    """(id, fixed, repair_rounds): narrow passes, no shuffle. Rows the
    repair does not apply to pass through unchanged (rounds=0).

    ``route_suspects`` (default): pure-ASCII rows — the overwhelming web
    majority — bypass the Python pass entirely via a codegen pre-filter
    (mojibake ALWAYS contains non-ASCII chars, so the route has zero false
    negatives: fix_text on ASCII is the identity). Only the non-ASCII
    minority crosses into Arrow."""
    if route_suspects:
        non_ascii = F.col(text_col).rlike(r"[^\x00-\x7F]")
        clean = df.filter(~F.coalesce(non_ascii, F.lit(False))).select(
            F.col(id_col),
            F.col(text_col).alias("fixed"),
            F.lit(0).alias("repair_rounds"),
        )
        sus = df.filter(F.coalesce(non_ascii, F.lit(False)))
        fixed_sus = fix_mojibake(sus, id_col, text_col, route_suspects=False)
        return clean.unionByName(fixed_sus)

    import pandas as pd  # here, so importing the module stays pandas-free

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            fixed, rounds = [], []
            for s in pdf[text_col]:
                f_s, r = fix_text(s)
                fixed.append(f_s)
                rounds.append(r)
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "fixed": pd.Series(fixed, dtype="object"),
                    "repair_rounds": pd.Series(rounds, dtype="int32"),
                }
            )

    out = df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        batches, f"id {dict(df.dtypes)[id_col]}, fixed string, repair_rounds int"
    )
    return out.withColumnRenamed("id", id_col)
