"""Deterministic corpus sampling for training-data mixing.

Training mixes re-weight domains (``source`` / url-host) with a temperature
exponent: sampling probability per domain ∝ count^alpha, alpha < 1 flattens
the head, alpha = 1 is proportional (no-op), alpha = 0 is uniform-by-domain.
The standard multilingual/LLM-mix recipe (GPT-3 / mC4 style).

Selection must be a pure function of (doc identity, seed) — not Spark's
``DataFrame.sample`` — so a re-run, a different partitioning, or a different
cluster size keeps EXACTLY the same documents. Each doc draws a uniform
u ∈ [0,1) from the first 8 hex digits of md5(seed:doc_id) and is kept when
u < rate(domain), with rate = min(1, target_share · N_target / count).

Scale notes (100 TB): one groupBy on the domain key produces a tiny rates
dimension (#domains rows) that broadcast-joins back; the keep decision is
then pure codegen per row. No global shuffle of the corpus, no driver
collect, no RNG state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_HASH_SPAN = float(1 << 32)


def _uniform_hash(id_col: str, seed: int):
    """Deterministic u ∈ [0,1) per doc: first 32 bits of md5, engine-portable
    (same construction is expressible in DuckDB for the oracle)."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    return h / F.lit(_HASH_SPAN)


def domain_rates(
    df: DataFrame,
    domain_col: str = "source",
    *,
    alpha: float = 0.5,
    sample_frac: float = 0.5,
) -> DataFrame:
    """(domain, n_docs, rate): temperature-weighted per-domain keep rates
    targeting ``sample_frac`` of the corpus overall."""
    counts = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count("*").cast("double").alias("n_docs")
    )
    tot = counts.agg(
        F.sum("n_docs").alias("_n_total"),
        F.sum(F.pow("n_docs", float(alpha))).alias("_z"),
    )
    return (
        counts.join(F.broadcast(tot))
        .withColumn(
            "rate",
            F.least(
                F.lit(1.0),
                F.pow("n_docs", float(alpha))
                / F.col("_z")
                * F.col("_n_total")
                * float(sample_frac)
                / F.col("n_docs"),
            ),
        )
        .select("domain", F.col("n_docs").cast("long").alias("n_docs"), "rate")
    )


def temperature_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    domain_col: str = "source",
    *,
    alpha: float = 0.5,
    sample_frac: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Deterministic temperature-sampled subset of ``df`` (all original
    columns kept). Reproducible across runs, partitionings, and cluster
    sizes by construction."""
    rates = domain_rates(df, domain_col, alpha=alpha, sample_frac=sample_frac)
    u = _uniform_hash(id_col, seed)
    return (
        df.join(
            F.broadcast(rates.withColumnRenamed("domain", domain_col).drop("n_docs")),
            domain_col,
        )
        .filter(u < F.col("rate"))
        .drop("rate")
    )
