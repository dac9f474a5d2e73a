"""Corpus mixing: weighted multi-source sampling for training mixtures.

The standard last step of a training-data pipeline: given per-source
mixture weights (wikipedia 0.3, web 0.6, code 0.1, ...) and a total
document budget, emit a corpus hitting the quotas EXACTLY and
deterministically — independent of partitioning, cluster size, or row
order. Sources smaller than their quota are upsampled by whole epochs
plus a deterministic partial epoch (the multi-epoch convention of LLM
data recipes); larger sources are downsampled by seeded-hash rank.

Scale notes (100 TB):
  * selection is a pure function of (seed, id): the keep/epoch decision
    reproduces on any cluster — the same determinism contract as
    sampling.py and shards.py;
  * ``exact=True`` ranks per source (one shuffle on the source key;
    cost = a per-source sort of ids, NOT of document text — select ids
    first, then semi-join the wide table);
  * ``exact=False`` replaces the rank with a pure hash THRESHOLD —
    zero shuffle, no window — hitting each quota within sampling noise
    (binomial, ~1/sqrt(quota)); the right default once quotas are in the
    millions, where the noise is well under one part per thousand.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# 16^15 as float: the hash percentile denominator for the approximate path
_HASH_MAX = float(16 ** 15)


def _key(col, seed: int):
    """Deterministic uniform key from (seed, id): an md5 hex string —
    JVM-side, partition-independent, and bit-identical across engines
    (DuckDB's md5 agrees, so the correctness oracle can replay the exact
    ranking). Lexicographic order on the hex IS the uniform order."""
    return F.md5(F.concat(F.lit(f"{seed}:"), col.cast("string")))


def mix_corpus(
    df: DataFrame,
    weights: dict[str, float],
    total: int,
    *,
    id_col: str = "doc_id",
    source_col: str = "source",
    seed: int = 42,
    exact: bool = True,
    allow_upsample: bool = True,
) -> DataFrame:
    """Select a mixture of ``total`` documents matching ``weights``
    (normalized over the sources present). Output adds an ``epoch``
    column (0 for the first pass over a source; 1, 2, ... for upsampled
    repeats) — a downstream packer treats (id, epoch) as the sample key.

    Quota per source = round-robin largest-remainder apportionment of
    ``total`` over the normalized weights, so quotas sum to ``total``
    exactly. Raises when a source would need upsampling and
    ``allow_upsample=False``."""
    if total <= 0:
        raise ValueError("total must be positive")
    w = {k: float(v) for k, v in weights.items() if v > 0}
    if not w:
        raise ValueError("no positive weights")
    norm = sum(w.values())
    # largest-remainder apportionment: exact integer quotas summing to total
    raw = {k: total * v / norm for k, v in w.items()}
    quota = {k: int(raw[k]) for k in w}
    for k in sorted(w, key=lambda k: (raw[k] - quota[k], k), reverse=True):
        if sum(quota.values()) >= total:
            break
        quota[k] += 1

    spark = df.sparkSession
    counts = {
        r[source_col]: r["n"]
        for r in df.filter(F.col(source_col).isin(*w))
        .groupBy(source_col).agg(F.count("*").alias("n")).collect()
    }
    missing = [k for k in w if counts.get(k, 0) == 0]
    if missing:
        raise ValueError(f"sources with no documents: {missing}")
    if not allow_upsample:
        short = {k: (quota[k], counts[k]) for k in w if counts[k] < quota[k]}
        if short:
            raise ValueError(
                f"sources smaller than quota (upsampling disabled): {short}")

    quota_df = F.broadcast(spark.createDataFrame(
        [(k, quota[k], counts[k]) for k in w],
        f"{source_col} string, __quota long, __n long"))
    keyed = df.join(quota_df, source_col).withColumn(
        "__h", _key(F.col(id_col), seed))

    if exact:
        win = Window.partitionBy(source_col).orderBy("__h", id_col)
        ranked = keyed.withColumn("__rn", F.row_number().over(win) - 1)
    else:
        # hash-threshold: keep ids whose uniform key falls inside the
        # quota percentile; ranks are then approximated by the hash
        # position (only used for the partial-epoch cut below)
        ranked = keyed.withColumn(
            "__rn",
            (F.conv(F.substring("__h", 1, 15), 16, 10).cast("double")
             / F.lit(_HASH_MAX) * F.col("__n")).cast("long"))

    # epochs: full passes + a deterministic partial pass. A doc with
    # in-source rank r is kept for epochs e = 0..floor((quota-1-r)/n):
    # exactly quota rows per source, first-ranked docs fill the remainder.
    out = (
        ranked.filter(F.col("__rn") < F.col("__quota"))
        .withColumn(
            "epoch",
            F.explode(F.sequence(
                F.lit(0),
                F.floor((F.col("__quota") - 1 - F.col("__rn"))
                        / F.col("__n")).cast("long"))))
    )
    return out.drop("__quota", "__n", "__h", "__rn")
