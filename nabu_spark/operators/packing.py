"""Sequence packing for LLM training-data pipelines.

Two packing disciplines over a sharded document stream, both deterministic
functions of (doc ids, token counts) so they are reproducible across runs
and cluster sizes:

  * ``pack_chunked``  — concat-and-chunk (the GPT/Megatron dataloader shape):
    documents are laid end-to-end per shard in id order and cut into
    fixed-capacity token windows; a document may span several windows. Pure
    JVM codegen: one window cumsum per shard + a ``sequence`` explode — no
    Python, no UDF.
  * ``pack_next_fit`` — greedy next-fit WITHOUT splitting documents (the
    padded-batch shape): a doc opens a new bin when it does not fit in the
    current one. Inherently sequential per shard, so shards are the unit of
    parallelism (applyInPandas per shard, O(n) numpy-backed pass inside).

Scale notes (100 TB): the shard key is the only shuffle in either op. Shard
count is the parallelism knob — each shard's packing is an independent,
order-deterministic stream, which is exactly how multi-worker training
dataloaders consume shards. ``pack_chunked`` stays whole-stage-codegen;
``pack_next_fit`` moves one small (id, n_tokens) pair per doc through Arrow,
never the text itself.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from .textstats import tokens_col


def _sharded_counts(
    df: DataFrame, id_col: str, text_col: str, n_shards: int
) -> DataFrame:
    """(id, shard, n_tokens) for every non-empty document — the narrow
    relation both packers consume; the text column is dropped before any
    shuffle."""
    return (
        df.select(
            F.col(id_col),
            F.pmod(F.col(id_col), F.lit(n_shards)).cast("int").alias("shard"),
            F.size(tokens_col(text_col)).cast("long").alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
    )


def pack_chunked(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    capacity: int = 512,
    n_shards: int = 8,
) -> DataFrame:
    """Concat-and-chunk packing: per shard, documents are concatenated in
    ``id_col`` order and cut into ``capacity``-token sequences. Returns one
    row per (document x sequence) overlap:

      (id, shard, seq, slice_start, slice_len)

    where ``slice_start`` is the 0-based token offset inside the document
    and ``slice_len`` how many of its tokens land in sequence ``seq``.
    Token counts use the same tokenizer as ``token_count`` so offsets line
    up with the rest of the text stack."""
    cap_i = int(capacity)
    cap = F.lit(cap_i).cast("long")
    counts = _sharded_counts(df, id_col, text_col, n_shards)
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pos = counts.withColumn(
        "_start", F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    )
    # integer DIV, not floor(double /): exact at any token offset
    first_seq = F.expr(f"_start DIV {cap_i}")
    last_seq = F.expr(f"(_start + n_tokens - 1) DIV {cap_i}")
    seqs = pos.select(
        id_col,
        "shard",
        "n_tokens",
        "_start",
        F.explode(F.sequence(first_seq, last_seq)).alias("seq"),
    )
    lo = F.greatest(F.col("_start"), F.col("seq") * cap)
    hi = F.least(F.col("_start") + F.col("n_tokens"), (F.col("seq") + 1) * cap)
    return seqs.select(
        id_col,
        "shard",
        "seq",
        (lo - F.col("_start")).alias("slice_start"),
        (hi - lo).alias("slice_len"),
    )


def pack_next_fit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    capacity: int = 512,
    n_shards: int = 8,
) -> DataFrame:
    """Greedy next-fit packing without document splitting: per shard, in
    ``id_col`` order, a document joins the current bin unless that would
    exceed ``capacity``, in which case it opens the next bin. Oversized
    documents (> capacity tokens) occupy a bin alone rather than being
    silently dropped. Returns (id, shard, bin, n_tokens).

    Sizing: each shard's packing state is held in one task, so pick
    ``n_shards`` such that corpus_docs / n_shards (id, count) rows — 24
    bytes each — fit executor memory; at 1e12 docs, 100k shards keeps a
    shard around 10M rows / ~240 MB, and shard count only changes WHICH
    bin a doc lands in, never correctness."""
    cap = int(capacity)
    counts = _sharded_counts(df, id_col, text_col, n_shards).repartition("shard")

    def pack(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one shard can span several Arrow batches of the same partition:
        # buffer per shard, pack on iterator exhaustion
        per_shard: dict[int, list[pd.DataFrame]] = {}
        for pdf in it:
            for shard, grp in pdf.groupby("shard"):
                per_shard.setdefault(int(shard), []).append(grp)
        for shard, parts in per_shard.items():
            grp = pd.concat(parts).sort_values(id_col)
            ids = grp[id_col].to_numpy()
            toks = grp["n_tokens"].to_numpy()
            bins = np.empty(len(ids), dtype=np.int64)
            cur_bin, fill = 0, 0
            for i, n in enumerate(toks):
                if fill > 0 and fill + n > cap:
                    cur_bin += 1
                    fill = 0
                bins[i] = cur_bin
                fill += int(n)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "shard": np.full(len(ids), shard, dtype=np.int32),
                    "bin": bins,
                    "n_tokens": toks,
                }
            )

    return counts.mapInPandas(
        pack, f"{id_col} long, shard int, bin long, n_tokens long"
    )
