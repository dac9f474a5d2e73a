"""Statistical language-model scoring and corpus-distribution monitoring.

CCNet/RedPajama pipelines bucket documents by LM perplexity (a KenLM 5-gram
there); the honest from-scratch analogue over synthetic corpora is an
add-alpha-smoothed bigram model, trained and applied entirely relationally:

  * ``train_bigram_lm`` — unigram + bigram counts (two aggregations over the
    exploded token stream); the model IS a pair of DataFrames.
  * ``perplexity`` — per-document exp(mean -ln P(w2|w1)) with
    P(w2|w1) = (c(w1,w2) + alpha) / (c(w1) + alpha * V). Scoring joins the
    doc bigrams against the model tables.

Corpus drift (``token_js_divergence``) compares token distributions between
two corpus snapshots with Jensen-Shannon divergence — the standard
train-data drift monitor between crawl dumps.

Scale notes (100 TB): the model relations are vocabulary-sized (Zipf: ~1e7
rows for a web corpus — broadcastable at the unigram level, shuffle-joined
at the bigram level on the (w1, w2) key). Scoring shuffles doc bigrams once
per join key; with a pre-bucketed model table both joins co-locate. Training
is two map-side-combined aggregations. Nothing leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .textstats import tokens_col


def doc_bigrams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w1, w2) for each adjacent token pair — arrays_zip of two slices,
    pure codegen, one row per bigram occurrence. Docs with < 2 tokens are
    filtered BEFORE the slices so the (n - 1) lengths never go negative
    (Spark's slice raises on negative length)."""
    base = df.select(
        F.col(id_col), tokens_col(text_col).alias("_t")
    ).filter(F.size("_t") >= 2)
    n = F.size("_t")
    pairs = F.arrays_zip(
        F.slice("_t", 1, n - 1).alias("w1"),
        F.slice("_t", 2, n - 1).alias("w2"),
    )
    return (
        base.select(F.col(id_col), F.explode(pairs).alias("_p"))
        .select(id_col, F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    )


def train_bigram_lm(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    *, grams: DataFrame | None = None
) -> dict[str, DataFrame]:
    """{'unigrams': (w1, c1), 'bigrams': (w1, w2, c12), 'vocab_size': (v)} —
    counts over the whole corpus; the vocabulary size rides along as a
    single-row DataFrame so the scorer's plan stays lazy. Pass ``grams``
    (a precomputed ``doc_bigrams`` relation, e.g. checkpointed) when the
    same corpus is also being scored, so tokenize+explode runs once."""
    grams = grams if grams is not None else doc_bigrams(df, id_col, text_col)
    bigrams = grams.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    unigrams = grams.groupBy("w1").agg(F.count("*").alias("c1"))
    toks = tokens_col(text_col)
    vocab = (
        df.select(F.explode(toks).alias("w"))
        .agg(F.countDistinct("w").cast("double").alias("v"))
    )
    return {"unigrams": unigrams, "bigrams": bigrams, "vocab_size": vocab}


def perplexity(
    df: DataFrame,
    model: dict[str, DataFrame],
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    alpha: float = 0.1,
    round_to: int = 4,
    grams: DataFrame | None = None,
) -> DataFrame:
    """(id, n_bigrams, ppl): exp of the mean negative log conditional
    probability under the add-alpha-smoothed bigram model. Unseen bigrams
    and unseen contexts fall back to the smoothing mass (left joins +
    coalesce(0)), so scoring any corpus against any model is total."""
    grams = grams if grams is not None else doc_bigrams(df, id_col, text_col)
    scored = (
        grams.join(model["bigrams"], ["w1", "w2"], "left")
        .join(model["unigrams"], "w1", "left")
        .join(F.broadcast(model["vocab_size"]))
        .select(
            id_col,
            (
                -F.log(
                    (F.coalesce(F.col("c12"), F.lit(0)) + alpha)
                    / (F.coalesce(F.col("c1"), F.lit(0)) + alpha * F.col("v"))
                )
            ).alias("_nll"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.exp(F.avg("_nll")), round_to).alias("ppl"),
        )
    )


def token_js_divergence(
    a: DataFrame,
    b: DataFrame,
    text_col: str = "text",
    *,
    round_to: int = 6,
) -> DataFrame:
    """Single-row (js_divergence, vocab_a, vocab_b, vocab_shared): the
    Jensen-Shannon divergence (natural log) between the two corpora's token
    distributions — the drift monitor between crawl snapshots. Full outer
    join on the token key; each side is one map-side-combined count."""

    def dist(df: DataFrame, name: str) -> DataFrame:
        counts = (
            df.select(F.explode(tokens_col(text_col)).alias("w"))
            .groupBy("w")
            .agg(F.count("*").cast("double").alias(f"_c_{name}"))
        )
        total = counts.agg(F.sum(f"_c_{name}").alias(f"_t_{name}"))
        return counts.join(F.broadcast(total)).select(
            "w", (F.col(f"_c_{name}") / F.col(f"_t_{name}")).alias(f"p_{name}")
        )

    pa, pb = dist(a, "a"), dist(b, "b")
    joined = pa.join(pb, "w", "full").select(
        "w",
        F.coalesce("p_a", F.lit(0.0)).alias("p"),
        F.coalesce("p_b", F.lit(0.0)).alias("q"),
    )
    m = (F.col("p") + F.col("q")) / 2
    kl_term = lambda x: F.when(  # noqa: E731
        F.col(x) > 0, F.col(x) * F.log(F.col(x) / m)
    ).otherwise(F.lit(0.0))
    return joined.agg(
        F.round(
            (F.sum(kl_term("p")) + F.sum(kl_term("q"))) / 2, round_to
        ).alias("js_divergence"),
        F.count(F.when(F.col("p") > 0, 1)).alias("vocab_a"),
        F.count(F.when(F.col("q") > 0, 1)).alias("vocab_b"),
        F.count(F.when((F.col("p") > 0) & (F.col("q") > 0), 1)).alias(
            "vocab_shared"
        ),
    )
