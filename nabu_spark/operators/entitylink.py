"""Entity linking & mention canonicalization (north-star addition beyond the
reference): link schema:name mentions to a broadcast dictionary of known
IRIs, exact-first then MinHash-LSH blocking over character 3-grams for fuzzy
surface forms, and materialize owl:sameAs canonicalization quads.

Spark design:
  * the dictionary is small relative to the corpus (known-IRI registries are
    millions of rows, not trillions) -> broadcast; exact matches are one
    broadcast hash join on the normalized surface form, no shuffle;
  * fuzzy path: dictionary minhash signatures are precomputed once on the
    driver (numpy) and shipped in the UDF closure (the "broadcast dictionary"
    of the north star); each unmatched mention computes its signature and
    probes band buckets in-process — candidates are O(bucket), and the whole
    fuzzy pass is one mapInPandas with NO join/shuffle;
  * for dictionaries too large to broadcast, the banding equi-join in
    operators/dedup.py is the drop-in alternative (same signatures).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from .dedup import _perm_params, minhash_signature

SCHEMA_NAME_PRED = "<https://schema.org/name>"
SAME_AS_PRED = "<http://www.w3.org/2002/07/owl#sameAs>"

_WS_RE = re.compile(r"\s+")


def normalize_mention(s: str) -> str:
    return _WS_RE.sub(" ", s.strip().lower().replace("_", " "))


def char_shingles(s: str, k: int = 3) -> set[int]:
    import hashlib

    s = normalize_mention(s)
    if len(s) < k:
        # md5 here too: the dictionary index is built driver-side (random
        # PYTHONHASHSEED) while mentions hash in executors (seed pinned 0) —
        # builtin hash() would silently never match short surface forms
        return (
            {int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")}
            if s
            else set()
        )
    return {
        int.from_bytes(hashlib.md5(s[i : i + k].encode()).digest()[:8], "big")
        for i in range(len(s) - k + 1)
    }


class DictionaryIndex:
    """Driver-side LSH index over the known-IRI dictionary, shipped to
    executors inside the UDF closure (broadcast semantics)."""

    def __init__(
        self,
        surface_forms: list[tuple[str, str]],
        *,
        num_perm: int = 64,
        bands: int = 16,
        seed: int = 42,
    ):
        self.num_perm = num_perm
        self.bands = bands
        self.rows_per_band = num_perm // bands
        self.a, self.b = _perm_params(num_perm, seed)
        self.exact: dict[str, str] = {}
        self.forms: list[tuple[str, str, set[int]]] = []
        self.buckets: dict[tuple[int, bytes], list[int]] = {}
        for iri, form in surface_forms:
            norm = normalize_mention(form)
            self.exact.setdefault(norm, iri)
            sh = char_shingles(form)
            idx = len(self.forms)
            self.forms.append((iri, norm, sh))
            sig = minhash_signature(sh, self.a, self.b)
            for band in range(bands):
                chunk = sig[band * self.rows_per_band : (band + 1) * self.rows_per_band]
                self.buckets.setdefault((band, chunk.tobytes()), []).append(idx)

    def link(
        self, mention: str, threshold: float = 0.5, max_candidates: int = 64
    ) -> tuple[str | None, float, str]:
        """(iri, score, method) — method in {exact, fuzzy, none}.

        Work per mention is bounded: candidates are ranked by band-collision
        count and only the top ``max_candidates`` get an exact Jaccard — the
        guardrail for degenerate dictionaries whose surface forms are
        near-identical (all sharing buckets)."""
        norm = normalize_mention(mention)
        if norm in self.exact:
            return self.exact[norm], 1.0, "exact"
        sh = char_shingles(mention)
        if not sh:
            return None, 0.0, "none"
        sig = minhash_signature(sh, self.a, self.b)
        collisions: dict[int, int] = {}
        for band in range(self.bands):
            chunk = sig[band * self.rows_per_band : (band + 1) * self.rows_per_band]
            for idx in self.buckets.get((band, chunk.tobytes()), ()):
                collisions[idx] = collisions.get(idx, 0) + 1
        cand = sorted(collisions, key=lambda i: (-collisions[i], self.forms[i][0]))
        best_iri, best_j = None, 0.0
        for idx in cand[:max_candidates]:
            iri, _, dsh = self.forms[idx]
            union = len(sh | dsh)
            j = len(sh & dsh) / union if union else 0.0
            if j > best_j or (j == best_j and best_iri is not None and iri < best_iri):
                best_iri, best_j = iri, j
        if best_iri is not None and best_j >= threshold:
            return best_iri, best_j, "fuzzy"
        return None, 0.0, "none"


LINKED_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType()),
        T.StructField("mention", T.StringType()),
        T.StructField("iri", T.StringType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("method", T.StringType()),
    ]
)


def extract_mentions(quads: DataFrame) -> DataFrame:
    """(subj, mention) pairs from schema:name literal objects."""
    return quads.filter(F.col("pred") == SCHEMA_NAME_PRED).select(
        "subj",
        F.regexp_extract(F.col("obj"), r'^"((?:[^"\\]|\\.)*)"', 1).alias("mention"),
    ).filter(F.col("mention") != "").distinct()


def link_mentions(
    mentions: DataFrame,
    known_iris: DataFrame,
    *,
    threshold: float = 0.5,
) -> DataFrame:
    """(subj, mention, iri, score, method) — one mapInPandas, no shuffle."""
    dict_rows = [
        (r["iri"], r["surface_form"])
        for r in known_iris.select("iri", "surface_form").collect()
    ]
    index = DictionaryIndex(dict_rows)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            iris, scores, methods = [], [], []
            for m in pdf["mention"]:
                iri, score, method = index.link(m or "", threshold)
                iris.append(iri)
                scores.append(round(score, 6))
                methods.append(method)
            yield pd.DataFrame(
                {
                    "subj": pdf["subj"],
                    "mention": pdf["mention"],
                    "iri": iris,
                    "score": scores,
                    "method": methods,
                }
            )

    return mentions.mapInPandas(batches, LINKED_SCHEMA)


def _shingle_bands(
    df: DataFrame, text_col: str, key_col: str, *, num_perm: int, bands: int, seed: int
) -> DataFrame:
    """(key, band, band_hash) LSH bucketing rows over char-3-gram minhash —
    the dedup.py banding relation applied to surface forms."""
    from .dedup import _band_mixers, band_hashes

    a, b = _perm_params(num_perm, seed)
    mixers = _band_mixers(num_perm // bands)
    band_idx = list(range(bands))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            keys, bds, hs = [], [], []
            for key, text in zip(pdf[key_col], pdf[text_col]):
                sh = char_shingles(text or "")
                if not sh:
                    continue
                sig = minhash_signature(sh, a, b)
                keys.extend([key] * len(band_idx))
                bds.extend(band_idx)
                hs.extend(band_hashes(sig, len(band_idx), mixers).tolist())
            yield pd.DataFrame(
                {"key": pd.Series(keys, dtype="object"), "band": bds, "band_hash": hs}
            )

    return df.select(
        F.col(key_col).alias(key_col), F.col(text_col).alias(text_col)
    ).mapInPandas(batches, f"key string, band int, band_hash long")


def link_mentions_banded(
    mentions: DataFrame,
    known_iris: DataFrame,
    *,
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 16,
    max_candidates_per_mention: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Fully distributed linking for dictionaries too large to broadcast —
    the banding-equi-join alternative to the closure-index path
    (module docstring bullet 3), same output contract as ``link_mentions``.

    Shape: distinct normalized mentions (web mentions repeat massively) ->
    exact equi-join on the normalized form -> unmatched mentions and the
    dictionary each produce (key, band, band_hash) rows -> candidates from
    shared buckets (capped per mention, the degenerate-dictionary guardrail)
    -> exact char-shingle Jaccard verify -> max_by(jaccard, iri) per mention.
    Every stage is an equi-join or agg on a bucket/mention key; no driver
    collect, no cartesian product."""
    norm_udf = F.pandas_udf(
        lambda s: s.map(lambda x: normalize_mention(x or "")), "string"
    )
    m = mentions.select("subj", "mention").withColumn("_norm", norm_udf("mention"))
    distinct_m = m.select("_norm", "mention").dropDuplicates(["_norm"])

    d = known_iris.select("iri", "surface_form").withColumn(
        "_norm", norm_udf("surface_form")
    )
    # exact pick parity with DictionaryIndex: deterministic representative
    exact_dict = d.groupBy("_norm").agg(F.min("iri").alias("iri"))
    exact = distinct_m.join(exact_dict, "_norm", "left").select(
        "_norm",
        F.col("iri").alias("_exact_iri"),
    )

    unmatched = exact.filter(F.col("_exact_iri").isNull()).join(
        distinct_m, "_norm"
    ).select("_norm", "mention")

    m_bands = _shingle_bands(
        unmatched, "mention", "_norm", num_perm=num_perm, bands=bands, seed=seed
    ).withColumnRenamed("key", "_norm")
    d_forms = d.select("iri", "surface_form").dropDuplicates(["iri", "surface_form"])
    d_bands = _shingle_bands(
        d_forms.withColumn(
            "_dkey", F.concat_ws("\x1f", "iri", "surface_form")
        ),
        "surface_form",
        "_dkey",
        num_perm=num_perm,
        bands=bands,
        seed=seed,
    ).withColumnRenamed("key", "_dkey")

    cand = (
        m_bands.join(d_bands, ["band", "band_hash"])
        .groupBy("_norm", "_dkey")
        .agg(F.count("*").alias("_shared_bands"))
    )
    # guardrail: bound verify work per mention on degenerate dictionaries.
    # Rank by shared-band count DESC (a recall-neutral proxy for estimated
    # Jaccard — more matching bands => higher minhash agreement) before the
    # deterministic _dkey tiebreak, so when the cap binds the likely-best
    # entries survive rather than the lexicographically smallest IRIs.
    w = Window.partitionBy("_norm").orderBy(F.desc("_shared_bands"), F.asc("_dkey"))
    cand = (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_candidates_per_mention)
        .drop("_rn", "_shared_bands")
    )

    pairs = cand.withColumn(
        "iri", F.split("_dkey", "\x1f").getItem(0)
    ).withColumn("surface_form", F.split("_dkey", "\x1f").getItem(1))
    pairs = pairs.join(unmatched, "_norm")

    def verify(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            js = []
            for mtext, form in zip(pdf["mention"], pdf["surface_form"]):
                sa, sb = char_shingles(mtext or ""), char_shingles(form or "")
                union = len(sa | sb)
                js.append(len(sa & sb) / union if union else 0.0)
            yield pd.DataFrame(
                {"_norm": pdf["_norm"], "iri": pdf["iri"], "jaccard": js}
            )

    scored = pairs.mapInPandas(verify, "_norm string, iri string, jaccard double")
    # best candidate per mention: jaccard desc, iri asc — the
    # DictionaryIndex.link tie semantics. Candidates are bucket-bounded, so
    # this window ranks at most max_candidates_per_mention rows per key.
    wbest = Window.partitionBy("_norm").orderBy(F.desc("jaccard"), F.asc("iri"))
    best = (
        scored.filter(F.col("jaccard") >= threshold)
        .withColumn("_rn", F.row_number().over(wbest))
        .filter(F.col("_rn") == 1)
        .select("_norm", "iri", F.round("jaccard", 6).alias("_fuzzy_score"))
        .withColumnRenamed("iri", "_fuzzy_iri")
    )

    resolved = (
        m.join(exact.select("_norm", "_exact_iri").dropDuplicates(["_norm"]), "_norm", "left")
        .join(best, "_norm", "left")
        .select(
            "subj",
            "mention",
            F.coalesce("_exact_iri", "_fuzzy_iri").alias("iri"),
            F.when(F.col("_exact_iri").isNotNull(), F.lit(1.0))
            .otherwise(F.col("_fuzzy_score"))
            .alias("score"),
            F.when(F.col("_exact_iri").isNotNull(), F.lit("exact"))
            .when(F.col("_fuzzy_iri").isNotNull(), F.lit("fuzzy"))
            .otherwise(F.lit("none"))
            .alias("method"),
        )
        .withColumn("score", F.coalesce("score", F.lit(0.0)))
    )
    return resolved


def same_as_quads(linked: DataFrame, quads: DataFrame) -> DataFrame:
    """owl:sameAs canonicalization quads for linked mentions, tagged with the
    subject's original prov graph (and any extra partition columns the quads
    table carries, e.g. host)."""
    extra = [c for c in quads.columns if c not in ("subj", "pred", "obj", "prov")]
    provs = quads.select("subj", "prov", *extra).dropDuplicates(["subj"])
    return (
        linked.filter(F.col("iri").isNotNull())
        .join(provs, "subj", "left")
        .select(
            "subj",
            F.lit(SAME_AS_PRED).alias("pred"),
            F.concat(F.lit("<"), F.col("iri"), F.lit(">")).alias("obj"),
            "prov",
            *extra,
        )
    )

