"""End-to-end webtext curation: crawled pages -> training-ready documents.

The flagship composition of the training-data operators, in the order a
production corpus build runs them:

    pages (url, html)
      -> main-content extraction   (functions/html_text, jusText-lite)
      -> mojibake repair           (operators/encoding)
      -> unicode hygiene           (textstats.clean_text: NFC, controls, ws)
      -> language ID + gopher quality gates   (annotate, then filter)
      -> exact dedup               (content-hash canonical)
      -> near-dup dedup            (MinHash LSH -> cluster survivors)
      -> optional per-host cap     (linkgraph.stratified_cap)

Scale shape: repair + hygiene + both gates run as ONE Arrow pass that
carries every other column through (no doc_id re-join — joining narrow stage
outputs back would shuffle the text column once per stage); with ``c4=True``
the gates move to a second Arrow pass over the post-C4 text. The funnel
report comes from a single aggregation over the annotated frame — not a
.count() per stage. The only shuffles in the whole flow are the dedup ones
(ONE content-hash window — no groupBy + semi-join diamond, so the Arrow pass
is never recomputed — LSH band join, CC pointer jumping) plus the optional
cap's window; plan-gated in tests/test_curate.py and tests/test_plans.py.
"""

from __future__ import annotations

import re
import unicodedata

from pyspark.sql import DataFrame, Observation, Window, functions as F, types as T

# the clean_text kernel's exact regex semantics (textstats.clean_text)
_CTRL_RE = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]")
_WS_RE = re.compile(r"[ \t\n\r\f]+")

# the funnel's gates in Python, value-for-value with textstats.lang_id and
# gopher_quality_flags (same token regex, marker sets and thresholds): in
# the Arrow pass they replace interpreted higher-order-function projections
# (CodegenFallback: measured ~1.2s of the funnel's 2.2s at 10k docs)
_TOK_RE = re.compile(r"[^a-zA-Z0-9]+")
_ALPHA_RE = re.compile(r"[a-z]")
_SYM_RE = re.compile(r"[#\.\{\}\[\]<>\|\\]")


def lang_gopher_kernel(s: str | None) -> tuple[str, bool]:
    """(lang_pred, gopher_pass) for one cleaned document — the verdicts of
    textstats.lang_id and gopher_quality_flags (parity pinned by the funnel
    tests and the curate_funnel oracle)."""
    from .operators.textstats import LANG_MARKERS

    toks = [t for t in _TOK_RE.split((s or "").lower()) if t]
    n = len(toks)
    best, pred = 0, "und"
    for lang, markers in LANG_MARKERS.items():  # declaration order, first max
        ms = _MARKER_SETS.get(lang)
        if ms is None:
            ms = _MARKER_SETS[lang] = frozenset(markers)
        score = sum(1 for t in toks if t in ms)
        if score > best:
            best, pred = score, lang
    if n == 0:
        gopher = False
    else:
        mean_wl = sum(map(len, toks)) / n
        alpha_ratio = sum(1 for t in toks if _ALPHA_RE.search(t)) / n
        n_chars = len(s)
        symbol_ratio = (len(_SYM_RE.findall(s)) / n_chars) if n_chars else 0.0
        gopher = (
            50 <= n <= 100_000
            and 3 <= mean_wl <= 10
            and alpha_ratio >= 0.8
            and symbol_ratio <= 0.1
        )
    return pred, gopher


_MARKER_SETS: dict[str, frozenset] = {}


def fix_clean_kernel(s: str | None) -> tuple[str | None, int]:
    """Mojibake repair + unicode hygiene for one document — the shared
    per-row kernel of the curation funnel (byte-equal to
    composing encoding.fix_text with textstats.clean_text)."""
    from .operators.encoding import fix_text

    if s is None:
        return None, 0
    if s.isascii():
        # exact fast path (the bulk of a web-text corpus): fix_text
        # round-trips ASCII in 0 rounds and NFC is the identity there, so
        # only the control/whitespace hygiene applies
        return _WS_RE.sub(" ", _CTRL_RE.sub("", s)).strip(" "), 0
    s, rounds = fix_text(s)
    s = unicodedata.normalize("NFC", s)
    # .strip(" "): F.trim strips ONLY ASCII spaces — a bare .strip() would
    # also remove trailing NBSP/ideographic space and silently diverge from
    # the gated clean_text operator (parity pinned in test_training_ops)
    return _WS_RE.sub(" ", _CTRL_RE.sub("", s)).strip(" "), rounds


def _text_pass(df: DataFrame, text_col: str, *, fix: bool, gate: bool) -> DataFrame:
    """One ``mapInArrow`` pass: every column passes through as Arrow.
    ``fix`` replaces ``text_col`` by its repaired + cleaned form
    (``fix_clean_kernel``) and appends ``repair_rounds``; ``gate`` appends
    ``lang_pred`` and ``gopher_pass`` of the (cleaned) text."""
    ti = df.columns.index(text_col)
    fields = list(df.schema.fields)
    if fix:
        fields.append(T.StructField("repair_rounds", T.IntegerType()))
    if gate:
        fields += [T.StructField("lang_pred", T.StringType()),
                   T.StructField("gopher_pass", T.BooleanType())]
    names = [f.name for f in fields]

    def run(batches):
        import pyarrow as pa

        for rb in batches:
            cols = list(rb.columns)
            texts = cols[ti].to_pylist()
            if fix:
                fixed = [fix_clean_kernel(t) for t in texts]
                texts = [t for t, _ in fixed]
                cols[ti] = pa.array(texts, type=pa.string())
                cols.append(pa.array([r for _, r in fixed], type=pa.int32()))
            if gate:
                gates = [lang_gopher_kernel(t) for t in texts]
                cols.append(pa.array([g[0] for g in gates], type=pa.string()))
                cols.append(pa.array([g[1] for g in gates], type=pa.bool_()))
            yield pa.RecordBatch.from_arrays(cols, names)

    return df.mapInArrow(run, T.StructType(fields))


def docs_from_pages(pages: DataFrame) -> DataFrame:
    """(doc_id, url, text) from crawled (url, html): main-content
    extraction with a deterministic 64-bit id (xxhash64 of the url)."""
    from .functions.html_text import pages_to_text

    out = pages_to_text(pages)
    return out.select(
        F.xxhash64("url").alias("doc_id"),
        "url",
        F.col("main_text").alias("text"),
        "blocks_kept",
        "blocks_dropped",
    )


def curate_corpus(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang: str | None = None,
    near_dup_threshold: float | None = 0.7,
    near_dup_params: dict | None = None,
    cap_per_host: int | None = None,
    host_col: str = "url",
    c4: bool = False,
    report: bool = True,
) -> tuple[DataFrame, dict | None]:
    """Run the gate + dedup funnel over (id, text[, url]) documents.
    Returns (curated DataFrame, report dict with per-stage counts).
    ``c4=True`` inserts the C4 line cleaner after hygiene (text becomes the
    line-filtered form), gates that text in a second Arrow pass, and folds
    the C4 page verdict into the quality gate.
    ``near_dup_threshold=None`` skips the MinHash near-dup stage entirely
    (exact-dedup-only mode — the fully oracle-checkable funnel).
    ``near_dup_params`` forwards kwargs to ``minhash_dedup`` (num_perm,
    bands, shingle_k, max_bucket) — the contract gate runs the funnel at
    exhaustive banding so even near-dup mode is oracle-checkable.
    ``report=False`` skips every counting action (funnel aggregation,
    stage counts, caches): the return is lazy — no job runs until the
    caller's first action — and the report is None. In near-dup mode the
    exact-deduped relation is lazily checkpointed at that first action so
    the LSH stage's four consumptions of it don't re-run the repair pass.
    Use it when the caller only consumes the curated rows (benchmarks,
    downstream pipelines)."""
    from .operators.dedup import dedup_survivors, minhash_dedup

    other_cols = [c for c in docs.columns if c not in (id_col, text_col)]
    cleaned = _text_pass(
        docs.select(id_col, *other_cols, text_col), text_col,
        fix=True, gate=not c4,
    )
    if c4:
        from .operators.c4 import c4_clean

        cleaned = _text_pass(
            c4_clean(cleaned, text_col=text_col)
            .withColumn(text_col, F.col("c4_text"))
            .drop("c4_text", "c4_n_lines", "c4_n_sentences"),  # keeps c4_keep
            text_col, fix=False, gate=True,
        )
    annotated = cleaned.withColumn(
        "lang_ok",
        F.lit(True) if lang is None else (F.col("lang_pred") == lang),
    )
    if report:
        annotated = annotated.cache()
    quality_pred = F.col("lang_ok") & F.col("gopher_pass")
    if c4:
        quality_pred = quality_pred & F.col("c4_keep")
    aggs = [
        F.count("*").alias("n_input"),
        F.sum(F.when(F.col("repair_rounds") > 0, 1).otherwise(0)).alias(
            "n_mojibake_repaired"
        ),
        F.sum(F.when(F.col("lang_ok"), 1).otherwise(0)).alias("n_lang_ok"),
        F.sum(F.when(quality_pred, 1).otherwise(0)).alias("n_quality_ok"),
    ]
    if c4:
        aggs.append(
            F.sum(F.when(F.col("c4_keep"), 1).otherwise(0)).alias("n_c4_ok")
        )
    funnel = annotated.agg(*aggs).first() if report else None

    gated = annotated.filter(quality_pred)

    # stage 6: exact dedup — keep the canonical (min id) per content hash.
    # Same semantics as operators/dedup.exact_dedup but as ONE window over
    # a single content-hash shuffle instead of a groupBy + semi-join: the
    # text crosses the wire once, and (crucially for report=False) the
    # expensive upstream Arrow/codegen pass is not recomputed by a join
    # diamond
    w = Window.partitionBy(F.md5(F.col(text_col)))
    uniq = (
        gated.withColumn("_canon", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("_canon"))
        .drop("_canon")
    )
    if report:
        uniq = uniq.cache()
    n_exact_unique = uniq.count() if report else None

    # stage 7: near-dup dedup with dropped-bucket accounting
    if near_dup_threshold is None:
        obs = None
        survivors = uniq
    else:
        if not report:
            # the near-dup stage consumes ``uniq`` FOUR times (signature
            # pass, two text-fetch joins in the Jaccard verify, survivor
            # anti-join); without the report path's cache each consumption
            # re-runs the upstream Arrow repair pass + gates + dedup window.
            # Materialize it once — localCheckpoint, recomputed per run, no
            # cross-run state (guide §5: reuse beats recompute here).
            uniq = uniq.localCheckpoint(eager=False)
        obs = Observation("curate_lsh_dropped") if report else None
        pairs = minhash_dedup(
            uniq, id_col, text_col, threshold=near_dup_threshold,
            observation=obs, **(near_dup_params or {}),
        )
        survivors = dedup_survivors(uniq, pairs, id_col)

    # near-dup removal is well-defined before any cap shrinks the set
    pre_cap = survivors
    n_after_near_dup = None

    # stage 8: optional per-host cap
    if cap_per_host is not None:
        if host_col not in survivors.columns:
            raise ValueError(
                f"cap_per_host requires a {host_col!r} column; "
                f"have {survivors.columns}"
            )
        from .operators.linkgraph import stratified_cap

        n_after_near_dup = pre_cap.count() if report else None
        with_host = survivors.withColumn(
            "_host", F.parse_url(F.col(host_col), F.lit("HOST"))
        )
        survivors = stratified_cap(
            with_host, id_col, "_host", cap=cap_per_host
        ).drop("_host")

    if not report:
        # fully lazy: no counts, no caches — the caller's first action runs
        # ONE plan from raw docs to survivors
        return survivors.drop("lang_ok", "gopher_pass", "c4_keep"), None
    survivors = survivors.cache()
    n_out = survivors.count()
    if n_after_near_dup is None:
        n_after_near_dup = n_out
    # counts are materialized; release the intermediate caches so repeated
    # funnel runs in one session do not pin whole corpora in executor memory
    annotated.unpersist()
    uniq.unpersist()
    try:
        dropped = dict(obs.get) if obs is not None else {}
    except Exception:
        # AQE empty-result edge (see dedup._observe_dropped) or no action
        dropped = {"dropped_buckets": None, "dropped_members": None}
    report = {
        "n_input": funnel["n_input"],
        "n_mojibake_repaired": funnel["n_mojibake_repaired"],
        "n_lang_ok": funnel["n_lang_ok"],
        "n_quality_ok": funnel["n_quality_ok"],
        "n_exact_unique": n_exact_unique,
        "n_near_dup_removed": n_exact_unique - n_after_near_dup,
        "n_curated": n_out,
        "lsh_dropped_buckets": dropped.get("dropped_buckets"),
        "lsh_dropped_members": dropped.get("dropped_members"),
    }
    if c4:
        report["n_c4_ok"] = funnel["n_c4_ok"]
    return survivors.drop("lang_ok", "gopher_pass", "c4_keep"), report

