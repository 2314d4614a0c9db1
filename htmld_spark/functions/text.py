"""Text-analysis operators for training-data pipelines (task mandate:
language-ID, quality scoring, token counting, document fingerprinting).

Everything here except ``compression_ratio`` is pure ``pyspark.sql``
expressions — JVM-side, whole-stage-codegen'd, zero Python UDFs — so they
run at scan speed over 100 TB (compression_ratio needs zlib, which has no
JVM built-in: one mapInArrow crossing per batch). Each operator has an
exactly-equivalent DuckDB SQL form or golden parquet used as the driver
oracle (see __spark_entry__.oracle_sql); keep the two in lockstep.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from htmld_spark.functions.local import local_df

TOKEN_SPLIT = r"\s+"

# Language-ID stopword probes. Deliberately small + disjoint; tie-break is
# fixed order en > de > fr > es. Shared verbatim with the DuckDB oracle.
LANG_PROBES = {
    "en": r"\b(the|and|of)\b",
    "de": r"\b(der|die|und)\b",
    "fr": r"\b(les|une|dans)\b",
    "es": r"\b(los|una|por)\b",
}

STOPWORDS_EN = r"\b(the|a|an|and|or|of|to|in|is|it)\b"


def _tokens(col):
    return F.split(F.trim(col), TOKEN_SPLIT)


def token_count(col):
    """Whitespace token count (0 for empty/blank text)."""
    return F.when(F.length(F.trim(col)) == 0, F.lit(0)).otherwise(
        F.size(_tokens(col))
    )


# BPE-ish pre-tokenization pattern (GPT-2-style piece classes, reduced to
# the common Java/RE2 regex subset: no lookahead). Pieces: contraction
# suffixes, space-prefixed letter runs, digit runs, punctuation runs.
# Shared verbatim with the DuckDB oracle.
BPE_PIECE_RE = r"'(?:s|d|m|t|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ']+"


def bpe_token_count(col):
    """Approximate LLM token count: number of BPE-ish pre-tokenization
    pieces (the standard cheap proxy for budgeting training tokens —
    whitespace counting undercounts punctuation-heavy text)."""
    return F.regexp_count(col, F.lit(BPE_PIECE_RE))


def bpe_token_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document whitespace vs BPE-ish token counts + their ratio (a
    fertility-style signal: prose ≈ 1.2-1.4 pieces/word, code and
    punctuation-dense text much higher)."""
    ws = token_count(F.col(text_col))
    bpe = bpe_token_count(F.col(text_col))
    return df.select(
        F.col(id_col),
        ws.cast("long").alias("ws_tokens"),
        bpe.cast("long").alias("bpe_tokens"),
        F.round(
            F.when(ws > 0, bpe / ws).otherwise(F.lit(0.0)), 4
        ).alias("pieces_per_word"),
    )


def token_stats(df: DataFrame, text_col: str = "text", by: str = "lang") -> DataFrame:
    """Per-group token statistics."""
    toks = token_count(F.col(text_col))
    return (
        df.select(F.col(by), toks.alias("n_tokens"))
        .groupBy(by)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        )
        .orderBy(by)
    )


def quality_features(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic per-document quality features: token count, mean word
    length, alpha ratio, stopword ratio, and a coarse quality bucket."""
    text = F.col(text_col)
    toks = token_count(text)
    n_chars = F.length(text)
    alpha_chars = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    stop_hits = F.regexp_count(F.lower(text), F.lit(STOPWORDS_EN))
    out = df.select(
        F.col(id_col),
        toks.cast("long").alias("n_tokens"),
        n_chars.cast("long").alias("n_chars"),
        F.round(
            F.when(toks > 0, (n_chars - (toks - 1)) / toks).otherwise(F.lit(0.0)), 4
        ).alias("avg_word_len"),
        F.round(
            F.when(n_chars > 0, alpha_chars / n_chars).otherwise(F.lit(0.0)), 4
        ).alias("alpha_ratio"),
        F.round(
            F.when(toks > 0, stop_hits / toks).otherwise(F.lit(0.0)), 4
        ).alias("stopword_ratio"),
    )
    return out.withColumn(
        "quality_bucket",
        F.when((F.col("n_tokens") >= 50) & (F.col("stopword_ratio") >= 0.05), "high")
        .when(F.col("n_tokens") >= 10, "mid")
        .otherwise("low"),
    )


def quality_score_expr(
    text_col: str = "text",
    w_log_tokens: float = 0.35,
    w_alpha: float = 2.0,
    w_stopword: float = 4.0,
    w_wordlen_dev: float = -0.5,
    bias: float = -3.0,
):
    """The ``quality_score`` sigmoid as a single inline Column over raw
    text (features recomputed with the same 4-dp rounding) — for gating
    inside an existing plan without a join (e.g. ``pipeline.curate``,
    where a semi-join against a derived frame would re-run the upstream
    extraction; see the plan-diamond note in ``host_quota``)."""
    text = F.col(text_col)
    toks = token_count(text)
    n_chars = F.length(text)
    alpha_chars = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    stop_hits = F.regexp_count(F.lower(text), F.lit(STOPWORDS_EN))
    avg_word_len = F.round(
        F.when(toks > 0, (n_chars - (toks - 1)) / toks).otherwise(F.lit(0.0)), 4
    )
    alpha_ratio = F.round(
        F.when(n_chars > 0, alpha_chars / n_chars).otherwise(F.lit(0.0)), 4
    )
    stopword_ratio = F.round(
        F.when(toks > 0, stop_hits / toks).otherwise(F.lit(0.0)), 4
    )
    z = (
        F.lit(float(bias))
        + float(w_log_tokens) * F.log1p(toks)
        + float(w_alpha) * alpha_ratio
        + float(w_stopword) * stopword_ratio
        + float(w_wordlen_dev) * F.abs(avg_word_len - F.lit(5.0))
    )
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)


def quality_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w_log_tokens: float = 0.35,
    w_alpha: float = 2.0,
    w_stopword: float = 4.0,
    w_wordlen_dev: float = -0.5,
    bias: float = -3.0,
    threshold: float = 0.5,
) -> DataFrame:
    """Model-based quality FILTER score (the FineWeb-Edu-style classifier
    gate, with the model reduced to a transparent linear head over the
    pinned quality features — production swaps in trained classifier
    weights through the same parameters; what this operator pins is the
    scoring plumbing, determinism, and plan shape):

        score = sigmoid(bias + w·x),
        x = (log1p(n_tokens), alpha_ratio, stopword_ratio,
             |avg_word_len − 5|)

    over the same 4-dp-rounded features as ``quality_features`` (the
    score is ``quality_score_expr``, a single inline Column — shared so
    pipeline gates can't drift from this oracled form). Returns (id,
    quality_score 6 dp, quality_pass). Row-local JVM exprs — zero
    shuffle, zero Python; at 100 TB this is a free rider on any scan.
    SQL-twin oracled."""
    score = quality_score_expr(
        text_col, w_log_tokens, w_alpha, w_stopword, w_wordlen_dev, bias
    )
    return df.select(
        F.col(id_col),
        score.alias("quality_score"),
        (score >= float(threshold)).cast("int").alias("quality_pass"),
    )


def ngram_repetition(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style n-gram repetition signals (Rae et al. 2021 §A1.1, the
    half `gopher_rules` doesn't cover), per document and per n ∈ {2, 3}:

    - ``top{n}_char_frac``: chars of the most frequent word n-gram summed
      over its occurrences (count × gram length), over total chars — on
      count ties, the gram with the LARGEST char mass (output-deterministic
      without ordering gram identities);
    - ``dup{n}_char_frac``: the same mass summed over ALL n-grams that
      occur ≥ 2 times.

    Per-document-local, zero shuffle, zero Python, O(g log g) per doc.
    VERDICT r03 #5 (constant shrink): grams never materialize as strings —
    each token is hashed ONCE (xxhash64) and a gram is the struct
    (xxhash64 of its n token hashes, char length). Sorting compares
    int64s instead of strings, run boundaries come from one light filter
    pass over indices, and per-run (count, mass) feeds array_max — whose
    struct ordering (cnt, then mass) IS the tie-break — plus a small fold
    over distinct-gram runs only, replacing the per-element struct-of-5
    interpreted fold. Hash collisions within a doc are ~g²/2^65 — never
    across the corpus, since grams are per-doc-local. DuckDB twin (unnest
    + per-doc group-by, same tie-break) is the driver oracle."""
    text = F.col(text_col)
    toks = F.split(F.trim(F.lower(text)), TOKEN_SPLIT)
    n_chars = F.length(text)

    # Stage 1: hash + measure each token ONCE. Separate projections keep
    # CollapseProject from inlining (and re-evaluating) the non-cheap
    # multiply-referenced aliases.
    s_toks = df.select(
        F.col(id_col), n_chars.alias("_nc"), toks.alias("_toks")
    )
    s_tok_meta = s_toks.select(
        F.col(id_col),
        F.col("_nc"),
        F.transform("_toks", lambda t: F.xxhash64(t)).alias("_th"),
        F.transform("_toks", lambda t: F.length(t)).alias("_tl"),
    )

    def gram_structs(n):
        """Sorted array<struct<key:long, len:long>> of the doc's n-grams:
        key = xxhash64 over the n token hashes, len = Σ token lens + n-1
        separators. Indexing stays in bounds (i ∈ [1, k], i+j ≤ #tokens),
        guarded by the when()."""
        th, tl = F.col("_th"), F.col("_tl")
        k = F.size(th) - (n - 1)
        g = F.transform(
            F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
            lambda i: F.struct(
                F.xxhash64(
                    *[F.element_at(th, i + F.lit(j)) for j in range(n)]
                ).alias("key"),
                (
                    sum(
                        (F.element_at(tl, i + F.lit(j)) for j in range(n)),
                        F.lit(n - 1),
                    ).cast("long")
                ).alias("len"),
            ),
        )
        return F.when(k >= 1, F.array_sort(g)).otherwise(
            F.array().cast("array<struct<key:bigint,len:bigint>>")
        )

    s_grams = s_tok_meta.select(
        F.col(id_col),
        F.col("_nc"),
        gram_structs(2).alias("_g2"),
        gram_structs(3).alias("_g3"),
    )

    def masses(col_name):
        """struct(top_mass, dup_mass) from a sorted gram-struct array:
        run starts = indices whose key differs from the predecessor, runs =
        zip(starts, next starts) → (cnt, mass). array_max's struct order
        (cnt, then mass) picks the top gram; dup sums runs with cnt ≥ 2."""
        sc = F.col(col_name)
        ng = F.size(sc)
        starts = F.filter(
            F.sequence(F.lit(1), ng),
            lambda i: (i == 1)
            | (F.element_at(sc, i)["key"] != F.element_at(sc, i - 1)["key"]),
        )
        ends = F.concat(
            F.slice(starts, 2, F.size(starts) - 1),
            F.array(ng + 1),
        )
        runs = F.zip_with(
            starts,
            ends,
            lambda s, e: F.struct(
                (e - s).cast("long").alias("cnt"),
                ((e - s) * F.element_at(sc, s)["len"]).alias("mass"),
            ),
        )
        top_mass = F.coalesce(F.array_max(runs)["mass"], F.lit(0).cast("long"))
        dup_mass = F.aggregate(
            runs,
            F.lit(0).cast("long"),
            lambda acc, r: acc
            + F.when(r["cnt"] >= 2, r["mass"]).otherwise(F.lit(0).cast("long")),
        )
        masses_struct = F.struct(
            top_mass.alias("top_mass"), dup_mass.alias("dup_mass")
        )
        return F.when(ng >= 1, masses_struct).otherwise(
            F.struct(
                F.lit(0).cast("long").alias("top_mass"),
                F.lit(0).cast("long").alias("dup_mass"),
            )
        )

    staged = s_grams.select(
        F.col(id_col),
        F.col("_nc"),
        masses("_g2").alias("_m2"),
        masses("_g3").alias("_m3"),
    )

    def frac(mass):
        return F.round(
            F.when(F.col("_nc") > 0, mass / F.col("_nc")).otherwise(F.lit(0.0)), 4
        )

    return staged.select(
        id_col,
        frac(F.col("_m2.top_mass")).alias("top2_char_frac"),
        frac(F.col("_m2.dup_mass")).alias("dup2_char_frac"),
        frac(F.col("_m3.top_mass")).alias("top3_char_frac"),
        frac(F.col("_m3.dup_mass")).alias("dup3_char_frac"),
    )


# Gopher stopword probe (Rae et al. 2021 "Scaling Language Models" §A1.1:
# a doc must contain ≥2 of a small stopword set). Shared verbatim with the
# DuckDB oracle.
GOPHER_STOPWORDS_RE = r"\b(the|be|to|of|and|that|have|with)\b"
_BULLET_LINE_RE = r"^[\t ]*[-*•]"
_ELLIPSIS_LINE_RE = r"(\.\.\.|…)$"
_SYMBOL_RE = r"(#|\.\.\.|…)"


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Gopher-style repetition-free quality gate (Rae et al. 2021 §A1.1,
    the rule set FineWeb/Dolma descend from), per document: word count
    bounds, mean word length bounds, symbol-to-word ratio (#/ellipsis),
    bullet- and ellipsis-line fractions, fraction of words with ≥1
    alphabetic char, and a stopword floor — plus the combined ``passes``
    verdict. Pure row-local JVM expressions (split/filter/aggregate over
    arrays — zero shuffle, zero Python); thresholds are the published
    defaults. The exactly-equivalent DuckDB form is the driver oracle."""
    text = F.col(text_col)
    words = _tokens(text)
    n_words = token_count(text)
    lines = F.split(text, r"\n")
    n_lines = F.size(lines)
    word_chars = F.aggregate(
        F.transform(words, lambda w: F.length(w)), F.lit(0), lambda a, x: a + x
    )
    mean_wl = F.when(n_words > 0, word_chars / n_words).otherwise(F.lit(0.0))
    sym_ratio = F.when(
        n_words > 0, F.regexp_count(text, F.lit(_SYMBOL_RE)) / n_words
    ).otherwise(F.lit(0.0))
    bullet_frac = F.size(F.filter(lines, lambda l: l.rlike(_BULLET_LINE_RE))) / n_lines
    ellipsis_frac = (
        F.size(F.filter(lines, lambda l: l.rlike(_ELLIPSIS_LINE_RE))) / n_lines
    )
    alpha_frac = F.when(
        n_words > 0,
        F.size(F.filter(words, lambda w: w.rlike(r"[A-Za-z]"))) / n_words,
    ).otherwise(F.lit(0.0))
    stop_hits = F.regexp_count(F.lower(text), F.lit(GOPHER_STOPWORDS_RE))
    staged = df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(sym_ratio, 4).alias("symbol_word_ratio"),
        F.round(bullet_frac, 4).alias("bullet_line_frac"),
        F.round(ellipsis_frac, 4).alias("ellipsis_line_frac"),
        F.round(alpha_frac, 4).alias("alpha_word_frac"),
        stop_hits.cast("long").alias("stopword_hits"),
    )
    return staged.withColumn(
        "passes",
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
        & (F.col("bullet_line_frac") <= max_bullet_line_frac)
        & (F.col("ellipsis_line_frac") <= max_ellipsis_line_frac)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("stopword_hits") >= min_stopword_hits),
    )


def gopher_passes_expr(
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
):
    """The combined `gopher_rules` verdict as ONE boolean expression over
    the text column — for inlining into row-local filter stages
    (pipeline/curate.py) without a join. Same thresholds/semantics as
    ``gopher_rules``; curate's e2e test cross-checks the two on the same
    corpus."""
    text = F.col(text_col)
    words = _tokens(text)
    n_words = token_count(text)
    lines = F.split(text, r"\n")
    n_lines = F.size(lines)
    word_chars = F.aggregate(
        F.transform(words, lambda w: F.length(w)), F.lit(0), lambda a, x: a + x
    )
    mean_wl = F.round(
        F.when(n_words > 0, word_chars / n_words).otherwise(F.lit(0.0)), 4
    )
    sym_ratio = F.round(
        F.when(
            n_words > 0, F.regexp_count(text, F.lit(_SYMBOL_RE)) / n_words
        ).otherwise(F.lit(0.0)),
        4,
    )
    bullet_frac = F.round(
        F.size(F.filter(lines, lambda l: l.rlike(_BULLET_LINE_RE))) / n_lines, 4
    )
    ellipsis_frac = F.round(
        F.size(F.filter(lines, lambda l: l.rlike(_ELLIPSIS_LINE_RE))) / n_lines, 4
    )
    alpha_frac = F.round(
        F.when(
            n_words > 0,
            F.size(F.filter(words, lambda w: w.rlike(r"[A-Za-z]"))) / n_words,
        ).otherwise(F.lit(0.0)),
        4,
    )
    stop_hits = F.regexp_count(F.lower(text), F.lit(GOPHER_STOPWORDS_RE))
    return (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len)
        & (sym_ratio <= max_symbol_word_ratio)
        & (bullet_frac <= max_bullet_line_frac)
        & (ellipsis_frac <= max_ellipsis_line_frac)
        & (alpha_frac >= min_alpha_word_frac)
        & (stop_hits >= min_stopword_hits)
    )


def _lang_scores(text_col):
    low = F.lower(F.col(text_col) if isinstance(text_col, str) else text_col)
    return {k: F.regexp_count(low, F.lit(p)) for k, p in LANG_PROBES.items()}


def _lang_pred(scores):
    return (
        F.when(
            (scores["en"] >= scores["de"])
            & (scores["en"] >= scores["fr"])
            & (scores["en"] >= scores["es"]),
            "en",
        )
        .when((scores["de"] >= scores["fr"]) & (scores["de"] >= scores["es"]), "de")
        .when(scores["fr"] >= scores["es"], "fr")
        .otherwise("es")
    )


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """N-gram/stopword-heuristic language ID with fixed tie-break order."""
    scores = _lang_scores(text_col)
    pred = _lang_pred(scores)
    return df.select(
        F.col(id_col),
        scores["en"].cast("long").alias("s_en"),
        scores["de"].cast("long").alias("s_de"),
        scores["fr"].cast("long").alias("s_fr"),
        scores["es"].cast("long").alias("s_es"),
        pred.alias("pred_lang"),
    )


def enrich_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass enrichment for the flagship pipeline: append pred_lang,
    n_tokens, quality_bucket and winnow_fp columns to an extracted frame —
    all per-row JVM expressions sharing the operator formulas (no extra
    shuffle, no Python; composes with extract_df's narrow stage so the
    training-data signals are written in the same job that extracted the
    text)."""
    text = F.col(text_col)
    toks = token_count(text)
    stop_hits = F.regexp_count(F.lower(text), F.lit(STOPWORDS_EN))
    stop_ratio = F.round(
        F.when(toks > 0, stop_hits / toks).otherwise(F.lit(0.0)), 4
    )
    bucket = (
        F.when((toks >= 50) & (stop_ratio >= 0.05), "high")
        .when(toks >= 10, "mid")
        .otherwise("low")
    )
    out = df.withColumn("n_tokens", toks.cast("long")).withColumn(
        "pred_lang", _lang_pred(_lang_scores(text_col))
    ).withColumn("quality_bucket", bucket)
    # winnow fingerprint, staged like winnow_fingerprint (zero shuffle;
    # bound _norm/_chars columns + char-array slices — the inline-expr
    # and substring(i) forms are each O(chars²) per doc, r5 HOF rule)
    k, w = 8, 4
    out = out.withColumn(
        "_norm", F.regexp_replace(F.lower(text), r"\s+", " ")
    ).withColumn("_chars", F.split(F.col("_norm"), ""))
    norm, chars = F.col("_norm"), F.col("_chars")
    n_grams = F.greatest(F.size(chars) - (k - 1), F.lit(0))
    gram_hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
        lambda i: F.xxhash64(F.concat_ws("", F.slice(chars, i, k))),
    )
    out = out.withColumn("_ng", n_grams).withColumn(
        "_gh", F.when(n_grams > 0, gram_hashes).otherwise(F.array(F.xxhash64(norm)))
    ).drop("_norm", "_chars")
    n_windows = F.col("_ng") - (w - 1)
    mins = F.transform(
        F.sequence(F.lit(1), F.greatest(n_windows, F.lit(1))),
        lambda i: F.array_min(F.slice("_gh", i, w)),
    )
    selected = F.array_sort(
        F.array_distinct(
            F.when(n_windows >= 1, mins).otherwise(F.array(F.array_min("_gh")))
        )
    )
    return out.withColumn(
        "winnow_fp", F.xxhash64(F.concat_ws(",", selected))
    ).drop("_ng", "_gh")


def winnow_fingerprint(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Rolling-hash document fingerprint via winnowing (the classic
    local-fingerprinting scheme): hash every character k-gram of the
    whitespace-normalized lowered text, keep the minimum hash of each
    w-window of consecutive positions, and reduce the distinct selected set
    to one 64-bit digest. Shared substrings of length ≥ k+w-1 produce
    shared selected hashes, so near-identical documents get close
    fingerprint sets.

    Winnowing is per-document-LOCAL, so it runs as pure array expressions
    inside one projection — sequence/transform/slice/array_min — with ZERO
    shuffle and zero Python (round 1 exploded every k-gram into rows and
    pushed them through a per-doc sort window: ~12-16 bytes of shuffle per
    input character, >1 PB at 100 TB; VERDICT r01 "What's wrong" #2).

    Short-document fallback (every input id appears in the output):
    - 0 < n_grams < w (no full window): select the min over all grams;
    - n_grams == 0 (normalized text shorter than k): select the hash of
      the whole normalized text.

    Memory bound: the per-row gram-hash array is transient ~8 bytes per
    input character (a 1 MB outlier doc peaks ~16 MB during its row) —
    bounded per row, never accumulated, no spill pressure; cheap next to
    the old version's per-corpus shuffle.

    Returns (id, n_grams, n_selected, winnow_fp)."""
    # Two O(chars²)-per-doc traps fixed here (r5, both measured):
    # (1) the transform lambda must reference BOUND columns only — an
    #     inline regexp_replace re-normalized the full text per gram
    #     position (280× at 30k elements);
    # (2) substring(col, i, k) itself is O(i) — UTF8String seeks the
    #     char offset from the string start (110 s for one 200 KB doc) —
    #     so the k-grams slice a bound CHAR-ARRAY instead (1.4 s).
    # Same gram strings → same hashes → goldens unchanged.
    normed = df.select(
        F.col(id_col),
        F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ").alias("_norm"),
    ).select(
        F.col(id_col),
        F.col("_norm"),
        F.split(F.col("_norm"), "").alias("_chars"),
    )
    norm, chars = F.col("_norm"), F.col("_chars")
    # size(_chars)-based (== length(_norm) for non-empty; split('','')
    # is [''] but the ≥0 clamp hides it) — ALSO the second `_chars`
    # reference that keeps CollapseProject from inlining the split into
    # the lambda (single-use aliases get re-inlined → per-element split)
    n_grams = F.greatest(F.size(chars) - (k - 1), F.lit(0))
    gram_hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
        lambda i: F.xxhash64(F.concat_ws("", F.slice(chars, i, k))),
    )
    staged = normed.select(
        F.col(id_col),
        n_grams.alias("n_grams"),
        F.when(n_grams > 0, gram_hashes)
        .otherwise(F.array(F.xxhash64(norm)))
        .alias("gh"),
    )
    # per-position window minima (full windows only), then distinct
    n_windows = F.col("n_grams") - (w - 1)
    mins = F.transform(
        F.sequence(F.lit(1), F.greatest(n_windows, F.lit(1))),
        lambda i: F.array_min(F.slice("gh", i, w)),
    )
    selected = F.array_sort(
        F.array_distinct(
            F.when(n_windows >= 1, mins).otherwise(
                F.array(F.array_min("gh"))  # short-doc fallback
            )
        )
    )
    return staged.select(
        F.col(id_col),
        "n_grams",
        F.size(selected).alias("n_selected"),
        F.xxhash64(F.concat_ws(",", selected)).alias("winnow_fp"),
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Normalization fingerprint: md5 of the lowercased text with all
    non-alphanumerics removed — catches whitespace/punctuation-only edits."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9]", "")
    return df.select(F.col(id_col), F.md5(norm).alias("fingerprint"))


# Patterns shared verbatim with the DuckDB oracle — keep them in the common
# Java/RE2 subset (no lookbehind, no backrefs).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,6}"


def pii_scrub(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Training-data PII scrubbing: replace emails / international-format
    phone numbers with redaction tokens, and count what was removed. Pure
    JVM regexp — scan speed at 100 TB; patterns restricted to the common
    Java/RE2 subset so the DuckDB oracle runs them verbatim."""
    text = F.col(text_col)
    n_emails = F.regexp_count(text, F.lit(EMAIL_RE))
    scrubbed1 = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    n_phones = F.regexp_count(scrubbed1, F.lit(PHONE_RE))
    return df.select(
        F.col(id_col),
        F.regexp_replace(scrubbed1, PHONE_RE, "<PHONE>").alias("scrubbed"),
        n_emails.cast("long").alias("n_emails"),
        n_phones.cast("long").alias("n_phones"),
    )


def url_normalize(df: DataFrame, url_col: str = "url") -> DataFrame:
    """URL canonicalization for crawl dedup: lowercase scheme+host, drop
    the fragment, drop a default port, strip one trailing slash from the
    path. Regexp-only (identical semantics in the DuckDB oracle)."""
    staged = df.select(
        F.col(url_col).alias("url"),
        F.regexp_replace(F.col(url_col), r"#.*$", "").alias("_nf"),
    ).withColumn(
        "_head", F.regexp_extract("_nf", r"^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)", 1)
    )
    tail = F.expr("substring(_nf, length(_head) + 1)")
    norm = F.concat(
        F.regexp_replace(F.lower(F.col("_head")), r":(80|443)$", ""),
        F.regexp_replace(tail, r"/$", ""),
    )
    return staged.select("url", norm.alias("norm_url"))


def paragraph_dedup(
    df: DataFrame, id_col: str = "url", text_col: str = "text", min_docs: int = 2
) -> DataFrame:
    """Paragraph-level exact dedup (boilerplate discovery): explode the
    newline-separated blocks of every document, hash each non-empty block,
    and report blocks appearing in ≥ min_docs distinct documents. One
    shuffle on a 32-byte hash key with map-side partial aggregation."""
    para = F.explode(F.split(F.col(text_col), r"\n")).alias("para")
    exploded = df.select(F.col(id_col), para).filter(F.length("para") > 0)
    return (
        exploded.groupBy(F.md5("para").alias("para_hash"))
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def hash_split(
    df: DataFrame,
    key_col: str = "url",
    train_pct: int = 90,
    val_pct: int = 5,
) -> DataFrame:
    """Deterministic, content-stable train/val/test assignment:
    ``pmod(xxhash64(key), 100)`` buckets rows into train/val/test by
    percentage. Unlike seeded Bernoulli sampling this is reproducible
    across runs, cluster sizes AND data re-partitioning — the same key
    always lands in the same split (the only sound way to keep held-out
    data held out when a 100 TB corpus is re-crawled or re-sharded)."""
    h = F.pmod(F.xxhash64(key_col), F.lit(100))
    split = (
        F.when(h < train_pct, "train")
        .when(h < train_pct + val_pct, "val")
        .otherwise("test")
    )
    return df.withColumn("split", split)


# Placeholder blocklist for the C4-style "bad words" stage — web-spam
# markers, not an actual profanity list; production swaps in the real
# deployment list (e.g. the public LDNOOBW lists) via the parameter.
DEFAULT_BLOCKLIST = ("casino", "viagra", "xxx", "porn", "lottery")


def blocklist_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    blocklist: tuple[str, ...] | list[str] = DEFAULT_BLOCKLIST,
    max_hit_ratio: float = 0.0,
) -> DataFrame:
    """C4-style BLOCKLIST gate (Raffel et al. 2020 §2.2 removed any page
    containing a "List of Dirty, Naughty, Obscene or Otherwise Bad Words"
    entry): per document, count whole-word blocklist hits
    (case-insensitive) and flag documents whose hits-per-token ratio
    exceeds ``max_hit_ratio`` (0.0 = C4's any-hit-drops policy). Returns
    (id, blocklist_hits, hit_ratio 6 dp, blocked) — emit flags rather
    than filtering so downstream policy stays explicit. Row-local JVM
    regexp over an alternation compiled once driver-side — zero shuffle,
    zero Python. DuckDB regexp twin is the oracle."""
    import re as _re

    if not blocklist:
        raise ValueError("blocklist must be non-empty")
    for w in blocklist:
        if not _re.fullmatch(r"[A-Za-z0-9']+", w):
            raise ValueError(
                f"blocklist entries must be plain words, got {w!r}"
            )
    pat = r"\b(" + "|".join(sorted(blocklist)) + r")\b"
    hits = F.regexp_count(F.lower(F.col(text_col)), F.lit(pat))
    toks = token_count(F.col(text_col))
    ratio = F.round(
        F.when(toks > 0, hits / toks).otherwise(F.lit(0.0)), 6
    )
    if max_hit_ratio <= 0.0:
        blocked = hits > 0
    else:
        blocked = ratio > max_hit_ratio  # rounded value: oracle-exact
    return df.select(
        F.col(id_col),
        hits.cast("int").alias("blocklist_hits"),
        ratio.alias("hit_ratio"),
        blocked.cast("int").alias("blocked"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 512,
    stride: int | None = None,
) -> DataFrame:
    """Split documents into FIXED-TOKEN training chunks with optional
    overlap: chunk c covers tokens [c·stride, c·stride + chunk_tokens);
    the last chunk may be short; stride defaults to chunk_tokens
    (no overlap — set e.g. chunk_tokens//2 for sliding windows). Empty
    docs yield one empty chunk (chunk_idx 0, chunk_n_tokens 0 — the
    repo-wide blank-has-zero-tokens convention, so summing chunk_n_tokens
    into pack_shards budgets never over-counts), so every input id
    survives. Returns (id, chunk_idx, chunk_text, chunk_n_tokens).

    Per-document-local: one tokenize, chunk starts via sequence(), chunks
    re-joined with single spaces (token-level semantics) — a narrow
    posexplode, zero shuffle, zero Python; at 100 TB this is a free rider
    on the extraction scan. DuckDB twin (list slicing) is the oracle."""
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    stride = chunk_tokens if stride is None else stride
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    toks = F.split(F.trim(F.col(text_col)), TOKEN_SPLIT)
    base = df.select(F.col(id_col), toks.alias("_toks"))
    n = F.size(F.col("_toks"))
    # number of chunks: ceil(max(n - chunk_tokens, 0) / stride) + 1
    n_chunks = (
        F.floor(
            (F.greatest(n - chunk_tokens, F.lit(0)) + stride - 1) / stride
        ).cast("int")
        + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda c: F.struct(
            F.slice(F.col("_toks"), c * stride + 1, chunk_tokens).alias("_ct"),
        ),
    )
    ex = base.select(
        F.col(id_col), F.posexplode_outer(chunks).alias("chunk_idx", "_c")
    )
    chunk_text = F.concat_ws(" ", F.col("_c._ct"))
    # blank docs: split('') yields [''] — count 0 tokens (repo-wide
    # token_count convention; ADVICE r04), keeping the single empty chunk
    # row so every input id survives.
    n_chunk_toks = (
        F.when(chunk_text == "", F.lit(0))
        .otherwise(F.size("_c._ct"))
        .cast("int")
    )
    return ex.select(
        F.col(id_col),
        F.col("chunk_idx"),
        chunk_text.alias("chunk_text"),
        n_chunk_toks.alias("chunk_n_tokens"),
    )


def pack_shards(
    df: DataFrame,
    budget_tokens: int,
    order_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    n_parts: int = 32,
) -> DataFrame:
    """Training-shard PACKING: assign documents, in deterministic
    ``order_col`` order, to consecutive shards of ≈ ``budget_tokens``
    tokens each — shard_id = floor(tokens_before_this_doc / budget).
    Returns (order_col, tokens_col, shard_id).

    DISTRIBUTED PREFIX SUM (the scale shape): a plain
    ``Window.orderBy(order_col)`` running sum funnels the whole corpus
    through ONE task. Instead: range-repartition + sort within partitions
    on the order key, compute LOCAL running sums in one Arrow pass
    (stateful across batches within a partition), collect only the
    n_parts per-partition totals to the driver (scalars), and add each
    partition's exclusive offset back via a broadcast-joined tiny frame.
    One pass over the data, no global single-task stage; the collect is
    bounded by n_parts. The cumsum output is lazily localCheckpointed and
    BOTH the totals collect and the final join read the checkpointed
    partitions, so the range bounds are sampled exactly once — running
    the totals as a separate query execution is NOT safe, because
    RangePartitioner's reservoir seed derives from the rdd id
    (byteswap32(idx ^ (rdd.id << 16))) and two executions get different
    rdd ids, hence potentially different bounds once partitions exceed
    the sample size (ADVICE r04). DuckDB twin (one window over the full
    order) is the oracle."""
    from pyspark.sql.types import LongType, StructField, StructType

    if budget_tokens < 1:
        raise ValueError(f"budget_tokens must be >= 1, got {budget_tokens}")
    base = df.select(
        F.col(order_col), F.col(tokens_col).cast("long").alias(tokens_col)
    )
    ranged = base.repartitionByRange(n_parts, F.col(order_col)).sortWithinPartitions(
        order_col
    )
    with_pid = ranged.withColumn("_pid", F.spark_partition_id().cast("long"))

    order_field = base.schema[order_col]
    out_schema = StructType(
        [
            StructField(order_col, order_field.dataType),
            StructField(tokens_col, LongType()),
            StructField("_pid", LongType()),
            StructField("_local_cum", LongType()),  # INCLUSIVE local cumsum
        ]
    )

    def local_cumsum(pdfs):
        running = 0
        for pdf in pdfs:  # batches arrive in partition order (sorted above)
            cs = pdf[tokens_col].cumsum() + running
            running = int(cs.iloc[-1]) if len(cs) else running
            out = pdf[[order_col, tokens_col, "_pid"]].copy()
            out["_local_cum"] = cs
            yield out

    # lazy localCheckpoint: materialized by the totals collect below, then
    # the final join reuses the SAME partitions — one range-sampling, one
    # cumsum execution (see docstring; correctness depends on this).
    local = with_pid.mapInPandas(local_cumsum, out_schema).localCheckpoint(
        eager=False
    )

    # per-partition totals → exclusive offsets (n_parts scalars, driver-
    # side); max of the INCLUSIVE local cumsum = the partition's total,
    # read from the checkpointed cumsum output itself (empty partitions
    # emit no group row; totals.get(pid, 0) below covers them)
    totals = {
        r["_pid"]: r["_t"]
        for r in local.groupBy("_pid")
        .agg(F.max("_local_cum").alias("_t"))
        .collect()
    }
    offsets, acc = [], 0
    for pid in range(max(totals, default=-1) + 1):
        offsets.append((pid, acc))
        acc += int(totals.get(pid, 0) or 0)
    spark = df.sparkSession
    off_df = local_df(spark, offsets or [(0, 0)], "_pid long, _off long")

    cum_before = F.col("_off") + F.col("_local_cum") - F.col(tokens_col)
    return (
        local.join(F.broadcast(off_df), "_pid")
        .select(
            F.col(order_col),
            F.col(tokens_col),
            F.floor(cum_before / budget_tokens).cast("int").alias("shard_id"),
        )
    )


_STRAT_SALT = "_strat_"  # decorrelates the keep-hash from hash_split's


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "lang",
    key_col: str = "doc_id",
    default_rate: float = 1.0,
) -> DataFrame:
    """Deterministic per-stratum DOWNSAMPLING for corpus mixing (the
    Pile/Gopher-style mixture-weight table, applied as a filter): a row
    is kept iff ``pmod(xxhash64(key, salt), 1_000_000) < rate(stratum) ×
    1_000_000``. Content-stable like ``hash_split`` — the same key keeps
    or drops identically across runs, cluster sizes and repartitioning
    (seeded Bernoulli sampling is none of those). The salt literal
    decorrelates the keep-hash from hash_split's bucket hash, so sampling
    composes independently with split assignment (same-key rows do NOT
    preferentially drop from one split). Strata missing from ``rates``
    use ``default_rate``. Row-local: zero shuffle, predicate-pushable.
    Golden-oracled via the pure-Python xxh64 replica."""
    for k, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {k!r} must be in [0, 1], got {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0, 1], got {default_rate}")
    rate = F.lit(float(default_rate))
    for k, r in rates.items():
        rate = F.when(F.col(stratum_col) == k, F.lit(float(r))).otherwise(rate)
    bucket = F.pmod(
        F.xxhash64(F.col(key_col), F.lit(_STRAT_SALT)), F.lit(1_000_000)
    )
    return df.filter(bucket < (rate * 1_000_000).cast("long"))


def host_quota(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    max_per_host: int = 1000,
    n_salts: int = 16,
    count_bypass: bool = True,
) -> DataFrame:
    """Per-host document quota (anti-domination policy): keep at most
    ``max_per_host`` documents per host, oldest-first deterministic order
    (ties by url).

    SKEW-SAFE SHAPE (VERDICT r03 #4 — the former single window on the raw
    host key serialized every mega-host through one task):

    - SALTED PRE-PRUNE (always): a first window over (host, salt =
      xxhash64(url) % n_salts) keeps each salt's local oldest
      ``max_per_host``, so the final per-host window sees ≤
      n_salts·max_per_host rows per host (a 10^9-page host shrinks to 16k
      rows before the single-task rank) — the global oldest-k set is a
      subset of the union of per-salt oldest-k sets. Linear-chained
      windows, no plan diamond.
    - COUNT BYPASS (``count_bypass=True``): per-host counts (map-side-
      combinable agg) → the tiny OVER-quota host set; hosts at or under
      quota skip both windows via a broadcast anti-join — their rows are
      never shuffled on the host key. This traverses the input 3× (counts
      + two join branches; column pruning makes the branches non-identical
      so ReuseExchange does NOT dedup them), which is right for a cheap
      re-scannable source (raw table scan) and WRONG above an expensive
      derived plan — e.g. post-extraction in ``pipeline.curate``, where
      each traversal re-runs the MapInArrow extraction. Pass
      ``count_bypass=False`` there: the salted pre-prune alone is
      diamond-free (one traversal, two chained shuffles).

    NULL hosts (unparseable urls) are grouped under a sentinel so they
    share one quota group, matching the single-window semantics (an
    anti-join on a null key would silently pass them through)."""
    from pyspark.sql.window import Window

    # try_parse_url: plain parse_url RAISES on unparseable urls in Spark 4
    host = F.coalesce(
        F.try_parse_url(F.col(url_col), F.lit("HOST")), F.lit("\x00nohost")
    )
    hdf = df.withColumn("_host", host)
    under_rows = None
    ranked = hdf
    if count_bypass:
        over = (
            hdf.groupBy("_host")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_per_host)
            .select("_host")
        )
        under_rows = hdf.join(F.broadcast(over), "_host", "left_anti")
        ranked = hdf.join(F.broadcast(over), "_host", "left_semi")
    ranked = ranked.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_salts))
    )
    w1 = Window.partitionBy("_host", "_salt").orderBy(ts_col, url_col)
    pruned = (
        ranked.withColumn("_rn1", F.row_number().over(w1))
        .filter(F.col("_rn1") <= max_per_host)
        .drop("_rn1", "_salt")
    )
    w2 = Window.partitionBy("_host").orderBy(ts_col, url_col)
    kept = (
        pruned.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= max_per_host)
        .drop("_rn")
    )
    if under_rows is not None:
        kept = under_rows.unionByName(kept)
    return kept.drop("_host")


def remove_duplicate_ngrams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 50,
    hash_grams: bool = False,
) -> DataFrame:
    """Corpus-level EXACT SUBSTRING dedup at token granularity (Lee et al.
    2021, "Deduplicating Training Data Makes Language Models Better" —
    the ExactSubstr policy re-expressed relationally; suffix arrays don't
    distribute, duplicated-n-gram masking does): every occurrence of a
    token ``n``-gram that appears ≥ 2 times in the corpus is masked
    EXCEPT the globally first occurrence (ordered by (id, position) —
    deterministic across runs and repartitioning); masked windows merge;
    surviving tokens reassemble space-joined. Whitespace is normalized to
    single spaces in the output (token-level semantics, as in the paper's
    token variant). Returns (id, text_dedup, n_tokens, n_removed).

    Shape at 10^12 docs: gram stats are ONE map-side-combinable groupBy
    (count + min(struct(id, pos)) — no window over the gram key, so a
    mega-gram never serializes through one task); occurrences join the
    ≥2-count stats on the gram key (AQE skew-join splits hot grams);
    masked starts fold back per doc (collect_set over the doc key — the
    in-row start list is bounded by the doc's own gram count, the same
    per-doc-array envelope as repetition_features; a doc that is one
    giant repetition carries O(its own length), never corpus-sized);
    window-merge + reassembly are per-doc-local array expressions.

    Reassembly is LINEAR in the doc (VERDICT r04 #1): because every
    duplicated window has the same length n, sorting the duplicate starts
    makes the covered union's complement exactly the pairwise gaps
    [sᵢ+n, sᵢ₊₁) (an earlier start can never out-reach a later one), so
    the kept text is head-slice + zip_with-gap-slices + tail-slice —
    O(n_tokens + n_starts) per doc, never an array_contains probe per
    token (which went quadratic on a fully-duplicated mega-doc).

    ``hash_grams=True`` replaces the gram STRING with its xxhash64 as the
    shuffle/join key — the at-scale mode: the two gram-key shuffles carry
    8 bytes instead of ~n tokens of text (~50× smaller at the paper's
    n=50), at the usual 2⁻⁶⁴ collision risk (a collision masks a
    non-duplicated window). Oracle parity: at test scale there are no
    collisions, so both modes match the same DuckDB string-gram twin.
    Use n ≈ 50 (the paper's setting) and hash_grams=True in production;
    small fixtures test with smaller n."""
    text = F.col(text_col)
    toks = F.split(F.trim(text), TOKEN_SPLIT)
    base = df.select(F.col(id_col), toks.alias("_toks"))

    k = F.size(F.col("_toks")) - (n - 1)

    def gram_at(i):
        g = F.concat_ws(" ", F.slice(F.col("_toks"), i + 1, n))
        return F.xxhash64(g) if hash_grams else g

    gram_arr = F.when(
        k >= 1,
        F.transform(F.sequence(F.lit(0), k - 1), gram_at),
    ).otherwise(
        F.array().cast("array<bigint>" if hash_grams else "array<string>")
    )
    grams = base.select(
        F.col(id_col), F.posexplode_outer(gram_arr).alias("gpos", "gram")
    )
    gstats = (
        grams.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("_cnt"),
            F.min(F.struct(F.col(id_col), F.col("gpos"))).alias("_first"),
        )
        .filter(F.col("_cnt") >= 2)
        .select("gram", "_first")
    )
    dup_starts = (
        grams.join(gstats, "gram")
        .filter(
            ~(
                (F.col(id_col) == F.col(f"_first.{id_col}"))
                & (F.col("gpos") == F.col("_first.gpos"))
            )
        )
        .groupBy(id_col)
        .agg(F.collect_set("gpos").alias("_starts"))
    )
    # linear reassembly over SORTED duplicate starts: equal-length windows
    # mean max-covered-so-far after start sᵢ is exactly sᵢ+n-1, so the
    # uncovered gaps are [0,s₁) ∪ [sᵢ+n, sᵢ₊₁) ∪ [s_last+n, n_tokens) —
    # head + zip_with(consecutive-start pairs) + tail slices, each O(gap),
    # O(n_tokens + n_starts) total (the former per-token array_contains
    # probe was O(n_tokens × covered): quadratic on a fully-duplicated doc)
    ss = F.array_sort(F.col("_starts"))
    ks = F.size(ss)
    toks_col = F.col("_toks")
    head = F.slice(toks_col, 1, F.element_at(ss, 1))
    mids = F.flatten(
        F.zip_with(
            F.slice(ss, 1, F.greatest(ks - 1, F.lit(0))),
            F.slice(ss, 2, F.greatest(ks - 1, F.lit(0))),
            lambda a, b: F.slice(
                toks_col, a + n + 1, F.greatest(b - a - n, F.lit(0))
            ),
        )
    )
    last = F.element_at(ss, -1)
    tail = F.slice(
        toks_col,
        last + n + 1,
        F.greatest(F.size(toks_col) - last - n, F.lit(0)),
    )
    kept_arr = F.when(
        F.col("_starts").isNull() | (ks == 0), toks_col
    ).otherwise(F.concat(head, mids, tail))
    kept = base.join(dup_starts, id_col, "left").select(
        F.col(id_col),
        F.col("_toks"),
        kept_arr.alias("_kept"),
    )
    return kept.select(
        F.col(id_col),
        F.concat_ws(" ", F.col("_kept")).alias("text_dedup"),
        F.size("_toks").alias("n_tokens"),
        (F.size("_toks") - F.size("_kept")).cast("int").alias("n_removed"),
    )


def contamination_flags(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """GPT-3-style eval-set DECONTAMINATION probe: flag every training
    document sharing at least one word ``n``-gram with the benchmark/eval
    corpus. Returns (id, n_hits, contaminated) where n_hits = number of
    DISTINCT eval n-grams found in the document.

    Shape: the eval set's distinct n-grams are tiny (benchmarks are small
    by definition) → broadcast; training docs explode their n-grams once
    and semi-join — so the corpus-side cost is one narrow pass + a
    broadcast-join + per-doc count, no corpus-vs-corpus shuffle. Raise
    ``n`` (13 in GPT-3's report) to reduce false positives."""

    def gram_rows(src_df, keep_cols, txt_col, k):
        # tokens staged into a bound column — the inline-split lambda form
        # re-split the doc per gram position (O(tokens²), r5 HOF rule)
        staged = src_df.select(
            *keep_cols,
            F.split(F.trim(F.col(txt_col)), TOKEN_SPLIT).alias("_toks"),
        )
        tk = F.col("_toks")
        cnt = F.size(tk) - (k - 1)
        g = F.transform(
            F.sequence(F.lit(1), F.greatest(cnt, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(tk, i, k)),
        )
        arr = F.when(cnt >= 1, g).otherwise(F.array().cast("array<string>"))
        return staged.select(*keep_cols, F.explode(arr).alias("gram"))

    eval_grams = gram_rows(eval_df, [], eval_text_col, n).distinct()
    doc_grams = gram_rows(df, [F.col(id_col)], text_col, n)
    hits = (
        doc_grams.join(F.broadcast(eval_grams), "gram", "left_semi")
        .groupBy(id_col)
        .agg(F.count_distinct("gram").alias("n_hits"))
    )
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).cast("int").alias(
                "contaminated"
            ),
        )
    )


def host_top_terms(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    k: int = 5,
    min_len: int = 4,
) -> DataFrame:
    """Per-host top-k terms by raw count (boilerplate/domain vocabulary
    probe): lowercase whitespace tokens of length ≥ ``min_len``, counted
    per (host, term) with map-side partial aggregation, deterministic
    (count desc, term asc) top-k per host via one window over the tiny
    counted table. Returns (host, term, n, rk).

    Host extraction uses try_parse_url (plain parse_url RAISES on
    unparseable urls in Spark 4 — one malformed crawl URL would fail the
    whole job at 100 TB), null-coalesced to '' to match the DuckDB
    oracle's regexp_extract no-match behavior."""
    from pyspark.sql.window import Window

    host = F.coalesce(
        F.try_parse_url(F.col(url_col), F.lit("HOST")), F.lit("")
    )
    toks = F.split(F.trim(F.lower(F.col(text_col))), TOKEN_SPLIT)
    ex = df.select(host.alias("host"), F.explode(toks).alias("term")).filter(
        F.length("term") >= min_len
    )
    counts = ex.groupBy("host", "term").agg(F.count("*").alias("n"))
    w = Window.partitionBy("host").orderBy(F.col("n").desc(), "term")
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("host", "term", "n", F.col("rk").cast("int").alias("rk"))
    )


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
    min_doc_freq: int = 3,
    broadcast_freq_set: bool = True,
) -> DataFrame:
    """C4/RefinedWeb-style corpus-level boilerplate removal: a line that
    appears in ≥ ``min_doc_freq`` DISTINCT documents (nav bars, cookie
    banners, footers) is dropped from every document; remaining lines are
    reassembled in their original order. Returns (id, ts, text_clean,
    n_removed).

    Shape: posexplode lines with positions → line document-frequency
    (groupBy line, count_distinct id — map-side combined; the shuffle
    carries (line, partial set) only for lines, not documents) → keep
    join → per-document ordered reassembly via sort_array(collect_list
    (struct(pos, line))). At 100 TB group on xxhash64(line) instead of
    the raw line to shrink the freq shuffle (kept as raw line here for
    exact DuckDB oracle parity), and set ``broadcast_freq_set=False`` if
    the frequent-line set outgrows executor memory — the anti-join then
    falls back to a shuffle join on the line key (AQE picks the strategy)
    instead of forcing a broadcast."""
    lines = F.split(F.col(text_col), r"\n")
    ex = df.select(
        F.col(id_col),
        F.col(ts_col),
        F.posexplode(lines).alias("pos", "line"),
    )
    freq = ex.groupBy("line").agg(
        F.count_distinct(F.col(id_col)).alias("dfreq")
    )
    # VERDICT r03 #5: empty lines exceed min_doc_freq in any real corpus;
    # treating them as boilerplate strips every blank line and silently
    # collapses paragraph structure. Keep them out of the frequent set
    # (they still ride through reassembly like any kept line).
    freq_set = freq.filter(
        (F.col("dfreq") >= min_doc_freq) & (F.length("line") > 0)
    ).select("line")
    if broadcast_freq_set:
        freq_set = F.broadcast(freq_set)
    kept = ex.join(freq_set, "line", "left_anti")
    reassembled = kept.groupBy(id_col, ts_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("text_clean"),
        F.count("*").alias("_kept"),
    )
    totals = df.select(
        F.col(id_col), F.col(ts_col), F.size(lines).alias("_total")
    )
    return (
        totals.join(reassembled, [id_col, ts_col], "left")
        .select(
            id_col,
            ts_col,
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
            (F.col("_total") - F.coalesce(F.col("_kept"), F.lit(0)))
            .cast("int")
            .alias("n_removed"),
        )
    )


def repetition_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher/FineWeb-style repetition quality signals, per document:
    number of newline-separated lines, fraction of lines that are
    duplicates, and fraction of characters living in duplicated lines.
    Per-document-local → pure array expressions, zero shuffle, zero
    Python. Docs with high duplicate-line mass are boilerplate/listing
    pages that repetition filters drop before training."""
    lines = F.split(F.col(text_col), r"\n")
    n_lines = F.size(lines)
    n_distinct = F.size(F.array_distinct(lines))
    total_chars = F.length(F.col(text_col))
    staged = df.select(
        F.col(id_col),
        F.array_sort(lines).alias("_sorted"),
        n_lines.alias("n_lines"),
        (1 - n_distinct / n_lines).alias("_dlf"),
        total_chars.alias("_tc"),
    )
    # chars in lines occurring more than once (count each occurrence):
    # sum over lines L of len(L) where L appears ≥2 times in the doc.
    # O(n log n): array_sort groups equal lines into runs, then ONE linear
    # aggregate pass sums len(line)*run_len for runs of length ≥ 2 (the
    # r01 nested-filter form was O(n_lines²) per row — a straggler factory
    # on 100k-line pages; same output, linear pass).
    def _fold(acc, line):
        run_done = F.when(
            acc["run"] >= 2, acc["run"] * F.length(acc["prev"])
        ).otherwise(F.lit(0))
        return F.when(
            line == acc["prev"],
            F.struct(
                acc["prev"].alias("prev"),
                (acc["run"] + 1).alias("run"),
                acc["tot"].alias("tot"),
            ),
        ).otherwise(
            F.struct(
                line.alias("prev"),
                F.lit(1).alias("run"),
                (acc["tot"] + run_done).alias("tot"),
            )
        )

    dup_chars = F.aggregate(
        "_sorted",
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("tot"),
        ),
        _fold,
        lambda acc: acc["tot"]
        + F.when(acc["run"] >= 2, acc["run"] * F.length(acc["prev"])).otherwise(
            F.lit(0)
        ),
    )
    return staged.select(
        id_col,
        "n_lines",
        F.round("_dlf", 4).alias("dup_line_frac"),
        F.round(
            F.when(F.col("_tc") > 0, dup_chars / F.col("_tc")).otherwise(F.lit(0.0)),
            4,
        ).alias("dup_line_char_frac"),
    )


def compression_ratio(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """zlib compression ratio per document (compressed/raw bytes, level 6)
    — the classic cheap redundancy signal in web-text quality filtering
    (highly repetitive pages compress far below ~0.4). No JVM built-in
    exists, so this runs as one mapInArrow crossing per batch (C-side zlib
    inside; n_chars counts characters, matching F.length). A document
    whose ratio raises gets null n_chars and zlib_ratio."""
    import zlib

    import pyarrow as pa

    from htmld_spark.functions.udfs import _map_docs

    def ratio(text):
        raw = text.encode("utf-8")
        if not raw:
            return 0, 0.0
        return len(text), round(len(zlib.compress(raw, 6)) / len(raw), 4)

    schema = pa.schema(
        [(id_col, pa.int64()), ("n_chars", pa.int64()), ("zlib_ratio", pa.float64())]
    )
    return _map_docs(
        df.select(id_col, text_col), schema, (id_col,), (text_col,), ratio,
        (None, None),
    )


def bigram_topk(
    df: DataFrame, text_col: str = "text", k: int = 50
) -> DataFrame:
    """Corpus-wide top-k word bigrams: explode per-doc bigram arrays,
    count, deterministic (count desc, bigram asc) top-k. Shuffle carries
    (bigram, partial count) — map-side combined. Tokens are staged into a
    bound column first (inline split inside the transform lambda re-split
    the doc per bigram position — O(tokens²), the r5 HOF-lambda rule)."""
    staged = df.select(
        F.split(F.trim(F.lower(F.col(text_col))), TOKEN_SPLIT).alias("_toks")
    )
    tk = F.col("_toks")
    nb = F.size(tk) - 1
    bigrams = F.when(
        nb >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(nb, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(tk, i, 2)),
        ),
    ).otherwise(F.array())
    return (
        staged.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(k)
    )


def _guarded_tokens(text_col: str):
    """Whitespace tokens with the repo-wide blank-doc envelope: a blank /
    whitespace-only document yields an EMPTY array (split('') would yield
    [''], polluting vocabularies with a phantom empty token)."""
    return F.when(
        F.length(F.trim(F.col(text_col))) == 0,
        F.array().cast("array<string>"),
    ).otherwise(F.split(F.trim(F.col(text_col)), TOKEN_SPLIT))


def lm_perplexity(
    df: DataFrame,
    ref_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_text_col: str = "text",
    alpha: float = 1.0,
) -> DataFrame:
    """CCNet-style LANGUAGE-MODEL quality signal (Wenzek et al. 2020,
    "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    Data" — perplexity under a LM trained on a trusted corpus ranks web
    documents; low ppl ≈ target-domain-like): a relational ADD-α BIGRAM
    LM replaces CCNet's KenLM so the whole filter stays inside Catalyst.
    p(w₂|w₁) = (c(w₁w₂)+α) / (c(w₁·)+αV), V = |ref unigram vocab|+1
    (the +1 is the OOV bucket); per-doc cross-entropy H = −Σ ln p / n and
    bigram_ppl = exp(H). Docs with < 2 tokens emit no row (no bigrams to
    score). Returns (id, n_bigrams, bigram_ppl) with ppl rounded to 4.

    Shape at 10^12 docs: the LM is TWO map-side-combinable groupBys over
    the (much smaller) reference slice — the bigram table and its prefix
    marginal — materialized once via lazy localCheckpoint; the tokenized
    reference itself is ALSO checkpointed so the ref parquet is scanned
    exactly once (the V scalar's 1-row collect and the bigram table both
    read that checkpoint, not a second ref scan); the corpus pass
    is one narrow bigram explode, a join on the bigram key (broadcast
    when the LM fits, AQE shuffle-hash otherwise), and one per-doc
    partial-agg sum. No Python anywhere."""
    ref_toks = _guarded_tokens(ref_text_col)
    nb = F.size(F.col("_ts")) - 1
    bigram_arr = F.when(
        nb >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(nb, F.lit(1))),
            lambda i: F.struct(
                F.element_at(F.col("_ts"), i).alias("w1"),
                F.element_at(F.col("_ts"), i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))

    # one ref scan + tokenize, shared by the bigram table AND the V collect
    ref_base = ref_df.select(ref_toks.alias("_ts")).localCheckpoint(eager=False)
    c2 = (
        ref_base.select(F.explode(bigram_arr).alias("bg"))
        .groupBy(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("_c2"))
        .localCheckpoint(eager=False)  # LM built once; reused by V, c1, join
    )
    c1 = c2.groupBy("w1").agg(F.sum("_c2").alias("_c1"))
    # V: reference unigram vocab + 1 OOV bucket — a bounded 1-row collect
    vocab = (
        ref_base.select(F.explode(F.col("_ts")).alias("tok"))
        .agg(F.count_distinct("tok").alias("v"))
        .collect()[0]["v"]
    )
    v_smooth = float(alpha) * (vocab + 1)

    doc_bg = (
        df.select(F.col(id_col), _guarded_tokens(text_col).alias("_ts"))
        .select(F.col(id_col), F.explode(bigram_arr).alias("bg"))
        .select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    logp = F.log(F.coalesce(F.col("_c2"), F.lit(0)) + F.lit(float(alpha))) - F.log(
        F.coalesce(F.col("_c1"), F.lit(0)) + F.lit(v_smooth)
    )
    scored = (
        doc_bg.join(c2, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_bigrams"), F.sum(logp).alias("_lp"))
    )
    return scored.select(
        F.col(id_col),
        F.col("n_bigrams").cast("int").alias("n_bigrams"),
        F.round(F.exp(-F.col("_lp") / F.col("n_bigrams")), 4).alias("bigram_ppl"),
    )


def dsir_log_weights(
    df: DataFrame,
    target_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_text_col: str = "text",
    alpha: float = 1.0,
    n_buckets: int | None = None,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw document
    by log w(x) = Σ_f [ln p_target(f) − ln p_raw(f)] over its bag of
    features — documents distributionally closer to the target corpus get
    higher weight; sampling ∝ w(x) (Gumbel top-k on log w + noise, or a
    plain threshold) yields the target-matched subset. Both feature
    distributions are add-α smoothed over the joint vocabulary (V =
    |vocab(target ∪ raw)| + 1). Returns (id, n_tokens, log_importance)
    rounded to 4; blank docs (0 tokens) emit no row.

    ``n_buckets`` switches to the paper's HASHED feature space
    (xxhash64(token) mod n_buckets, V = n_buckets): the feature table
    becomes a fixed-width dense vector — the at-scale mode, where the
    raw-corpus vocabulary would otherwise be unbounded junk-token-heavy.
    Raw-token mode keeps exact DuckDB-oracle parity.

    Shape at 10^12 docs: two map-side-combinable token counts (target is
    small; raw is corpus-wide but vocab-sized after the combine), full-
    outer-joined into ONE feature table, lazily localCheckpointed — the
    (V, N_target, N_raw) scalars are a single bounded 1-row collect off
    it; then one narrow corpus explode, a join on the feature key
    (broadcast if the joint vocab fits), one per-doc partial-agg sum."""
    def feat(col):
        return (
            F.pmod(F.xxhash64(col), F.lit(n_buckets)) if n_buckets else col
        )

    tgt_toks = (
        target_df.select(_guarded_tokens(target_text_col).alias("_ts"))
        .select(F.explode(F.col("_ts")).alias("tok"))
        .select(feat(F.col("tok")).alias("f"))
    )
    raw_toks_all = (
        df.select(_guarded_tokens(text_col).alias("_ts"))
        .select(F.explode(F.col("_ts")).alias("tok"))
        .select(feat(F.col("tok")).alias("f"))
    )
    ct = tgt_toks.groupBy("f").agg(F.count(F.lit(1)).alias("_ct"))
    cr = raw_toks_all.groupBy("f").agg(F.count(F.lit(1)).alias("_cr"))
    ft = (
        ct.join(cr, "f", "full_outer")
        .select(
            "f",
            F.coalesce("_ct", F.lit(0)).alias("_ct"),
            F.coalesce("_cr", F.lit(0)).alias("_cr"),
        )
        .localCheckpoint(eager=False)  # shared by the scalars and the join
    )
    tot = ft.agg(
        F.count(F.lit(1)).alias("v"),
        F.sum("_ct").alias("nt"),
        F.sum("_cr").alias("nr"),
    ).collect()[0]
    v_smooth = float(alpha) * (
        float(n_buckets) if n_buckets else float(tot["v"] + 1)
    )
    nt, nr = float(tot["nt"] or 0), float(tot["nr"] or 0)

    a = F.lit(float(alpha))
    logw = (
        F.log(F.coalesce(F.col("_ct"), F.lit(0)) + a)
        - F.lit(math.log(nt + v_smooth))
        - F.log(F.coalesce(F.col("_cr"), F.lit(0)) + a)
        + F.lit(math.log(nr + v_smooth))
    )
    doc_toks = (
        df.select(F.col(id_col), _guarded_tokens(text_col).alias("_ts"))
        .select(F.col(id_col), F.explode(F.col("_ts")).alias("tok"))
        .select(id_col, feat(F.col("tok")).alias("f"))
    )
    return (
        doc_toks.join(ft, "f", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
            F.round(F.sum(logw), 4).alias("log_importance"),
        )
    )


def remove_repeated_lines(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """WITHIN-DOCUMENT exact line dedup (RefinedWeb/Gopher repetition
    REMOVAL, complementing the corpus-level ``remove_boilerplate_lines``
    and the measurement-only ``repetition_features``): every non-blank
    line keeps only its FIRST occurrence inside the document; blank lines
    always survive (paragraph structure). Returns (id, text_clean,
    n_lines, n_removed).

    Fully row-local and near-linear: (line, pos) structs are array_sorted
    (equal lines become adjacent), first-of-run marking zips the sorted
    array against its own 1-shifted copy, keepers re-sort by position and
    reassemble. O(n log n) per doc, zero shuffle, zero Python; a DuckDB
    window twin is the oracle (the WINDOW lives in the oracle only — the
    Spark side must stay window-free).

    HOF discipline (learned here the hard way): every lambda body below
    touches ONLY its lambda variables — higher-order functions are
    interpreted, and an outer EXPRESSION referenced inside a lambda is
    re-evaluated per element (an element_at(array_sort(...), j) probe
    re-sorted the whole doc for every line: quadratic-log on a mega-doc).
    Outer arrays are only ever passed AS the HOF argument (evaluated once
    per row) or zipped in; bounded-time-tested on a 100k-line doc."""
    ls = F.split(F.col(text_col), r"\n")
    pairs = F.transform(
        ls,
        lambda x, i: F.struct(x.alias("line"), i.cast("int").alias("pos")),
    )
    srt = F.array_sort(pairs)
    shifted = F.concat(
        F.array(F.lit(None).cast("struct<line:string,pos:int>")),
        F.slice(srt, 1, F.greatest(F.size(ls) - 1, F.lit(0))),
    )
    marked = F.zip_with(
        srt,
        shifted,
        lambda cur, prev: F.struct(
            cur["pos"].alias("pos"),
            cur["line"].alias("line"),
            (
                prev.isNull()
                | (cur["line"] == "")
                | (cur["line"] != prev["line"])
            ).alias("keep"),
        ),
    )
    kept = F.array_sort(
        F.transform(
            F.filter(marked, lambda m: m["keep"]),
            lambda m: F.struct(m["pos"].alias("pos"), m["line"].alias("line")),
        )
    )
    rebuilt = F.concat_ws("\n", F.transform(kept, lambda s: s["line"]))
    return df.select(
        F.col(id_col),
        rebuilt.alias("text_clean"),
        F.size(ls).cast("int").alias("n_lines"),
        (F.size(ls) - F.size(kept)).cast("int").alias("n_removed"),
    )


def c4_line_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 5,
    min_lines: int = 3,
    require_terminal_punct: bool = True,
    drop_js_lines: bool = True,
    drop_lorem_pages: bool = True,
    drop_brace_pages: bool = True,
) -> DataFrame:
    """The C4 LINE + PAGE rules (Raffel et al. 2020 §2.2, the cleaning
    behind the C4 corpus; ``blocklist_filter`` covers the bad-words rule
    separately): keep only lines that end in terminal punctuation
    (., !, ?, ") and have ≥ ``min_words`` words, drop lines mentioning
    'javascript'; at page level, drop pages with < ``min_lines``
    surviving lines, containing 'lorem ipsum', or containing '{'.
    Returns (id, text_clean, n_lines_kept, page_kept). Row-local JVM
    expressions only — at 100 TB this rides the extraction scan for
    free; the DuckDB list twin is the oracle."""
    ls = F.split(F.col(text_col), r"\n")

    def line_ok(line):
        words = F.when(F.trim(line) == "", F.lit(0)).otherwise(
            F.size(F.split(F.trim(line), TOKEN_SPLIT))
        )
        ok = words >= min_words
        if require_terminal_punct:
            ok = ok & F.regexp_like(F.rtrim(line), F.lit(r'[.!?"]$'))
        if drop_js_lines:
            ok = ok & ~F.contains(F.lower(line), F.lit("javascript"))
        return ok

    kept = F.filter(ls, line_ok)
    page_ok = F.size(kept) >= min_lines
    if drop_lorem_pages:
        page_ok = page_ok & ~F.contains(
            F.lower(F.col(text_col)), F.lit("lorem ipsum")
        )
    if drop_brace_pages:
        page_ok = page_ok & ~F.contains(F.col(text_col), F.lit("{"))
    return df.select(
        F.col(id_col),
        F.concat_ws("\n", kept).alias("text_clean"),
        F.size(kept).cast("int").alias("n_lines_kept"),
        page_ok.cast("int").alias("page_kept"),
    )


def dsir_select(
    df: DataFrame,
    target_df: DataFrame,
    n_take: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_text_col: str = "text",
    alpha: float = 1.0,
    n_buckets: int | None = None,
    temperature: float = 1.0,
) -> DataFrame:
    """DSIR importance RESAMPLING (the selection step of Xie et al. 2023
    — ``dsir_log_weights`` is the scoring step): draw ``n_take``
    documents without replacement with probability ∝ exp(log w / T) via
    the Gumbel top-k trick — rank by log w / T + Gumbel noise and keep
    the top k. Noise is DETERMINISTIC per id (a Lehmer LCG uniform,
    u = ((id·48271 mod (2³¹−1)) + 0.5)/(2³¹−1), g = −ln(−ln u)) so runs
    are reproducible and the selection is repartition-invariant — and,
    unlike seeded RNG sampling, SQL-expressible for the oracle.
    Requires a NUMERIC id (the LCG runs on the id value; hash string ids
    to int64 upstream). ``temperature`` → 0 approaches deterministic
    top-k by weight; large T approaches uniform. Returns
    (id, n_tokens, log_importance, sel_score) for the selected docs.

    Shape at 10^12 docs: scoring is ``dsir_log_weights`` (one corpus
    pass + feature join); selection is a global top-k — TakeOrdered
    (per-partition heaps + driver merge of k), never a full sort."""
    if n_take < 1:
        raise ValueError(f"n_take must be >= 1, got {n_take}")
    w = dsir_log_weights(
        df, target_df, id_col, text_col, target_text_col, alpha, n_buckets
    )
    m = 2147483647  # 2^31 - 1 (Lehmer modulus)
    # pre-reduce the id into [0, m) BEFORE the multiply: full-range int64
    # ids (e.g. xxhash64(url) from curate()) overflow id*48271 under ANSI
    # mode; pmod(id, m)*48271 < 2^47 is always safe, and for the small
    # non-negative ids the oracle uses, pmod(id, m) == id — identical u.
    rid = F.pmod(F.col(id_col).cast("long"), F.lit(m))
    u = (F.pmod(rid * 48271, F.lit(m)) + 0.5) / m
    gumbel = -F.log(-F.log(u))
    score = F.col("log_importance") / F.lit(float(temperature)) + gumbel
    return (
        w.select(
            F.col(id_col),
            "n_tokens",
            "log_importance",
            F.round(score, 4).alias("sel_score"),
        )
        .orderBy(F.col("sel_score").desc(), F.col(id_col))
        .limit(n_take)
    )


def host_term_divergence(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    min_host_tokens: int = 50,
) -> DataFrame:
    """Per-HOST unigram KL divergence vs the corpus distribution — the
    domain-drift signal behind host-level spam/boilerplate triage (a
    keyword-stuffed or template-farm host's token distribution sits far
    from the corpus): KL(host ∥ corpus) = Σ_t p_h(t)·ln(p_h(t)/p_c(t))
    over the host's tokens. No smoothing is needed — a host's tokens are
    a subset of the corpus's, so p_c > 0 wherever p_h > 0, and p_h = 0
    terms vanish. Hosts under ``min_host_tokens`` are dropped (tiny
    hosts give noisy divergences). Returns (host, n_tokens,
    kl_divergence) rounded to 4.

    Shape at 10^12 docs: ONE token pass — (host, token) counts via a
    map-side-combinable groupBy, lazily localCheckpointed (the counts
    table feeds FOUR consumers — cc, nh, nc and the final join — and
    without the checkpoint column pruning defeats ReuseExchange and the
    corpus is re-tokenized four times; the r5 plan showed 4 scans / 0
    ReusedExchange); the corpus marginal, the host totals and the grand
    total all derive from the checkpointed table (two more partial-agg
    groupBys and a 1-row broadcast cross join — no second corpus scan,
    no driver collect); one join on the token key and a final per-host
    sum. All JVM-side.

    Host extraction uses try_parse_url (plain parse_url RAISES on
    unparseable urls in Spark 4 — one malformed crawl URL would fail the
    job), null-coalesced to '' to match the DuckDB oracle's no-match
    behavior. For host:port / user@host URLs Spark strips port/userinfo
    while the oracle's regex keeps them; the fixture contract assumes
    plain well-formed http(s) hosts (documented on both sides)."""
    host = F.coalesce(
        F.try_parse_url(F.col(url_col), F.lit("HOST")), F.lit("")
    )
    toks = _guarded_tokens(text_col)
    hc = (
        df.select(host.alias("host"), toks.alias("_ts"))
        .select("host", F.explode(F.col("_ts")).alias("tok"))
        .groupBy("host", "tok")
        .agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint(eager=False)  # ONE tokenize pass shared by all 4 uses
    )
    cc = hc.groupBy("tok").agg(F.sum("_c").alias("_cc"))
    nh = hc.groupBy("host").agg(F.sum("_c").alias("_nh"))
    nc = cc.agg(F.sum("_cc").alias("_nc"))
    term = (F.col("_c") / F.col("_nh")) * (
        F.log(F.col("_c") / F.col("_nh"))
        - F.log(F.col("_cc") / F.col("_nc"))
    )
    return (
        hc.join(cc, "tok")
        .join(nh, "host")
        .crossJoin(F.broadcast(nc))
        .groupBy("host")
        .agg(
            F.max("_nh").cast("long").alias("n_tokens"),
            F.round(F.sum(term), 4).alias("kl_divergence"),
        )
        .filter(F.col("n_tokens") >= min_host_tokens)
    )


def dedup_paragraphs_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CORPUS-level paragraph dedup with FIRST-OCCURRENCE keep (Dolma,
    Soldaini et al. 2024 §4.1 "paragraph deduplication"; RefinedWeb,
    Penedo et al. 2023 runs the same shape at sequence level): every
    non-first occurrence of a duplicated NON-EMPTY paragraph
    (newline-separated block) is dropped corpus-wide — the occurrence
    with the smallest (id, position) survives — and each document is
    reassembled from its surviving paragraphs in original order. Unlike
    ``remove_boilerplate_lines`` (which drops frequent lines from EVERY
    document) one copy of each paragraph always survives, so no content
    is lost from the corpus — the Dolma policy for training-data dedup.
    Empty paragraphs are structure, not content: always kept (the
    blank-line rule remove_boilerplate_lines established). Returns
    (id, text_clean, n_paras, n_removed).

    Shape at 10^12 docs: posexplode paragraphs → ONE map-side-combinable
    groupBy on the 16-byte md5 paragraph hash computing the keeper
    min(struct(id, pos)) and the occurrence count (singleton hashes are
    pruned before the join — the overwhelming majority in a deduped
    corpus never re-shuffles) → join back on the hash key (AQE picks
    broadcast vs shuffle-hash; the dup-key table is corpus-duplicate-
    sized, not corpus-sized) → per-document ordered reassembly via
    sort_array(collect_list(struct(pos, para))). No Python anywhere."""
    paras = F.split(F.col(text_col), r"\n")
    ex = df.select(F.col(id_col), F.posexplode(paras).alias("pos", "para"))
    nonblank = ex.filter(F.length("para") > 0).withColumn(
        "_ph", F.md5("para")
    )
    dup_keys = (
        nonblank.groupBy("_ph")
        .agg(F.min(F.struct(F.col(id_col), F.col("pos"))).alias("_keep"),
             F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .select("_ph", "_keep")
    )
    kept_nonblank = (
        nonblank.join(dup_keys, "_ph", "left")
        .filter(
            F.col("_keep").isNull()
            | ((F.col("_keep")[id_col] == F.col(id_col))
               & (F.col("_keep")["pos"] == F.col("pos")))
        )
        .select(id_col, "pos", "para")
    )
    kept = kept_nonblank.unionByName(
        ex.filter(F.length("para") == 0).select(id_col, "pos", "para")
    )
    reassembled = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("_kept"),
    )
    totals = df.select(F.col(id_col), F.size(paras).alias("_total"))
    return totals.join(reassembled, id_col, "left").select(
        id_col,
        F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
        F.col("_total").cast("int").alias("n_paras"),
        (F.col("_total") - F.coalesce(F.col("_kept"), F.lit(0)))
        .cast("int")
        .alias("n_removed"),
    )


def tf_idf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_len: int = 4,
) -> DataFrame:
    """Per-document top-k terms by TF-IDF (Spärck Jones 1972; the
    smoothed idf variant scikit-learn popularized): tf(t,d) = raw count
    of t in d; idf(t) = ln((1+N)/(1+df(t))) + 1 over the corpus;
    deterministic (tfidf desc, term asc) top-k per document. The
    keyword-extraction primitive behind topical corpus audits and
    domain-mixture labeling. Lowercased whitespace tokens of length ≥
    ``min_len`` (the host_top_terms convention). Returns
    (id, term, tf, tfidf, rk) with tfidf rounded to 4.

    Shape at 10^12 docs: (id, term) counts via one map-side-combinable
    groupBy; df(t) from a second partial-agg groupBy over the DISTINCT
    (id, term) pairs already in hand (vocabulary-sized, not corpus-
    sized); N via a 1-row broadcast cross join (no driver collect); one
    join on the term key (AQE broadcasts the vocab side when it fits)
    and one per-document top-k window over the counted table — never
    over raw tokens."""
    from pyspark.sql.window import Window

    toks = F.split(F.trim(F.lower(F.col(text_col))), TOKEN_SPLIT)
    ex = df.select(F.col(id_col), F.explode(toks).alias("term")).filter(
        F.length("term") >= min_len
    )
    tf = ex.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    # df(t) over distinct (id, term): tf is already that set, one groupBy
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    n_docs = df.select(F.count(F.lit(1)).alias("_n"))
    idf = F.log((1 + F.col("_n")) / (1 + F.col("_df"))) + 1
    scored = (
        tf.join(dft, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.round(F.col("tf") * idf, 4))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(id_col, "term", "tf", "tfidf", F.col("rk").cast("int").alias("rk"))
    )


def temperature_sample(
    df: DataFrame,
    stratum_col: str = "lang",
    key_col: str = "doc_id",
    alpha: float = 0.3,
    sample_frac: float = 0.5,
) -> DataFrame:
    """Temperature-based multilingual rebalancing (XLM-R, Conneau et al.
    2020 §3.1; mBERT's exponential smoothing): sample languages with
    probability q_l ∝ p_l^α where p_l is the language's corpus share —
    α < 1 UPSAMPLES the tail relative to its share, so low-resource
    languages keep more of their documents than head languages. Given a
    target size S = ``sample_frac``·N, language l's keep rate is
    min(1, S·q_l / n_l). Selection reuses ``stratified_sample``'s
    content-stable keep-hash (pmod(xxhash64(key, salt), 1e6) — same key
    keeps identically across runs and repartitioning; golden-oracled via
    the pure-Python xxh64 replica).

    Shape at 10^12 docs: ONE map-side-combinable per-language count
    groupBy, then a BOUNDED collect (#languages rows — hundreds at
    most), rates computed driver-side in deterministic sorted-language
    order (bit-identical to the pure-Python replica — a distributed
    float sum's addition order would not be), then the row-local
    predicate-pushable keep filter. Zero joins, zero extra passes."""
    if not 0 < sample_frac <= 1:
        raise ValueError(f"sample_frac must be in (0, 1], got {sample_frac}")
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    counts = {
        r[0]: r[1]
        for r in df.groupBy(stratum_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # bounded by the number of languages
        # NULL stratum rows can never be kept anyway (the keep filter's
        # equality never matches NULL and default_rate is 0) — and a None
        # key would break the sorted-language rate order, so drop it here
        if r[0] is not None
    }
    rates = temperature_rates(counts, alpha=alpha, sample_frac=sample_frac)
    return stratified_sample(
        df, rates=rates, stratum_col=stratum_col, key_col=key_col,
        default_rate=0.0,
    )


def temperature_rates(
    counts: dict[str, int], alpha: float = 0.3, sample_frac: float = 0.5
) -> dict[str, float]:
    """Driver-side rate table for ``temperature_sample`` — deterministic
    sorted-stratum order so the float math is bit-identical between the
    Spark path and the pure-Python golden replica."""
    total = sum(counts.values())
    if total == 0:
        return {}
    qs = {l: (counts[l] / total) ** alpha for l in sorted(counts)}
    z = sum(qs[l] for l in sorted(qs))
    target = sample_frac * total
    return {
        l: min(1.0, target * (qs[l] / z) / counts[l]) for l in sorted(qs)
    }


def epoch_shuffle(
    df: DataFrame,
    seed: int,
    n_shards: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-EPOCH training-order shuffle (the WebDataset /
    tf.data pattern: global hash-shard + intra-shard order — every epoch
    re-permutes the corpus from a seed, reproducibly): shard =
    pmod(xxhash64(id, seed), n_shards); pos = rank within the shard by a
    second seeded hash (ties broken by id). Appends (shard, pos) —
    readers stream shards in shard order, rows in pos order, and a new
    seed yields an unrelated permutation of the SAME corpus. Content-
    stable and repartition-invariant like hash_split (seeded RNG
    sampling is neither). Golden-oracled via the pure-Python xxh64
    replica.

    Shape at 10^12 docs: the only wide op is one window per shard — an
    intra-shard sort, never a global one; size ``n_shards`` so one shard
    sorts in executor memory (≈ corpus rows / 10^7). The shard hash is
    also the natural write-partition key, so the shuffle that feeds the
    window doubles as the output partitioning."""
    from pyspark.sql.window import Window

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    shard = F.pmod(
        F.xxhash64(F.col(id_col), F.lit(int(seed))), F.lit(n_shards)
    ).cast("int")
    order = F.xxhash64(F.col(id_col), F.lit(int(seed)), F.lit("_pos_"))
    w = Window.partitionBy("shard").orderBy(order.alias("_o"), F.col(id_col))
    return (
        df.withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w).cast("int"))
    )


# --- L65: Unicode script-mix census -------------------------------------

# (name, BMP range set) in FIXED priority order — the dominant-script
# tie-break is "first in this list with the maximal count", and the
# DuckDB oracle twin generates the identical comparison chain from the
# same table (__spark_entry__), so the order is part of the contract.
SCRIPT_RANGES: list[tuple[str, str]] = [
    ("latin", "A-Za-zÀ-ɏ"),
    ("cyrillic", "Ѐ-ӿ"),
    ("greek", "Ͱ-Ͽ"),
    ("arabic", "؀-ۿ"),
    ("hebrew", "֐-׿"),
    ("devanagari", "ऀ-ॿ"),
    ("thai", "฀-๿"),
    ("hangul", "가-힯ᄀ-ᇿ㄰-㆏"),
    ("kana", "぀-ヿ"),
    ("han", "一-鿿㐀-䶿"),
]


def script_mix(df, id_col: str = "doc_id", text_col: str = "text"):
    """Per-document Unicode script census (L65): one letter count per
    script family (single-char class ``regexp_count`` — BMP ranges, so
    Java and RE2 agree), the total counted letters, and the dominant
    script (first script in :data:`SCRIPT_RANGES` order holding the
    maximal count; ``NULL`` when no scripted letter occurs — digits/
    punctuation-only or empty docs). The language-routing confidence
    signal lang-ID heuristics need: a doc whose declared lang says 'ru'
    but whose letters are 90% Latin is mislabeled or mojibake.

    Entirely row-local JVM codegen (10 vectorized regex passes per doc,
    no Python crossing, no shuffle) — pushable straight onto the scan at
    any scale. NULL text counts as empty."""
    from pyspark.sql import functions as F

    txt = F.coalesce(F.col(text_col), F.lit(""))
    counts = {
        name: F.regexp_count(txt, F.lit(f"[{rng}]")).alias(name)
        for name, rng in SCRIPT_RANGES
    }
    out = df.select(F.col(id_col), *counts.values())
    total = sum(
        (F.col(n) for n, _ in SCRIPT_RANGES[1:]),
        F.col(SCRIPT_RANGES[0][0]),
    )
    # dominant: first-in-order max via a chained strict comparison —
    # script i wins iff count_i >= every later count AND > every earlier
    # one (earlier ties already won); generated identically in the
    # DuckDB twin
    dominant = F.lit(None).cast("string")
    names = [n for n, _ in SCRIPT_RANGES]
    for i in reversed(range(len(names))):
        cond = F.col(names[i]) > F.lit(0)
        for j, other in enumerate(names):
            if j < i:
                cond = cond & (F.col(names[i]) > F.col(other))
            elif j > i:
                cond = cond & (F.col(names[i]) >= F.col(other))
        dominant = F.when(cond, F.lit(names[i])).otherwise(dominant)
    return out.select(
        id_col,
        *names,
        total.alias("scripted_chars"),
        dominant.alias("dominant_script"),
    )


def token_budget_rates(
    sums: dict[str, int], budgets: dict[str, float]
) -> dict[str, float]:
    """Driver-side rate table for ``token_budget_sample``: rate_s =
    min(1, budget_s / tokens_s), sorted-stratum order so the (single
    division per stratum) float math is bit-identical to the pure-Python
    golden replica. Strata without a budget entry get NO rate (the
    caller's default_rate=0 drops them); zero-mass strata likewise."""
    return {
        s: min(1.0, float(budgets[s]) / sums[s])
        for s in sorted(sums)
        if s in budgets and sums[s] > 0
    }


def token_budget_sample(
    df: DataFrame,
    budgets: dict[str, float],
    stratum_col: str = "source",
    key_col: str = "doc_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Token-BUDGET corpus mixing (L67 — the practitioner's recipe
    "X tokens of web, Y of books, none of the rest"): per-stratum keep
    rate = min(1, budget_s / available_tokens_s); strata absent from
    ``budgets`` are dropped. EXPECTED kept token mass ≈ the budget
    (content-stable Bernoulli-by-hash selection — same key keeps
    identically across runs/partitionings); exact-to-the-token packing
    would need a global sort and buys nothing for pretraining mixes.

    Shape at 10^12 docs: ONE map-side-combinable per-stratum token-sum
    groupBy, a BOUNDED collect (#strata rows), driver-side rates in
    deterministic sorted order, then ``stratified_sample``'s row-local
    predicate-pushable keep-hash filter. Zero joins, zero extra passes —
    the automated sibling of the manual ``mixture=`` rate table, keyed
    by token mass instead of corpus share (``temperature_sample``)."""
    sums = {
        r[0]: int(r[1])
        for r in df.groupBy(stratum_col)
        .agg(F.sum(F.col(tokens_col).cast("long")).alias("_t"))
        .collect()  # bounded by the number of strata
        if r[0] is not None and r[1] is not None
    }
    rates = token_budget_rates(sums, budgets)
    return stratified_sample(
        df, rates=rates, stratum_col=stratum_col, key_col=key_col,
        default_rate=0.0,
    )
