"""Text analysis operators for training-data pipelines.

Language-ID (n-gram/marker heuristic), quality scoring, token
counting (whitespace + BPE-ish regex), document fingerprinting — all
native Column expressions over the ``documents`` table shape
(doc_id, text, lang, source, n_chars).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Deterministic marker-word heuristic (the real engine would use
# character n-gram profiles; the Spark shape — per-language regexp
# counts + argmax — is identical).
LANG_MARKERS = {
    "en": r"\b(the|and|of|to|is)\b",
    "de": r"\b(der|die|das|und|ist)\b",
    "fr": r"\b(le|la|les|et|est)\b",
    "es": r"\b(el|los|las|es|y)\b",
}

STOPWORDS_EN = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

# BPE-ish pre-tokenizer: word pieces, numbers, punctuation runs
# (a public GPT-2-style pre-tokenization regex shape, simplified to
# the JVM regex dialect).
BPE_SPLIT_RE = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]+"


def lang_id_expr(text: Column) -> Column:
    """argmax over marker-regex hit counts; 'und' when nothing hits."""
    t = F.lower(text)
    scores = {lang: F.regexp_count(t, F.lit(pat)) for lang, pat in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    out = F.lit("und")
    for lang in reversed(list(scores)):
        out = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(out)
    return out


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.filter(F.split(text, r"\s+"), lambda t: t != F.lit("")))


def token_count_bpe(text: Column) -> Column:
    """BPE-ish token count: number of regex pre-tokens (upper-bounds
    real BPE merges; proportionality is what matters for budgeting)."""
    return F.regexp_count(text, F.lit(BPE_SPLIT_RE))


def quality_score_expr(text: Column) -> Column:
    """Composite quality score in [0,1]: length band + punctuation
    ratio + stopword ratio + mean word length band — the standard
    web-text quality heuristics, all native."""
    n = F.length(text).cast("double")
    toks = token_count_ws(text).cast("double")
    punct = F.regexp_count(text, F.lit(r"[^\w\s]")).cast("double")
    stop_pat = r"\b(" + "|".join(STOPWORDS_EN) + r")\b"
    stops = F.regexp_count(F.lower(text), F.lit(stop_pat)).cast("double")
    mean_word = F.when(toks > 0, n / toks).otherwise(F.lit(0.0))

    len_ok = F.when((n >= 50) & (n <= 20000), 1.0).otherwise(0.0)
    punct_ok = F.when(F.when(n > 0, punct / n).otherwise(1.0) < 0.2, 1.0).otherwise(0.0)
    stop_ok = F.when(F.when(toks > 0, stops / toks).otherwise(0.0) > 0.01, 1.0).otherwise(0.0)
    word_ok = F.when((mean_word >= 2.5) & (mean_word <= 12), 1.0).otherwise(0.0)
    return (len_ok + punct_ok + stop_ok + word_ok) / F.lit(4.0)


def fingerprint_md5(text: Column) -> Column:
    """Whole-document fingerprint over the normalized text."""
    from opentelemetry_collector_contrib_spark.operators.dedup import normalize_text
    return F.md5(normalize_text(text).cast("binary"))


def gopher_quality_flags(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Gopher-rule document quality flags (Rae et al. 2021 §A1.1, the
    standard web-text filter battery) — one row per doc with each rule
    outcome and the overall pass, all native Column expressions.

    Rules: word count in [50, 100k]; mean word length in [3, 10];
    symbol-to-word ratio (# / …) < 0.1; <90% of lines bullet-started;
    <30% of lines ellipsis-ended; >80% of words contain a letter; >=2
    distinct English stopwords present; duplicate-line fraction < 0.30.

    Scale: narrow projection chain, no shuffle, no UDF.  The word and
    line arrays are BOUND columns (staged projections) because every
    per-element lambda referencing an inline split chain re-evaluates
    it per element (CLAUDE.md expression-staging rule).
    """
    t = F.col(text_col)
    df = (df
          .withColumn("_words", F.filter(F.split(t, r"\s+"),
                                         lambda w: w != F.lit("")))
          .withColumn("_lines", F.filter(F.split(t, r"\n"),
                                         lambda l: F.trim(l) != F.lit(""))))
    words, lines = F.col("_words"), F.col("_lines")
    n_words = F.size(words).cast("double")
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    mean_wl = F.when(
        n_words > 0,
        F.aggregate(words, F.lit(0).cast("long"),
                    lambda acc, w: acc + F.length(w)) / n_words
    ).otherwise(F.lit(0.0))
    symbol_ratio = F.when(
        n_words > 0,
        (F.regexp_count(t, F.lit("#"))
         + F.regexp_count(t, F.lit(r"\.\.\."))) / n_words).otherwise(1.0)
    bullet_frac = F.size(F.filter(
        lines, lambda l: F.trim(l).rlike(r"^[-*•]"))) / n_lines
    ellipsis_frac = F.size(F.filter(
        lines, lambda l: F.trim(l).endswith("..."))) / n_lines
    alpha_frac = F.when(
        n_words > 0,
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))) / n_words
    ).otherwise(0.0)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    lower_words = F.transform(words, F.lower)
    stop_distinct = F.size(F.filter(
        stop_arr, lambda s: F.array_contains(lower_words, s)))
    dup_line_frac = (F.lit(1.0)
                     - F.size(F.array_distinct(lines)) / n_lines)

    flags = {
        "word_count_ok": (n_words >= 50) & (n_words <= 100_000),
        "mean_word_len_ok": (mean_wl >= 3.0) & (mean_wl <= 10.0),
        "symbol_ratio_ok": symbol_ratio < 0.1,
        "bullet_ok": bullet_frac < 0.9,
        "ellipsis_ok": ellipsis_frac < 0.3,
        "alpha_ok": alpha_frac > 0.8,
        "stopword_ok": stop_distinct >= 2,
        "dup_line_ok": dup_line_frac < 0.30,
    }
    passed = None
    for c in flags.values():
        passed = c if passed is None else (passed & c)
    return df.select(
        F.col(id_col),
        F.size(words).alias("n_words"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        *[v.alias(k) for k, v in flags.items()],
        passed.alias("gopher_pass"))


# Gopher repetition thresholds (Rae et al. 2021 Table A1): a doc is
# removed when the fraction EXCEEDS the threshold.
REPETITION_THRESHOLDS = {
    "dup_para_frac": 0.30,
    "dup_para_char_frac": 0.20,
    "dup_line_char_frac": 0.20,
    "top2gram_char_frac": 0.20,
    "top3gram_char_frac": 0.18,
    "top4gram_char_frac": 0.16,
    "dup5gram_char_frac": 0.15,
    "dup6gram_char_frac": 0.14,
    "dup7gram_char_frac": 0.13,
    "dup8gram_char_frac": 0.12,
    "dup9gram_char_frac": 0.11,
    "dup10gram_char_frac": 0.10,
}


def _word_ngrams(words: Column, n: int) -> Column:
    """Space-joined word n-grams; empty array when fewer than n words."""
    idx = F.sequence(F.lit(1), F.size(words) - n + 1)
    return F.when(
        F.size(words) >= n,
        F.transform(idx, lambda i: F.concat_ws(
            " ", F.slice(words, i, n)))).otherwise(
        F.array().cast("array<string>"))


def _top_run_chars(sorted_arr: Column) -> Column:
    """count(top element) * length(top element) over a SORTED array —
    the character mass of the most frequent element.  Ties broken by
    (length, lexicographic) descending so both engines agree.  Online
    longest-run scan via F.aggregate with a struct accumulator: one
    pass, no shuffle."""
    zero = F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                    F.lit(0).alias("best"), F.lit("").alias("bestg"))

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        better = (run > acc["best"]) | (
            (run == acc["best"]) & (
                (F.length(x) > F.length(acc["bestg"])) |
                ((F.length(x) == F.length(acc["bestg"]))
                 & (x > acc["bestg"]))))
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.when(better, run).otherwise(acc["best"]).alias("best"),
            F.when(better, x).otherwise(acc["bestg"]).alias("bestg"))

    return F.aggregate(
        sorted_arr, zero, step,
        lambda acc: acc["best"] * F.length(acc["bestg"]))


def _dup_occurrence_chars(sorted_arr: Column) -> Column:
    """Sum of length over every occurrence of elements appearing >= 2
    times in a SORTED array (an occurrence is duplicated iff it equals
    a neighbour).  F.get is 0-based and NULL-safe out of bounds, so no
    ANSI element_at throw."""
    idx = F.sequence(F.lit(0), F.size(sorted_arr) - 1)
    return F.when(F.size(sorted_arr) > 0, F.aggregate(
        idx, F.lit(0).cast("long"),
        lambda acc, i: acc + F.when(
            (F.get(sorted_arr, i) == F.get(sorted_arr, i - 1))
            | (F.get(sorted_arr, i) == F.get(sorted_arr, i + 1)),
            F.length(F.get(sorted_arr, i)).cast("long")
        ).otherwise(F.lit(0).cast("long")))).otherwise(F.lit(0).cast("long"))


def repetition_flags(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Gopher repetition-removal signals (Rae et al. 2021 §A1.1 Table
    A1, the second half of the filter battery; also used by RefinedWeb
    and FineWeb): duplicate paragraph / paragraph-character / line-
    character fractions, top-{2,3,4}-gram character fractions, and
    duplicate-{5..10}-gram character fractions, plus the overall
    ``repetition_pass`` (every fraction <= its published threshold).

    Character-fraction convention (documented variant): numerator is
    the character mass of the qualifying units (count x unit length,
    space-joined for n-grams); denominator is total text length
    (n-gram rules) or the summed unit lengths (line/paragraph rules).

    Scale shape: one narrow projection — n-gram arrays, array_sort and
    single-pass run scans per row; NO shuffle, NO UDF, perfectly
    data-parallel at any corpus size.  Word/line/paragraph arrays are
    bound columns (the CLAUDE.md staging rule: per-element lambdas
    over an inline chain re-evaluate it per element).
    """
    t = F.col(text_col)
    df = (df
          .withColumn("_words", F.filter(F.split(t, r"\s+"),
                                         lambda w: w != F.lit("")))
          .withColumn("_lines", F.filter(
              F.transform(F.split(t, r"\n"), lambda l: F.trim(l)),
              lambda l: l != F.lit("")))
          .withColumn("_paras", F.filter(
              F.transform(F.split(t, r"\n{2,}"), lambda l: F.trim(l)),
              lambda p: p != F.lit(""))))
    for n in (2, 3, 4, 5, 6, 7, 8, 9, 10):
        df = df.withColumn(f"_g{n}",
                           F.array_sort(_word_ngrams(F.col("_words"), n)))
    lines, paras = F.col("_lines"), F.col("_paras")
    total_chars = F.greatest(F.length(t), F.lit(1)).cast("double")

    def unit_char_fracs(arr: Column) -> tuple[Column, Column]:
        """(dup unit fraction, dup unit character fraction)."""
        n_units = F.greatest(F.size(arr), F.lit(1)).cast("double")
        unit_chars = F.greatest(
            F.aggregate(arr, F.lit(0).cast("long"),
                        lambda a, x: a + F.length(x)), F.lit(1)
        ).cast("double")
        dup_frac = (F.size(arr) - F.size(F.array_distinct(arr))) / n_units
        dup_chars = _dup_occurrence_chars(F.array_sort(arr))
        return dup_frac, dup_chars / unit_chars

    dup_para_frac, dup_para_char_frac = unit_char_fracs(paras)
    _, dup_line_char_frac = unit_char_fracs(lines)

    fracs = {
        "dup_para_frac": dup_para_frac,
        "dup_para_char_frac": dup_para_char_frac,
        "dup_line_char_frac": dup_line_char_frac,
    }
    # n-gram char masses count every (overlapping) occurrence, so the
    # ratio can exceed 1 on highly repetitive text — clamp to 1.0 (a
    # saturated repetition signal; thresholds are all << 1).
    for n in (2, 3, 4):
        fracs[f"top{n}gram_char_frac"] = F.least(
            F.lit(1.0), _top_run_chars(F.col(f"_g{n}")) / total_chars)
    for n in (5, 6, 7, 8, 9, 10):
        fracs[f"dup{n}gram_char_frac"] = F.least(
            F.lit(1.0), _dup_occurrence_chars(F.col(f"_g{n}")) / total_chars)

    passed = None
    for name, frac in fracs.items():
        ok = frac <= F.lit(REPETITION_THRESHOLDS[name])
        passed = ok if passed is None else (passed & ok)
    return df.select(
        F.col(id_col),
        *[F.round(v, 4).alias(k) for k, v in fracs.items()],
        passed.alias("repetition_pass"))


def unigram_logprob_scores(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           alpha: float = 0.5) -> DataFrame:
    """Corpus-self-trained unigram language-model scoring — the
    distributed stand-in for CCNet's KenLM perplexity bucketing
    (Wenzek et al. 2020 §3.2: docs are ranked by LM perplexity and
    split into head/middle/tail quality buckets).  No external model
    exists in this environment, so the LM is the corpus's own unigram
    distribution with Lidstone smoothing: p(t) = (c_t + a) / (N + aV).

    Output: (id, n_tokens, sum_neg_logprob, avg_neg_logprob,
    perplexity) — perplexity = exp(avg_neg_logprob), lower = more
    typical of the corpus.

    Scale shape — the same canonical 3-exchange linear plan as
    repeated_line_removal:
      1. lowercase-whitespace tokens posexplode to (id, token) rows;
      2. token frequencies groupBy(token) with map-side partial
         aggregation (stopword skew collapses map-side); the (N, V)
         totals reduce the frequency table to ONE row, broadcast back
         via crossJoin;
      3. probe join tokens->freq on the token (freq side arrives
         pre-partitioned), then one per-document regroup.

    Float determinism (oracle parity): the per-token ln is rounded to
    6 dp and summed as DECIMAL(18,6) -> exact, order-independent sums;
    only the final per-document averages are double math on identical
    inputs.  (Math.log vs libm ln can differ in the last ulp; at 6 dp
    the collision window per token is ~1e-10.)
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                    lambda t: t != F.lit(""))
    from opentelemetry_collector_contrib_spark.operators.dedup import (
        explode_nonnull)
    tok_rows = explode_nonnull(df.select(F.col(id_col), toks.alias("_toks")),
                               "_toks", "_tok", keep=[id_col])
    freq = tok_rows.groupBy("_tok").agg(F.count(F.lit(1)).alias("_c"))
    totals = freq.agg(F.sum("_c").alias("_n"),
                      F.count(F.lit(1)).alias("_v"))
    lp = F.round(F.log((F.col("_c") + F.lit(alpha))
                       / (F.col("_n") + F.lit(alpha) * F.col("_v"))), 6)
    scored = (tok_rows.join(freq, on="_tok")
              .crossJoin(F.broadcast(totals))
              .withColumn("_nlp", (-lp).cast("decimal(18,6)")))
    agg = (scored.groupBy(id_col)
           .agg(F.count(F.lit(1)).alias("n_tokens"),
                F.sum("_nlp").alias("_sum")))
    avg = F.round(F.col("_sum").cast("double") / F.col("n_tokens"), 4)
    # the exact decimal sum is internal; reported columns are 4-dp
    # doubles (identical inputs -> identical IEEE results both engines)
    return (agg
            .withColumn("sum_neg_logprob",
                        F.round(F.col("_sum").cast("double"), 4))
            .withColumn("avg_neg_logprob", avg)
            .withColumn("perplexity",
                        F.round(F.exp(F.col("avg_neg_logprob")), 4))
            .drop("_sum"))
