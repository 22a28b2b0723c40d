"""Text analysis for training-data pipelines: language-ID, quality scoring,
token counting, document fingerprinting. All JVM-side column expressions —
these run over every document at corpus scale, so nothing here leaves
whole-stage codegen.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# token ids are < VOCAB, so an n-gram packs into one long as base-VOCAB digits
VOCAB = 50257

# tiny per-language stopword lists for the n-gram/stopword-hit heuristic
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "pour", "dans", "que", "pas"],
    "es": ["el", "la", "los", "y", "es", "una", "para", "en", "que", "no"],
}


def words_col(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), r"\s+"), lambda w: F.length(w) > 0)


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + a BPE-ish sub-word estimate (≈ chars/4 bounded by
    word granularity — the common corpus-budget heuristic)."""
    w = words_col(F.col(text_col))
    n_words = F.size(w)
    n_chars = F.length(F.col(text_col))
    bpe_est = F.greatest(n_words, F.ceil(n_chars / 4).cast("int"))
    return (
        df.withColumn("n_words", n_words)
        .withColumn("n_chars", n_chars)
        .withColumn("n_tokens_bpe_est", bpe_est.cast("int"))
    )


def language_id(df: DataFrame, text_col: str = "text", out: str = "lang_pred") -> DataFrame:
    """Stopword-hit language ID: count hits per language's list, argmax.
    Ties/no-hits → 'und'. Pure expressions: one pass over the word array per
    language (4 small array_contains scans)."""
    w = words_col(F.col(text_col))
    scores = []
    for lang, stops in LANG_STOPWORDS.items():
        arr = F.array(*[F.lit(s) for s in stops])
        hits = F.size(F.filter(w, lambda x: F.array_contains(arr, x)))
        scores.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    pred = F.when(best.getField("hits") > 0, best.getField("lang")).otherwise("und")
    return df.withColumn(out, pred)


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite quality signals (Gopher/C4-style filters):
    word count bounds, mean word length, symbol ratio, digit ratio,
    stopword presence. Score in [0,1]; each signal is a clipped penalty."""
    text = F.col(text_col)
    w = words_col(text)
    n_words = F.size(w)
    n_chars = F.length(text)
    mean_wl = F.when(n_words > 0, n_chars / n_words).otherwise(F.lit(0.0))
    digits = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    symbols = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    digit_ratio = F.when(n_chars > 0, digits / n_chars).otherwise(0.0)
    symbol_ratio = F.when(n_chars > 0, symbols / n_chars).otherwise(0.0)
    en_stops = F.array(*[F.lit(s) for s in LANG_STOPWORDS["en"]])
    stop_hits = F.size(F.filter(w, lambda x: F.array_contains(en_stops, x)))

    ok_len = (n_words >= 5) & (n_words <= 100000)
    ok_wl = (mean_wl >= 2) & (mean_wl <= 12)
    score = (
        ok_len.cast("double") * 0.3
        + ok_wl.cast("double") * 0.2
        + (1.0 - F.least(digit_ratio * 5, F.lit(1.0))) * 0.2
        + (1.0 - F.least(symbol_ratio * 5, F.lit(1.0))) * 0.2
        + F.least(stop_hits.cast("double") / 2, F.lit(1.0)) * 0.1
    )
    return (
        df.withColumn("mean_word_len", mean_wl)
        .withColumn("digit_ratio", digit_ratio)
        .withColumn("symbol_ratio", symbol_ratio)
        .withColumn("quality", F.round(score, 4))
    )


def repetition_stats(
    df: DataFrame, tokens_col: str = "tokens", ns: tuple[int, ...] = (2, 3)
) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021 §A1.1:
    'fraction of characters in the most common / in duplicated n-grams' —
    the token-domain analogs here): for each n, the occurrence count of the
    most frequent n-gram, the number of n-gram positions whose gram occurs
    more than once, and the total position count. Integer outputs so any
    engine reproduces them exactly; callers derive ratios.

    Physical shape: ZERO shuffle and zero Python. Grams pack into longs
    (base-VOCAB, the GPT-2 vocabulary size), are array_sort'ed
    per row, and a single O(L) higher-order fold over the sorted array
    extracts max-run-length and duplicated-position counts — per-row
    whole-stage-codegen work, no explode, no groupBy. The SQL oracle uses
    the explode+GROUP BY formulation; both count gram multiplicity, so
    they agree exactly."""
    t = F.col(tokens_col)
    ln = F.size(t)
    out = df
    for n in ns:
        idx = F.sequence(F.lit(1), ln - (n - 1))

        # NB: a plain `lambda i, n=n: ...` breaks here — pyspark's
        # higher-order-function bridge binds one lambda variable per
        # *parameter* (defaults included), so n would arrive as a Column.
        def _pack(i: Column, n: int = n) -> Column:
            return reduce(
                lambda a, b: a + b,
                [
                    F.element_at(t, i + k).cast("long") * (VOCAB ** (n - 1 - k))
                    for k in range(n)
                ],
            )

        packed = F.transform(idx, lambda i: _pack(i))
        grams = F.when(ln >= n, F.array_sort(packed)).otherwise(
            F.array().cast("array<bigint>")
        )
        # fold over the sorted grams: runs of equal values are gram groups.
        # acc = (prev, cur_run, max_run, dup_positions); a run contributes to
        # dup_positions from its 2nd element on (+2 when the run reaches
        # length 2 — both positions — then +1 per further element).
        zero = F.struct(
            F.lit(-1).cast("long").alias("prev"),
            F.lit(0).cast("long").alias("cur"),
            F.lit(0).cast("long").alias("mx"),
            F.lit(0).cast("long").alias("dup"),
        )
        folded = F.aggregate(
            grams,
            zero,
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc.getField("prev"), acc.getField("cur") + 1)
                .otherwise(F.lit(1).cast("long"))
                .alias("cur"),
                F.greatest(
                    acc.getField("mx"),
                    F.when(x == acc.getField("prev"), acc.getField("cur") + 1).otherwise(
                        F.lit(1).cast("long")
                    ),
                ).alias("mx"),
                (
                    acc.getField("dup")
                    + F.when(
                        x == acc.getField("prev"),
                        F.when(acc.getField("cur") == 1, F.lit(2)).otherwise(F.lit(1)),
                    ).otherwise(F.lit(0))
                ).cast("long").alias("dup"),
            ),
        )
        out = (
            out.withColumn(f"npos_{n}", F.greatest(ln - (n - 1), F.lit(0)).cast("long"))
            .withColumn(f"top_{n}", folded.getField("mx"))
            .withColumn(f"dup_{n}", folded.getField("dup"))
        )
    return out


def fingerprint(df: DataFrame, tokens_col: str = "tokens", out: str = "fp") -> DataFrame:
    """Rolling polynomial hash over the token sequence (order-sensitive
    document fingerprint): fp = fold(tokens, acc*31+t mod 2^31-1). The
    modulus keeps acc*31 far below int64 overflow so the fold is exact (and
    oracle-reproducible) in any engine."""
    P = (1 << 31) - 1
    return df.withColumn(
        out,
        F.aggregate(
            F.col(tokens_col),
            F.lit(0).cast("long"),
            lambda acc, t: (acc * 31 + t.cast("long")) % P,
        ),
    )


def token_frequencies(
    df: DataFrame, tokens_col: str = "tokens", top_k: int | None = None
) -> DataFrame:
    """Corpus unigram statistics: global occurrence count per token id —
    the table behind vocabulary pruning, BPE-merge audits, and
    domain-drift checks in a training-data pipeline. With ``top_k``, the
    head of the distribution with a deterministic dense rank (count desc,
    token asc tiebreak) so the result set is engine-reproducible.

    Physical shape: explode → groupBy(token) is ONE shuffle of (int, long)
    partial counts — Spark's partial aggregation combines map-side, so the
    exchange carries at most |vocab| rows per task regardless of corpus
    size. The top-k is a TakeOrderedAndProject over the ≤|vocab|-row
    aggregate, never a global sort of the corpus."""
    freq = (
        df.select(F.explode(F.col(tokens_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    if top_k is None:
        return freq
    # orderBy().limit() compiles to TakeOrderedAndProject — a per-partition
    # top-k merged once, never a global sort / single-partition WindowExec
    # over the whole vocab (byte-level vocabs are small, but a BPE/unicode
    # vocab need not be). Ranks over the ≤top_k survivors are assigned
    # window-free: pack into ONE sorted array (struct comparison on
    # (-cnt, token) == cnt desc, token asc) and posexplode — no WindowExec,
    # no empty-partition-spec warning, fully deterministic.
    head = freq.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(top_k)
    packed = head.select(
        F.struct(
            (-F.col("cnt")).alias("nc"),
            F.col("token").alias("token"),
            F.col("cnt").alias("cnt"),
        ).alias("s")
    ).agg(F.sort_array(F.collect_list("s")).alias("arr"))
    return packed.select(
        F.posexplode("arr").alias("pos", "s")
    ).select(
        F.col("s.token").alias("token"),
        F.col("s.cnt").alias("cnt"),
        (F.col("pos") + 1).cast("int").alias("rank"),
    )


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

GOPHER_BULLETS = ["•", "‣", "-", "*"]


def gopher_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher quality-filter rules (Rae et al. 2021, "Scaling Language
    Models", Appendix A — the published heuristic document filters):

    1. 50 <= word count <= 100,000
    2. 3 <= mean word length <= 10
    3. symbol-to-word ratio (``#`` chars + ``...``/``…`` runs) <= 0.1
    4. <= 30% of lines end with an ellipsis
    5. <= 90% of lines start with a bullet glyph
    6. >= 80% of words contain at least one alphabetic character
    7. at least 2 of the 8 Gopher stop words appear

    Every threshold is evaluated in EXACT integer arithmetic (e.g.
    ``sum_word_len <= 10 * n_words`` instead of a float mean) so the
    pass flag is bit-reproducible across engines — a corpus-scale
    filter must not flip documents on float rounding. Counts are
    emitted alongside the flag for threshold tuning. Pure JVM column
    expressions: one pass, whole-stage codegen, zero Python.
    """
    text = F.col(text_col)
    w = words_col(text)  # lowercased whitespace words
    n_words = F.size(w).cast("long")
    sum_word_len = F.aggregate(
        w, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    # replace-length arithmetic: non-overlapping greedy left-to-right in
    # both Spark and DuckDB, so counts match exactly
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ell3 = (
        F.length(text)
        - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / 3
    n_ell1 = F.length(text) - F.length(
        F.replace(text, F.lit("…"), F.lit(""))
    )
    n_symbols = (n_hash + n_ell3 + n_ell1).cast("long")
    lines = F.split(text, "\n")
    n_lines = F.size(lines).cast("long")
    ell_end = F.size(
        F.filter(
            lines,
            lambda ln: F.rtrim(ln).endswith("...")
            | F.rtrim(ln).endswith("…"),
        )
    ).cast("long")
    bullet_arr = F.array(*[F.lit(b) for b in GOPHER_BULLETS])
    bullet_start = F.size(
        F.filter(
            lines,
            lambda ln: F.array_contains(
                bullet_arr, F.substring(F.ltrim(ln), 1, 1)
            ),
        )
    ).cast("long")
    alpha_words = F.size(
        F.filter(w, lambda x: x.rlike("[a-z]"))
    ).cast("long")
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    stop_hits = F.size(
        F.array_intersect(F.array_distinct(w), stop_arr)
    ).cast("int")
    gopher_pass = (
        (n_words >= 50)
        & (n_words <= 100_000)
        & (sum_word_len >= 3 * n_words)
        & (sum_word_len <= 10 * n_words)
        & (n_symbols * 10 <= n_words)
        & (ell_end * 10 <= 3 * n_lines)
        & (bullet_start * 10 <= 9 * n_lines)
        & (alpha_words * 5 >= 4 * n_words)
        & (stop_hits >= 2)
    )
    return (
        df.withColumn("n_words", n_words)
        .withColumn("sum_word_len", sum_word_len)
        .withColumn("n_symbols", n_symbols)
        .withColumn("n_lines", n_lines)
        .withColumn("ellipsis_lines", ell_end)
        .withColumn("bullet_lines", bullet_start)
        .withColumn("alpha_words", alpha_words)
        .withColumn("stopword_hits", stop_hits)
        .withColumn("gopher_pass", gopher_pass)
    )
