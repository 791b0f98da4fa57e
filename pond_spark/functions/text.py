"""Text-analysis operators for large-scale training-data pipelines
(north-star extensions beyond the reference surface — SURVEY.md §7 M5).

All hot-path expressions are built-in pyspark.sql.functions (JVM-side,
whole-stage codegen); every operator has a DuckDB-SQL twin builder for
the oracle gate. Deterministic by construction — no library hash
functions (Spark's xxhash64 and DuckDB's hash differ), polynomial
hashes over character codes instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HASH_MOD = 1_000_000_007
HASH_BASE = 31

# ---------------------------------------------------------------------------
# token counting


def token_count(col: Column) -> Column:
    """Whitespace token count."""
    t = F.trim(col)
    return F.when(t == "", 0).otherwise(F.size(F.split(t, r"\s+"))).alias("n_tokens")


def token_count_sql(expr: str) -> str:
    return (
        f"CASE WHEN trim({expr}) = '' THEN 0 "
        f"ELSE len(regexp_split_to_array(trim({expr}), '\\s+')) END"
    )


BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(col: Column) -> Column:
    """BPE-ish token count: word / number / punctuation runs — the
    standard pre-tokenization regex shape used by byte-pair encoders."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_TOKEN_RE), 0))


def bpe_token_count_sql(expr: str) -> str:
    return f"len(regexp_extract_all({expr}, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))"


# ---------------------------------------------------------------------------
# quality scoring

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "on")


def _words(col: Column) -> Column:
    """Lowercased whitespace split; an empty/whitespace-only string
    yields ZERO tokens (r7 sweep of the r6 review edge: the bare split
    returned ``['']`` in both engines, so empty docs counted
    n_words=1, ``''`` entered LM vocabs, and BM25 assigned them dl=1).
    NULL text still yields NULL. Every SQL twin mirrors the rule via
    :func:`words_sql`."""
    t = F.trim(F.lower(col))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def words_sql(expr: str) -> str:
    """DuckDB twin of :func:`_words` — the one place the tokenizer's
    SQL shape lives, so the empty-string rule can never drift
    per-consumer."""
    t = f"trim(lower({expr}))"
    return (
        f"(CASE WHEN {t} = '' THEN CAST([] AS VARCHAR[]) "
        f"ELSE regexp_split_to_array({t}, '\\s+') END)"
    )


def quality_score(col: Column) -> Column:
    """Heuristic quality in [0,1]: blend of length saturation,
    alpha-character ratio and stopword presence (longer, prose-like,
    function-word-bearing text scores higher). Deterministic arithmetic
    only; rounded to 6 decimals for stable cross-engine hashing."""
    n_chars = F.length(col).cast("double")
    alpha = F.length(F.regexp_replace(col, r"[^A-Za-z]", "")).cast("double")
    words = _words(col)
    n_words = F.size(words).cast("double")
    n_stop = F.size(F.array_intersect(words, F.array(*[F.lit(s) for s in STOPWORDS])))
    len_sat = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    alpha_ratio = F.when(n_chars > 0, alpha / n_chars).otherwise(F.lit(0.0))
    stop_hit = F.when(n_words > 0, F.least(n_stop.cast("double"), F.lit(3.0)) / 3.0).otherwise(
        F.lit(0.0)
    )
    return F.round(
        0.4 * len_sat + 0.4 * alpha_ratio + 0.2 * stop_hit, 6
    ).alias("quality")


def quality_score_sql(expr: str) -> str:
    stop = ", ".join(f"'{s}'" for s in STOPWORDS)
    w = words_sql(expr)
    return f"""round(
      0.4 * least(len({expr}) / 500.0, 1.0)
      + 0.4 * (CASE WHEN len({expr}) > 0
               THEN len(regexp_replace({expr}, '[^A-Za-z]', '', 'g')) * 1.0 / len({expr})
               ELSE 0.0 END)
      + 0.2 * (CASE WHEN len({w}) > 0
               THEN least(len(list_intersect({w},
                                             [{stop}])) * 1.0, 3.0) / 3.0
               ELSE 0.0 END), 6)"""


# ---------------------------------------------------------------------------
# Gopher-style document quality rules (Rae et al. 2021, appendix A1;
# C4 heuristics, Raffel et al. 2020 §2.2) — doc-level composition and
# repetition metrics plus a combined keep/drop flag. All metrics are
# single-pass built-in expressions; the repetition signal uses the
# duplicate-n-gram fraction (1 - distinct/total), the set-based cousin
# of Gopher's "fraction of characters in duplicate n-grams" that both
# engines can fold deterministically.


def _word_ngrams(words: Column, n: int) -> Column:
    # a doc with fewer than n words has ZERO n-grams: the old
    # greatest(size-n, 0) floor fabricated one partial gram, making
    # every short doc "maximally repetitive" (top_ngram_char_frac 1.0
    # on a 1-word doc) and feeding a phantom gram into dup_ngram_frac
    # (r6 review finding)
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _let(value: Column, body) -> Column:
    """``body(value)`` with ``value`` evaluated once: the SQL "let" as
    ``transform(array(value), v -> body(v))[0]``. A lambda argument is
    evaluated once per row, while a Column referenced twice inside a
    higher-order function is re-derived per reference (HOFs are opaque
    to subexpression elimination, PERF_NOTES.md)."""
    return F.transform(F.array(value), body)[0]


#: the fields of :func:`quality_struct`, in output order
QUALITY_FIELDS = (
    "n_words", "mean_word_len", "alpha_word_frac", "dup_2gram_frac", "keep",
)


def quality_struct(
    col: Column,
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    min_alpha_word_frac: float = 0.8,
    max_dup_2gram_frac: float = 0.85,
) -> Column:
    """Gopher/C4-style per-document quality metrics and keep flag as
    one struct expression: n_words, mean_word_len, alpha_word_frac
    (words containing at least one ASCII letter / words),
    dup_2gram_frac (1 - distinct word-bigrams / bigrams — repetition),
    and ``keep`` (all thresholds pass). Ratios are rounded to 6
    decimals for stable cross-engine hashing.

    The word array, the bigram array and the metrics are each bound
    once through :func:`_let`, so the split runs once per row and a
    ``filter`` on ``keep`` evaluates a single expression — no staged
    alias for predicate pushdown to inline."""

    def metrics(words: Column) -> Column:
        n_words = F.size(words)
        nw = n_words.cast("double")
        mean_wl = F.round(
            F.when(
                n_words > 0,
                F.aggregate(
                    words,
                    F.lit(0).cast("long"),
                    lambda acc, w: acc + F.length(w),
                ).cast("double")
                / nw,
            ).otherwise(F.lit(0.0)),
            6,
        )
        alpha_frac = F.round(
            F.when(
                n_words > 0,
                F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))).cast("double")
                / nw,
            ).otherwise(F.lit(0.0)),
            6,
        )
        dup2 = _let(
            _word_ngrams(words, 2),
            lambda bi: F.round(
                F.when(
                    F.size(bi) > 0,
                    F.lit(1.0)
                    - F.size(F.array_distinct(bi)).cast("double")
                    / F.size(bi).cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
        return F.struct(
            n_words.alias("n_words"),
            mean_wl.alias("mean_word_len"),
            alpha_frac.alias("alpha_word_frac"),
            dup2.alias("dup_2gram_frac"),
        )

    def verdict(m: Column) -> Column:
        keep = (
            (m["n_words"] >= min_words)
            & (m["n_words"] <= max_words)
            & (m["mean_word_len"] >= min_mean_word_len)
            & (m["mean_word_len"] <= max_mean_word_len)
            & (m["alpha_word_frac"] >= min_alpha_word_frac)
            & (m["dup_2gram_frac"] <= max_dup_2gram_frac)
        )
        return F.struct(
            *[m[f].alias(f) for f in QUALITY_FIELDS[:-1]], keep.alias("keep")
        )

    return _let(_let(_words(col), metrics), verdict)


def quality_metrics(
    df: DataFrame,
    text_col: str = "text",
    keep_cols: tuple[str, ...] = ("doc_id",),
    **thresholds,
) -> DataFrame:
    """``keep_cols`` plus the five :data:`QUALITY_FIELDS` columns.

    The struct is staged in one select, so the five fields read it
    instead of re-evaluating it (a non-cheap alias referenced more than
    once survives CollapseProject). Filter with
    ``quality_struct(...)["keep"]`` rather than on this frame's
    ``keep``: pushdown would inline the staged struct into the filter
    and evaluate it twice."""
    kept = [F.col(c) for c in keep_cols]
    staged = df.select(
        *kept, quality_struct(F.col(text_col), **thresholds).alias("_q")
    )
    return staged.select(*kept, *[F.col("_q")[f].alias(f) for f in QUALITY_FIELDS])


def quality_rules(col: Column, **thresholds) -> list[Column]:
    """The :data:`QUALITY_FIELDS` of :func:`quality_struct` as aliased
    columns (thresholds as there)."""
    q = quality_struct(col, **thresholds)
    return [q[f].alias(f) for f in QUALITY_FIELDS]


def quality_rules_sql(
    expr: str,
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    min_alpha_word_frac: float = 0.8,
    max_dup_2gram_frac: float = 0.85,
) -> str:
    """DuckDB twin of ``quality_rules`` — emits the same five columns
    from a FROM-clause alias ``__w(words)`` the caller provides (see
    the __spark_entry__ QUALITY_RULES_SQL for the full statement)."""
    w = "__w.words"
    nw = f"len({w})"
    mean_wl = (
        f"round(CASE WHEN {nw} > 0 THEN list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform({w}, x -> CAST(len(x) AS BIGINT))), (a,b) -> a + b) * 1.0 "
        f"/ {nw} ELSE 0.0 END, 6)"
    )
    alpha = (
        f"round(CASE WHEN {nw} > 0 THEN len(list_filter({w}, "
        f"x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / {nw} ELSE 0.0 END, 6)"
    )
    # <2 words -> zero bigrams (mirror of _word_ngrams' r6 fix)
    bi = (
        f"(CASE WHEN {nw} >= 2 THEN "
        f"list_transform(generate_series(1, {nw} - 1), "
        f"i -> array_to_string({w}[i:i+1], ' ')) "
        f"ELSE CAST([] AS VARCHAR[]) END)"
    )
    dup2 = (
        f"round(CASE WHEN len({bi}) > 0 THEN 1.0 - "
        f"len(list_distinct({bi})) * 1.0 / len({bi}) ELSE 0.0 END, 6)"
    )
    keep = (
        f"({nw} >= {min_words} AND {nw} <= {max_words} "
        f"AND {mean_wl} >= {min_mean_word_len} AND {mean_wl} <= {max_mean_word_len} "
        f"AND {alpha} >= {min_alpha_word_frac} AND {dup2} <= {max_dup_2gram_frac})"
    )
    return (
        f"{nw} AS n_words, {mean_wl} AS mean_word_len, "
        f"{alpha} AS alpha_word_frac, {dup2} AS dup_2gram_frac, {keep} AS keep"
    )


# ---------------------------------------------------------------------------
# language id (n-gram / marker-word heuristic)

#: tiny per-language marker lists (function words); the heuristic votes
#: by marker hits and falls back to 'und'. Real deployments would swap
#: in fastText/CLD — this keeps the engine dependency-free.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "la", "que", "los", "una"),
}


def lang_id(col: Column) -> Column:
    """Argmax of marker-word hits; ties broken by language code order;
    'und' when nothing matches."""
    words = _words(col)
    scores = [
        (
            code,
            F.size(
                F.array_intersect(words, F.array(*[F.lit(w) for w in markers]))
            ),
        )
        for code, markers in sorted(LANG_MARKERS.items())
    ]
    best_score = F.greatest(*[s for _, s in scores])
    out = F.lit("und")
    for code, s in reversed(scores):  # earlier codes win ties → apply last
        out = F.when((best_score > 0) & (s == best_score), F.lit(code)).otherwise(out)
    return out.alias("lang_pred")


def lang_id_sql(expr: str) -> str:
    w = words_sql(expr)
    score = {
        code: f"len(list_intersect({w}, [{', '.join(chr(39) + m + chr(39) for m in markers)}]))"
        for code, markers in sorted(LANG_MARKERS.items())
    }
    best = f"greatest({', '.join(score.values())})"
    whens = " ".join(
        f"WHEN {s} = __best THEN '{code}'" for code, s in score.items()
    )
    return (
        f"(SELECT CASE WHEN __best = 0 THEN 'und' {whens} ELSE 'und' END "
        f"FROM (SELECT {best} AS __best))"
    )


# ---------------------------------------------------------------------------
# document fingerprinting (polynomial rolling hash)


def char_codes(col: Column) -> Column:
    return F.transform(F.split(col, ""), lambda c: F.ascii(c).cast("long"))


def fingerprint(col: Column) -> Column:
    """Order-sensitive polynomial hash of the full text:
    ``h = fold(h * 31 + code mod 1e9+7)``. Cross-engine deterministic
    (same arithmetic in the DuckDB twin); used for exact-dup detection
    and as the shingle hash in MinHash."""
    return F.aggregate(
        char_codes(col),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * HASH_BASE + x) % HASH_MOD,
    ).alias("fingerprint")


def fingerprint_sql(expr: str) -> str:
    # list_reduce has no initial accumulator — prepend the zero seed.
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(acc, x) -> (acc * {HASH_BASE} + x) % {HASH_MOD})"
    )
