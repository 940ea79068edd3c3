"""Text analysis operators: token stats, quality scoring, language ID,
document fingerprinting.

All hot-path expressions are built-in Spark SQL functions (JVM-side,
whole-stage-codegen) — no Python UDFs — so they vectorize across
executors and scale linearly with input splits. Each function returns a
Column usable in any select/withColumn.

Two hash flavors are provided where hashing is involved:

* ``portable`` — a 31-multiplier rolling hash mod 1e9+7, reproducible
  in any engine (used by the DuckDB oracle queries);
* ``fast`` — xxhash64, the production path (single JVM intrinsic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MOD = 1_000_000_007
MULT = 31

# languages → marker stopwords for the n-gram/stopword-count heuristic
DEFAULT_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is"),
    "fr": ("le", "la", "et", "est"),
    "de": ("der", "die", "und", "ist"),
    "es": ("el", "los", "y", "es"),
}

STOPWORDS = ("the", "a", "of", "and", "is", "to", "in")


def words(col: str) -> Column:
    """Split on single spaces, keeping duckdb-compatible semantics."""
    return F.split(F.col(col), " ")


def token_count(col: str) -> Column:
    """Number of non-empty whitespace-separated tokens."""
    return F.size(F.filter(words(col), lambda w: w != F.lit("")))


def char_count(col: str) -> Column:
    return F.length(F.col(col))


def marker_count(col: str, word: str) -> Column:
    """Occurrences of ``word`` as a whole token (space-padded count).

    Pure replace/length arithmetic → identical in any SQL engine.
    """
    padded = F.concat(F.lit(" "), F.col(col), F.lit(" "))
    needle = f" {word} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(" "))))
        / (len(needle) - 1)
    ).cast("long")


def stopword_ratio(col: str, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    hits = F.size(
        F.filter(words(col), lambda w: w.isin(*[F.lit(s) for s in stopwords]))
    )
    return F.round(hits / F.greatest(token_count(col), F.lit(1)), 6)


def punct_ratio(col: str, puncts: str = ".,!?;:") -> Column:
    """Fraction of characters that are punctuation."""
    stripped = F.col(col)
    for p in puncts:
        stripped = F.replace(stripped, F.lit(p), F.lit(""))
    n = F.greatest(F.length(F.col(col)), F.lit(1))
    return F.round((F.length(F.col(col)) - F.length(stripped)) / n, 6)


def mean_token_len(col: str) -> Column:
    """Average token length, exact integer arithmetic then one division."""
    nt = F.greatest(token_count(col), F.lit(1))
    total = F.size(words(col)) - 1  # separators
    return F.round((F.length(F.col(col)) - total) / nt, 6)


def lang_scores(col: str, markers: dict[str, tuple[str, ...]] | None = None) -> dict[str, Column]:
    markers = markers or DEFAULT_LANG_MARKERS
    out = {}
    for lang, ws in markers.items():
        score: Column = F.lit(0)
        for w in ws:
            score = score + marker_count(col, w)
        out[lang] = score
    return out


def lang_id(col: str, markers: dict[str, tuple[str, ...]] | None = None) -> Column:
    """argmax of marker-word counts; 'und' when all scores are zero.

    Ties break by language-name order (deterministic). This is the
    classic cheap n-gram/stopword heuristic — a real pipeline would put
    fasttext behind the same signature via mapInPandas.
    """
    markers = markers or DEFAULT_LANG_MARKERS
    scores = lang_scores(col, markers)
    best_lang = F.lit("und")
    best_score = F.lit(0).cast("long")
    for lang in sorted(scores):  # later higher score strictly wins
        cond = scores[lang] > best_score
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(cond, scores[lang].cast("long")).otherwise(best_score)
    return best_lang


def fingerprint(col: str, max_chars: int = 64, mod: int = MOD, mult: int = MULT) -> Column:
    """Rolling polynomial hash of the first ``max_chars`` characters.

    acc_i = (acc_{i-1} * mult + ascii(char_i)) mod ``mod`` — an exact
    integer left fold, reproducible in any engine (the oracle runs the
    same fold via DuckDB list_reduce). Spark's ``sequence(1, 0)``
    counts *down*, so the empty string is special-cased.
    """
    expr = (
        f"CASE WHEN length({col}) = 0 THEN CAST(0 AS BIGINT) ELSE "
        f"aggregate(transform(sequence(1, least(length({col}), {max_chars})), "
        f"i -> ascii(substr({col}, i, 1))), CAST(0 AS BIGINT), "
        f"(a, b) -> (a * {mult} + b) % {mod}) END"
    )
    return F.expr(expr)


def word_fingerprints(col: str, mod: int = MOD, mult: int = MULT) -> Column:
    """Per-token rolling hashes (portable) — the minhash building block."""
    expr = (
        f"transform(filter(split({col}, ' '), w -> w <> ''), "
        f"w -> aggregate(transform(sequence(1, length(w)), "
        f"i -> ascii(substr(w, i, 1))), CAST(0 AS BIGINT), "
        f"(a, b) -> (a * {mult} + b) % {mod}))"
    )
    return F.expr(expr)


#: above this F the coefficient table stops being an expression and
#: becomes DATA: a fastText/CCNet-shaped scorer hashes into millions of
#: bins, and a plan-literal array of that size blows up expression text
#: + codegen (the same ceiling `similarity.IVF_LITERAL_MAX_K` guards
#: for centroids) — larger tables ride a broadcast single-row array
WEIGHTS_LITERAL_MAX_F = 50_000


def _weight_lookup(
    weights: "list[float] | None", weights_col: "str | None"
) -> str:
    """SQL for the weight of fingerprint ``f``: read from the
    ``weights_col`` array column, else from ``weights`` embedded as a
    literal array, else the deterministic pseudo-table."""
    if weights_col is not None:
        return (
            f"element_at({weights_col}, "
            f"CAST(f % size({weights_col}) AS INT) + 1)"
        )
    if weights is None:
        return "(CAST(f % 2001 AS DOUBLE) - 1000.0) / 1000.0"
    arr = ", ".join(f"CAST({float(w)!r} AS DOUBLE)" for w in weights)
    return f"element_at(array({arr}), CAST(f % {len(weights)} AS INT) + 1)"


def packed_weights(
    spark,
    weights: "list[float] | None",
    weights_df: "DataFrame | None",
) -> "DataFrame | None":
    """The weight-carrier tier: ``None`` when the table embeds as a plan
    literal (no ``weights_df`` and F ≤ ``WEIGHTS_LITERAL_MAX_F``),
    otherwise ONE row with the table packed as ``__weights
    array<double>`` for a broadcast join. ``weights_df`` is either the
    packed one-column form or a (bin, weight)-shaped table, packed by
    bin order without touching the driver."""
    if weights_df is None and (
        weights is None or len(weights) <= WEIGHTS_LITERAL_MAX_F
    ):
        return None
    if weights_df is None:
        return spark.createDataFrame(
            [([float(w) for w in weights],)], "__weights array<double>"
        )
    if len(weights_df.columns) == 1:
        return weights_df.select(F.col(weights_df.columns[0]).alias("__weights"))
    b, w = weights_df.columns[:2]
    return weights_df.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col(b), F.col(w)))),
            lambda s: s[w].cast("double"),
        ).alias("__weights")
    )


def hashed_linear_score(
    col: str,
    mod: int = MOD,
    mult: int = MULT,
    weights: "list[float] | None" = None,
    weights_col: "str | None" = None,
) -> Column:
    """Fasttext-style hashed linear text scorer: each token's portable
    rolling-hash fingerprint indexes a weight; the document score is
    ``sigmoid(mean weight)`` rounded to 9 decimals (0.5 = neutral, no
    tokens → exactly 0.5).

    ``weights`` serves REAL trained coefficients: a length-F table
    looked up as ``element_at(weights, fp % F + 1)`` — the feature-
    hashing trick, so any vocabulary serves through a fixed-size
    table. With ``weights=None`` the deterministic pseudo-weight
    ``((fp % 2001) - 1000)/1000`` in [-1, 1] stands in (the
    weight-free demo shape). Either way the PLAN is identical — the
    point of the fastText/CCNet quality-filter serving architecture
    (public method): feature hashing + weight lookup + mean + sigmoid
    as one row-local whole-stage-codegen expression — no shuffle, no
    Python, a pure map over 100 TB. The float fold is order-pinned
    (array order, same in the DuckDB twin), so scores hash-match
    across engines.

    Two weight carriers, same per-row expression (parity-tested):
    ``weights`` embeds the table as a plan LITERAL — right for small
    F, wrong past ``WEIGHTS_LITERAL_MAX_F`` (expression text and
    codegen grow with F); ``weights_col`` reads the table from an
    ``array<double>`` COLUMN a one-row broadcast supplies (see
    :func:`with_hashed_linear_score`), so plan size stays O(1) in F —
    the millions-of-bins fastText serving regime. ``weights_col``
    wins when both are given.
    """
    fps = word_fingerprints(col, mod, mult)
    lookup = _weight_lookup(weights, weights_col)
    sum_w = F.expr(
        f"aggregate(transform(filter(split({col}, ' '), w -> w <> ''), "
        f"w -> aggregate(transform(sequence(1, length(w)), "
        f"i -> ascii(substr(w, i, 1))), CAST(0 AS BIGINT), "
        f"(a, b) -> (a * {mult} + b) % {mod})), CAST(0.0 AS DOUBLE), "
        f"(acc, f) -> acc + {lookup})"
    )
    n = F.size(fps)
    mean = F.when(n > 0, sum_w / n).otherwise(F.lit(0.0))
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-mean)), 9)


def hashed_score_struct(
    col: str,
    mod: int = MOD,
    mult: int = MULT,
    weights: "list[float] | None" = None,
    weights_col: "str | None" = None,
) -> Column:
    """``struct(quality_score, n_tokens)`` of
    :func:`hashed_linear_score` + :func:`token_count` with the
    fingerprint array LET-BOUND through a single-element ``transform``
    so the per-token rolling-hash fold runs exactly once per row.

    The separate-column form re-ran the fold per reference — the
    round-12 q118 plan shows it SIX times per row (score guard, sum,
    mean divisor, each twice again when the keep filter is pushed
    below the projection) — because higher-order expressions are
    outside whole-stage codegen and interpreted subexpression
    elimination skips lambda-bearing subtrees. ``n_tokens`` is
    ``size(fps)``: one fingerprint per non-empty token, identical to
    ``token_count`` by construction. Consumers must materialize the
    struct through a generator barrier before extracting fields.
    Score doubles are bit-identical (same fold, same order, same
    rounding)."""
    lookup = _weight_lookup(weights, weights_col)
    return F.expr(
        f"element_at(transform(array("
        f"transform(filter(split({col}, ' '), w -> w <> ''), "
        f"w -> aggregate(transform(sequence(1, length(w)), "
        f"i -> ascii(substr(w, i, 1))), CAST(0 AS BIGINT), "
        f"(a, b) -> (a * {mult} + b) % {mod}))"
        f"), fps -> named_struct("
        f"'quality_score', round(1.0 / (1.0 + exp(-("
        f"CASE WHEN size(fps) > 0 THEN "
        f"aggregate(fps, CAST(0.0 AS DOUBLE), (acc, f) -> acc + {lookup}) "
        f"/ CAST(size(fps) AS DOUBLE) ELSE 0.0 END))), 9), "
        f"'n_tokens', size(fps))), 1)"
    )


def with_hashed_linear_score(
    df: "DataFrame",
    col: str,
    out_col: str = "quality_score",
    *,
    weights: "list[float] | None" = None,
    weights_df: "DataFrame | None" = None,
    mod: int = MOD,
    mult: int = MULT,
) -> "DataFrame":
    """DataFrame-level :func:`hashed_linear_score` with automatic
    weight-carrier tiering (the centroid pattern from
    ``similarity.ivf_assign``, round-7 verdict ask #2):

    * F ≤ ``WEIGHTS_LITERAL_MAX_F`` → the table embeds as a plan
      literal (cheapest: zero joins);
    * larger F, or an explicit ``weights_df`` → the table crosses the
      plan as ONE broadcast row of ``array<double>`` joined to every
      corpus row, and the identical per-row expression reads it from
      the column — plan text and codegen stay O(1) in F, so a
      2,000,000-bin fastText/CCNet-shaped table serves without
      blowing up Catalyst analysis.

    ``weights_df`` is either the packed one-row ``array<double>``
    form or a (bin, weight)-shaped table — anything else with exactly
    two columns is packed by bin order, never touching the driver
    with more than the packed row. Both tiers stay Python-free and
    shuffle-free over the corpus (a broadcast exchange ships the row;
    the corpus itself never moves)."""
    one = packed_weights(df.sparkSession, weights, weights_df)
    if one is None:
        return df.withColumn(
            out_col, hashed_linear_score(col, mod, mult, weights=weights)
        )
    return (
        df.join(F.broadcast(one))
        .withColumn(
            out_col,
            hashed_linear_score(col, mod, mult, weights_col="__weights"),
        )
        .drop("__weights")
    )


def word_hashes_fast(col: str, seed: int = 42) -> Column:
    """Production path: xxhash64 per distinct token (JVM intrinsic)."""
    return F.expr(
        f"transform(array_distinct(filter(split({col}, ' '), w -> w <> '')), "
        f"w -> xxhash64(w, {seed}))"
    )


# ---------------------------------------------------------------------------
# PII redaction + text normalization (training-corpus cleaning)
# ---------------------------------------------------------------------------
#
# Patterns are deliberately restricted to syntax with identical meaning
# in Java regex (Spark) and RE2 (DuckDB): character classes, bounded
# repetition, \b word boundaries — no lookaround, no backreferences.
# Order matters: EMAIL before IP (an email's host part contains dots),
# SSN/PHONE before IP (digit-group prefixes).

PII_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\+?\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def redact_pii(col: str | Column) -> Column:
    """Replace emails / SSNs / phones / IPv4s with typed placeholders.

    A chain of JVM-side regexp_replace calls — row-local, no shuffle,
    whole-stage-codegen; exactly what a 100 TB cleaning pass wants.
    """
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, repl in PII_RULES:
        c = F.regexp_replace(c, pat, repl)
    return c


def pii_counts(col: str | Column) -> dict[str, Column]:
    """Per-kind match counts (audit/metrics side of a redaction pass)."""
    c = F.col(col) if isinstance(col, str) else col
    return {kind: F.regexp_count(c, F.lit(pat)) for kind, pat, _ in PII_RULES}


def normalize_text(col: str | Column) -> Column:
    """Canonical text form: lowercase, whitespace runs collapsed, trimmed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def char_entropy(col: str | Column) -> Column:
    """Shannon entropy (bits/char) of the character distribution — the
    classic cheap quality signal: degenerate generations and binary
    junk sit at the extremes. Row-local; the fold runs over the SORTED
    distinct characters so accumulation order (and with it the float
    sum) is engine-deterministic; rounded to 6 decimals to absorb any
    ulp difference between libm log2 implementations.
    """
    c = F.col(col) if isinstance(col, str) else col
    chars = F.split(c, "")
    ds = F.array_sort(F.array_distinct(chars))
    n = F.size(chars).cast("double")
    term = lambda ch: (  # noqa: E731
        F.size(F.filter(chars, lambda x: x == ch)).cast("double") / n
    )
    ent = -F.aggregate(
        ds,
        F.lit(0.0),
        lambda acc, ch: acc + term(ch) * F.log2(term(ch)),
    )
    return F.when(F.length(c) <= 0, F.lit(0.0)).otherwise(F.round(ent, 6))


# Gopher (Rae et al. 2021, "Scaling Language Models", Table A1 — public
# method) document-quality rules. The paper's stopword set for the
# "contains >= 2 stopwords" rule:
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _body_words(c: Column) -> Column:
    """Whitespace tokens of a multi-line body (space or newline split)."""
    return F.filter(F.split(c, r"[ \n]"), lambda w: w != F.lit(""))


def _body_lines(c: Column) -> Column:
    return F.filter(F.split(c, "\n"), lambda x: x != F.lit(""))


def gopher_signals(
    col: str | Column, *, stopwords: tuple[str, ...] = GOPHER_STOPWORDS
) -> "dict[str, Column]":
    """The Gopher repetition-free quality signals (Rae et al. 2021,
    Table A1), each a row-local JVM expression over a (possibly
    multi-line) text body:

    * ``n_words`` / ``mean_word_len`` — whitespace word count and mean
      word length (paper keeps 50..100k words, mean length 3..10);
    * ``alpha_word_frac`` — fraction of words containing an alphabetic
      character (paper keeps >= 0.8);
    * ``n_stopwords`` — hits from the paper's 8-word stopword set
      (paper keeps >= 2);
    * ``symbol_word_ratio`` — (# chars + '...' occurrences) / words
      (paper keeps <= 0.1);
    * ``bullet_line_frac`` / ``ellipsis_line_frac`` — fraction of
      lines starting with a bullet ('- ' / '* ') resp. ending with
      '...' (paper keeps <= 0.9 / <= 0.3).

    All ratios are rounded to 6 decimals so both engines emit identical
    doubles; counts are exact integers. Pure map — no shuffle, no
    Python; composes with d18/d31's repetition signals for the full
    Gopher rule set.
    """
    c = F.col(col) if isinstance(col, str) else col
    w = _body_words(c)
    lines = _body_lines(c)
    nw1 = F.greatest(F.size(w), F.lit(1))
    nl1 = F.greatest(F.size(lines), F.lit(1))
    total_word_chars = F.aggregate(
        w, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    hash_chars = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    ellipses = (
        F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))
    ) / 3
    return {
        "n_words": F.size(w).cast("long"),
        "mean_word_len": F.round(total_word_chars / nw1, 6),
        "alpha_word_frac": F.round(
            F.size(F.filter(w, lambda x: F.lower(x).rlike("[a-z]"))) / nw1, 6
        ),
        "n_stopwords": F.size(
            F.filter(w, lambda x: F.lower(x).isin(*stopwords))
        ).cast("long"),
        "symbol_word_ratio": F.round((hash_chars + ellipses) / nw1, 6),
        "bullet_line_frac": F.round(
            F.size(
                F.filter(
                    lines,
                    lambda x: x.startswith("- ") | x.startswith("* "),
                )
            )
            / nl1,
            6,
        ),
        "ellipsis_line_frac": F.round(
            F.size(F.filter(lines, lambda x: x.endswith("..."))) / nl1, 6
        ),
    }


def gopher_keep(
    sig: "dict[str, Column]",
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_frac: float = 0.8,
    min_stopwords: int = 2,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
) -> Column:
    """Conjunction of the Gopher Table-A1 thresholds over
    :func:`gopher_signals` output (defaults are the paper's)."""
    return (
        sig["n_words"].between(min_words, max_words)
        & sig["mean_word_len"].between(min_mean_word_len, max_mean_word_len)
        & (sig["alpha_word_frac"] >= min_alpha_frac)
        & (sig["n_stopwords"] >= min_stopwords)
        & (sig["symbol_word_ratio"] <= max_symbol_ratio)
        & (sig["bullet_line_frac"] <= max_bullet_frac)
        & (sig["ellipsis_line_frac"] <= max_ellipsis_frac)
    )


URL_PATTERN = r"(?i)https?://[^\s]+"


def extract_urls(col: str | Column) -> Column:
    """All http(s) URLs in the text (order preserved). The pattern is
    deliberately RE2/Java-common so the DuckDB oracle runs the same
    automaton."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(URL_PATTERN), 0)


def canonicalize_url(col: str | Column) -> Column:
    """Canonical URL form: fragment stripped, scheme+host lowercased
    (path/query case preserved — paths are case-sensitive), default
    ports removed (:80 for http, :443 for https), trailing path
    slashes dropped. Pure string expressions with no regex backrefs —
    replacement syntax is the one regex feature Java and RE2 disagree
    on, so the oracle can mirror every step verbatim."""
    c = F.col(col) if isinstance(col, str) else col
    u1 = F.substring_index(c, "#", 1)  # strip fragment
    scheme_host = F.regexp_extract(u1, r"(?i)^https?://[^/?]+", 0)
    rest = F.substring(u1, F.length(scheme_host) + 1, F.length(u1))
    sh = F.lower(scheme_host)
    sh = (
        F.when(sh.rlike("^http://.*:80$"), F.substring(sh, 1, F.length(sh) - 3))
        .when(sh.rlike("^https://.*:443$"), F.substring(sh, 1, F.length(sh) - 4))
        .otherwise(sh)
    )
    rest = F.regexp_replace(rest, r"/+$", "")
    return F.concat(sh, rest)
