"""Text-pipeline scalars as SQL functions on the `/sql` passthrough.

The reference's users reach every operator through SQL (Postgres); the
jsonb family already crossed that bridge (`json_ops.register_sql_functions`).
This module does the same for the text-analysis scalars using Spark 4
**SQL UDFs** (``CREATE TEMPORARY FUNCTION … RETURN <expr>``): the body
is a SQL expression, so invocations inline into the analyzed plan and
stay in whole-stage codegen — no Python worker, unlike a
``spark.udf.register`` wrapper.

Bodies mirror ``operators/text.py`` / ``operators/dedup.py`` exactly
(same constants imported, same folds), so SQL callers and DataFrame
callers get bit-identical results; ``tests/test_text_sql.py`` pins the
equivalence column-by-column.
"""

from __future__ import annotations

from lagoon_spark.operators.text import (
    DEFAULT_LANG_MARKERS,
    MOD,
    MULT,
    PII_RULES,
    STOPWORDS,
)

_TOKS = "filter(split(t, ' '), w -> w <> '')"


def _marker_sql(word: str) -> str:
    needle = f" {word} "
    pad = "(' ' || t || ' ')"
    return (
        f"CAST((length({pad}) - length(replace({pad}, '{needle}', ' ')))"
        f" / {len(needle) - 1} AS BIGINT)"
    )


def _lang_id_sql() -> str:
    # same fold as text.lang_id: iterate sorted langs, strict > wins
    scores = {
        lang: " + ".join(_marker_sql(w) for w in ws)
        for lang, ws in DEFAULT_LANG_MARKERS.items()
    }
    best_l, best_s = "'und'", "CAST(0 AS BIGINT)"
    for lang in sorted(scores):
        s = f"({scores[lang]})"
        best_l = f"CASE WHEN {s} > {best_s} THEN '{lang}' ELSE {best_l} END"
        best_s = f"CASE WHEN {s} > {best_s} THEN {s} ELSE {best_s} END"
    return best_l


def _redact_sql() -> str:
    out = "t"
    for _kind, pat, repl in PII_RULES:
        sql_pat = pat.replace("\\", "\\\\").replace("'", "''")
        out = f"regexp_replace({out}, '{sql_pat}', '{repl}')"
    return out


def _punct_ratio_sql(puncts: str = ".,!?;:") -> str:
    stripped = "t"
    for p in puncts:
        stripped = f"replace({stripped}, '{p}', '')"
    return (
        f"round((length(t) - length({stripped}))"
        f" / greatest(length(t), 1), 6)"
    )


def _gopher_keep_sql() -> str:
    """text.gopher_signals + gopher_keep as one SQL expression (Rae et
    al. 2021 Table A1; word bounds are call arguments, the other
    thresholds are the paper's). transform(array(x), v -> …)[0] is the
    pure-expression "let" used throughout this module."""
    from lagoon_spark.operators.text import GOPHER_STOPWORDS

    stops = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    words = "filter(split(t, '[ \\n]'), x -> x <> '')"
    lines = "filter(split(t, '\\n'), x -> x <> '')"
    return (
        f"transform(array({words}), w -> "
        f"transform(array({lines}), ls -> "
        " size(w) BETWEEN min_words AND max_words"
        " AND round(aggregate(w, CAST(0 AS BIGINT),"
        "   (a, x) -> a + length(x)) / greatest(size(w), 1), 6)"
        "   BETWEEN 3.0 AND 10.0"
        " AND round(size(filter(w, x -> lower(x) rlike '[a-z]'))"
        "   / greatest(size(w), 1), 6) >= 0.8"
        f" AND size(filter(w, x -> lower(x) IN ({stops}))) >= 2"
        " AND round(((length(t) - length(replace(t, '#', '')))"
        "   + (length(t) - length(replace(t, '...', ''))) / 3)"
        "   / greatest(size(w), 1), 6) <= 0.1"
        " AND round(size(filter(ls, l -> l LIKE '- %' OR l LIKE '* %'))"
        "   / greatest(size(ls), 1), 6) <= 0.9"
        " AND round(size(filter(ls, l -> l LIKE '%...'))"
        "   / greatest(size(ls), 1), 6) <= 0.3"
        ")[0])[0]"
    )


def _defs() -> list[tuple[str, str, str, str]]:
    """(name, arg signature, return type, body expression)."""
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    word_fp = (
        f"transform({_TOKS}, w -> aggregate(transform(sequence(1, length(w)), "
        f"i -> ascii(substr(w, i, 1))), CAST(0 AS BIGINT), "
        f"(a, b) -> (a * {MULT} + b) % {MOD}))"
    )
    from lagoon_spark.operators.dedup import minhash_array_sql

    trigrams = (
        "transform(sequence(1, size(toks) - 2), "
        "i -> concat_ws(' ', slice(toks, i, 3)))"
    )
    return [
        (
            "lagoon_token_count",
            "t STRING",
            "BIGINT",
            f"CAST(size({_TOKS}) AS BIGINT)",
        ),
        (
            "lagoon_fingerprint",
            "t STRING",
            "BIGINT",
            f"CASE WHEN length(t) = 0 THEN CAST(0 AS BIGINT) ELSE "
            f"aggregate(transform(sequence(1, least(length(t), 64)), "
            f"i -> ascii(substr(t, i, 1))), CAST(0 AS BIGINT), "
            f"(a, b) -> (a * {MULT} + b) % {MOD}) END",
        ),
        ("lagoon_lang_id", "t STRING", "STRING", _lang_id_sql()),
        (
            "lagoon_stopword_ratio",
            "t STRING",
            "DOUBLE",
            f"round(size(filter({_TOKS}, w -> w IN ({stop_list})))"
            f" / greatest(size({_TOKS}), 1), 6)",
        ),
        (
            "lagoon_mean_token_len",
            "t STRING",
            "DOUBLE",
            f"round((length(t) - (size(split(t, ' ')) - 1))"
            f" / greatest(size({_TOKS}), 1), 6)",
        ),
        ("lagoon_punct_ratio", "t STRING", "DOUBLE", _punct_ratio_sql()),
        (
            "lagoon_normalize",
            "t STRING",
            "STRING",
            r"trim(regexp_replace(lower(t), '\\s+', ' '))",
        ),
        ("lagoon_redact_pii", "t STRING", "STRING", _redact_sql()),
        (
            "lagoon_word_fps",
            "t STRING",
            "ARRAY<BIGINT>",
            word_fp,
        ),
        (
            "lagoon_minhash16",
            "t STRING",
            "ARRAY<BIGINT>",
            # same seeds as dedup.minhash_seeds(16) on the portable
            # hash. transform(array(x), fps -> body)[0] is a pure-
            # expression "let": fps binds once (scalar subqueries and
            # nested SQL-UDF calls are not supported in UDF bodies)
            f"CASE WHEN size({_TOKS}) = 0 THEN CAST(array() AS ARRAY<BIGINT>) "
            f"ELSE transform(array(array_distinct({word_fp})), "
            f"fps -> {minhash_array_sql('fps', 16)})[0] END",
        ),
        (
            "lagoon_c4_clean",
            "t STRING",
            "STRING",
            # corpus.c4_clean's kept-line reassembly (Raffel et al. 2020)
            "concat_ws('\\n', filter(filter(split(t, '\\n'), l -> l <> ''),"
            " l -> (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?'"
            "       OR l LIKE '%\"')"
            " AND size(filter(split(l, ' '), w -> w <> '')) >= 5"
            " AND NOT contains(lower(l), 'javascript')))",
        ),
        (
            "lagoon_c4_keep",
            "t STRING",
            "BOOLEAN",
            # page verdict over the cleaned text. The kept-line filter
            # is REPEATED from lagoon_c4_clean because SQL-UDF bodies
            # cannot call other SQL UDFs (same constraint the
            # lagoon_minhash16 "let" works around); the parity test
            # pins both against corpus.c4_clean so drift fails loudly
            "transform(array("
            "concat_ws('\\n', filter(filter(split(t, '\\n'), l -> l <> ''),"
            " l -> (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?'"
            "       OR l LIKE '%\"')"
            " AND size(filter(split(l, ' '), w -> w <> '')) >= 5"
            " AND NOT contains(lower(l), 'javascript')))"
            "), c -> NOT (contains(lower(t), 'lorem ipsum')"
            " OR contains(t, '{'))"
            " AND (length(c) - length(translate(c, '.!?', '')) >= 3))[0]",
        ),
        (
            "lagoon_gopher_keep",
            "t STRING, min_words BIGINT, max_words BIGINT",
            "BOOLEAN",
            _gopher_keep_sql(),
        ),
        (
            "lagoon_dup_trigram_frac",
            "t STRING",
            "DOUBLE",
            # Gopher repetition signal; sequence(1, 0) counts DOWN in
            # Spark, hence the short-document CASE guard
            f"transform(array({_TOKS}), toks -> "
            f"CASE WHEN size(toks) < 3 THEN 0.0 ELSE "
            f"round(1.0 - size(array_distinct({trigrams}))"
            f" / CAST(size(toks) - 2 AS DOUBLE), 6) END)[0]",
        ),
    ]


def register_text_sql_functions(spark) -> None:
    """Idempotent per session; invalidates the security walker's
    function cache so the new names pass its fail-closed check."""
    if getattr(spark, "_lagoon_text_sql_udfs", False):
        return
    for name, sig, ret, body in _defs():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({sig}) "
            f"RETURNS {ret} RETURN {body}"
        )
    from lagoon_spark import security

    security._session_fn_cache.pop(spark, None)
    spark._lagoon_text_sql_udfs = True
