"""Text-analysis operators: tokenization, quality, language ID.

All expressions stay JVM-side (whole-stage codegen); the regex subset
used is portable between Java regex and RE2 so the same logic can be
oracle-checked in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Stopword lists for the n-gram language-ID heuristic. Deliberately
# tiny: the operator demonstrates the scalable shape (per-language
# regex hit counts + argmax); swap in real frequency tables for
# production use.
LANG_STOPWORDS = {
    "en": ["the", "and", "is", "of", "to", "with", "for"],
    "fr": ["le", "la", "les", "et", "est", "de", "un", "une"],
    "de": ["der", "die", "das", "und", "ist", "von", "ein"],
    "es": ["el", "los", "las", "es", "de", "un", "una", "y"],
}

QUALITY_STOPWORDS = ["the", "a", "an", "and", "of", "to", "in", "is"]

# ASCII-only case fold. lower() is locale/library-sensitive on
# non-ASCII (Java folds Turkish İ to i+combining-dot and final Greek
# Σ to ς context-sensitively; DuckDB's utf8proc differs on both —
# caught by the unicode adversarial twin), while every token class in
# this engine is [a-z0-9], so non-ASCII letters never enter tokens
# anyway. translate() is a locale-free per-codepoint map with
# identical semantics in Spark and DuckDB, making tokenization
# engine-portable BY CONSTRUCTION on any input.
ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"


def ascii_lower(text: Column) -> Column:
    """Locale-free A-Z -> a-z fold (see module constant rationale)."""
    return F.translate(text, ASCII_UPPER, ASCII_LOWER)


def token_array(text: Column) -> Column:
    """Whitespace tokens, empties removed (handles leading/trailing
    whitespace identically to pandas .str.split())."""
    return F.filter(F.split(text, r"\s+"), lambda x: x != "")


def token_count(text: Column) -> Column:
    return F.size(token_array(text))


def _hits(text: Column, pattern: str) -> Column:
    """Occurrence count of a regex — via regexp_extract_all + size,
    which is portable to DuckDB (unlike regexp_count)."""
    return F.size(F.regexp_extract_all(text, F.lit(pattern), F.lit(0)))


def _stop_hits(text: Column, words: list[str]) -> Column:
    """Stopword occurrence count as TOKEN MEMBERSHIP over maximal
    [a-z0-9_] runs — identical to ``\\b(w1|w2)\\b`` on ASCII text, but
    engine-portable on arbitrary input: Java's \\b is Unicode-aware
    (a combining mark after 'de' suppresses the boundary) while RE2's
    is ASCII-only, so the two engines disagree exactly where a
    multilingual corpus puts diacritics (unicode adversarial twin).
    ``text`` must already be ascii_lower-folded."""
    toks = F.regexp_extract_all(text, F.lit("[a-z0-9_]+"), F.lit(0))
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def quality_metrics(df: DataFrame, text: Column) -> DataFrame:
    """Per-document quality signals: token count, char count, digit /
    punctuation / stopword hit counts. Downstream ratios + gates are
    simple arithmetic over these."""
    return df.select(
        "*",
        token_count(text).alias("n_tokens"),
        F.length(text).alias("n_chars_x"),
        _hits(text, "[0-9]").alias("n_digits"),
        _hits(text, "[.,!?;:]").alias("n_punct"),
        _stop_hits(ascii_lower(text), QUALITY_STOPWORDS).alias("n_stopwords"),
    )


def language_scores(df: DataFrame, text: Column) -> DataFrame:
    """Per-language stopword-hit scores (s_en, s_fr, ...). The argmax
    over these is the predicted language."""
    cols = ["*"]
    lowered = ascii_lower(text)
    for lang, words in LANG_STOPWORDS.items():
        cols.append(_stop_hits(lowered, words).alias(f"s_{lang}"))
    return df.select(*cols)


def fingerprint(text: Column) -> Column:
    """md5 fingerprint over whitespace-normalized lowercase text."""
    return F.md5(ascii_lower(F.trim(F.regexp_replace(text, r"\s+", " "))))


# ---------------------------------------------------------------------------
# Distributed BPE vocabulary learning (merge-pair training)
# ---------------------------------------------------------------------------

def _wrapped_word(word: Column) -> Column:
    """Encode a word as its per-character symbol string ``(c)(a)(t)``.
    Each symbol carries its OWN delimiters, so a plain non-regex
    ``replace(v, '(a)(b)', '(ab)')`` implements exactly the greedy
    leftmost non-overlapping BPE merge: adjacent occurrences keep
    their parens (no shared-separator consumption bug), and a symbol
    can never false-match inside a longer one (symbols are [a-z]+,
    parens never occur inside). ``replace`` has identical
    leftmost/continue-after-replacement semantics in Spark and
    DuckDB, which is what makes the merge loop SQL-replayable."""
    return F.regexp_replace(word, "(.)", "($1)")


def _symbols(v: str) -> str:
    """SQL fragment: symbol array of a wrapped-word expression."""
    return f"split(substring({v}, 2, length({v}) - 2), '\\\\)\\\\(')"


def bpe_learn_merges(
    df: DataFrame,
    text: Column,
    k: int = 6,
) -> DataFrame:
    """Learn the first ``k`` BPE merge rules over a corpus — the
    TRAINING side of byte-pair encoding (the reference-adjacent
    tokenizer ops only APPLY a fixed tokenization; a training-data
    pipeline also has to fit the vocabulary).

    Scale shape: the only corpus-sized pass is the word-frequency
    aggregation (map-side-combinable hash-agg onto the distinct
    ASCII-lowercase words — bounded by the language's vocabulary, not
    the corpus). That table is localCheckpointed once; each of the k
    rounds then runs one tiny job on it (re-applying the r-1 learned
    replaces lazily, counting weighted adjacent pairs, collecting the
    single argmax row — a |1|-sized driver action, same bounded-
    collect contract as the k-means codebook training). At 100 TB the
    vocab table is millions of rows; a round's pair-agg over it is
    seconds of cluster work.

    Deterministic: integer pair counts; argmax ties broken by
    (lhs, rhs) ascending — bit-replayable by the DuckDB oracle's CTE
    chain (queries_text.q_doc_bpe_learn).

    Returns DataFrame[merge_rank int, lhs, rhs, merged string,
    pair_count bigint], at most k rows (fewer if the corpus runs out
    of repeated pairs).
    """
    merges, _, _ = _bpe_train(df, text, k)
    return df.sparkSession.createDataFrame(
        merges,
        "merge_rank int, lhs string, rhs string, merged string, pair_count bigint",
    )


def _bpe_train(df: DataFrame, text: Column, k: int):
    """Shared BPE training loop: returns ``(merges, vocab, v_expr)``
    where merges is the [(rank, lhs, rhs, merged, count)] list, vocab
    the checkpointed (v, f) word-frequency table, and v_expr the SQL
    expression applying every learned merge to ``v``."""
    words = df.select(
        F.explode(
            F.regexp_extract_all(ascii_lower(text), F.lit("[a-z]+"), F.lit(0))
        ).alias("w")
    )
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .select(_wrapped_word(F.col("w")).alias("v"), "f")
        .localCheckpoint()
    )
    v_expr = "v"
    merges: list[tuple[int, str, str, str, int]] = []
    for r in range(1, k + 1):
        syms = _symbols(v_expr)
        pair_rows = (
            vocab.select(
                "f",
                F.explode(
                    F.expr(
                        f"zip_with(slice({syms}, 1, size({syms}) - 1), "
                        f"slice({syms}, 2, size({syms}) - 1), "
                        "(a, b) -> struct(a AS lhs, b AS rhs))"
                    )
                ).alias("p"),
            )
            .groupBy("p.lhs", "p.rhs")
            .agg(F.sum("f").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "lhs", "rhs")
            .limit(1)
            .collect()
        )
        if not pair_rows:
            break
        lhs, rhs, cnt = pair_rows[0]["lhs"], pair_rows[0]["rhs"], pair_rows[0]["cnt"]
        merges.append((r, lhs, rhs, lhs + rhs, int(cnt)))
        v_expr = f"replace({v_expr}, '({lhs})({rhs})', '({lhs}{rhs})')"
    return merges, vocab, v_expr


def bpe_encode_tokens(
    df: DataFrame,
    text: Column,
    k: int = 6,
) -> DataFrame:
    """APPLY side of BPE: train the first ``k`` merges (same loop as
    ``bpe_learn_merges``), apply them to every word and return the
    resulting subword vocabulary with weighted corpus frequencies —
    DataFrame[token string, n_tokens bigint]. One extra
    vocabulary-bounded aggregation on top of training; the merged
    symbol explode is bounded by total characters, not corpus rows.
    """
    _, vocab, v_expr = _bpe_train(df, text, k)
    return (
        vocab.selectExpr(f"{_symbols(v_expr)} AS syms", "f")
        .select(F.explode("syms").alias("token"), "f")
        .groupBy("token")
        .agg(F.sum("f").cast("bigint").alias("n_tokens"))
    )
