"""Text-analysis column builders (all JVM-side built-ins — no Python in
the hot path).

These are the building blocks for the training-data-pipeline operators
(dedup, fingerprinting, quality scoring): tokenization, n-gram
shingling, stopword/marker scoring. Everything returns Column
expressions that stay inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Stopword markers per language for the n-gram/marker lang-id heuristic
#: and for quality scoring. Deliberately tiny + deterministic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is"),
    "es": ("el", "la", "de", "los", "y", "que"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "les", "et", "est", "un"),
}

STOPWORDS: tuple[str, ...] = LANG_MARKERS["en"]


#: The cross-engine tokenizer contract, as DuckDB SQL. Every oracle that
#: tokenizes ``documents.text`` MUST use this exact form so that the two
#: engines can never disagree on token boundaries, whatever whitespace
#: the corpus contains. See :func:`tokens` for the history.
TOKENS_SQL = "list_filter(string_split({col}, ' '), x -> x <> '')"


def tokens_sql(col: str = "text") -> str:
    """The oracle-side twin of :func:`tokens` (DuckDB SQL fragment)."""
    return TOKENS_SQL.format(col=col)


#: ASCII-only case folding, the cross-engine contract for every case-
#: insensitive key in the catalog. Unicode case mapping is ENGINE-
#: SPECIFIC the same way libm and \s were: measured on this container,
#: Spark/Java lower('\u0130') = 'i' + combining dot (2 codepoints)
#: while DuckDB returns 'i', and Spark applies the Greek final-sigma
#: context rule ('\u03a3' -> '\u03c2' word-finally) while DuckDB maps
#: every sigma to '\u03c3'. translate() over the 26 ASCII letters is
#: bit-identical everywhere and leaves non-ASCII untouched in BOTH
#: engines — deterministic by construction, no locale anywhere.
ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"


def ascii_fold(col: str | Column) -> Column:
    """Lower-case the 26 ASCII letters only (see :data:`ASCII_UPPER`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(c, ASCII_UPPER, ASCII_LOWER)


def tokens(text_col: str | Column = "text") -> Column:
    """Shared tokenizer contract: split on a SINGLE LITERAL SPACE and
    drop empty tokens.

    This is deliberately NOT ``\\s+``: the r12 driver run proved that
    pairing a Java-regex ``\\s+`` splitter in Spark with a literal
    ``string_split(text, ' ')`` in the DuckDB oracles is a latent
    divergence class — the two agree only while the corpus happens to
    contain no tabs/newlines/unicode whitespace, and a fixture
    regeneration with one stray tab flips every token-count hash at
    once (q_entropy_quality's r12 red row). Regex shorthand classes
    are themselves engine-specific (Java ``\\s`` includes U+000B, RE2's
    does not), so the contract avoids regex entirely: one literal
    space, empties filtered. Both engines implement it exactly —
    Spark here, DuckDB via :data:`TOKENS_SQL` — and runs of spaces /
    leading / trailing whitespace behave identically by construction.
    ``tests/test_tokenizer_contract.py`` holds the adversarial parity
    property test.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(c, " ", -1), lambda t: t != F.lit(""))


def bpe_ish_tokens(text_col: str | Column = "text") -> Column:
    """BPE-ish subword-boundary token count basis: split on transitions
    (non-alnum boundaries), the regex analog of a byte-pair pre-tokenizer.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(
        F.split(c, r"[^0-9A-Za-z]+"), lambda t: t != F.lit("")
    )


def shingles(tokens_col: Column, n: int) -> Column:
    """Word n-gram shingles as an array<string>.

    Pure higher-order-function expression (transform over sequence +
    slice + array_join): stays JVM-side. Guards the short-document case
    because ``sequence(1, 0)`` would generate a DESCENDING sequence in
    Spark rather than an empty one.
    """
    make = F.transform(
        F.sequence(F.lit(1), F.size(tokens_col) - (n - 1)),
        lambda i: F.array_join(F.slice(tokens_col, i, n), " "),
    )
    return F.when(F.size(tokens_col) >= n, make).otherwise(
        F.array().cast("array<string>")
    )


def marker_hits(tokens_col: Column, markers: tuple[str, ...]) -> Column:
    """Count of tokens that appear in ``markers`` (with multiplicity —
    array_intersect would dedupe, so filter+size instead)."""
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(tokens_col, lambda t: F.array_contains(arr, t)))


def predicted_lang(tokens_col: Column) -> Column:
    """Marker-scoring language-ID heuristic.

    Deterministic argmax with a fixed preference order on ties
    (en > es > de > fr), 'und' when no marker hits at all — the tie
    policy IS part of the operator contract so the DuckDB oracle can
    reproduce it exactly.
    """
    scores = {lang: marker_hits(tokens_col, m) for lang, m in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # build reversed so earlier langs win ties
    for lang in reversed(list(LANG_MARKERS)):
        expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
    return F.when(best == 0, F.lit("und")).otherwise(expr)


def sql_predicted_lang(tokens_sql: str) -> str:
    """DuckDB twin of :func:`predicted_lang` over a list-typed SQL
    expression ``tokens_sql``."""

    def hits(markers: tuple[str, ...]) -> str:
        inlist = ", ".join(f"'{m}'" for m in markers)
        return f"len(list_filter({tokens_sql}, t -> t IN ({inlist})))"

    s = {lang: hits(m) for lang, m in LANG_MARKERS.items()}
    best = f"greatest({s['en']}, {s['es']}, {s['de']}, {s['fr']})"
    return f"""
        CASE WHEN {best} = 0 THEN 'und'
             WHEN {s['en']} = {best} THEN 'en'
             WHEN {s['es']} = {best} THEN 'es'
             WHEN {s['de']} = {best} THEN 'de'
             ELSE 'fr' END
    """


# --- rolling-hash fingerprinting (Rabin-Karp + winnowing) -----------------

RK_BASE = 1_000_003
RK_MOD = (1 << 61) - 1


def rolling_hashes(token_list: list[str], n: int = 3) -> list[int]:
    """Rabin-Karp rolling hashes of every token n-gram.

    Each token contributes the first 64 bits of its md5 (mod M); the
    window hash rolls in O(1) per step:
    h' = (h - t_out·B^(n-1))·B + t_in (mod M).
    Pure-python reference used by the Spark kernel and by tests.

    md5 rather than blake2b as the per-token value so the DuckDB oracle
    can reproduce fingerprints exactly (md5 + hex-nibble arithmetic is
    DuckDB-expressible; blake2b is not) — the same move that made the
    SimHash oracle exact. The oracle needs no recurrence: the window
    hash equals the direct polynomial (v_i·B² + v_{i+1}·B + v_{i+2})
    mod M, computable per window in 128-bit arithmetic.
    """
    import hashlib

    if len(token_list) < n:
        return []
    vals = [
        int(hashlib.md5(t.encode()).hexdigest()[:16], 16) % RK_MOD
        for t in token_list
    ]
    top = pow(RK_BASE, n - 1, RK_MOD)
    h = 0
    for v in vals[:n]:
        h = (h * RK_BASE + v) % RK_MOD
    out = [h]
    for i in range(n, len(vals)):
        # python % is non-negative, so the subtraction can't go sour
        h = ((h - vals[i - n] * top) * RK_BASE + vals[i]) % RK_MOD
        out.append(h)
    return out


def winnow(hashes: list[int], window: int = 4) -> list[int]:
    """Winnowing (Schleimer et al.): keep the min hash of every
    consecutive window; dedupe consecutive repeats. Guarantees at least
    one fingerprint per window of the document — the standard
    plagiarism/near-dup fingerprint selection."""
    if not hashes:
        return []
    if len(hashes) <= window:
        return [min(hashes)]
    out: list[int] = []
    for i in range(len(hashes) - window + 1):
        m = min(hashes[i : i + window])
        if not out or out[-1] != m:
            out.append(m)
    return out


def bm25_term_score(tf, df, dl, n_docs, total_tokens):
    """The engine's single BM25 per-(doc, term) score expression
    (k1=1.2, b=0.75, the Lucene-style +1 idf floor): computed in
    DOUBLE, rounded to the 1e-6 grid, cast DECIMAL(18,6) for exact
    summation. ONE definition shared by the live pipeline
    (plans/llm._bm25_top), the standing-query stream, and the written
    postings index (operators/postings.py), so offline scoring,
    online scoring, and index serving cannot drift — any caller
    passes its own column/literal operands."""
    from pyspark.sql import functions as F

    tf_d = tf.cast("double")
    df_d = df.cast("double")
    n_d = n_docs.cast("double")
    return F.round(
        F.log(
            ((n_d - df_d + F.lit(0.5)) / (df_d + F.lit(0.5)))
            + F.lit(1.0)
        )
        * (tf_d * F.lit(2.2))
        / (
            tf_d
            + F.lit(1.2)
            * (
                F.lit(0.25)
                + F.lit(0.75)
                * ((dl.cast("double") * n_d) / total_tokens.cast("double"))
            )
        ),
        6,
    ).cast("decimal(18,6)")
