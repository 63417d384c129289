"""Text-analysis columns for large-scale training-data pipelines.

All hot-path functions but one are built-in Catalyst expressions (JVM-side,
codegen, no Python UDFs), so they scale linearly with the scan at 100 TB.
The exception is the Karp-Rabin fingerprint (``rolling_hash`` and
``min_gram_hash``): a per-character fold cannot be vectorized in Catalyst,
where it runs as an interpreted higher-order function doing O(n·L) work per
row, so it is one Arrow-batched pandas UDF over ``kr_window_hashes``. These
go beyond the reference surface (which has no text ops) per the engine's
extension charter (SURVEY.md §7.7).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny high-frequency English stopword set for ratio heuristics.
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]


def normalize_text(col: Column) -> Column:
    """Lowercase, collapse whitespace, trim — canonical form for
    fingerprinting and near-dup shingling."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col: Column) -> Column:
    """Whitespace tokenization → array<string>."""
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column) -> Column:
    """Whitespace token count (0 for empty/blank strings)."""
    return F.when(F.trim(col) == "", F.lit(0)).otherwise(F.size(tokens(col)))


def letter_tokens(col: Column) -> Column:
    """Letter/digit-run tokens of the lowercased text → array<string>.

    Uses ``regexp_extract_all`` with an RE2-safe pattern (no lookarounds),
    so the *identical* pattern runs in DuckDB — the tokenization used by the
    oracle-checked vocabulary/TF-IDF queries.
    """
    return F.regexp_extract_all(F.lower(col), F.lit("[a-z0-9]+"), 0)


def stopword_hits(col: Column, words: list[str] | None = None) -> Column:
    """Total occurrences of stopword tokens (exact token matches)."""
    toks = tokens(F.lower(col))
    wordlist = F.array(*[F.lit(w) for w in (words or STOPWORDS)])
    return F.size(F.filter(toks, lambda t: F.array_contains(wordlist, t)))


def stopword_ratio(col: Column) -> Column:
    """stopword tokens / all tokens — a standard quality-score component."""
    n = token_count(col)
    return F.when(n > 0, stopword_hits(col) / n.cast("double")).otherwise(F.lit(0.0))


def punct_ratio(col: Column) -> Column:
    """Non-alphanumeric, non-space characters / all characters."""
    n = F.length(col)
    punct = F.length(F.regexp_replace(col, r"[A-Za-z0-9\s]", ""))
    return F.when(n > 0, punct / n.cast("double")).otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: length, stopword and punctuation
    signals — the shape of a C4/Gopher-style quality filter."""
    n_tok = token_count(col).cast("double")
    length_ok = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    stop_ok = F.least(stopword_ratio(col) * 5.0, F.lit(1.0))
    punct_ok = F.lit(1.0) - F.least(punct_ratio(col) * 4.0, F.lit(1.0))
    return (length_ok + stop_ok + punct_ok) / F.lit(3.0)


def lang_id(col: Column) -> Column:
    """Heuristic language ID via stopword-family hit counts (en/es/de frame).

    A real deployment swaps in a fastText-style model behind the same column
    contract; the heuristic keeps the operator testable and deterministic.
    """
    toks = tokens(F.lower(col))
    def hits(words: list[str]) -> Column:
        wl = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(wl, t)))

    en = hits(["the", "and", "of", "is", "to"])
    es = hits(["el", "la", "de", "que", "y"])
    de = hits(["der", "die", "und", "das", "ist"])
    return (
        F.when((en >= es) & (en >= de) & (en > 0), "en")
        .when((es >= de) & (es > 0), "es")
        .when(de > 0, "de")
        .otherwise("und")
    )


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.

    Cross-engine reproducible (md5 is standardized), used as the exact-dedup
    key after normalization.
    """
    return F.md5(normalize_text(col))


def bind_once(expr: Column, body) -> Column:
    """Let-binding for Catalyst expressions: evaluate ``expr`` ONCE per row
    and pass the result to ``body`` as a lambda variable.

    ``transform`` over a single-element array is the only way Spark SQL
    expresses "compute this subexpression once, then reuse it": every
    reference inside ``body`` is a lambda-variable lookup of the
    materialized value, not a re-evaluation of the expression tree. This
    matters whenever an expensive expression (a regexp split, a decimal
    fold) must feed an operator that references its input several times —
    ``array_ngrams`` references its array n+2 times, so inlining
    ``split(regexp_replace(...))`` there costs n+2 regexp passes per row
    (measured 2-3× on 8-gram shingling at sf0.1). The price is that the
    bound subtree runs as an interpreted HOF rather than inside
    whole-stage codegen — still strictly cheaper than n redundant regexp
    evaluations, but don't wrap trivially cheap expressions."""
    return F.element_at(F.transform(F.array(expr), body), 1)


def array_ngrams(arr: Column, n: int) -> Column:
    """n-gram shingles (space-joined) of any array<string> column.

    Built by zipping ``n`` shifted copies of the array instead of indexing
    inside a ``transform`` lambda: expressions referenced from inside a
    higher-order-function lambda are re-evaluated **per element**, so the
    caller should pass a pre-projected plain column — or a
    ``bind_once`` lambda variable — when ``arr`` is an expensive
    expression (the zipped form still references ``arr`` n+2 times at the
    top level, once per shift plus the sizes). With the zip, the lambda
    touches only its own struct element.
    """
    if n == 1:
        return arr
    shifted = [arr.alias("t0")] + [
        F.slice(arr, k + 1, F.size(arr)).alias(f"t{k}") for k in range(1, n)
    ]
    count = F.greatest(F.size(arr) - F.lit(n - 1), F.lit(0))
    grams = F.transform(
        F.slice(F.arrays_zip(*shifted), 1, count),
        lambda x: F.concat_ws(" ", *[x[f"t{k}"] for k in range(n)]),
    )
    return F.when(count == 0, F.array().cast("array<string>")).otherwise(grams)


def token_ngrams(col: Column, n: int) -> Column:
    """Token n-gram shingles of the normalized text → array<string>
    (``array_ngrams`` over the whitespace tokens).

    The token array is ``bind_once``-bound: ``array_ngrams`` references
    its input n+2 times, and evaluating the normalize+split regexp chain
    per reference made shingling the scan bottleneck (8-gram corpus scan
    at sf0.1: 1.54 s inline → 0.79 s bound; explicit pre-projection in
    the caller is cheaper still at 0.54 s and remains best for hot
    paths)."""
    if n == 1:
        return array_ngrams(tokens(normalize_text(col)), n)
    return bind_once(
        tokens(normalize_text(col)), lambda toks: array_ngrams(toks, n)
    )


def mean_token_length(arr: Column) -> Column:
    """Mean character length of an array<string> of tokens (0.0 when
    empty) — the Gopher "mean word length" quality signal. Integer sum /
    integer count, divided once in double: bit-identical across engines.
    """
    total = F.aggregate(
        F.transform(arr, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    return F.when(
        F.size(arr) > 0, total / F.size(arr).cast("double")
    ).otherwise(F.lit(0.0))


# Karp-Rabin polynomial rolling-hash parameters. Base 31 over codepoints,
# modulus 2^31-1: accumulator stays < 2^31 so `acc*31 + code` fits a BIGINT
# on every engine — the property that makes the hash cross-engine exact.
ROLLING_BASE = 31
ROLLING_MOD = 2_147_483_647


def _pow_table(base: int, n: int):
    """``[base^0 .. base^n]`` mod ``ROLLING_MOD`` as int64, by repeated
    squaring: each step squares the multiplier and doubles the filled
    prefix (every product < M² < 2^62)."""
    import numpy as np

    out = np.ones(n + 1, dtype=np.int64)
    k, bk = 1, base % ROLLING_MOD
    while k <= n:
        m = min(k, n + 1 - k)
        out[k : k + m] = (out[:m] * bk) % ROLLING_MOD
        bk = (bk * bk) % ROLLING_MOD
        k <<= 1
    return out


def kr_window_hashes(texts, width: int | None = None):
    """The shared Karp-Rabin kernel: for each string of the sequence
    ``texts``, yield an int64 array holding the rolling hash of every
    ``width``-code-point window, in start-offset order.

    A string shorter than ``width`` (or any string when ``width`` is None)
    is one window spanning the whole string, and ``""`` hashes to 0. Each
    value equals the fold ``h = (h*31 + c) mod 2^31-1`` over the window's
    code points, computed in O(n) vectorized integer math per string:
    code points via utf-32, prefix sums of ``c_j·B^-(j+1)``, and window
    differences scaled by ``B^(o+L)`` — every intermediate fits int64
    (terms < 2^52, prefix sums < n·2^31, products < 2^62)."""
    import numpy as np

    M = ROLLING_MOD
    n_max = max(map(len, texts), default=0)
    P = _pow_table(ROLLING_BASE, n_max)
    Q = _pow_table(pow(ROLLING_BASE, M - 2, M), n_max)
    for t in texts:
        n = len(t)
        L = n if width is None else min(width, n)
        c = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
        s = np.zeros(n + 1, dtype=np.int64)
        np.cumsum((c.astype(np.int64) * Q[1 : n + 1]) % M, out=s[1:])
        yield ((s[L:] - s[: n - L + 1]) % M) * P[L : n + 1] % M


def _min_window_hash(col: Column, width: int | None) -> Column:
    """Per row, the minimum of ``kr_window_hashes`` over the string's
    windows, as one Arrow-batched pandas UDF (null in, null out)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _hash(s):
        valid = s.notna().to_numpy()
        mins = np.zeros(len(s), dtype=np.int64)
        mins[valid] = [
            h.min() for h in kr_window_hashes(s[valid].tolist(), width)
        ]
        return pd.Series(pd.arrays.IntegerArray(mins, ~valid))

    return _hash(col)


def rolling_hash(col: Column) -> Column:
    """Karp-Rabin polynomial hash of a whole string:
    ``h = fold(codepoints, h*31 + c mod 2^31-1)`` — the classic rolling-hash
    document fingerprint, reproducible across engines (unlike xxhash/md5
    truncations, the arithmetic is portable integer math).

    Empty strings hash to 0; null stays null.
    """
    return _min_window_hash(col, None)


def min_gram_hash(col: Column, n: int = 8) -> Column:
    """Winnowing-style fingerprint: minimum rolling hash over all character
    ``n``-grams of the string (the min-sampled variant of MOSS winnowing —
    one representative hash per document, robust to local edits).

    Strings shorter than ``n`` fall back to the whole-string hash; empty
    strings hash to 0 and null stays null.
    """
    return _min_window_hash(col, n)


def token_ngram_hashes(col: Column, n: int) -> Column:
    """Token n-gram shingles hashed straight to 64-bit → array<long>.

    The near-dup operators only ever *compare* shingles, so the string form
    is never needed: hashing the zipped token tuple directly
    (``xxhash64(t0 … t(n-1))``) skips the normalize-regexp pass (whitespace
    split subsumes it) and the per-gram string concatenation — ~2.5× faster
    shingling at sf0.1 and strictly less data to explode. Distinctness
    matches the string form modulo 64-bit collisions (~|shingles|²/2⁶⁵ per
    doc, ignored by design).

    Like ``token_ngrams``, the token array is ``bind_once``-bound so the
    whitespace split runs once per row, not once per shifted copy.
    """
    if n == 1:
        # guard blank docs: split('') yields [''], which would hash to a
        # phantom unigram shingle that token_count/token_ngrams treat as
        # absent — blank docs must not pair in unigram dedup paths
        return F.when(
            F.trim(col) == "", F.array().cast("array<long>")
        ).otherwise(
            F.transform(tokens(F.lower(col)), lambda t: F.xxhash64(t))
        )

    def grams_of(toks: Column) -> Column:
        shifted = [toks.alias("t0")] + [
            F.slice(toks, k + 1, F.size(toks)).alias(f"t{k}")
            for k in range(1, n)
        ]
        count = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
        grams = F.transform(
            F.slice(F.arrays_zip(*shifted), 1, count),
            lambda x: F.xxhash64(*[x[f"t{k}"] for k in range(n)]),
        )
        return F.when(count == 0, F.array().cast("array<long>")).otherwise(
            grams
        )

    return bind_once(tokens(F.lower(col)), grams_of)
