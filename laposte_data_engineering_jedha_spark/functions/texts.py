"""Text-analysis expression layer for the 100 TB training-data pipeline ops.

Every function returns a Catalyst `Column`, in two families:

- expression builders over higher-order array functions
  (`transform`/`aggregate`/`filter`) and built-in string/hash functions,
  which run in the JVM with no Python worker (tokenizing, token counting,
  SimHash, fingerprinting, language ID, quality scores);
- the `pd_*` kernels: Arrow-batched Pandas UDFs that compute in numpy
  (shingles, MinHash signatures, entropy, winnowing, Zipf fits), used
  where the per-element lambda interpreter is the bottleneck; each is
  the twin of a DuckDB fragment its oracle uses. Both families are
  per-row compute with no shuffle.

Cross-engine determinism: every hash bottoms out in `md5` (identical in
Spark and DuckDB), lifted to a 32-bit int via the first 8 hex chars, so
the DuckDB oracle reproduces signatures bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

# MinHash parameters — small-prime linear hash family over the md5-derived
# 32-bit shingle hash: h_j(x) = (x * A_j + B_j) % MERSENNE31.
MERSENNE31 = 2_147_483_647  # 2^31 - 1
MINHASH_PERMS = 16
MINHASH_BANDS = 4  # 4 bands x 4 rows: ~P(collide) = 1-(1-j^4)^4
SHINGLE_WIDTH = 3
# 60 bits = 15 md5 hex chars — the widest hash that stays inside a signed
# BIGINT in both engines. 32 bits is too small a space for simhash on short
# same-domain docs: vocabulary correlation + birthday collisions flood the
# candidate set at >=100k docs (measured in SCALE.md).
SIMHASH_BITS = 60
FINGERPRINT_MOD = 1_000_000_007

STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"],
    "fr": ["le", "la", "de", "et", "un", "une", "les", "des", "en", "du"],
    "es": ["el", "la", "de", "y", "un", "una", "los", "en", "que", "del"],
    "de": ["der", "die", "das", "und", "ein", "eine", "von", "mit", "zu", "im"],
    "zh": ["de", "shi", "le", "zai", "he", "you", "wo", "ta", "zhe", "bu"],
}
LANG_TIEBREAK = ["en", "fr", "es", "de", "zh"]  # deterministic argmax order

TOKEN_SPLIT_RE = r"\s+"
# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol
# (the shape GPT-2-style pre-tokenization produces, minus unicode classes).
BPE_TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def md5int32(col: Column | str) -> Column:
    """First 8 hex chars of md5 as a BIGINT in [0, 2^32) — the portable hash
    primitive (DuckDB twin: `CAST('0x' || substr(md5(x),1,8) AS BIGINT)`)."""
    return F.conv(F.substring(F.md5(_c(col)), 1, 8), 16, 10).cast("long")


def md5int60(col: Column | str) -> Column:
    """First 15 hex chars of md5 as a BIGINT in [0, 2^60) — the wide variant
    for simhash, where 32 bits of space is not enough (see SIMHASH_BITS)."""
    return F.conv(F.substring(F.md5(_c(col)), 1, 15), 16, 10).cast("long")


def tokens(col: Column | str) -> Column:
    """Lower-cased whitespace tokens of trimmed text."""
    return F.split(F.trim(F.lower(_c(col))), TOKEN_SPLIT_RE)


def bigrams(tokens_col: Column) -> Column:
    """Adjacent-pair bigram strings of a token array, via zip_with of the
    array against its own tail — O(n) per row with two vectorized slices.
    The index-HOF form (transform(sequence(1, n-1), i -> concat_ws(' ',
    slice(t, i, 2)))) re-walks the array per index and measured 4x
    slower at sf1 (28 -> 7 s for the 2.6M-bigram explode)."""
    n1 = F.greatest(F.size(tokens_col) - 1, F.lit(0))
    return F.zip_with(
        F.slice(tokens_col, 1, n1),
        F.slice(tokens_col, 2, n1),
        lambda a, b: F.concat_ws(" ", a, b),
    )


def token_count(col: Column | str) -> Column:
    """Whitespace token count ('' -> 0)."""
    t = F.trim(_c(col))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, TOKEN_SPLIT_RE)))


def bpe_token_count(col: Column | str) -> Column:
    """Count of BPE-style pre-tokens (letter runs / digit runs / symbols)."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(BPE_TOKEN_RE), 0))


def lsh_bands(sig: Column, bands: int = MINHASH_BANDS) -> Column:
    """Split a MinHash signature into `bands` (band_idx, band_key) structs;
    band_key packs the band's rows into one string. Docs sharing any band
    key are near-dup candidates — explode + equi-join on the key turns the
    O(n^2) pair search into a hash-partitioned bucket join."""
    rows = MINHASH_PERMS // bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.concat_ws("_", F.slice(sig, b * rows + 1, rows)).alias("key"),
        ),
    )


def simhash(hashes: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash (Charikar 2002) over 32-bit token/shingle hashes: bit b is the
    sign of sum(+-1) of bit b across hashes; packed MSB-first into a BIGINT.
    Pure per-row array math — no shuffle, vectorizable, oracle-reproducible.

    SINGLE-PASS over the hash array: one `aggregate` carrying a `bits`-wide
    vote accumulator (a per-bit formulation re-evaluates the md5 token
    pipeline `bits` times after Catalyst project-collapse). Bit b of h is
    extracted as `(h % 2^(b+1)) >= 2^b` in pure LONG arithmetic — the 2^b
    literals come from pow() (exact: powers of two) cast to long, so this
    stays exact for 60-bit hashes where a float division would lose low
    bits (doubles only hold 53)."""

    def bit_vote(h, b):
        p_b = F.pow(F.lit(2.0), b).cast("long")
        return F.when(h % (p_b * 2) >= p_b, 1).otherwise(-1)

    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(bits - 1)),
                lambda b: bit_vote(h, b),
            ),
            lambda a, c: a + c,
        ),
    )
    return F.aggregate(
        F.transform(
            votes,
            lambda v: F.when(v >= 0, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc * 2 + x,
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two packed hash longs via bit_count(xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def rolling_fingerprint(col: Column | str) -> Column:
    """Order-sensitive document fingerprint: polynomial rolling hash
    `acc = (acc*31 + md5int32(token)) % 1e9+7` over the token stream.
    Distinguishes permutations (unlike set-based MinHash)."""
    return F.aggregate(
        F.transform(tokens(col), md5int32),
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 31 + h) % FINGERPRINT_MOD,
    )


# --- Arrow-batched signature kernels -----------------------------------------
#
# Tokenization, shingling and md5 hashing stay JVM-side (regex/byte-level
# parity with the SQL oracle is exact there); only the hash->signature
# arithmetic — pure int64 math, bit-exact in numpy — moves into a
# vectorized Pandas UDF, ~20x faster than the equivalent HOF chain because
# the per-element lambda interpreter drops out. Each kernel computes the
# values of the DuckDB fragment named in its docstring bit-for-bit.


def pd_shingles(tokens_col: Column | str, n: int = SHINGLE_WIDTH) -> Column:
    """Arrow-batched twin of the oracle fragment `queries.SQL_SHINGLES`:
    distinct word n-grams of a JVM-tokenized array (tokenization stays in
    Spark so the regex semantics match the SQL oracle exactly; ' '-joining
    is byte-identical in Python). Element ORDER is a Python set's — every
    consumer is set-semantic (explode+join, size, intersect), so order is
    immaterial."""

    @pandas_udf("array<string>")
    def kernel(s: pd.Series) -> pd.Series:
        out = []
        for toks in s:
            tl = list(toks)
            out.append(list({" ".join(tl[i : i + n]) for i in range(len(tl) - n + 1)}))
        return pd.Series(out)

    return kernel(_c(tokens_col))


def pd_shingle_hashes(tokens_col: Column | str, n: int = SHINGLE_WIDTH) -> Column:
    """Arrow-batched twin of `queries.sql_md5i` over each of
    `queries.SQL_SHINGLES`, on a JVM-tokenized array: hashlib.md5 over
    UTF-8 bytes == Spark/DuckDB md5, first 8 hex chars as int — identical
    values, ~5x faster than an interpreted HOF chain."""
    import hashlib

    @pandas_udf("array<long>")
    def kernel(s: pd.Series) -> pd.Series:
        out = []
        for toks in s:
            tl = list(toks)
            grams = {" ".join(tl[i : i + n]) for i in range(len(tl) - n + 1)}
            out.append(
                [int(hashlib.md5(g.encode("utf-8")).hexdigest()[:8], 16) for g in grams]
            )
        return pd.Series(out)

    return kernel(_c(tokens_col))


def pd_token_hashes(tokens_col: Column | str, hex_chars: int = 8) -> Column:
    """Arrow-batched md5-prefix hash over each token of a JVM-tokenized
    array (non-distinct — SimHash weights by frequency). `hex_chars=8`
    mirrors md5int32; 15 mirrors md5int60."""
    import hashlib

    @pandas_udf("array<long>")
    def kernel(s: pd.Series) -> pd.Series:
        return pd.Series(
            [
                [
                    int(hashlib.md5(t.encode("utf-8")).hexdigest()[:hex_chars], 16)
                    for t in toks
                ]
                for toks in s
            ]
        )

    return kernel(_c(tokens_col))


def pd_minhash_signature(hashes: Column | str, perms: int = MINHASH_PERMS) -> Column:
    """MinHash signature, Arrow-batched twin of the oracle fragment
    `queries._SQL_SIG`: per permutation j, min over shingle hashes of
    `(x*(2j+3) + (j*j+7)) % (2^31-1)`. Empty shingle sets sign as all
    MERSENNE31 (matches nothing). Array of `perms` BIGINTs per row — the
    classic MinHash estimator of Jaccard similarity (Broder 1997)."""
    a = np.array([j * 2 + 3 for j in range(perms)], dtype="int64")
    b = np.array([j * j + 7 for j in range(perms)], dtype="int64")

    @pandas_udf("array<long>")
    def kernel(s: pd.Series) -> pd.Series:
        out = []
        for h in s:
            hv = np.asarray(h, dtype="int64")
            if len(hv) == 0:
                out.append(np.full(perms, MERSENNE31, dtype="int64"))
            else:
                out.append(((hv[:, None] * a + b) % MERSENNE31).min(axis=0))
        return pd.Series(out)

    return kernel(_c(hashes))


def pd_simhash(hashes: Column | str, bits: int = SIMHASH_BITS) -> Column:
    """Arrow-batched twin of `simhash` (identical values)."""
    # vote for bit b carries weight 2^(bits-1-b): the HOF version packs the
    # b=0 vote as the MSB (aggregate acc*2+x over b ascending)
    weights = 1 << np.arange(bits - 1, -1, -1, dtype="int64")

    @pandas_udf("long")
    def kernel(s: pd.Series) -> pd.Series:
        out = np.zeros(len(s), dtype="int64")
        for i, h in enumerate(s):
            hv = np.asarray(h, dtype="int64")
            if len(hv) == 0:
                continue
            ones = ((hv[:, None] >> np.arange(bits, dtype="int64")) & 1).sum(axis=0)
            votes = 2 * ones - len(hv)  # (+1 per set bit, -1 per clear bit)
            out[i] = int((weights * (votes >= 0)).sum())
        return pd.Series(out)

    return kernel(_c(hashes))


# PII patterns kept to constructs with identical semantics in Java regex
# (Spark) and RE2 (DuckDB oracle): explicit character classes, greedy
# quantifiers, no lookaround/backreferences. Redaction order matters:
# emails first (they contain digits/dots), then IPs (dotted digits would
# otherwise be half-eaten by the phone arm), then phone-like digit runs.
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_IP_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
PII_PHONE_RE = "\\+?[0-9][-0-9() ]{6,}[0-9]"
PII_RULES = [
    (PII_EMAIL_RE, "<EMAIL>"),
    (PII_IP_RE, "<IP>"),
    (PII_PHONE_RE, "<PHONE>"),
]


def redact_pii(col: Column | str) -> Column:
    """Rule-based PII scrub: replace emails, IPv4 addresses, and phone-like
    digit runs with typed placeholder tags. Pure chained `regexp_replace`
    — map-side, codegen'd, zero shuffle; the shape of the compliance
    scrub pass every training-data pipeline runs before tokenization.
    (An NER-model scrub would be a Pandas-UDF drop-in at the same spot.)"""
    out = _c(col)
    for pattern, tag in PII_RULES:
        out = F.regexp_replace(out, pattern, tag)
    return out


def stopword_hits(col: Column | str, lang: str) -> Column:
    """Number of tokens that are stopwords of `lang`."""
    words = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens(col), lambda t: F.array_contains(words, t)))


def lang_id(col: Column | str) -> Column:
    """Stopword-voting language ID: argmax over per-language stopword hit
    counts, ties broken by LANG_TIEBREAK order; no hits at all -> 'und'.
    The cheap first-pass filter of a corpus pipeline (fastText et al. would
    be a Pandas-UDF drop-in; this stays JVM-side).

    Single-pass shape: one `aggregate` walks the token array once,
    accumulating all per-language counts into one int array; the argmax
    runs in the aggregate's `finish` lambda, where the accumulator is a
    bound variable — so tokens() is evaluated exactly once per row.
    (The naive per-language greatest/when chain re-evaluated the
    tokenize+filter subtree up to 2x per language: measured ~1.9x slower
    at sf0.1.) array_position returns the FIRST index of the max, which is
    the LANG_TIEBREAK order by construction."""
    word_arrays = [F.array(*[F.lit(w) for w in STOPWORDS[lang]]) for lang in LANG_TIEBREAK]
    langs = F.array(*[F.lit(lang) for lang in LANG_TIEBREAK])
    zero = F.array(*[F.lit(0)] * len(LANG_TIEBREAK))
    return F.aggregate(
        tokens(col),
        zero,
        lambda acc, t: F.array(
            *[acc[i] + F.array_contains(word_arrays[i], t).cast("int") for i in range(len(LANG_TIEBREAK))]
        ),
        lambda acc: F.when(F.array_max(acc) <= 0, F.lit("und")).otherwise(
            F.element_at(langs, F.array_position(acc, F.array_max(acc)).cast("int"))
        ),
    )


def quality_score(col: Column | str) -> Column:
    """Heuristic document quality in [0,1] from four codegen'd signals:
    length band, mean word length band, symbol ratio, stopword ratio.
    The C4/Gopher-style rule filter shape, expressed as one Catalyst tree.
    Returned UNROUNDED (callers round for display/oracle hashing)."""
    c = _c(col)
    n_chars = F.length(c)
    n_tokens = token_count(c)
    mean_word = n_chars.cast("double") / F.greatest(n_tokens, F.lit(1))
    symbols = F.size(F.regexp_extract_all(c, F.lit("[^a-zA-Z0-9\\s]"), 0))
    symbol_ratio = symbols.cast("double") / F.greatest(n_chars, F.lit(1))
    stop_ratio = stopword_hits(c, "en").cast("double") / F.greatest(n_tokens, F.lit(1))
    len_ok = F.when((n_chars >= 100) & (n_chars <= 5000), 1.0).otherwise(0.0)
    word_ok = F.when((mean_word >= 3.0) & (mean_word <= 10.0), 1.0).otherwise(0.0)
    sym_ok = F.when(symbol_ratio <= 0.1, 1.0).otherwise(0.0)
    return (
        F.lit(0.25) * len_ok
        + F.lit(0.25) * word_ok
        + F.lit(0.25) * sym_ok
        + F.lit(0.25) * F.least(stop_ratio * 4, F.lit(1.0))
    )


def pd_char_entropy(col: Column | str) -> Column:
    """Shannon entropy (bits/char) of the character distribution — the
    gibberish/compressed-junk detector of a corpus quality pipeline (random
    bytes ≈ log2(alphabet), natural English ≈ 4.1, 'aaaa…' ≈ 0).

    One Arrow-batched pass per document (no per-char explode shuffle — at
    100 TB a char-level explode multiplies the row count by document
    length; this kernel touches each doc once, map-side). Cross-engine
    discipline: terms accumulate LEFT-TO-RIGHT in sorted-char order and
    log2 is C-libm on both sides (Python math.log2 == DuckDB log2,
    verified bit-identical), so the DuckDB twin
    (`list(count ORDER BY ch)` + `list_reduce`) reproduces the double
    exactly. Empty text -> 0.0; the `+ 0.0` folds the single-char-doc
    -0.0 into +0.0 on both engines.
    """
    import math
    from collections import Counter

    @pandas_udf("double")
    def kernel(s: pd.Series) -> pd.Series:
        out = []
        for txt in s:
            n = len(txt)
            if n == 0:
                out.append(0.0)
                continue
            acc = 0.0
            for _ch, c in sorted(Counter(txt).items()):
                p = c / n
                acc = acc + p * math.log2(p)
            out.append(-acc + 0.0)
        return pd.Series(out)

    return kernel(_c(col))


def pd_winnow_fps(tokens_col: Column | str, k: int = 3, w: int = 4) -> Column:
    """Arrow-batched winnowing fingerprint kernel: per JVM-tokenized doc,
    positional k-gram md5 selection strings (`md5hex || '-' || lpad(pos)`),
    min per w-window, distinct selected 32-hex hashes. hashlib.md5 over
    UTF-8 == Spark/DuckDB md5 and str comparison == binary VARCHAR
    collation for hex+digits, so values are identical to the interpreted
    HOF chain — measured ~10x faster at sf0.1 (the per-element lambda
    interpreter drops out, same trade as pd_shingle_hashes)."""
    import hashlib

    @pandas_udf("array<string>")
    def kernel(s: pd.Series) -> pd.Series:
        out = []
        for toks in s:
            tl = list(toks)
            n = len(tl) - k + 1
            if n < w:  # no complete window of w k-grams
                out.append([])
                continue
            sels = [
                hashlib.md5(" ".join(tl[i : i + k]).encode("utf-8")).hexdigest()
                + "-%08d" % i
                for i in range(n)
            ]
            fps = {min(sels[j : j + w])[:32] for j in range(n - w + 1)}
            out.append(list(fps))
        return pd.Series(out)

    return kernel(_c(tokens_col))


def pd_unigram_xent(terms_col: Column | str, n_total: Column) -> Column:
    """Arrow-batched unigram cross-entropy: given a per-doc array of
    (tok, c, tf) structs SORTED by token and the corpus token total N,
    returns -(1/n) * sum_t c_t * log2(tf_t / N) in bits/token.

    The log2/divide/multiply arithmetic happens HERE, not JVM-side:
    Spark's log2 (StrictMath) differs from C libm in the low bits for some
    inputs (measured 2/8 probes), while Python math.log2 == DuckDB log2
    bit-for-bit — so the kernel receives only integer-exact counts and the
    doubles it produces hash-match the SQL twin without rounding.
    Accumulation is left-to-right in token order (== the twin's
    `list(... ORDER BY tok)` + `list_reduce`)."""
    import math

    @pandas_udf("double")
    def kernel(terms: pd.Series, totals: pd.Series) -> pd.Series:
        out = []
        for lst, big_n in zip(terms, totals):
            nn = float(big_n)
            acc = 0.0
            n = 0
            for item in lst:
                c = item["c"]
                acc = acc + c * math.log2(item["tf"] / nn)
                n += c
            out.append(-acc / n if n else None)
        return pd.Series(out, dtype="float64")

    return kernel(_c(terms_col), n_total)


def pd_zipf_fit(freqs_col: Column | str) -> Column:
    """Arrow-batched OLS fit of the corpus Zipf curve: given the top-N token
    frequencies as an array SORTED in rank order (freq desc, token asc —
    the caller pins the tie-break), regress y = ln(freq) on x = ln(rank)
    and return struct(slope, intercept). A healthy natural-language corpus
    sits near slope -1; templated/boilerplate-heavy crawls flatten it, and
    a slope collapse after dedup is the classic over-dedup smell test.

    The ln/multiply/divide arithmetic runs HERE (C libm via Python math)
    and not JVM-side for the same reason as pd_unigram_xent: StrictMath's
    low bits diverge from libm, while DuckDB's ln() matches it — the
    kernel sees only exact integer frequencies and its doubles hash-match
    the SQL twin's list-comprehension folds without rounding. All four
    sums accumulate left-to-right in rank order; the slope/intercept
    formulas are written in the same association order as the twin."""
    import math

    @pandas_udf("struct<slope:double,intercept:double>")
    def kernel(freqs: pd.Series) -> pd.DataFrame:
        slopes, intercepts = [], []
        for fs in freqs:
            n = len(fs)
            if n < 2:
                slopes.append(None)
                intercepts.append(None)
                continue
            sx = sy = sxy = sxx = 0.0
            for i, f in enumerate(fs, start=1):
                x = math.log(float(i))
                y = math.log(float(f))
                sx = sx + x
                sy = sy + y
                sxy = sxy + x * y
                sxx = sxx + x * x
            slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
            slopes.append(slope)
            intercepts.append((sy - slope * sx) / n)
        return pd.DataFrame({"slope": slopes, "intercept": intercepts})

    return kernel(_c(freqs_col))


def pd_sigmoid(col: Column | str) -> Column:
    """Arrow-batched logistic sigmoid 1/(1+exp(-z)). numpy's exp and
    DuckDB's exp both resolve to the host C libm, so the doubles agree
    bit-for-bit engine-to-engine (same pinning argument as the
    perplexity/entropy kernels); Spark's JVM-side exp (java.lang.Math)
    would NOT — which is why model scoring keeps its nonlinearity in the
    kernel while the linear part stays in Catalyst."""

    @pandas_udf("double")
    def kernel(z: pd.Series) -> pd.Series:
        return pd.Series(1.0 / (1.0 + np.exp(-z.to_numpy(dtype="float64"))))

    return kernel(_c(col))
