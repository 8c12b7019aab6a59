"""Text-analysis functions for the training-data pipeline surface.

All hot-path logic is Spark built-ins / higher-order functions (JVM
side). The one deliberate design choice: every hash used by dedup
fingerprints is derived from ``md5`` (not Spark's ``hash``/
``xxhash64``) so the exact same value is computable in any SQL engine
— that is what makes MinHash/SimHash oracle-checkable in the driver's
DuckDB differential gate:

    Spark : conv(substr(md5(s), 1, 15), 16, 10)  → 60-bit int
    DuckDB: ('0x' || substr(md5(s), 1, 15))::BIGINT

md5 is ~2× slower than xxhash64 but still JVM-vectorized; at 100 TB
the dedup bottleneck is the shuffle, not the hash.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

#: the documents table's id and text columns: the one corpus every
#: text operator serves
DOC_ID = "doc_id"
TEXT_COL = "text"
#: winnowing's character k-gram length and sliding-window size: any
#: shared substring of CHAR_GRAM + WINNOW_WINDOW - 1 = 8 characters
#: shares a fingerprint
CHAR_GRAM = 5
WINNOW_WINDOW = 4

# Fixed salts for the MinHash permutation family — (a*h + b) mod P on
# a shared **28-bit** base hash (first 7 md5 hex chars). 28 bits keeps
# a*h + b well inside signed 64-bit for small salts, which matters
# because Spark runs ANSI mode (bigint overflow would raise) and
# DuckDB likewise errors on int64 overflow. P = 2^31 - 1 (Mersenne).
MINHASH_PRIME = 2147483647


def _c(col: Column | str) -> Column:
    return col if isinstance(col, Column) else F.col(col)


def md5_int28(col: Column | str) -> Column:
    """28-bit variant for salted-multiply MinHash permutations
    (overflow-safe in ANSI int64 math; see MINHASH_PRIME note)."""
    return F.conv(F.substring(F.md5(_c(col)), 1, 7), 16, 10).cast("bigint")


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization with empty tokens dropped."""
    return F.filter(F.split(_c(col), r"\s+"), lambda t: t != F.lit(""))


# GPT-2-style pre-tokenizer pattern, restricted to the Java-regex /
# RE2 common subset (no lookahead): contraction suffixes, then
# space-prefixed letter runs, digit runs, punctuation runs, then
# bare whitespace runs. Tokenizes any text the way a BPE
# pre-tokenizer would split it before merges.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_ish_tokens(col: Column | str) -> Column:
    """BPE-style pre-tokenization via regexp_extract_all — the
    second tokenizer the token-counting surface supports next to
    whitespace ``tokens`` (a BPE token count ≈ what an LLM would be
    billed, a whitespace count ≈ words)."""
    return F.regexp_extract_all(_c(col), F.lit(BPE_ISH_PATTERN), 0)


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams, each joined with a space."""
    toks = tokens(col)
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - F.lit(n))
    ).otherwise(F.array().cast("array<int>"))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )


def word_ngrams_all() -> Column:
    """ALL word 2-gram occurrences of the text column (non-distinct, in
    order) — the repetition metrics need occurrence counts, not the set
    that ``word_shingles`` returns for dedup."""
    toks = tokens(TEXT_COL)
    idx = F.when(
        F.size(toks) >= 2, F.sequence(F.lit(0), F.size(toks) - F.lit(2))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)))


def jaccard() -> Column:
    """Exact Jaccard similarity of the array-typed shingle sets
    ``sh_a`` and ``sh_b`` of a candidate pair."""
    a, b = F.col("sh_a"), F.col("sh_b")
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b) - F.size(F.array_intersect(a, b))).cast("double")
    return inter / F.nullif(union, F.lit(0.0))


def shingle_hashes28(shingles: Column | str) -> Column:
    """28-bit md5-derived hash per shingle (the MinHash base)."""
    return F.transform(
        _c(shingles),
        lambda s: F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("bigint"),
    )


# -- Arrow kernels ----------------------------------------------------------
#
# Rationale and conventions mirror functions/vectors.py: the fingerprint
# kernels (MinHash permutation minima, SimHash bit votes) are exact
# integer math, so a vectorized numpy evaluation is bit-identical to
# the interpreted HOF fold — not merely close. Kernel closures are
# NESTED so cloudpickle ships them by value (executors don't share the
# driver's sys.path), and each kernel object is created once per
# process so repeated calls stay plan-canonicalization-equal (one
# ArrowEvalPython evaluation per row however many consumers).


def _build_minhash_kernel(num_hashes: int):
    # salt vectors for (h*a + b) % P, identical to the HOF family
    A = np.array([2 * i + 1 for i in range(num_hashes)], dtype=np.int64)
    B = np.array([1000003 * (i + 1) for i in range(num_hashes)], dtype=np.int64)
    P = np.int64(MINHASH_PRIME)
    k = num_hashes

    @pandas_udf(ArrayType(LongType()))
    def _minhash_sig(hs: pd.Series) -> pd.Series:
        vals = hs.to_numpy()
        n = len(vals)
        out = np.empty(n, dtype=object)
        nulls = [None] * k
        # fast path: every row a non-empty, null-free int array (all
        # registered datasets) — one flat matrix + grouped minima
        clean = []
        ok = True
        for v in vals:
            if v is None or len(v) == 0:
                ok = False
                break
            a = np.asarray(v)
            # NULL elements surface as object dtype or float NaN
            # depending on the Arrow→pandas version; 28-bit hashes are
            # exact in float64 so the cast back is lossless
            if a.dtype == object or (a.dtype.kind == "f" and np.isnan(a).any()):
                ok = False
                break
            clean.append(a.astype(np.int64, copy=False))
        if ok and n:
            lens = np.fromiter((len(c) for c in clean), dtype=np.int64, count=n)
            flat = np.concatenate(clean)
            offsets = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=offsets[1:])
            # one permutation at a time: h*a + b mod P (28-bit h ×
            # a ≤ 2k−1 ≪ 2^63) then grouped minima — peak transient is
            # one S_total vector, not the (S_total, k) matrix (which
            # reached ~hundreds of MB per Arrow batch on long docs)
            mins = np.empty((n, k), dtype=np.int64)
            for i in range(k):
                mins[:, i] = np.minimum.reduceat(
                    (flat * A[i] + B[i]) % P, offsets
                )
            for r in range(n):
                out[r] = mins[r].tolist()
            return pd.Series(out)
        for r, v in enumerate(vals):
            if v is None or len(v) == 0:
                out[r] = nulls
                continue
            arr = np.asarray(
                [x for x in v if x is not None and x == x], dtype=np.int64
            )  # filters None and NaN-shaped NULLs alike
            if arr.size == 0:
                # array_min skips NULL elements; all-NULL → NULL
                out[r] = nulls
                continue
            out[r] = ((arr[:, None] * A + B) % P).min(axis=0).tolist()
        return pd.Series(out)

    return _minhash_sig


_MINHASH_KERNELS: dict[int, object] = {}


def _minhash_kernel(num_hashes: int):
    if num_hashes not in _MINHASH_KERNELS:
        _MINHASH_KERNELS[num_hashes] = _build_minhash_kernel(num_hashes)
    return _MINHASH_KERNELS[num_hashes]


def _build_simhash_kernel():
    BITS = np.arange(60, dtype=np.int64)
    WEIGHTS = (np.int64(1) << BITS)

    @pandas_udf(LongType())
    def _simhash(toks: pd.Series) -> pd.Series:
        import hashlib

        vals = toks.to_numpy()
        n = len(vals)
        out = np.zeros(n, dtype=np.int64)
        for r, tk in enumerate(vals):
            if tk is None or len(tk) == 0:
                continue  # HOF: NULL/empty array → 0
            hs = np.fromiter(
                (
                    # NULL token → NULL hash → every bit votes −1 in
                    # the HOF fold; h = 0 votes −1 everywhere too
                    0
                    if t is None
                    else int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
                    for t in tk
                ),
                dtype=np.int64,
                count=len(tk),
            )
            votes = (2 * ((hs[:, None] >> BITS) & 1) - 1).sum(axis=0)
            out[r] = ((votes > 0) * WEIGHTS).sum()
        return pd.Series(out)

    return _simhash


_arrow_simhash = _build_simhash_kernel()


def minhash_from_hashes_hof(num_hashes: int) -> Column:
    """The HOF MinHash kernel over the 28-bit hash column ``hs``
    (interpreted; kept for the bit-identity tests — it is the readable
    spec of the cross-engine contract the DuckDB oracle twins pin)."""
    base = F.col("hs")
    def perm(a: int, b: int):
        # NB: a plain closure, not default-arg binding — Spark counts
        # a lambda's parameters to bind HOF variables, so extra
        # default args break arity detection.
        return lambda h: (h * a + b) % F.lit(MINHASH_PRIME)

    sigs = []
    for i in range(num_hashes):
        sigs.append(
            F.array_min(F.transform(base, perm(2 * i + 1, 1000003 * (i + 1))))
        )
    return F.array(*sigs)


def minhash_signature_from_hashes(base: Column | str, num_hashes: int = 16) -> Column:
    """MinHash signature over pre-computed 28-bit shingle hashes —
    the md5 work happens once however many permutations run.

    Default kernel is the Arrow one: the HOF form pays the expression
    interpreter ONCE PER PERMUTATION PER SHINGLE (num_hashes
    interpreted transform+array_min passes — CodegenFallback, the
    same tax the r6 100× profile measured on the cosine family), and
    consumers that project per-permutation columns (x06's 16
    ``element_at`` projections) inline the WHOLE signature expression
    per column — num_hashes² interpreted passes, no cross-expression
    CSE. The Arrow kernel computes all minima in one numpy
    broadcast; identical Python-UDF expressions are deduplicated by
    ExtractPythonUDFs (plan-tested for plane_dots), so however many
    columns consume the signature there is ONE evaluation per row.
    Bit-identical by construction: (h·a + b) mod P on 28-bit h with
    a ≤ 2·num_hashes−1 stays ≪ 2^63 (exact in int64 both kernels —
    the reason MINHASH_PRIME salts are sized for 28-bit bases), and
    NULL/empty semantics mirror ``array_min``'s (skip NULL elements;
    NULL/empty array → all-NULL signature)."""
    return _minhash_kernel(num_hashes)(_c(base))


def simhash64_hof() -> Column:
    """The HOF SimHash kernel over the token column ``tk``
    (interpreted; kept for the bit-identity tests)."""
    t = F.col("tk")
    # For each of 60 bits: sum over tokens of (bit set ? +1 : -1);
    # bit b of token hash h = (h >> b) & 1. Expressed as one
    # aggregate per bit over the token array — JVM-side, no UDF.
    base = F.transform(t, lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"))

    def bit_vote(b: int):
        # closure (not default-arg lambda) — see minhash_from_hashes_hof note
        return lambda acc, h: acc + F.when(
            F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bits = []
    for b in range(60):
        vote = F.aggregate(base, F.lit(0).cast("bigint"), bit_vote(b))
        bits.append(F.when(vote > 0, F.lit(2**b).cast("bigint")).otherwise(F.lit(0).cast("bigint")))
    out = bits[0]
    for bit in bits[1:]:
        out = out + bit
    return out


def simhash64(toks: Column | str) -> Column:
    """60-bit SimHash over a token array: ONE 60-bit token hash from
    the first 15 md5 hex digits (kept ≤60 bits so the same integer
    arithmetic is exact in any SQL engine — r11 review corrected
    this docstring, which described a two-30-bit-halves construction
    neither kernel ever used). Returns a bigint whose bits are the
    sign of per-bit weighted sums.

    Default kernel is the Arrow one: the HOF form builds 60 separate
    ``aggregate`` expressions that EACH inline the md5 token-hash
    transform (no cross-expression CSE — 60 interpreted md5 passes
    plus 60 interpreted vote folds per document). The Arrow kernel
    hashes each token once (hashlib md5 ≡ Spark ``md5`` on UTF-8
    bytes, first 15 hex digits — the module-docstring cross-engine
    contract) and takes all 60 bit-votes as two numpy ops. Exact
    integer math throughout (60-bit hashes, votes ≤ |tokens|, sum of
    distinct powers of two < 2^60 — all well inside int64), so the
    kernels agree bit-for-bit; NULL tokens vote −1 on every bit and
    a NULL/empty token array yields 0, mirroring the HOF
    NULL-propagation exactly (unit-tested)."""
    return _arrow_simhash(_c(toks))


# Tiny per-language stopword marker lists for the n-gram/stopword
# language heuristic. Deliberately small and fixed so the identical
# CASE expression is writable in oracle SQL.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "ist", "das"),
    "fr": ("le", "la", "et", "est", "les"),
    "es": ("el", "la", "que", "de", "es"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),
}


def lang_marker_hits(col: Column | str, lang: str) -> Column:
    """Count of tokens that are marker stopwords for ``lang``."""
    toks = tokens(col)
    markers = LANG_MARKERS[lang]
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def predict_lang() -> Column:
    """Pick the language of the text column with the most marker hits;
    zero-hit documents fall back to 'und' (undetermined), and a TIE
    between languages resolves to the alphabetically-smallest winner —
    NOT 'und' (r11 review corrected this docstring: the x03 oracle pins
    the alphabetical tie-break on both engines; the code always
    behaved this way)."""
    c = F.col(TEXT_COL)
    hit_cols = {lang: lang_marker_hits(c, lang) for lang in LANG_MARKERS}
    best = F.greatest(*hit_cols.values())
    out = F.lit("und")
    # Reverse-alphabetical cascade so the FIRST when() that wins is
    # the alphabetically-smallest language — pinned tie-break.
    for lang in sorted(hit_cols, reverse=True):
        out = F.when((hit_cols[lang] == best) & (best > 0), F.lit(lang)).otherwise(out)
    return out


def char_gram_hashes() -> Column:
    """Ordered character-``CHAR_GRAM``-gram 28-bit hash sequence of the
    text column (winnowing input). MUST be materialized as a real
    column value (behind an exchange or cache) before
    ``winnow_from_hashes`` references it:
    a lambda that references this expression re-evaluates the entire
    gram+md5 pipeline per element — Catalyst has no cross-lambda
    common-subexpression elimination (measured 400× slowdown)."""
    c = F.col(TEXT_COL)
    grams = F.when(
        F.length(c) >= CHAR_GRAM,
        F.sequence(F.lit(1), F.length(c) - F.lit(CHAR_GRAM - 1)),
    ).otherwise(F.array().cast("array<int>"))
    # the shared 28-bit md5 hash convention — one definition
    # (shingle_hashes28) serves word shingles and char grams alike
    return shingle_hashes28(F.transform(grams, lambda i: c.substr(i, F.lit(CHAR_GRAM))))


def winnow_from_hashes() -> Column:
    """Winnowing (Schleimer et al., MOSS) fingerprints from the
    materialized k-gram hash sequence column ``hs``: the distinct
    minima of each ``WINNOW_WINDOW``-sized sliding window. Any match of
    length ≥ CHAR_GRAM+WINNOW_WINDOW-1 shares a fingerprint."""
    h = F.col("hs")
    positions = F.when(
        F.size(h) >= WINNOW_WINDOW,
        F.sequence(F.lit(1), F.size(h) - F.lit(WINNOW_WINDOW - 1)),
    ).otherwise(F.array().cast("array<int>"))
    return F.array_distinct(
        F.transform(positions, lambda p: F.array_min(F.slice(h, p, WINNOW_WINDOW)))
    )


def fingerprint(col: Column | str) -> Column:
    """Canonical document fingerprint: md5 of the lower-cased,
    whitespace-normalized text. Exact-dedup key that survives
    formatting noise.

    NULL semantics (r11 review queued; EXECUTED r13 when the x04
    window re-entry absorbed the guard row): NULL text fingerprints
    as NULL — "no document" is not "the empty document". Previously
    concat_ws skipped the NULL token array so md5 saw "" and
    NULL-text rows collapsed with empty/whitespace-only docs under
    exact dedup. Zero-token text (empty or all-whitespace) still
    fingerprints as md5("") — whitespace normalization makes those
    genuinely identical. Every registered corpus has non-null text,
    so the swap is value-invisible in the driver gates
    (re-verified at three SFs r13); the x04 probe pins both
    regimes differentially."""
    c = _c(col)
    return F.md5(
        F.when(c.isNotNull(), F.concat_ws(" ", tokens(F.lower(c))))
    )


def chunk_starts(toks: Column | str, chunk_size: int, overlap: int) -> Column:
    """0-based token offsets of overlapping chunks: 0, stride, 2·stride
    … while the PREVIOUS chunk has not yet covered the document
    (stride = chunk_size − overlap; bound = size − overlap − 1, i.e.
    a start s is emitted iff s == 0 or s + overlap < size). The old
    up-to-the-last-token bound emitted one extra trailing start
    whenever size − last_start ≤ overlap — a chunk wholly contained
    in its predecessor, i.e. a duplicate pure-suffix content row on
    ~overlap/stride of documents (r11 review; conventional chunkers
    stop once the prior chunk reaches the end). Empty docs still
    yield one (empty) chunk at offset 0, which keeps the per-doc
    chunk count ≥ 1 for downstream bookkeeping."""
    t = _c(toks)
    stride = chunk_size - overlap
    if stride <= 0:
        raise ValueError("chunk_size must exceed overlap")
    return F.sequence(
        F.lit(0),
        F.greatest(F.size(t) - F.lit(overlap) - 1, F.lit(0)),
        F.lit(stride),
    )


def chunk_text(start: Column) -> Column:
    """The chunk at token offset ``start`` of the token column ``toks``:
    128 tokens re-joined with single spaces (the canonical whitespace
    form the fingerprint and dedup operators already assume)."""
    return F.array_join(F.slice(F.col("toks"), start + 1, 128), " ")
