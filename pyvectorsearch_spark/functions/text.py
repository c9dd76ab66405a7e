"""Text kernels shared by the dedup/text-analysis operators.

Every kernel has a Spark expression AND a DuckDB SQL fragment computing the
identical value (same normalization, same md5-based hashing), so the oracle
comparisons are exact. md5 is used as the deterministic cross-engine hash —
Spark's ``hash()``/``xxhash64`` and DuckDB's ``hash()`` are different
functions, but md5 hex strings agree everywhere; lexicographic min over hex
strings gives an order-compatible MinHash.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_RE = "[^a-z0-9]+"


def tokens(col: Column | str) -> Column:
    """Normalized word tokens: lowercase, strip non-alphanumerics, split."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.regexp_replace(F.lower(c), TOKEN_RE, " "), " "),
        lambda x: x != "",
    )


def duckdb_tokens(col: str) -> str:
    return (
        f"list_filter(string_split(regexp_replace(lower({col}), "
        f"'{TOKEN_RE}', ' ', 'g'), ' '), x -> x <> '')"
    )


def _array_ngrams(arr: Column, n: int, sep: str = " ") -> Column:
    """O(len) n-grams over an array: n aligned slices zipped with concat.
    The zip_with lambdas touch only BOUND element variables — an outer
    reference like ``transform(sequence(...), i -> f(arr, i))`` makes
    interpreted HOF eval re-run the whole ``arr`` expression tree PER
    ELEMENT (O(len²), measured minutes-per-task when ``arr`` embeds a
    regexp normalization). Slices re-evaluate ``arr`` only n times per
    ROW. Empty (not descending) for arrays shorter than n."""
    m = F.greatest(F.size(arr) - (n - 1), F.lit(0))
    acc = F.slice(arr, 1, m)
    for j in range(1, n):
        nxt = F.slice(arr, 1 + j, m)
        if sep:
            acc = F.zip_with(acc, nxt, lambda a, b: F.concat(a, F.lit(sep), b))
        else:
            acc = F.zip_with(acc, nxt, lambda a, b: F.concat(a, b))
    return acc


def _chars(s: Column) -> Column:
    """Character array of ``s`` (ASCII-normalized upstream)."""
    return F.slice(F.split(s, ""), 1, F.length(s))


def shingles(tok: Column, n: int = 3) -> Column:
    """Word n-gram shingles, distinct. Guarded: short docs get an explicit
    empty-array branch. Built from array slices (see ``_array_ngrams``)
    so an inline ``tokens(...)`` argument is never re-evaluated per
    element."""
    return F.array_distinct(
        F.when(F.size(tok) >= n, _array_ngrams(tok, n)).otherwise(
            F.array().cast("array<string>")
        )
    )


def duckdb_shingles(tok: str, n: int = 3) -> str:
    parts = " || ' ' || ".join(f"{tok}[i+{j}]" if j else f"{tok}[i]" for j in range(n))
    return (
        f"list_distinct(list_transform(range(1, len({tok}) - {n - 2}), i -> {parts}))"
    )


CHARGRAM_NORM_RE = "[^a-z0-9 ]"


def chargrams(col: Column | str, n: int = 3) -> Column:
    """Character n-grams over normalized text (lowercase, ``[^a-z0-9 ]``
    stripped), WITH multiplicity — the repeat count is the feature weight
    for the char-n-gram Naive Bayes language classifier (Cavnar & Trenkle
    1994's n-gram text categorization, the standard langid feature).
    Guarded like ``shingles``: Spark's ``sequence(1, 0)`` counts DOWN, so
    sub-``n``-char strings need an explicit empty-array branch."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.regexp_replace(F.lower(c), CHARGRAM_NORM_RE, "")
    # char-slice construction, NOT transform(sequence, i -> substring(s, i)):
    # the lambda's outer reference to s re-runs the regexp per ELEMENT in
    # interpreted HOF eval — O(L²) per doc, measured 100x slowdowns on the
    # NB family (see _array_ngrams)
    grams = _array_ngrams(_chars(s), n, sep="")
    return F.when(F.length(s) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def duckdb_chargrams(col: str, n: int = 3) -> str:
    """DuckDB twin of ``chargrams`` (same normalization, same window)."""
    s = f"regexp_replace(lower({col}), '{CHARGRAM_NORM_RE}', '', 'g')"
    return (
        f"list_transform(range(1, greatest(length({s}) - {n - 2}, 1)), "
        f"i -> substr({s}, i::INT, {n}))"
    )


def word_ngrams(tok: Column, n: int = 2) -> Column:
    """Word n-grams WITH multiplicity (no dedup) — the hashed-n-gram feature
    stream for importance weighting (DSIR uses unigram+bigram counts, not
    sets). Same empty-array guard as ``shingles``."""
    return F.when(F.size(tok) >= n, _array_ngrams(tok, n)).otherwise(
        F.array().cast("array<string>")
    )


def duckdb_word_ngrams(tok: str, n: int = 2) -> str:
    """DuckDB twin of ``word_ngrams`` (``range(1, x)`` is empty for x <= 1,
    so short docs need no explicit guard)."""
    parts = " || ' ' || ".join(f"{tok}[i+{j}]" if j else f"{tok}[i]" for j in range(n))
    return f"list_transform(range(1, len({tok}) - {n - 2}), i -> {parts})"


def minhash_signature(sh: Column, n_hashes: int = 16) -> Column:
    """MinHash signature: for permutation i, h_i(s) = md5(i || ':' || s); the
    signature component is the lexicographic min over the doc's shingles.
    Hex-string min is order-isomorphic to the usual integer min."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda i: F.array_min(
            F.transform(sh, lambda s: F.md5(F.concat(i.cast("string"), F.lit(":"), s)))
        ),
    )


def duckdb_minhash64(sh: str, n_hashes: int = 16) -> str:
    """64-bit variant matching ``operators.dedup.minhash_signatures``: one
    md5 per shingle split into two 48-bit ints h1/h2; permutation i is the
    affine hash h1 + i*h2 (Spark: ``conv(substr(md5(s), ..), 16, 10)``;
    DuckDB: CAST('0x'||slice AS BIGINT)). Integer-only → exact parity."""
    h1 = f"CAST(concat('0x', substr(md5(s), 1, 12)) AS BIGINT)"
    h2 = f"CAST(concat('0x', substr(md5(s), 13, 12)) AS BIGINT)"
    return (
        f"list_transform(range(0, {n_hashes}), i -> "
        f"list_aggregate(list_transform({sh}, s -> {h1} + i * {h2}), 'min'))"
    )


def duckdb_quality(raw: str, tok: str) -> str:
    """DuckDB twin of ``operators.textops.quality_score_col`` (rounded to
    6 dp — the precision every oracle pins). ``raw`` is the raw-text SQL
    expression, ``tok`` the tokenized-array expression over it."""
    from pyvectorsearch_spark.operators.textops import STOPWORDS

    stops = "[" + ", ".join(f"'{w}'" for ws in STOPWORDS.values() for w in ws) + "]"
    stop_ratio = (
        f"CAST(len(list_filter({tok}, x -> list_contains({stops}, x))) AS DOUBLE)"
        f" / greatest(len({tok}), 1)"
    )
    nonalnum = (
        f"CAST(length({raw}) - length(regexp_replace(lower({raw}), "
        f"'[^a-z0-9 ]', '', 'g')) AS DOUBLE) / greatest(length({raw}), 1)"
    )
    return (
        f"round(least(CAST(len({tok}) AS DOUBLE) / 50.0, 1.0) * 0.4"
        f" + (1.0 - {nonalnum}) * 0.3"
        f" + least({stop_ratio} * 4.0, 1.0) * 0.3, 6)"
    )


def lsh_band_keys(sig: Column, bands: int, rows_per_band: int) -> Column:
    """LSH banding: hash each band of the signature to one key; docs sharing
    any (band, key) are candidate pairs. array of struct(band, key)."""
    def band_struct(b: int) -> Column:
        cells = [F.element_at(sig, b * rows_per_band + r + 1) for r in range(rows_per_band)]
        return F.struct(
            F.lit(b).alias("band"), F.md5(F.concat_ws("|", *cells)).alias("bkey")
        )

    return F.array(*[band_struct(b) for b in range(bands)])


def winnow_hashes(col: Column | str, *, k: int = 8) -> Column:
    """k-gram hash list feeding winnowing (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS scheme): md5 first 48 bits of every char k-gram
    of the whitespace-stripped lowercase text.

    MATERIALIZE this as its own column (``withColumn``) before applying
    :func:`winnow_select` — referencing it inline inside the window lambda
    re-evaluates the whole gram+md5 pipeline PER WINDOW (measured 94 s vs
    4 s on the sf0.01 corpus; neither Catalyst nor DuckDB CSE inside a
    higher-order-function lambda, so both engines need the same two-step
    shape — see ``duckdb_winnow_hashes``/``duckdb_winnow_select``).
    Two stacked projections stay collapse-safe: CollapseProject refuses to
    inline a non-cheap alias referenced more than once."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.regexp_replace(F.lower(c), "[^a-z0-9]", "")
    # Short-input guard (same rule as shingles()): for normalized length
    # L < k Spark's sequence(1, L-(k-1)) counts DOWN and would emit 9-L
    # garbage grams — a phantom fingerprint for empty/short docs, while the
    # DuckDB twin's range() is empty. Guard to an empty gram list instead.
    grams = F.when(
        F.length(s) >= k, _array_ngrams(_chars(s), k, sep="")
    ).otherwise(F.array().cast("array<string>"))
    return F.transform(
        grams, lambda g: F.conv(F.substring(F.md5(g), 1, 12), 16, 10).cast("long")
    )


def winnow_select(hashes_col: Column | str, *, w: int = 4) -> Column:
    """Window-minimum fingerprint selection over a PRE-MATERIALIZED hash
    list: slide a window of ``w`` consecutive k-gram hashes, keep each
    window's MINIMUM, dedupe, sort. Guarantees any shared substring of
    length ≥ k+w-1 yields a shared fingerprint, with expected density
    2/(w+1). Min over exact integers → deterministic in any engine. Both
    halves together are still a zero-shuffle scan-stage projection pair."""
    hs = F.col(hashes_col) if isinstance(hashes_col, str) else hashes_col
    mins = F.transform(
        F.sequence(F.lit(1), F.size(hs) - (w - 1)),
        lambda j: F.array_min(F.slice(hs, j, w)),
    )
    guarded = F.when(F.size(hs) >= w, mins).otherwise(
        F.array().cast("array<long>")
    )
    return F.array_sort(F.array_distinct(guarded))


def duckdb_winnow_hashes(col: str, *, k: int = 8) -> str:
    """k-gram hash list for the winnowing oracle. MATERIALIZE this in a
    subquery/CTE before applying :func:`duckdb_winnow_select` — inlining it
    inside the window lambda makes DuckDB recompute the whole md5 list per
    window (quadratic per-row work)."""
    s = f"regexp_replace(lower({col}), '[^a-z0-9]', '', 'g')"
    grams = (
        f"list_transform(range(1, length({s}) - {k - 2}), "
        f"i -> substr({s}, i::INT, {k}))"
    )
    return f"list_transform({grams}, g -> ('0x' || substr(md5(g), 1, 12))::BIGINT)"


def duckdb_winnow_select(hashes_col: str, *, w: int = 4) -> str:
    """Window-minimum selection over a PRE-MATERIALIZED hash-list column —
    the second half of the ``winnow_fingerprints`` DuckDB twin."""
    return (
        f"list_sort(list_distinct(list_transform("
        f"range(1, len({hashes_col}) - {w - 2}), "
        f"j -> list_min({hashes_col}[j:j+{w - 1}]))))"
    )


CDC_W = 8  # rolling window (chars) deciding boundaries
CDC_DIVISOR = 32  # boundary iff window-hash % DIVISOR == 0 → ~32-char chunks


def cdc_normalized(col: Column | str) -> Column:
    """Normalization for content-defined chunking: lowercase, collapse
    everything outside [a-z0-9 ] (keeps word boundaries so chunk cuts are
    content-anchored)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(c), "[^a-z0-9 ]", "")


def cdc_boundaries(s_col: Column | str, *, w: int = CDC_W, divisor: int = CDC_DIVISOR) -> Column:
    """Content-defined chunk boundaries (the LBFS/Venti/FastCDC primitive,
    Muthitacharoen et al. SOSP'01): position i is a boundary iff the hash
    of the w chars ENDING at i ≡ 0 (mod divisor). Because the decision
    depends only on local content, an insertion early in a document shifts
    chunk CONTENT by at most one chunk — unlike fixed-stride chunking where
    every downstream chunk changes; that re-alignment is why CDC is the
    storage-dedup standard.

    Hash = md5 first 48 bits (cross-engine exact). Returns the sorted int
    array of boundary end-positions over a PRE-MATERIALIZED normalized
    string column (same two-step rule as ``winnow_hashes`` — inline reuse
    re-evaluates the md5 scan per reference)."""
    s = F.col(s_col) if isinstance(s_col, str) else s_col
    # w-char windows via char slices (see _array_ngrams: an outer reference
    # to s inside a filter/transform lambda re-evaluates s per element —
    # O(L²)); gram at 0-based index i spans chars [i+1, i+w], i.e. ENDS at
    # position i+w. Short docs (length < w) yield no grams, so the
    # ADVICE-r5 length==w-1 phantom boundary cannot occur by construction.
    grams = _array_ngrams(_chars(s), w, sep="")
    cand = F.transform(
        grams,
        lambda g, i: F.when(
            F.conv(F.substring(F.md5(g), 1, 12), 16, 10).cast("long") % divisor
            == 0,
            i + F.lit(w),
        ).otherwise(F.lit(-1)),
    )
    return F.filter(cand, lambda x: x >= 0)


def cdc_chunks(s_col: Column | str, bnd_col: Column | str) -> Column:
    """Cut the normalized string at the (pre-materialized) boundary
    positions: chunk j spans (prev boundary, boundary j], plus the tail.
    Returns the array of chunk strings; empty array for empty text."""
    s = F.col(s_col) if isinstance(s_col, str) else s_col
    b = F.col(bnd_col) if isinstance(bnd_col, str) else bnd_col
    starts = F.concat(F.array(F.lit(1)), F.transform(b, lambda x: x + 1))
    ends = F.concat(b, F.array(F.length(s)))
    chunks = F.zip_with(starts, ends, lambda a, e: F.substring(s, a, e - a + 1))
    return F.filter(chunks, lambda c: F.length(c) > 0)


def duckdb_cdc(col: str, *, w: int = CDC_W, divisor: int = CDC_DIVISOR) -> tuple[str, str, str]:
    """DuckDB twin of the CDC pipeline: returns (normalized, boundaries,
    chunks) SQL fragments; materialize each in its own CTE layer (the
    no-lambda-CSE rule applies to DuckDB too)."""
    s = f"regexp_replace(lower({col}), '[^a-z0-9 ]', '', 'g')"
    bnd = (
        f"list_filter(range({w}, greatest(length(s), {w}) + 1), "
        f"i -> ('0x' || substr(md5(substr(s, (i - {w - 1})::INT, {w})), 1, 12))::BIGINT "
        f"% {divisor} = 0 AND i <= length(s))"
    )
    chunks = (
        "list_filter(list_transform(range(1, len(bnd) + 2), j -> "
        "substr(s, (CASE WHEN j = 1 THEN 1 ELSE bnd[j-1] + 1 END)::INT, "
        "((CASE WHEN j = len(bnd) + 1 THEN length(s) ELSE bnd[j] END) "
        "- (CASE WHEN j = 1 THEN 1 ELSE bnd[j-1] + 1 END) + 1)::INT)), "
        "c -> length(c) > 0)"
    )
    return s, bnd, chunks
