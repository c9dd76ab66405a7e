"""Deduplication operators for large-scale training-data pipelines.

North-star extensions beyond the reference surface (BASELINE.json): the
reference library has no text processing at all; these are designed
Spark-first for 100 TB corpora.

Scale design notes (per operator):

- ``exact_dedup``: hash-groupBy. One shuffle on a 128-bit digest; row payload
  never shuffles twice (window-free min-id keep rule via groupBy + semi join).
- ``jaccard_similarity_pairs``: exact n-gram Jaccard via shingle inverted
  index (explode + equi-join). Cost is Σ_shingle df(s)² — fine after stopword
  pruning / as a verification stage, but quadratic on hot shingles; at corpus
  scale run it only on LSH candidates.
- ``minhash_lsh_pairs``: the scale path. Signatures are one projection
  (no shuffle); banding explodes to ``bands`` rows/doc; the band equi-join
  finds candidates without comparing all pairs. Verification recomputes the
  signature-agreement estimate only for candidates.
- ``simhash_64``: per-token digests → 60-bit sign fingerprint; near-dup =
  small Hamming distance. Integer-only math → deterministic across engines.
- ``embedding_dup_pairs``: brute-force cosine self-join (exact); at scale,
  bucket by LSH/IVF first (see index.grid) and join within buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pyvectorsearch_spark.functions.text import (
    lsh_band_keys,
    shingles,
    tokens,
)
from pyvectorsearch_spark.functions.vector import cosine_sim
from pyvectorsearch_spark.functions.lits import lit_double_array
from pyvectorsearch_spark.plans.inspect import plan_bytes_below
from pyvectorsearch_spark.plans.local import read_rows

SIMHASH_BITS = 60  # 15 md5 hex nibbles → signed-long safe (< 2^62)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row (min id) per exact text digest."""
    digests = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("_digest"))
    keep = digests.groupBy("_digest").agg(F.min(id_col).alias(id_col))
    return df.join(keep.select(id_col), id_col, "left_semi")


def _shingle_rows(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc, s) — one row per distinct word-n-gram per document.

    The whole ``shingles(tokens(text))`` expression is evaluated exactly once
    per input row, inside the Generate (explode): codegen's subexpression
    elimination dedupes the token-array references within one projection, and
    exploding drops shingle-less docs without a ``filter`` (which Catalyst
    would push below the projection, evaluating the array twice).

    Do NOT split this into staged selects: a separate non-collapsible
    projection materializing the token array measured ~13x SLOWER than the
    composed form (UnsafeArrayData copy per stage beats codegen CSE)."""
    return df.select(
        F.col(id_col).alias("doc"),
        F.explode(shingles(tokens(text_col), n)).alias("s"),
    )


def jaccard_similarity_pairs_exhaustive(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact Jaccard join via the full inverted-index self-join — cost is
    Σ_shingle df(s)², which blows up on any frequent shingle. Kept as the
    semantics oracle for ``jaccard_similarity_pairs``; do not use at scale."""
    ex = _shingle_rows(df, id_col, text_col, n)
    sizes = ex.groupBy("doc").agg(F.count("*").alias("n_sh"))
    a, b = ex.alias("a"), ex.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
        .agg(F.count("*").alias("n_common"))
    )
    s1 = sizes.select(F.col("doc").alias("d1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col("doc").alias("d2"), F.col("n_sh").alias("n2"))
    jac = F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common"))
    return (
        common.join(s1, "d1")
        .join(s2, "d2")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "n_common", "jaccard")
    )


def jaccard_similarity_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity join: pairs with J ≥ threshold.

    AllPairs/PPJoin-style prefix filtering (Bayardo, Ma & Srikant, WWW'07;
    Xiao et al., WWW'08): order each doc's shingles by ascending global
    document frequency; any pair with J ≥ t must collide inside the first
    ``|s| - ceil(t*|s|) + 1`` shingles of BOTH docs under that shared order,
    so only prefixes are self-joined. Rare-first ordering makes prefix
    posting lists short — candidate cost collapses from Σ df(s)² over all
    shingles to Σ df_prefix(s)² over the rarest ones. Candidates then pass a
    length filter (min ≥ t·max) and exact verification via
    ``array_intersect`` on the full shingle sets. Results are IDENTICAL to
    the exhaustive join — prefix filtering is lossless for J ≥ t.

    Shuffle shape: one exchange on the shingle (a partition-wide window
    count attaches each shingle's global document frequency in the same
    pass — no separate frequency aggregate, no df-attach join, and the
    CPU-heavy tokenize→shingle→explode pipeline is evaluated exactly once),
    one groupBy(doc) building the sorted shingle array, the prefix
    self-join, and a verify join against the per-doc arrays. The df map is
    never broadcast — the shingle vocabulary is unbounded at corpus scale.
    Hot-shingle skew hits the window exchange exactly as it would the
    groupBy(s) formulation; AQE skew handling applies to both.

    Returns ``(d1, d2, n_common, jaccard)`` with d1 < d2.
    """
    from pyspark.sql import Window

    ex = _shingle_rows(df, id_col, text_col, n)
    # df(s) via count over Window.partitionBy(s): one exchange, and every
    # exploded row leaves the stage already carrying its global frequency.
    exdf = ex.withColumn("df", F.count("*").over(Window.partitionBy("s")))
    # Per-doc shingle array sorted rare-first: struct sort on (df, s) gives
    # every doc the SAME global total order, which the prefix theorem needs.
    ranked = exdf.groupBy("doc").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("df", "s"))), lambda t: t["s"]
        ).alias("sh"),
    )
    ranked = ranked.withColumn("n_sh", F.size("sh")).withColumn(
        "prefix",
        F.slice("sh", 1, F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1),
    )
    pref = ranked.select("doc", "n_sh", F.explode("prefix").alias("s"))
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc") < F.col("b.doc"))
            # length filter: J >= t forces min(|x|,|y|) >= t * max(|x|,|y|)
            & (
                F.least("a.n_sh", "b.n_sh")
                >= F.lit(threshold) * F.greatest("a.n_sh", "b.n_sh")
            ),
        )
        .select(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
        .distinct()
    )
    arr1 = ranked.select(F.col("doc").alias("d1"), F.col("sh").alias("sh1"), F.col("n_sh").alias("n1"))
    arr2 = ranked.select(F.col("doc").alias("d2"), F.col("sh").alias("sh2"), F.col("n_sh").alias("n2"))
    n_common = F.size(F.array_intersect("sh1", "sh2"))
    # No broadcast hint: the per-doc array table is unbounded (one row per
    # document — the whole corpus at 100 TB). AQE broadcasts it when its
    # runtime size fits and shuffle-joins when it doesn't; a hard hint would
    # ship the full corpus to every executor.
    return (
        cand.join(arr1, "d1")
        .join(arr2, "d2")
        .withColumn("n_common", n_common)
        .withColumn(
            "jaccard", F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "n_common", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_hashes: int = 16,
) -> DataFrame:
    """(id, sig) MinHash signatures, computed shuffle-shaped for scale:
    explode shingles → one md5 per (shingle, permutation) → map-side partial
    ``min`` per component → groupBy(id). Each md5 is evaluated exactly once
    (the expression-composed form re-evaluates the shingle builder inside
    every hash lambda — see ``_shingle_rows``); the groupBy combines
    partially on the map side, so the shuffle carries only one 16-component
    row per document, and every downstream consumer of the signatures sits on
    the same Exchange, which ReuseExchange computes once. Docs with no
    shingles (< n tokens) are dropped, matching
    ``functions.text.minhash_signature``'s null-signature filter."""
    # Carter-Wegman-style affine family: ONE md5 per shingle, split into two
    # 48-bit integers (h1, h2); permutation i hashes to h1 + i*h2 (max
    # ~2^52, no overflow). 16x less hashing than md5-per-(shingle, i), and
    # still exactly reproducible in the DuckDB oracle (same integer math).
    # min(bigint) keeps the aggregation in HashAggregate — min(string) would
    # force a SortAggregate and shuffle 4x the bytes.
    base = F.md5(F.col("s"))
    h1 = F.conv(F.substring(base, 1, 12), 16, 10).cast("long")
    h2 = F.conv(F.substring(base, 13, 12), 16, 10).cast("long")
    hashed = _shingle_rows(df, id_col, text_col, n).select(
        "doc", *[(h1 + F.lit(i) * h2).alias(f"h{i}") for i in range(n_hashes)]
    )
    mins = hashed.groupBy("doc").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(n_hashes)]
    )
    return mins.select(
        F.col("doc").alias(id_col),
        F.array(*[F.col(f"m{i}") for i in range(n_hashes)]).alias("sig"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + LSH near-duplicate candidates with signature-estimated
    Jaccard. shingle→minhash→band→bucket-join; only bucket collisions are
    compared. Returns ``(d1, d2, est_jaccard)``, d1 < d2, est ≥ threshold."""
    rows = n_hashes // bands
    sig = minhash_signatures(
        df, id_col=id_col, text_col=text_col, n=n, n_hashes=n_hashes
    ).withColumnRenamed(id_col, "doc")
    banded = sig.select(
        "doc", F.explode(lsh_band_keys(F.col("sig"), bands, rows)).alias("bk")
    ).select("doc", "bk.band", "bk.bkey")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
        .distinct()
    )
    s1 = sig.select(F.col("doc").alias("d1"), F.col("sig").alias("sig1"))
    s2 = sig.select(F.col("doc").alias("d2"), F.col("sig").alias("sig2"))
    est = F.expr(
        "aggregate(zip_with(sig1, sig2, (x, y) -> IF(x = y, 1, 0)), 0, "
        "(acc, v) -> acc + v)"
    ) / float(n_hashes)
    # Signature table is one row per document — never hint-broadcast it
    # (see jaccard_similarity_pairs); AQE picks the join side by size.
    return (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("d1", "d2", "est_jaccard")
    )


def simhash_64(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """60-bit frequency-weighted SimHash per document (integer-only math,
    md5-derived — the canonical Charikar scheme: each term votes ±term_count
    per bit; the fingerprint is the per-bit sign).

    Token digest → 15 hex nibbles → per-bit ±count votes → sign bits packed
    into a bigint. Returns ``(id_col, simhash)``. Weighting by frequency
    (not distinct sets) is what separates corpora with small shared
    vocabularies. All-integer math → deterministic across engines.

    Physical note: the pure-expression form (60 contribution columns →
    60-way sum aggregate) measured ~6s at sf0.1 — 16M deep-tree expr evals
    plus a 60-buffer aggregation. This Arrow-batched kernel computes the
    identical integers (hashlib.md5 == Spark md5 == DuckDB md5; the
    tokenizer is the same regex/lowercase as ``functions.text.tokens``) in
    one map-side pass, ~10x faster, shuffling nothing."""
    import re as _re

    import pandas as pd

    tok_re = _re.compile("[^a-z0-9]+")

    def run(batches):
        import hashlib
        from collections import Counter

        for pdf in batches:
            if not len(pdf):
                continue
            out = []
            for text in pdf["_text"]:
                counts = Counter(t for t in tok_re.sub(" ", text.lower()).split() if t)
                votes = [0] * SIMHASH_BITS
                for t, cnt in counts.items():
                    h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
                    for j in range(SIMHASH_BITS):
                        if (h >> (SIMHASH_BITS - 1 - j)) & 1:
                            votes[j] += cnt
                        else:
                            votes[j] -= cnt
                sh = 0
                for j in range(SIMHASH_BITS):
                    if votes[j] > 0:
                        sh |= 1 << (SIMHASH_BITS - 1 - j)
                out.append(sh)
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), "simhash": out})

    return df.select(F.col(id_col), F.col(text_col).alias("_text")).mapInPandas(
        run, schema=f"{id_col} long, simhash long"
    )


def simhash_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 12,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ max_hamming (exact,
    integer math — identical output to a nested-loop self-join with
    bit_count).

    Physical strategy (measured at sf0.1, 5000 docs / 175k qualifying
    pairs): this corpus is near-duplicate-DENSE, so pigeonhole chunk
    equi-joins generate candidate sets comparable to the full pair space and
    lose to brute force (7.9s distinct / 39s first-match-filter vs 7.5s
    BNLJ). The winner is the blocked ±1-GEMM kernel below: hamming(a,b) =
    (BITS − a·b)/2 over ±1 bit vectors, per partition batch against the
    broadcast hash table — BLAS throughput instead of gather-bound XOR
    popcounts (19× the LUT kernel at 50k docs), and exact (every partial
    sum is an integer ≤ BITS, representable in float32), so no recompute
    pass is needed. The broadcast side is the (id, hash) table — 16
    bytes/doc, fine to ~10⁸ docs; beyond that, pigeonhole-bucket FIRST
    (sparse corpus ⇒ the chunk join wins there) and run this kernel within
    buckets."""
    sh = simhash_64(df, id_col=id_col, text_col=text_col)
    return hamming_pairs_gemm(
        sh,
        id_col=id_col,
        hash_col="simhash",
        bits=SIMHASH_BITS,
        max_hamming=max_hamming,
    )


def hamming_pairs_gemm(
    hashes: DataFrame,
    *,
    id_col: str,
    hash_col: str,
    bits: int = SIMHASH_BITS,
    max_hamming: int,
) -> DataFrame:
    """The exact blocked ±1-GEMM Hamming self-join over a precomputed
    integer-fingerprint table — the DENSE-corpus kernel behind
    ``simhash_pairs`` (see its docstring for the measured rationale).
    Collects the (id, hash) table to the driver (16 bytes/doc) and
    broadcasts it; exact because every ±1 partial sum is an integer ≤
    ``bits``, representable in float32. Returns (d1, d2, hamming),
    d1 < d2."""
    import numpy as np
    import pandas as pd

    n_bits = int(bits)
    rows = hashes.select(F.col(id_col), F.col(hash_col)).collect()
    ids = np.asarray([r[0] for r in rows], dtype=np.int64)
    hvals = np.asarray([r[1] for r in rows], dtype=np.uint64)
    spark = hashes.sparkSession
    bc = spark.sparkContext.broadcast((ids, hvals, int(max_hamming)))

    def _pm1_bits(h: "np.ndarray") -> "np.ndarray":
        """(n, n_bits) ±1 float32 bit matrix of the hash vector."""
        bits_ = (
            (h[:, None] >> np.arange(n_bits, dtype=np.uint64)[None, :])
            & np.uint64(1)
        ).astype(np.float32)
        return 2.0 * bits_ - 1.0

    def block_pairs(batches):
        ids_, hashes_, mh = bc.value
        # Hamming as a ±1 GEMM: ham(a,b) = (BITS - a·b) / 2 over ±1 bit
        # vectors — every partial sum is an integer with |sum| ≤ BITS, so
        # float32 BLAS is EXACT (integers ≤ 2^24 are representable) and the
        # result matches bit_count(xor) bit-for-bit. Measured 19x faster
        # than the 16-bit-LUT popcount at 50k docs (15.5 s vs 295 s single
        # process): the XOR outer product is gather/bandwidth-bound while
        # the GEMM runs at BLAS throughput.
        pm_all = _pm1_bits(hashes_)
        # sub-block the probe side so the G block stays ~50 MB per task
        # (32 concurrent tasks x a whole-partition block measured ~10 GB
        # of simultaneous float32 scratch at 50k docs — GC-pressure noise
        # in the full bench); BLAS throughput is unchanged at this size
        sub = max(1, (256 * 1024 * 1024 // 4) // max(len(ids_), 1) // 2)
        for pdf in batches:
            if not len(pdf):
                continue
            bid_all = pdf["d1"].to_numpy()
            bh_all = pdf["h1"].to_numpy().astype(np.uint64)
            for s in range(0, len(bid_all), sub):
                bid = bid_all[s : s + sub]
                g = _pm1_bits(bh_all[s : s + sub]) @ pm_all.T
                ham = ((n_bits - g) * 0.5).astype(np.int32)
                ii, jj = np.nonzero(
                    (ham <= mh) & (bid[:, None] < ids_[None, :])
                )
                yield pd.DataFrame(
                    {
                        "d1": bid[ii],
                        "d2": ids_[jj],
                        "hamming": ham[ii, jj].astype("int32"),
                    }
                )

    # probe side = the already-collected table (re-deriving it from the
    # lazy hash table would run the whole fingerprint pipeline a second time).
    # Partition count is sized to the DATA (≥512 probe rows per task, capped
    # at the core count) and handed to parallelize() directly: the old
    # defaultParallelism-slice createDataFrame + repartition(32) paid one
    # Python-worker round trip per slice plus a round-robin exchange to move
    # 16-byte rows — at 5k docs that was 64 task round trips for a kernel
    # whose GEMM work is ~50 ms (measured 1.86 s → 1.37 s min on the sf0.1
    # bench row). At ≥16k rows this saturates every core exactly as before.
    parts = max(
        1,
        min(spark.sparkContext.defaultParallelism, (len(ids) + 511) // 512),
    )
    src = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(int(i), int(h)) for i, h in zip(ids, hvals.astype(np.int64))],
            parts,
        ),
        "d1 long, h1 long",
    )
    return src.mapInPandas(block_pairs, schema="d1 long, d2 long, hamming int")


def simhash_pairs_bucketed(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 12,
    n_blocks: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance via PIGEONHOLE
    bucketing — the beyond-10⁸-docs path with NO driver collect (contrast
    ``simhash_pairs``, whose broadcast hash table bounds it).

    Pigeonhole: split the 60-bit fingerprint into ``max_hamming + 1`` chunks;
    any pair within ``max_hamming`` flips must agree EXACTLY on ≥ 1 chunk, so
    an equi-join on (chunk index, chunk value) finds every qualifying pair
    (lossless). Candidates verify with native ``bit_count(h1 XOR h2)`` —
    all-integer, identical output to the brute-force join.

    Scale shape: one explode to ``n_blocks`` rows/doc, one shuffle on the
    chunk key, candidate verification on (d1, d2) joins. Right for SPARSE
    corpora (few near-dups, random hashes far apart); on a near-dup-dense
    corpus the chunk buckets approach the full pair space and the blocked
    kernel in ``simhash_pairs`` wins — measured 7.9 s vs 1.0 s at sf0.1.
    """
    sh = simhash_64(df, id_col=id_col, text_col=text_col)
    return hamming_pairs_bucketed(
        sh,
        id_col=id_col,
        hash_col="simhash",
        bits=SIMHASH_BITS,
        max_hamming=max_hamming,
        n_blocks=n_blocks,
    )


def _n_chunks(bits: int, max_hamming: int, n_blocks: int | None) -> int:
    """Pigeonhole chunk count: max_hamming + 1 (the lossless minimum)
    unless overridden, clamped to [1, bits]."""
    b = int(n_blocks) if n_blocks is not None else int(max_hamming) + 1
    return max(1, min(b, int(bits)))


def _pigeonhole_chunks(hash_col: str, bits: int, b: int):
    """Array of (blk, val) structs — the ``b`` pigeonhole chunk keys of a
    ``bits``-bit fingerprint column. Chunk j covers bits
    [start_j, start_j + len_j); sizes differ by ≤ 1. Shared by the
    bucketed join and the candidate-density estimator so the estimate
    prices EXACTLY the join the bucketed kernel would run."""
    bounds = [(bits * j) // b for j in range(b + 1)]
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("blk"),
                # Mask, not %: Spark's % follows the dividend's sign, so a
                # bits-64 hash with bit 63 set (negative long) would get a
                # different chunk-0 value than a positive hash with the same
                # low bits, silently dropping pairs and breaking the lossless
                # pigeonhole guarantee. bitwiseAND extracts sign-independently.
                F.shiftrightunsigned(hash_col, bounds[j])
                # two's-complement wrap: a full 64-bit chunk (max_hamming=0
                # over a 64-bit hash) has mask 2^64-1, which overflows a
                # signed long literal — wrap to -1 (same bit pattern)
                .bitwiseAND(
                    F.lit(
                        m - (1 << 64)
                        if (m := (1 << (bounds[j + 1] - bounds[j])) - 1)
                        >= (1 << 63)
                        else m
                    )
                )
                .alias("val"),
            )
            for j in range(b)
        ]
    )


def hamming_candidate_stats(
    hashes: DataFrame,
    *,
    id_col: str,
    hash_col: str,
    bits: int,
    max_hamming: int,
    n_blocks: int | None = None,
) -> dict:
    """Price the pigeonhole join before running it: one explode + one
    grouped aggregate returns ``{"n_docs", "cand_pairs"}`` where
    ``cand_pairs`` = Σ_bucket C(n_k, 2) over the (blk, val) chunk buckets —
    EXACTLY the pre-distinct row count the bucketed kernel's candidate
    join would emit (multi-chunk agreements counted once per chunk, as
    the join emits them). This is the dispatch input for
    ``hamming_pairs_auto``; same Σn² machinery as
    ``plans.scale.key_skew_report``. At 100 TB run it on a uniform hash
    sample and scale cand_pairs by 1/frac² — density is scale-free."""
    row = hamming_candidate_stats_df(
        hashes,
        hash_col=hash_col,
        bits=bits,
        max_hamming=max_hamming,
        n_blocks=n_blocks,
    ).collect()[0]
    return {"n_docs": int(row["n"] or 0), "cand_pairs": int(row["cand"] or 0)}


def hamming_candidate_stats_df(
    hashes: DataFrame,
    *,
    hash_col: str,
    bits: int,
    max_hamming: int,
    n_blocks: int | None = None,
) -> DataFrame:
    """One-row DataFrame form of :func:`hamming_candidate_stats` —
    ``(cand, n)`` — so the dispatch diagnostics are themselves a
    registerable, oracle-checkable query."""
    b = _n_chunks(bits, max_hamming, n_blocks)
    sh = hashes.select(F.col(hash_col).alias("_h"))
    keyed = sh.select(F.explode(_pigeonhole_chunks("_h", bits, b)).alias("c")).select(
        "c.blk", "c.val"
    )
    per_bucket = keyed.groupBy("blk", "val").agg(
        F.count("*").cast("bigint").alias("_nk")
    )
    return per_bucket.agg(
        F.sum(F.col("_nk") * (F.col("_nk") - 1) / 2).cast("bigint").alias("cand"),
        # each doc contributes exactly one row to chunk 0 → Σ_nk|blk=0 = n
        F.sum(F.when(F.col("blk") == 0, F.col("_nk")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n"),
    )


# Above this corpus size the GEMM kernel's driver collect + broadcast
# (16 bytes/doc → ~32 MB at the bound) stops being a free lunch; the
# bucketed kernel has no driver state at all.
GEMM_MAX_N = 2_000_000
# Candidate density (cand_pairs / C(n,2)) above which the shuffle-heavy
# bucketed join loses to broadcast BLAS: a shuffled candidate row costs
# ~10² × a BLAS cell (measured on the sf0.1 corpus: bucketed 7.9 s over
# ~dense buckets vs 1.0 s GEMM over the full 12.5M-cell pair space), so
# the cross-over sits around 1 candidate per ~100 cells. Note the
# random-collision FLOOR: a corpus of uniformly random fingerprints
# still collides on ~Σ_j 2^-len_j of all pairs (the chunk widths), so
# narrow chunks (max_hamming=9 over 60 bits → 6-bit chunks → floor
# ~0.16) make EVERY within-broadcast-range corpus "dense" — which is
# cost-correct: when buckets can't thin the pair space below ~1%, BLAS
# wins. The density branch only flips for wide chunks (small
# max_hamming), where a sparse corpus genuinely has near-zero
# candidates; the size bound (gemm_max_n) is what forces bucketed at
# 100 TB regardless.
DENSITY_CUTOFF = 0.01


def hamming_pairs_auto(
    hashes: DataFrame,
    *,
    id_col: str,
    hash_col: str,
    bits: int,
    max_hamming: int,
    n_blocks: int | None = None,
    gemm_max_n: int = GEMM_MAX_N,
    density_cutoff: float = DENSITY_CUTOFF,
    decision_out: dict | None = None,
) -> DataFrame:
    """Density-adaptive Hamming self-join (VERDICT r6 ask): estimate the
    pigeonhole candidate-pair density with ``hamming_candidate_stats``
    (one cheap aggregate), then dispatch

    - DENSE corpus (density ≥ density_cutoff) and n ≤ gemm_max_n →
      ``hamming_pairs_gemm`` (broadcast ±1 BLAS; the bucketed join would
      shuffle ~the full pair space), else
    - ``hamming_pairs_bucketed`` (distributed pigeonhole; no driver
      state, linear in true candidates).

    Both kernels are exact and emit identical (d1, d2, hamming) rows, so
    the dispatch is correctness-neutral — it only picks the physical
    plan, the same way AQE picks broadcast vs shuffle join at runtime.
    The fingerprint table is pooled-persisted so the estimator scan and
    the chosen kernel share one computation of the hashes.

    ``decision_out``: optional dict that receives {"kernel", "n_docs",
    "cand_pairs", "density"} for tests/diagnostics."""
    from pyvectorsearch_spark.plans.cachepool import pooled_persist

    sh = pooled_persist(hashes.select(F.col(id_col), F.col(hash_col)))
    st = hamming_candidate_stats(
        sh,
        id_col=id_col,
        hash_col=hash_col,
        bits=bits,
        max_hamming=max_hamming,
        n_blocks=n_blocks,
    )
    n, cand = st["n_docs"], st["cand_pairs"]
    full_pairs = n * (n - 1) // 2
    density = (cand / full_pairs) if full_pairs else 0.0
    dense = n > 1 and n <= gemm_max_n and density >= density_cutoff
    if decision_out is not None:
        decision_out.update(
            kernel="gemm" if dense else "bucketed",
            n_docs=n,
            cand_pairs=cand,
            density=density,
        )
    if dense:
        return hamming_pairs_gemm(
            sh, id_col=id_col, hash_col=hash_col, bits=bits, max_hamming=max_hamming
        )
    return hamming_pairs_bucketed(
        sh,
        id_col=id_col,
        hash_col=hash_col,
        bits=bits,
        max_hamming=max_hamming,
        n_blocks=n_blocks,
    )


def simhash_pairs_auto(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 12,
    decision_out: dict | None = None,
) -> DataFrame:
    """SimHash near-dup pairs with density-adaptive kernel dispatch —
    ``simhash_64`` fingerprints, then ``hamming_pairs_auto`` picks
    exact-GEMM (dense corpus) vs pigeonhole-bucketed (sparse / huge).
    Output is identical to both fixed-kernel forms."""
    sh = simhash_64(df, id_col=id_col, text_col=text_col)
    return hamming_pairs_auto(
        sh,
        id_col=id_col,
        hash_col="simhash",
        bits=SIMHASH_BITS,
        max_hamming=max_hamming,
        decision_out=decision_out,
    )


def hamming_pairs_bucketed(
    hashes: DataFrame,
    *,
    id_col: str,
    hash_col: str,
    bits: int,
    max_hamming: int,
    n_blocks: int | None = None,
) -> DataFrame:
    """Generic pigeonhole Hamming-distance self-join over any integer
    fingerprint column (SimHash, image dHash, audio chromaprint, …): split
    the ``bits``-bit hash into ``max_hamming + 1`` chunks; a pair within
    ``max_hamming`` flips must agree exactly on ≥ 1 chunk (lossless), so an
    equi-join on (chunk, value) finds every qualifying pair; native
    ``bit_count`` verifies. Same scale shape as ``simhash_pairs_bucketed``
    (which delegates here): one explode, one chunk-key shuffle, no collect.

    Returns (d1, d2, hamming), d1 < d2."""
    b = _n_chunks(bits, max_hamming, n_blocks)
    sh = hashes.select(F.col(id_col), F.col(hash_col).alias("simhash"))
    chunks = _pigeonhole_chunks("simhash", bits, b)
    keyed = sh.select(
        F.col(id_col).alias("doc"), "simhash", F.explode(chunks).alias("c")
    ).select("doc", "simhash", "c.blk", "c.val")
    a, bb = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(
            bb,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("d1"),
            F.col("b.doc").alias("d2"),
            F.col("a.simhash").alias("h1"),
            F.col("b.simhash").alias("h2"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))).cast("int")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
    )


def embedding_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.95,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ min_cosine, d1 < d2 (exact
    brute-force self-join, expression path). Quadratic in rows — prefer
    ``embedding_dup_pairs_blocked`` everywhere; this form exists as the
    UDF-free semantic reference."""
    a = df.select(F.col(id_col).alias("d1"), F.col(vec_col).alias("v1"))
    b = df.select(F.col(id_col).alias("d2"), F.col(vec_col).alias("v2"))
    return (
        a.join(b, F.col("d1") < F.col("d2"))
        .withColumn("cosine", cosine_sim(F.col("v1"), F.col("v2")))
        .filter(F.col("cosine") >= min_cosine)
        .select("d1", "d2", "cosine")
    )


def embedding_dup_pairs_blocked(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.95,
) -> DataFrame:
    """Embedding near-duplicate pairs via numpy block GEMM: one unit-normalized
    matrix multiply per (partition-batch × broadcast table) block, mask
    ``cosine ≥ t − ε`` and ``d1 < d2``, then recompute the survivors' cosine
    with the canonical sequential expression so values (and the threshold
    decision) are bit-identical to the expression path / DuckDB oracle.

    The broadcast side is the whole table — right for ≤ a few million rows
    (vectors are small); beyond that, LSH/IVF-bucket first and run this within
    buckets (see index.ivf). Candidate count is |output|, so the exact
    recompute join is tiny."""
    import numpy as np
    import pandas as pd

    rows = df.select(id_col, vec_col).collect()
    ids = np.asarray([r[0] for r in rows], dtype=np.int64)
    X = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    U = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
    bc = df.sparkSession.sparkContext.broadcast((ids, U, float(min_cosine)))

    def block_pairs(batches):
        ids_, U_, t = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            bid = pdf["d1"].to_numpy()
            B = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["v1"]])
            B = B / np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-300)
            C = B @ U_.T
            # ε-slack: BLAS reassociates sums; the exact filter happens after
            # the sequential recompute below.
            ii, jj = np.nonzero((C >= t - 1e-9) & (bid[:, None] < ids_[None, :]))
            yield pd.DataFrame({"d1": bid[ii], "d2": ids_[jj]})

    cand = df.select(F.col(id_col).alias("d1"), F.col(vec_col).alias("v1")).mapInPandas(
        block_pairs, schema="d1 long, d2 long"
    )
    v1 = df.select(F.col(id_col).alias("d1"), F.col(vec_col).alias("v1"))
    v2 = df.select(F.col(id_col).alias("d2"), F.col(vec_col).alias("v2"))
    return (
        cand.join(v1, "d1")
        .join(v2, "d2")
        .withColumn("cosine", cosine_sim(F.col("v1"), F.col("v2")))
        .filter(F.col("cosine") >= min_cosine)
        .select("d1", "d2", "cosine")
    )


# Above this Catalyst size estimate of the (id, vector) projection the
# blocked GEMM's driver collect + broadcast stops being safe (the whole
# vector table lives on the driver and every executor). 256 MiB ≈ 500k
# rows at 64 double dims — far under the 8 GB broadcast-relation cap, and
# the bucketed kernel needs no driver state at all beyond its k-means
# sample.
EMB_GEMM_MAX_BYTES = 256 << 20


def embedding_dup_pairs_auto(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.95,
    model: "AngularModel | None" = None,
    model_fn=None,
    gemm_max_bytes: int = EMB_GEMM_MAX_BYTES,
    decision_out: dict | None = None,
) -> DataFrame:
    """Size-dispatched embedding near-dup join (r11; the same dispatch
    pattern as ``hamming_pairs_auto`` and the bounded driver union-find):

    - vector tables PROVABLY under ``gemm_max_bytes`` (Catalyst plan-size
      estimate, no job) take ``embedding_dup_pairs_blocked`` — one driver
      collect + broadcast + ONE Python boundary, no shuffle (measured
      1.36 s → 0.84 s median on the sf0.1 bench row vs the bucketed
      kernel's two boundaries + 16-group shuffle);
    - bigger or unknown-size tables take the lossless angular-IVF bucketed
      kernel, which never collects the vectors (``model`` / lazy
      ``model_fn`` supply its build-once artifact; it is not touched on
      the blocked branch).

    Both kernels recompute survivors' cosine with the canonical sequential
    expression, so the output rows are IDENTICAL — the dispatch only picks
    the physical plan."""
    small = plan_bytes_below(df.select(id_col, vec_col), gemm_max_bytes)
    if decision_out is not None:
        decision_out["kernel"] = "blocked" if small else "bucketed"
    if small:
        return embedding_dup_pairs_blocked(
            df, id_col=id_col, vec_col=vec_col, min_cosine=min_cosine
        )
    m = model if model is not None else (model_fn() if model_fn is not None else None)
    return embedding_dup_pairs_bucketed(
        df, id_col=id_col, vec_col=vec_col, min_cosine=min_cosine, model=m
    )


class AngularModel:
    """Bucketing model for ``embedding_dup_pairs_bucketed``: unit centroids
    + the corpus-wide max primary angle. Building it costs a sample job, a
    driver k-means, and one corpus pass (α_max); a production pipeline
    builds it ONCE per corpus snapshot and reuses it across dedup runs, so
    it round-trips through parquet like the other index artifacts."""

    def __init__(self, centroids, alpha_max: float):
        self.centroids = centroids
        self.alpha_max = float(alpha_max)

    def write(self, path: str, mode: str = "overwrite") -> None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        rows = [
            (int(i), [float(x) for x in c], self.alpha_max)
            for i, c in enumerate(self.centroids)
        ]
        spark.createDataFrame(
            rows, "list_id int, centroid array<double>, alpha_max double"
        ).coalesce(1).write.mode(mode).parquet(path)

    @staticmethod
    def load(spark, path: str) -> "AngularModel":
        import numpy as np

        rows = sorted(read_rows(spark, path), key=lambda r: r["list_id"])
        C = np.asarray([list(r["centroid"]) for r in rows])
        return AngularModel(C, rows[0]["alpha_max"])


def angular_bucket_model(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    n_lists: int | None = 16,
    sample_per_list: int = 64,
    seed: int = 42,
) -> AngularModel | None:
    """Build the angular bucketing model (None for an empty input):
    partition-head sample → driver k-means on the unit sphere → one
    map-side pass for the corpus-wide max primary angle.

    ``n_lists=None`` auto-scales the list count with the corpus:
    L ≈ √n (clamped to [16, 4096]) keeps expected per-bucket work
    Σ B_k² ≈ n²/L growing ~n^1.5 instead of n² at a fixed L — the IVF
    sizing rule — while the driver sample stays capped at 65,536 rows
    whatever L is (losslessness never depends on L; only throughput
    does)."""
    import numpy as np
    import pandas as pd

    from pyvectorsearch_spark.index.ivf import _kmeans

    if n_lists is None:
        n = df.count()
        if n == 0:
            return None
        n_lists = int(min(4096, max(16, round(n ** 0.5))))
        sample_per_list = max(8, min(sample_per_list, 65536 // n_lists))
    target = n_lists * sample_per_list
    n_parts = df.rdd.getNumPartitions()
    per_part = max(1, -(-target // max(n_parts, 1)))
    vec_type = dict(df.dtypes)[vec_col]

    def head_sample(batches):
        left = per_part
        for pdf in batches:
            if left <= 0 or not len(pdf):
                break
            take = pdf.iloc[:left]
            left -= len(take)
            yield take

    sample_rows = (
        df.select(F.col(vec_col).alias("_v"))
        .mapInPandas(head_sample, schema=f"_v {vec_type}")
        .limit(target)
        .collect()
    )
    if not sample_rows:
        return None
    S = np.asarray([list(r[0]) for r in sample_rows], dtype=np.float64)
    S = S / np.maximum(np.linalg.norm(S, axis=1, keepdims=True), 1e-300)
    C = _kmeans(S, min(n_lists, len(S)), iters=10, seed=seed)
    C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    bcC = df.sparkSession.sparkContext.broadcast(C)

    def batch_alpha_max(batches):
        C_ = bcC.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
            X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
            ang = np.arccos(np.clip(X @ C_.T, -1.0, 1.0))
            yield pd.DataFrame({"_a": [float(ang.min(axis=1).max())]})

    # α_max (corpus-wide max primary angle) — a deliberate ONE-ROW action:
    # only per-batch maxima cross the wire, and collecting the scalar up
    # front lets the probe radius be a literal in the probe pass instead of
    # re-evaluating the assignment subplan as a broadcast branch (the
    # round-1 shape computed the centroid scoring three times).
    amax_row = (
        df.select(F.col(vec_col).alias("_v"))
        .mapInPandas(batch_alpha_max, schema="_a double")
        .agg(F.max("_a"))
        .first()
    )
    amax = float(amax_row[0]) if amax_row[0] is not None else 0.0
    return AngularModel(C, amax)


def embedding_dup_pairs_bucketed(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.95,
    n_lists: int | None = 16,
    sample_per_list: int = 64,
    seed: int = 42,
    model: AngularModel | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs via LOSSLESS angular IVF bucketing +
    within-bucket GEMM — the corpus-scale path: the vector table is NEVER
    collected (contrast ``embedding_dup_pairs_blocked``, which broadcasts it).

    Bucketing (exact by the triangle inequality on angles): every vector gets
    one PRIMARY list (nearest centroid by angle) and PROBES every list whose
    centroid is within ``acos(min_cosine) + α_max`` of it, where ``α_max`` is
    the corpus-wide max primary angle (a one-row aggregate broadcast into the
    plan, not an action). For any pair (u, v) with cosine ≥ t:
    ``angle(u, c_v) ≤ angle(u, v) + angle(v, c_v) ≤ θ + α_max`` — u provably
    probes v's primary list, so the probe×primary join inside each list sees
    every qualifying pair. Within a list, a numpy GEMM over the grouped rows
    (``applyInPandas``) emits candidates; survivors recompute cosine with the
    canonical sequential expression so values and the threshold decision are
    bit-identical to the brute-force path / DuckDB oracle.

    Driver footprint: the k-means SAMPLE only (``n_lists·sample_per_list``
    rows, constant in corpus size). Shuffle: each vector moves to its probed
    lists (a few at tight thresholds; pruning degrades gracefully as θ or
    α_max grow — correctness never depends on it).
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    if model is None:
        model = angular_bucket_model(
            df,
            vec_col=vec_col,
            n_lists=n_lists,
            sample_per_list=sample_per_list,
            seed=seed,
        )
    if model is None:  # empty input
        return spark.createDataFrame([], "d1 long, d2 long, cosine double")
    C = model.centroids
    theta = float(np.arccos(min(max(min_cosine, -1.0), 1.0)))
    bcC = spark.sparkContext.broadcast(C)
    qs = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    vec_type = dict(df.dtypes)[vec_col]
    radius = theta + model.alpha_max + 1e-9

    amax = model.alpha_max

    def emit_lists(batches):
        """Map-side bucketing (mirrors IVFIndex.build's assignment): one
        candidate row in the primary list + one probe row per list whose
        centroid angle ≤ θ + α_max. No crossJoin, no window — the only
        shuffle downstream is the groupBy(list_id)."""
        C_ = bcC.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
            ang = np.arccos(np.clip(Xn @ C_.T, -1.0, 1.0))
            primary_ang = ang.min(axis=1)
            # The lossless guarantee REQUIRES α_max ≥ every current row's
            # primary angle. A cached model from an older corpus snapshot
            # can violate that silently (dropped pairs) — fail loudly.
            if float(primary_ang.max()) > amax + 1e-9:
                raise ValueError(
                    "embedding_dup_pairs_bucketed: row primary angle "
                    f"{float(primary_ang.max()):.6f} exceeds the model's "
                    f"alpha_max {amax:.6f} — the AngularModel is stale for "
                    "this corpus; rebuild it (angular_bucket_model)."
                )
            best = ang.argmin(axis=1)  # ties → lowest list_id, like the oracle
            ids_ = pdf["_id"].to_numpy()
            vs = list(pdf["_v"])
            out_id, out_list, out_role, out_v = [], [], [], []
            for i in range(len(ids_)):
                for lst in np.nonzero(ang[i] <= radius)[0]:
                    out_id.append(int(ids_[i]))
                    out_list.append(int(lst))
                    out_role.append("p")
                    out_v.append(vs[i])
                out_id.append(int(ids_[i]))
                out_list.append(int(best[i]))
                out_role.append("c")
                out_v.append(vs[i])
            yield pd.DataFrame(
                {"_id": out_id, "list_id": out_list, "_role": out_role, "_v": out_v}
            )

    tagged = qs.mapInPandas(
        emit_lists, schema=f"_id long, list_id int, _role string, _v {vec_type}"
    )

    t = float(min_cosine)

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        probe = pdf[pdf["_role"] == "p"]
        prim = pdf[pdf["_role"] == "c"]
        if not len(probe) or not len(prim):
            return pd.DataFrame({"d1": [], "d2": []}).astype({"d1": "int64", "d2": "int64"})
        P = np.asarray([np.asarray(v, dtype=np.float64) for v in probe["_v"]])
        Qm = np.asarray([np.asarray(v, dtype=np.float64) for v in prim["_v"]])
        P = P / np.maximum(np.linalg.norm(P, axis=1, keepdims=True), 1e-300)
        Qm = Qm / np.maximum(np.linalg.norm(Qm, axis=1, keepdims=True), 1e-300)
        # float32 GEMM: the candidate slack below absorbs fp32 error and
        # the exact threshold decision happens in the sequential-expression
        # recompute downstream, so the only effect is a few extra
        # candidates — half the bytes. The slack scales with dimension
        # (fp32 dot-product error ~ (d+2)·2^-24 incl. the normalization
        # cast), so losslessness holds for d ≫ 64 too (ADVICE r7).
        d_ = P.shape[1]
        slack = max(1e-4, 8.0 * (d_ + 2) * 2.0 ** -24)
        P32, Q32 = P.astype(np.float32), Qm.astype(np.float32)
        pid = probe["_id"].to_numpy()
        cid = prim["_id"].to_numpy()
        # TILE the Gram product: a hot list can hold O(corpus) rows (found
        # the hard way — an untiled 30k×15k float64 G per worker OOM'd the
        # sf10 wave, 32 workers × multi-GB). Bound each block's G to
        # ~128 MB whatever the bucket shape; BLAS throughput is unchanged.
        block = max(1, (128 << 20) // max(4 * len(Q32), 1))
        outs_d1, outs_d2 = [], []
        for lo in range(0, len(P32), block):
            G = P32[lo:lo + block] @ Q32.T
            ii, jj = np.nonzero(
                (G >= t - slack)
                & (pid[lo:lo + block, None] != cid[None, :])
            )
            ii = ii + lo
            outs_d1.append(np.minimum(pid[ii], cid[jj]))
            outs_d2.append(np.maximum(pid[ii], cid[jj]))
        d1 = np.concatenate(outs_d1) if outs_d1 else np.array([], dtype="int64")
        d2 = np.concatenate(outs_d2) if outs_d2 else np.array([], dtype="int64")
        return pd.DataFrame({"d1": d1, "d2": d2})

    cand = (
        tagged.groupBy("list_id")
        .applyInPandas(bucket_pairs, schema="d1 long, d2 long")
        .distinct()
    )
    v1 = df.select(F.col(id_col).alias("d1"), F.col(vec_col).alias("v1"))
    v2 = df.select(F.col(id_col).alias("d2"), F.col(vec_col).alias("v2"))
    return (
        cand.join(v1, "d1")
        .join(v2, "d2")
        .withColumn("cosine", cosine_sim(F.col("v1"), F.col("v2")))
        .filter(F.col("cosine") >= min_cosine)
        .select("d1", "d2", "cosine")
    )


def edit_distance_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 30,
    candidate_threshold: float = 0.3,
    n: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """LSH-blocked EDIT-DISTANCE near-duplicates: MinHash/LSH candidate
    generation (no all-pairs), then exact Levenshtein verification on the
    normalized text — the character-level complement to token-set Jaccard
    (catches small in-word edits Jaccard's whole-token granularity misses).

    Scale shape: the only quadratic work (the Levenshtein DP) runs on LSH
    bucket collisions only; a length-difference prefilter (|len1 - len2| >
    max_dist => distance must exceed max_dist) skips the DP entirely for
    hopeless pairs, and Spark's thresholded ``levenshtein(l, r, k)`` form
    abandons the DP early row-side. Distances are integers — engine-exact.

    Returns (d1, d2, edit_dist) with edit_dist <= max_dist."""
    from pyvectorsearch_spark.functions.text import tokens

    norm = F.concat_ws(" ", tokens(text_col))
    texts = df.select(F.col(id_col).alias("_tid"), norm.alias("_nt"))
    cand = minhash_lsh_pairs(
        df,
        id_col=id_col,
        text_col=text_col,
        n=n,
        n_hashes=n_hashes,
        bands=bands,
        threshold=candidate_threshold,
    ).select("d1", "d2")
    j = (
        cand.join(texts.withColumnRenamed("_tid", "d1").withColumnRenamed("_nt", "_t1"), "d1")
        .join(texts.withColumnRenamed("_tid", "d2").withColumnRenamed("_nt", "_t2"), "d2")
        .filter(
            F.abs(F.length("_t1") - F.length("_t2")) <= max_dist
        )
    )
    dist = F.levenshtein("_t1", "_t2", max_dist)
    return (
        j.withColumn("edit_dist", dist)
        .filter(F.col("edit_dist") >= 0)
        .select("d1", "d2", F.col("edit_dist").cast("int").alias("edit_dist"))
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    by: str = "source",
    window: int = 3,
) -> DataFrame:
    """Sorted-neighborhood entity-resolution blocking (Hernandez & Stolfo
    1995): sort each block on a content fingerprint and pair every row with
    its next ``window`` neighbors — candidate pairs for any downstream
    verifier without an all-pairs join.

    Distributed shape: the sort key is the rolling-hash fingerprint (a
    projection) and the neighborhood windows run per ``by`` block
    (``partitionBy(by)``) — no global single-task sort; pair emission is
    ``lead`` over the block order, so each row produces <= window rows.

    Returns (``by``, d1, d2, neighbor_dist) with neighbor_dist = 1..window
    in fingerprint order."""
    from pyspark.sql import Window as W

    norm = F.concat_ws(" ", tokens(text_col))
    gram = 8
    grams = F.expr(
        f"transform(sequence(1, greatest(length(_nt) - {gram - 1}, 1)), "
        f"i -> md5(substr(_nt, i, {gram})))"
    )
    d = df.select(F.col(by), F.col(id_col), norm.alias("_nt")).withColumn(
        "_fp", F.array_min(grams)
    )
    w = W.partitionBy(by).orderBy("_fp", id_col)
    # windows cannot live inside a generator: materialize the lead columns
    # first, then explode the (already computed) neighbor array
    led = d.select(
        by,
        F.col(id_col).alias("d1"),
        *[F.lead(id_col, j).over(w).alias(f"_l{j}") for j in range(1, window + 1)],
    )
    out = led.select(
        by,
        "d1",
        F.posexplode(
            F.array(*[F.col(f"_l{j}") for j in range(1, window + 1)])
        ).alias("_j", "d2"),
    )
    return out.filter(F.col("d2").isNotNull()).select(
        by, "d1", "d2", (F.col("_j") + 1).alias("neighbor_dist")
    )


def _srp_hyperplanes(n_bits: int, dim: int, salt: str = "srp") -> list[list[int]]:
    """Deterministic hyperplane matrix for signed-random-projection LSH:
    component (j, i) is the first 48 bits of md5("salt|j|i") centered at
    2^47 — an integer-valued pseudo-Gaussian surrogate (mean 0, symmetric)
    that any engine reproduces exactly from the same strings. Returned as
    ints; both the Spark expression and the DuckDB oracle embed them as
    literals, so the projection fold is bit-identical."""
    import hashlib

    return [
        [
            int(
                hashlib.md5(f"{salt}|{j}|{i}".encode()).hexdigest()[:12], 16
            )
            - (1 << 47)
            for i in range(dim)
        ]
        for j in range(n_bits)
    ]


def srp_lsh_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    n_bits: int = 16,
    bands: int = 4,
    min_cosine: float = 0.95,
    salt: str = "srp",
    probe_flips: int = 0,
) -> DataFrame:
    """Hyperplane (signed-random-projection) LSH near-dup candidates with
    exact cosine verification — Charikar 2002's cosine LSH, the
    embedding-space member of the LSH family (MinHash = sets, SimHash =
    text, SRP = vectors). P[bit agrees] = 1 − angle/π, so banding the sign
    bits buckets vectors by angle without any centroid model — the
    model-free alternative to the angular IVF bucketing next door
    (``embedding_dup_pairs_bucketed``): no k-means build, no α_max pass,
    at the cost of probabilistic (not lossless) candidate generation.

    Determinism: hyperplanes derive from md5 (``_srp_hyperplanes``), the
    projection is a fixed-order fold of double products, and sign / band
    keys are pure integer packing — every engine computes the identical
    candidate set, so the OUTPUT (candidates passing exact cosine ≥ t,
    computed with the canonical sequential expression) is hash-checkable
    even though SRP recall is probabilistic.

    Scale shape: signatures are one zero-shuffle projection (n_bits fixed
    literal dot products per row); banding explodes to ``bands`` rows/row;
    one equi-join on (band, key); exact verify joins fetch only candidate
    vectors. No broadcast, no collect, no model artifact.

    ``probe_flips=1`` enables MULTI-PROBE (Lv et al., VLDB 2007 adapted to
    sign bits): the probe side additionally emits every band key with one
    bit flipped, so pairs whose keys differ by a single bit in some band
    still collide — recall rises steeply (a near-threshold pair straddling
    one hyperplane no longer needs a clean band) for (rows_per_band + 1)×
    probe fan-out instead of more bands/tables. The candidate set stays a
    deterministic function of the input, so the verified output remains
    hash-checkable.

    Returns (d1, d2, cosine) with d1 < d2, cosine ≥ min_cosine (rounded 6)."""
    if n_bits % bands:
        raise ValueError(f"bands must divide n_bits, got {n_bits=} {bands=}")
    if probe_flips not in (0, 1):
        raise ValueError(f"probe_flips must be 0 or 1, got {probe_flips}")
    H = _srp_hyperplanes(n_bits, dim, salt)
    rows_per_band = n_bits // bands

    v = F.col("_v").cast("array<double>")
    # fixed-order fold: sum_i v[i] * H[j][i], left to right — identical
    # accumulation in the DuckDB oracle's list_sum(list_transform(...)).
    def proj(j: int):
        return F.aggregate(
            F.zip_with(
                v,
                lit_double_array(H[j]),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    bits = [F.when(proj(j) >= 0, F.lit(1)).otherwise(F.lit(0)) for j in range(n_bits)]
    band_keys = [
        F.concat_ws(
            "",
            *[bits[b * rows_per_band + r].cast("string") for r in range(rows_per_band)],
        ).alias(f"_bk{b}")
        for b in range(bands)
    ]
    sig = df.select(
        F.col(id_col).alias("doc"), F.col(vec_col).alias("_v")
    ).select("doc", *band_keys)
    banded = sig.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"_bk{b}").alias("bkey"))
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc", "bk.band", "bk.bkey")
    probe = banded
    if probe_flips:
        def _flip(pos: int):
            ch = F.substring("bkey", pos, 1)
            return F.concat(
                F.substring("bkey", 1, pos - 1),
                F.when(ch == "0", F.lit("1")).otherwise(F.lit("0")),
                F.substring("bkey", pos + 1, rows_per_band),
            )

        variants = F.array(
            F.col("bkey"), *[_flip(p) for p in range(1, rows_per_band + 1)]
        )
        probe = banded.select(
            "doc", "band", F.explode(variants).alias("bkey")
        )
    a, b = probe.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc") != F.col("b.doc")),
        )
        .select(
            F.least("a.doc", "b.doc").alias("d1"),
            F.greatest("a.doc", "b.doc").alias("d2"),
        )
        .distinct()
    )
    # Two-phase verify: short band keys are deliberately recall-heavy, so
    # the candidate set is orders of magnitude larger than the output — a
    # numpy batch prefilter (ε-slack for BLAS reassociation) kills the
    # non-pairs cheaply, and only SURVIVORS pay the exact sequential-fold
    # expression whose value the oracle pins (the
    # ``embedding_dup_pairs_blocked`` pattern; measured ~4× on sf0.1).
    import numpy as np
    import pandas as pd

    v1 = df.select(F.col(id_col).alias("d1"), F.col(vec_col).alias("v1"))
    v2 = df.select(F.col(id_col).alias("d2"), F.col(vec_col).alias("v2"))
    t = float(min_cosine)

    def prefilter(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf["v1"]])
            B = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf["v2"]])
            num = (A * B).sum(axis=1)
            den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
            c = num / np.maximum(den, 1e-300)
            keep = c >= t - 1e-6
            yield pd.DataFrame(
                {"d1": pdf["d1"].to_numpy()[keep], "d2": pdf["d2"].to_numpy()[keep]}
            )

    rough = (
        cand.join(v1, "d1")
        .join(v2, "d2")
        .mapInPandas(prefilter, schema="d1 long, d2 long")
    )
    return (
        rough.join(v1, "d1")
        .join(v2, "d2")
        .withColumn("cosine", F.round(cosine_sim(F.col("v1"), F.col("v2")), 6))
        .filter(F.col("cosine") >= min_cosine)
        .select("d1", "d2", "cosine")
    )


def containment_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """ASYMMETRIC near-dup join: pairs where doc d1's shingle set is
    ``threshold``-contained in doc d2's (|S1 ∩ S2| ≥ t·|S1|, d1 ≠ d2) —
    catches quote-inclusion / subset duplication that symmetric Jaccard
    misses entirely (a small doc pasted inside a huge one has Jaccard ≈
    |S1|/|S2| ≈ 0 but containment 1.0).

    Prefix filtering adapts losslessly to containment (Chaudhuri et al.
    2006's SSJoin primitive): under the global rare-first shingle order, if
    |S1 ∩ S2| ≥ t·|S1| then S1's first ``|S1| − ⌈t·|S1|⌉ + 1`` shingles
    must intersect S2 (otherwise all common shingles sit in S1's remaining
    ⌈t·|S1|⌉ − 1 < t·|S1| suffix) — so only the PROBE side prunes to its
    prefix; the indexed side posts its full set (no length filter either:
    the container may be arbitrarily larger — both relaxations are what
    containment semantics force vs the Jaccard join next door).

    Scale shape: same single shingle exchange + window-df attach as
    ``jaccard_similarity_pairs``; candidate cost is Σ_s df_prefix(s) ·
    df_full(s) — rare-first ordering keeps the probe prefixes off the hot
    shingles. Verification recomputes |S1 ∩ S2| exactly via
    ``array_intersect`` on the per-doc arrays.

    Returns (d1, d2, n_common, containment): d1 is the CONTAINED doc,
    containment = n_common/|S1| ≥ threshold, rounded 6."""
    from pyspark.sql import Window

    ex = _shingle_rows(df, id_col, text_col, n)
    exdf = ex.withColumn("df", F.count("*").over(Window.partitionBy("s")))
    ranked = exdf.groupBy("doc").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("df", "s"))), lambda t: t["s"]
        ).alias("sh"),
    )
    ranked = ranked.withColumn("n_sh", F.size("sh")).withColumn(
        "prefix",
        F.slice("sh", 1, F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1),
    )
    probe = ranked.select("doc", F.explode("prefix").alias("s"))
    post = ranked.select("doc", F.explode("sh").alias("s"))
    a, b = probe.alias("a"), post.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") != F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
        .distinct()
    )
    arr1 = ranked.select(
        F.col("doc").alias("d1"), F.col("sh").alias("sh1"), F.col("n_sh").alias("n1")
    )
    arr2 = ranked.select(F.col("doc").alias("d2"), F.col("sh").alias("sh2"))
    n_common = F.size(F.array_intersect("sh1", "sh2"))
    return (
        cand.join(arr1, "d1")
        .join(arr2, "d2")
        .withColumn("n_common", n_common)
        .withColumn(
            "containment", F.round(F.col("n_common") / F.col("n1"), 6)
        )
        .filter(F.col("containment") >= threshold)
        .select("d1", "d2", "n_common", "containment")
    )


def incremental_dedup_delta(
    corpus: DataFrame,
    delta: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Production-shape incremental dedup: screen a NEW batch against the
    existing corpus without ever re-pairing the corpus with itself. Two
    stages, both delta-driven:

    1. exact: md5 digest anti-screen (delta digests vs corpus digest set);
    2. near: MinHash band keys of the exact survivors equi-join the CORPUS
       band table — candidates are (delta x corpus) bucket collisions only,
       then the signature estimate applies the usual threshold.

    Scale shape: the corpus side contributes one digest groupBy and one
    band table (both corpus-sized but REUSABLE artifacts across batches —
    persist them and each new batch costs only its own hashing plus the
    bucket joins); the O(corpus²) self-pair space is never touched, which
    is the whole point: daily-batch dedup at 100 TB re-pairs ~0.1% of the
    pair volume a full re-run would.

    Returns one row per delta doc: (``id_col``, verdict, match_id) with
    verdict ∈ {exact_dup, near_dup, unique}; ``match_id`` the smallest
    matching corpus id (NULL for unique). Delta docs may match multiple
    corpus docs — the min keeps the report one-row-per-doc."""
    c_dig = corpus.select(
        F.md5(F.col(text_col)).alias("_digest"),
        F.col(id_col).alias("_cid"),
    ).groupBy("_digest").agg(F.min("_cid").alias("_cid"))
    d_dig = delta.select(F.col(id_col).alias("_did"), F.md5(F.col(text_col)).alias("_digest"))
    exact = d_dig.join(c_dig, "_digest").select(
        "_did", F.col("_cid").alias("_match")
    ).groupBy("_did").agg(F.min("_match").alias("_match"))

    survivors = delta.join(
        exact.select(F.col("_did").alias(id_col)), id_col, "left_anti"
    )
    c_sig = minhash_signatures(
        corpus, id_col=id_col, text_col=text_col, n=n, n_hashes=n_hashes
    ).withColumnRenamed(id_col, "_cid")
    d_sig = minhash_signatures(
        survivors, id_col=id_col, text_col=text_col, n=n, n_hashes=n_hashes
    ).withColumnRenamed(id_col, "_did")
    rows = n_hashes // bands
    c_band = c_sig.select(
        "_cid", F.explode(lsh_band_keys(F.col("sig"), bands, rows)).alias("bk")
    ).select("_cid", "bk.band", "bk.bkey")
    d_band = d_sig.select(
        "_did", F.explode(lsh_band_keys(F.col("sig"), bands, rows)).alias("bk")
    ).select("_did", "bk.band", "bk.bkey")
    cand = d_band.join(c_band, ["band", "bkey"]).select("_did", "_cid").distinct()
    est = F.expr(
        "aggregate(zip_with(sig1, sig2, (x, y) -> IF(x = y, 1, 0)), 0, "
        "(acc, v) -> acc + v)"
    ) / float(n_hashes)
    near = (
        cand.join(d_sig.select("_did", F.col("sig").alias("sig1")), "_did")
        .join(c_sig.select("_cid", F.col("sig").alias("sig2")), "_cid")
        .withColumn("_est", est)
        .filter(F.col("_est") >= threshold)
        .groupBy("_did")
        .agg(F.min("_cid").alias("_match"))
    )
    d_ids = delta.select(F.col(id_col).alias("_did"))
    verdict = (
        F.when(F.col("_ex").isNotNull(), F.lit("exact_dup"))
        .when(F.col("_nr").isNotNull(), F.lit("near_dup"))
        .otherwise(F.lit("unique"))
    )
    return (
        d_ids.join(exact.withColumnRenamed("_match", "_ex"), "_did", "left")
        .join(near.withColumnRenamed("_match", "_nr"), "_did", "left")
        .select(
            F.col("_did").alias(id_col),
            verdict.alias("verdict"),
            F.coalesce("_ex", "_nr").alias("match_id"),
        )
    )
