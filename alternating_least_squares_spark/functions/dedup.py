"""Deduplication operators for the training-data pipeline.

Hot-path expressions are native ``pyspark.sql.functions`` (JVM
codegen, no Python UDFs), except the MinHash signature pass, which is
vectorized NumPy behind ``mapInArrow``. The scalable shape is always
bucket-join, never all-pairs:

* **exact dedup** — hash-groupBy on md5(text): one shuffle.
* **near-dup (MinHash + LSH)** — Broder 1997 / Indyk–Motwani 1998:
  n-permutation MinHash signatures (hash family = xxhash64),
  banded into b bands of r rows; docs sharing any band hash become
  candidate pairs (one equi-join on the band hash), then an exact
  Jaccard filter prunes false positives. At 100 TB the band join is
  the only shuffle and its fan-out is controlled by (b, r).
* **SimHash** — Charikar 2002: 16-bit signed-projection fingerprint;
  near-dups share equal (or Hamming-close) simhash values.
* **n-gram Jaccard** — exact set overlap on word k-shingles, used as
  the verification stage of the LSH pipeline.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from alternating_least_squares_spark.checkpoint import (
    local_checkpoint_owned,
    release_local_checkpoint,
)
from alternating_least_squares_spark.functions import xxh
from alternating_least_squares_spark.functions.textfns import shingles, tokens
from alternating_least_squares_spark.functions.width import spread_if_narrow
from alternating_least_squares_spark.operators.graph import _hash_min
from alternating_least_squares_spark.session import ship_package


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two (distinct-element) arrays.
    ``array_intersect``/``array_union`` both dedupe, matching set
    semantics."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )


def containment(a: Column, b: Column) -> Column:
    """Exact containment C(A,B) = |A∩B| / |A| — Broder's asymmetric
    companion to Jaccard: high when A is an EXCERPT of B even though
    Jaccard is tiny (the quote/subset case near-dup misses). Empty A
    yields 0.0 by convention."""
    inter = F.size(F.array_intersect(a, b))
    na = F.size(a)
    return F.when(na == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / na.cast("double")
    )


def normalize_text(text: Column) -> Column:
    """Canonical text normalization for normalize-then-dedup (registry
    t16): casefold, replace non-alphanumerics with spaces, collapse
    runs of spaces, trim. Pure codegen (lower + two regexp_replace +
    trim) and intentionally simple enough that an ANSI-SQL oracle
    reproduces it verbatim. NULL → '' so null and empty text group
    together deterministically."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.lower(F.coalesce(text, F.lit(""))), "[^a-z0-9 ]", " "
            ),
            " +",
            " ",
        )
    )


def simhash(text: Column, bits: int = 16) -> Column:
    """Charikar 2002 SimHash over word tokens → long in [0, 2^bits).

    Bit i is the sign of Σ over tokens of ±1, where the ±1 comes from
    the parity of hex digit i of md5(token) (``F.conv`` hex→dec, which
    a SQL oracle reproduces with strpos on the hex alphabet).

    Token hashes are hoisted into one array before the per-bit loop —
    inlining ``md5(t)`` in the bit lambda would evaluate every
    token's md5 once per bit (16× the hashing and a 16×-duplicated
    codegen subtree)."""
    hashes = F.transform(tokens(text), F.md5)
    bit_cols = F.transform(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        lambda i: F.when(
            F.aggregate(
                hashes,
                F.lit(0),
                lambda acc, h: acc
                + F.when(
                    F.conv(h.substr(i + 1, F.lit(1)), 16, 10).cast("int") % 2
                    == 1,
                    F.lit(1),
                ).otherwise(F.lit(-1)),
            )
            > 0,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return F.aggregate(
        bit_cols, F.lit(0).cast("long"), lambda acc, bit: acc * 2 + bit
    )


def simhash64_table(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """64-bit SimHash per document as TWO 32-bit halves →
    ``(_id, _hi, _lo)`` — the v04 two-halves discipline: a single
    64-bit value would push bit 0 into the BIGINT sign bit, which
    ANSI mode and cross-engine XOR semantics both punish.

    Bit layout (shared verbatim by the d13 SQL oracle and the pytest
    Python replay): ``_hi`` packs the first 32 bits of each token's
    md5 (hex digits 1-8, MSB-first), ``_lo`` the next 32 (digits
    9-16); bit position ``g`` of a half is the majority sign over
    tokens of bit ``3 - g%4`` of hex digit ``g//4`` of that half.

    Plan shape — the r12/r13 HOF lesson applied BEFORE shipping this
    time: a per-bit ``transform``/``aggregate`` over the token array
    runs interpreted (64 bits × tokens ≈ 1.4·10⁸ lambda evals at
    sf0.1 — measured ~20 s); instead the tokens EXPLODE once, each
    row converts its md5 to two 32-bit longs (two ``conv`` calls per
    token, not 64), the 64 bit columns are plain literal-shift
    expressions inside whole-stage codegen, and ONE map-side-combined
    groupBy(id) sums them (measured ~1 s for the same work). The
    doc-keyed aggregation is the only exchange; empty/NULL-text docs
    are preserved via the left join back (all-zero sums → all-zero
    bits, simhash (0, 0) — the oracle's empty-list branch states the
    same)."""
    base = docs.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
    )
    tok = base.select(
        "_id", F.explode(tokens(F.col("_text"))).alias("_t")
    ).select("_id", F.md5("_t").alias("_h"))
    tok = tok.select(
        "_id",
        F.conv(F.col("_h").substr(1, 8), 16, 10).cast("long").alias("_w0"),
        F.conv(F.col("_h").substr(9, 8), 16, 10).cast("long").alias("_w1"),
    )
    # 64 plain codegen bit columns: ones-count per bit via literal
    # shifts (no HOF, no per-bit string ops)
    sums = tok.groupBy("_id").agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(
                F.shiftright(f"_w{w}", 31 - i).bitwiseAND(F.lit(1))
            ).alias(f"_c{w}_{i}")
            for w in (0, 1)
            for i in range(32)
        ],
    )

    def _half(w: int) -> Column:
        # majority sign: sum(+/-1) > 0  <=>  2*ones > n
        out = F.lit(0).cast("long")
        for i in range(32):
            bit = F.when(
                F.col(f"_c{w}_{i}") * 2 > F.col("_n"), F.lit(1)
            ).otherwise(F.lit(0))
            out = out + bit.cast("long") * F.lit(1 << (31 - i))
        return out

    packed = sums.select(
        "_id", _half(0).alias("_hi"), _half(1).alias("_lo")
    )
    return (
        base.select("_id")
        .join(packed, "_id", "left")
        .select(
            "_id",
            F.coalesce("_hi", F.lit(0)).alias("_hi"),
            F.coalesce("_lo", F.lit(0)).alias("_lo"),
        )
    )


def simhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_bucket_size: int | None = None,
    owned_out: list[int] | None = None,
) -> DataFrame:
    """Hamming-ball near-duplicate pairs over 64-bit SimHash — the
    Manku/Jain/Das Sarma (WWW'07) web-dedup design, completing the
    SimHash rung from "fingerprint computed" (d01) to an actual
    dedup JOIN. Returns ``(id_a, id_b, hamming)`` with id_a < id_b
    and hamming ≤ k.

    Candidate generation is EXHAUSTIVE by pigeonhole, not
    probabilistic: the 64 bits split into 4 contiguous 16-bit bands,
    and a pair differing in ≤ 3 bits can touch at most 3 bands, so
    it MATCHES at least one band exactly — recall is 1 by
    construction for k ≤ 3 (contrast MinHash banding's S-curve).
    Each band is an equi-join key (band index folded in so band 0
    and band 2 values never collide); the verify stage computes the
    exact distance as popcount(hi_a XOR hi_b) + popcount(lo_a XOR
    lo_b) — pure integer ops.

    Scale shape: one narrow signature pass, one 4-way band explode,
    one equi-join on the band key (THE shuffle), exact verify on two
    longs per side — no text and no token arrays cross the candidate
    shuffle.

    ``max_bucket_size`` FORFEITS the recall-1 contract (self-review
    r13): with only 4 bands, a distance-3 pair can share exactly ONE
    band, so dropping one hot bucket silently kills legitimate pairs
    — and degenerate corpora (near-empty docs all fingerprint to
    (0, 0)) lose even their distance-0 twins, the exact
    silent-recall<1 failure the k>3 ValueError exists to reject.
    Leave it None (the default, and what the d13 entry does) unless
    a measured hot bucket forces the trade, and prefer the
    guarantee-PRESERVING fixes first: pre-filter degenerate docs
    (empty/near-empty text) before calling, or widen to the full
    Manku block-permutation design (more bands over 64 bits → the
    pigeonhole covers k with room to spare) — the 10⁹-doc upgrade
    path either way."""
    if not 0 <= k <= 3:
        raise ValueError(
            f"k must be in [0, 3] (4 bands of 16 bits pigeonhole-cover "
            f"Hamming distance <= 3): {k}"
        )
    # The signature table is checkpointed because the RETURNED plan
    # reads it twice (bucket self-join + two verify joins); the
    # blocks therefore cannot be released here. Pass ``owned_out``
    # (a list this call extends with the block ids) and release them
    # via ``checkpoint.release_local_checkpoint`` once the result is
    # fully consumed — otherwise each call pins one signature copy
    # for the rest of the session (the pre-r14 behavior).
    sh, _own_sh = local_checkpoint_owned(
        simhash64_table(docs, id_col, text_col)
    )
    if owned_out is not None:
        owned_out.extend(_own_sh)
    mask = F.lit(0xFFFF)
    band_keys = F.array(
        F.shiftright("_hi", 16),
        F.col("_hi").bitwiseAND(mask),
        F.shiftright("_lo", 16),
        F.col("_lo").bitwiseAND(mask),
    )
    # fold the band index into the key's high bits so identical
    # 16-bit values in different bands never share a bucket
    buckets = sh.select(
        "_id",
        F.explode(
            F.transform(
                band_keys,
                lambda v, i: i.cast("long") * F.lit(65536) + v,
            )
        ).alias("_bh"),
    )
    buckets = _cap_buckets(buckets, max_bucket_size)
    cand = (
        buckets.alias("a")
        .join(buckets.alias("b"), "_bh")
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    left = sh.select(
        F.col("_id").alias("id_a"),
        F.col("_hi").alias("_hi_a"),
        F.col("_lo").alias("_lo_a"),
    )
    right = sh.select(
        F.col("_id").alias("id_b"),
        F.col("_hi").alias("_hi_b"),
        F.col("_lo").alias("_lo_b"),
    )
    hamming = (
        F.bit_count(F.col("_hi_a").bitwiseXOR(F.col("_hi_b")))
        + F.bit_count(F.col("_lo_a").bitwiseXOR(F.col("_lo_b")))
    ).cast("long")
    return (
        cand.join(left, "id_a")
        .join(right, "id_b")
        .select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= k)
    )


def exact_dup_groups(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup via hash-groupBy: (h, n_docs, keep_doc_id) with
    ``keep_doc_id`` = min doc id (the canonical survivor). NULL text
    hashes as '' so it groups with empty text, as the t05 oracle's
    ``md5(coalesce(text, ''))`` does."""
    return docs.groupBy(
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("h")
    ).agg(
        F.count("*").alias("n_docs"), F.min(id_col).alias("keep_doc_id")
    )


def _minhash_band_rows(
    hs: pa.ListArray,
    perm_seeds: list[np.uint64],
    band_seeds: list[np.uint64],
    rows_per_band: int,
) -> np.ndarray:
    """The band hashes of one Arrow batch of ``_hs`` lists, as an
    ``(n, bands)`` int64 array (see :func:`_arrow_minhash_bands`).

    A NULL ``_hs`` bands exactly like an empty one. Membership comes
    from the validity bitmap, never from the NULL slot's offsets (the
    Arrow format leaves those unspecified), and the values of NULL and
    empty rows are dropped before the per-document ``reduceat``."""
    n = len(hs)
    # `offsets` is the (slice-adjusted) offsets array, indexing
    # absolutely into `values`, which includes pre-slice data
    offs = np.asarray(hs.offsets).astype(np.int64)
    lengths = np.diff(offs)
    nonempty = (lengths > 0) & hs.is_valid().to_numpy(zero_copy_only=False)
    vals = np.asarray(hs.values).view(np.uint64)[offs[0] : offs[-1]]
    if not nonempty.all():
        vals = vals[np.repeat(nonempty, lengths)]
    ne_lengths = lengths[nonempty]
    ne_starts = np.cumsum(ne_lengths) - ne_lengths
    n_ne = int(ne_starts.size)
    out = np.empty((n, len(band_seeds)), dtype=np.int64)
    if n_ne:
        # per-permutation signature mins of the non-empty docs, whose
        # values are now contiguous: reduceat segments are exactly the
        # per-doc ranges
        sig = np.empty((len(perm_seeds), n_ne), dtype=np.uint64)
        for j, seed in enumerate(perm_seeds):
            y = xxh.hash_long(vals, seed).view(np.int64)
            # array_min on BIGINT compares SIGNED — min in int64 view,
            # store bits back as uint64
            sig[j] = np.minimum.reduceat(y, ne_starts).view(np.uint64)
        ne_bands = np.empty((n_ne, len(band_seeds)), dtype=np.int64)
        for b, seed in enumerate(band_seeds):
            h = np.broadcast_to(seed, (n_ne,)).copy()
            for r in range(rows_per_band):
                h = xxh.hash_long(sig[b * rows_per_band + r], h)
            ne_bands[:, b] = h.view(np.int64)
        out[nonempty] = ne_bands
    if n_ne < n:
        out[~nonempty] = np.array(band_seeds, dtype=np.uint64).view(np.int64)
    return out


def _arrow_minhash_bands(
    narrow: DataFrame, n_hashes: int, bands: int, rows_per_band: int
) -> DataFrame:
    """``(_id, _hs)`` → ``(_id, _hs, _bands)`` via ONE ``mapInArrow``
    pass: the ``n_hashes``-permutation MinHash of each doc's
    shingle-hash longs, folded into ``bands`` LSH band hashes, in
    vectorized uint64 NumPy (an expression spelling would run
    n_hashes × |shingles| interpreted ``xxhash64`` lambdas).

    Hash family: permutation ``j`` maps a shingle hash ``h`` to
    ``xxhash64(j, h)`` and keeps the signed minimum, so each slot is
    an independent min-wise draw and P[slot agrees] = Jaccard. Band
    ``b`` is ``xxhash64(b, slice(sig, b·r + 1, r))``.
    ``functions.xxh`` replicates Spark's ``XXH64`` short-input paths,
    so these are the longs the Spark expressions
    ``array_min(transform(_hs, h -> xxhash64(j, h)))`` and
    ``xxhash64(b, slice(...))`` produce. An empty or NULL ``_hs``
    (all-NULL signature, every element skipped in the fold) bands to
    ``hashInt(b, 42)``. The per-batch body is
    :func:`_minhash_band_rows`; the package is shipped to the workers
    (``session.ship_package``), so the pass runs from any working
    directory. The expression spelling lives in
    ``tests/pair_references.py`` and parity is pinned by
    ``tests/test_r19_optimizations.py``.

    Plan shape: one narrow zero-shuffle pass; only ``_id`` and
    ``_hs`` cross the Python boundary.
    """
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    in_schema = narrow.schema
    out_schema = StructType(
        [in_schema["_id"], in_schema["_hs"]]
        + [StructField("_bands", ArrayType(LongType()), False)]
    )

    def bands_batches(it):
        perm_seeds = [xxh.xxhash64_int_seed(j) for j in range(n_hashes)]
        band_seeds = [xxh.xxhash64_int_seed(b) for b in range(bands)]
        band_offsets_cache: dict[int, pa.Array] = {}
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            cols = {name: i for i, name in enumerate(batch.schema.names)}
            out = _minhash_band_rows(
                batch.column(cols["_hs"]), perm_seeds, band_seeds,
                rows_per_band,
            )
            if n not in band_offsets_cache:
                band_offsets_cache[n] = pa.array(
                    np.arange(0, (n + 1) * bands, bands, dtype=np.int32),
                    type=pa.int32(),
                )
            bands_arr = pa.ListArray.from_arrays(
                band_offsets_cache[n], pa.array(out.reshape(-1))
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(cols["_id"]),
                    batch.column(cols["_hs"]),
                    bands_arr,
                ],
                names=["_id", "_hs", "_bands"],
            )

    ship_package(narrow.sparkSession)
    return narrow.mapInArrow(bands_batches, out_schema)


def lsh_signatures(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
) -> DataFrame:
    """One narrow pass per doc → ``(_id, _hs, _bands)``: the distinct
    k-shingles hashed once to xxhash64 longs (``_hs``, the Jaccard
    verify payload), and their MinHash LSH band hashes (``_bands``,
    see :func:`_arrow_minhash_bands`). Shared by
    :func:`near_dup_pairs` (self-dedup) and
    :func:`incremental_near_dup_admission` (batch-vs-corpus).
    ``tests/pair_references.py`` holds the expression spelling the
    parity tests compare against."""
    rows_per_band = n_hashes // bands
    # The signature pass is narrow but compute-heavy; spread a narrow
    # input (small source read as one split) before it — but ONLY
    # then: see functions.width.spread_if_narrow for why an
    # unconditional repartition is a scale bug.
    docs = spread_if_narrow(docs, id_col)
    narrow = docs.select(
        F.col(id_col).alias("_id"),
        F.transform(
            F.array_distinct(shingles(F.col(text_col), k)),
            lambda s: F.xxhash64(s),
        ).alias("_hs"),
    )
    return _arrow_minhash_bands(narrow, n_hashes, bands, rows_per_band)


def near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH + exact Jaccard
    verification. Returns (id_a, id_b, jaccard) with id_a < id_b and
    jaccard ≥ threshold, rounded to 6 decimals.

    Jaccard is computed on the xxhash64 shingle longs the signature
    pass already built: set-identical to the k-word shingle strings
    unless two distinct shingles collide in 64 bits (≈ n²/2⁶⁵,
    negligible against LSH's own false-negative rate), at ~8 bytes per
    shingle through the verify joins. ``tests/pair_references.py``
    recomputes it on the strings for the parity test.

    ``max_bucket_size`` is the hot-bucket skew guard (opt-in): band
    buckets holding more than this many docs are DROPPED from
    candidate generation before the self-join — see :func:`_cap_buckets`
    for why that is the standard trade at corpus scale.

    Plan shape (scales to 100 TB):
      1. one narrow pass computing signature + band hashes per doc
      2. explode bands → equi-join on band hash (THE shuffle; never
         an all-pairs crossJoin)
      3. distinct candidate pairs → exact Jaccard on the shingle sets
    """
    if bands <= 0 or bands > n_hashes or n_hashes % bands:
        raise ValueError(
            f"bands must divide n_hashes (got bands={bands}, "
            f"n_hashes={n_hashes}); bands > n_hashes would make every "
            "band slice empty and the bucket join all-pairs"
        )
    sig = lsh_signatures(docs, id_col, text_col, n_hashes, bands, k)
    # Materialize once: three consumers below (bucket join build side,
    # probe side, and the Jaccard verification) would otherwise each
    # recompute the full shingle+signature pipeline.
    sig = sig.localCheckpoint(eager=True)
    buckets = sig.select("_id", F.explode("_bands").alias("_bh"))
    buckets = _cap_buckets(buckets, max_bucket_size)
    cand = (
        buckets.alias("a")
        .join(buckets.alias("b"), "_bh")
        .filter(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
        .distinct()
    )
    left = sig.select(F.col("_id").alias("id_a"), F.col("_hs").alias("_v_a"))
    right = sig.select(F.col("_id").alias("id_b"), F.col("_hs").alias("_v_b"))
    return (
        cand.join(left, "id_a")
        .join(right, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("_v_a"), F.col("_v_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _cap_buckets(
    buckets: DataFrame, max_bucket_size: int | None
) -> DataFrame:
    """Hot-bucket skew guard for LSH candidate generation: drop band
    buckets holding more than ``max_bucket_size`` docs (None = no
    cap). At corpus scale a single degenerate bucket — boilerplate
    shingles, empty-ish docs sharing the sentinel shingle — fans a
    self-join into |bucket|² pairs; one 1M-doc bucket is 10¹² pairs
    and dominates the whole job. Dropping it is the standard trade
    (cf. suffix-array/MinHash dedup pipelines): members of a bucket
    that hot are either exact-level duplicates (catch them FIRST with
    the cheap md5 groupBy, t05 — run before LSH in the curation
    pipeline) or spuriously share boilerplate the near-dup definition
    shouldn't fire on anyway. The lost pairs are only those whose
    EVERY shared band is hot, so true near-dups (which share many
    bands) survive a cap that kills degenerate buckets. One extra
    keyed count over the exploded bands, grouped on the same key the
    join shuffles on — no new shuffle shape."""
    if max_bucket_size is None:
        return buckets
    if max_bucket_size < 2:
        raise ValueError(
            f"max_bucket_size must be >= 2 (got {max_bucket_size}); a "
            "1-doc bucket can never produce a pair, so capping below 2 "
            "silently disables candidate generation"
        )
    w = Window.partitionBy("_bh")
    return (
        buckets.withColumn("_n", F.count("*").over(w))
        .filter(F.col("_n") <= max_bucket_size)
        .drop("_n")
    )


def batch_corpus_candidates(
    batch_sig: DataFrame,
    corpus_sig: DataFrame,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate (batch_id, corpus_id) pairs: batch band hashes probe
    the corpus band index with ONE equi-join. The corpus side appears
    exactly once and is never self-joined — corpus×corpus pairs are
    structurally impossible, which is the whole point of incremental
    admission (the corpus was already deduped when it was admitted).
    ``max_bucket_size`` caps CORPUS bucket sizes (the skew guard —
    the batch side is small by construction)."""
    b = batch_sig.select("_id", F.explode("_bands").alias("_bh"))
    c = corpus_sig.select("_id", F.explode("_bands").alias("_bh"))
    c = _cap_buckets(c, max_bucket_size)
    return (
        b.alias("b")
        .join(c.alias("c"), "_bh")
        .select(
            F.col("b._id").alias("batch_id"),
            F.col("c._id").alias("corpus_id"),
        )
        .distinct()
    )


def incremental_near_dup_admission(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Nightly-ingest NEAR-dup admission (the LSH extension of the
    exact-fingerprint d07 shape): admit each ``batch`` doc unless some
    ``corpus`` doc is an LSH candidate (shares ≥1 band) AND verifies
    at exact Jaccard ≥ ``threshold``. Returns the admitted batch rows
    (all original columns).

    Plan shape at 100 TB: the corpus is touched exactly twice — once
    to build its band index (the production path persists it instead:
    :func:`write_band_index` / :func:`admit_with_band_index`, which
    move zero corpus bytes per run) and once as the
    verify-payload lookup for candidate ids — and NEVER paired with
    itself; candidate generation is a single batch→corpus band
    equi-join whose fan-out is bounded by (bands, rows/band). The
    batch side (small) drives every join. Batch-internal near-dups
    are deliberately out of scope here: run :func:`near_dup_pairs` +
    :func:`keep_one_filter` on the (small) batch first if the feed can
    contain them."""
    bsig = lsh_signatures(batch, id_col, text_col, n_hashes, bands, k)
    csig = lsh_signatures(corpus, id_col, text_col, n_hashes, bands, k)
    # Materialize both: each feeds the bucket join AND a verify join.
    bsig = bsig.localCheckpoint(eager=True)
    csig = csig.localCheckpoint(eager=True)
    cand = batch_corpus_candidates(bsig, csig, max_bucket_size)
    rejected = (
        cand.join(
            bsig.select(F.col("_id").alias("batch_id"), F.col("_hs").alias("_v_b")),
            "batch_id",
        )
        .join(
            csig.select(F.col("_id").alias("corpus_id"), F.col("_hs").alias("_v_c")),
            "corpus_id",
        )
        .filter(jaccard(F.col("_v_b"), F.col("_v_c")) >= threshold)
        .select(F.col("batch_id").alias(id_col))
        .distinct()
    )
    # rejected ⊆ batch ids — always the small side; broadcast keeps the
    # final anti-join shuffle-free at any corpus size
    return batch.join(F.broadcast(rejected), id_col, "left_anti")


def write_band_index(
    docs: DataFrame,
    name: str,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    n_buckets: int = 8,
) -> None:
    """Materialize the corpus LSH index as TWO bucketed tables — the
    production layout d09's in-memory path re-derives per run:

    * ``<name>_bands`` ``(_bh, _cid)`` bucketed+sorted by ``_bh`` —
      the inverted band index the batch probes;
    * ``<name>_payload`` ``(_cid, _chs)`` bucketed+sorted by ``_cid``
      — the per-doc shingle-hash payload the verify stage reads.

    Signatures are computed ONCE here, never re-derived at probe time;
    at 100 TB that one-time bucketed write amortizes across every
    nightly admission run, and bucketing on the join keys means the
    corpus side of BOTH the probe join and the verify join ships zero
    bytes (the small batch broadcasts / shuffles to the buckets)."""
    spark = docs.sparkSession
    sig = lsh_signatures(docs, id_col, text_col, n_hashes, bands, k)
    sig = sig.localCheckpoint(eager=True)  # one signature pass, two sinks
    import os

    for tbl, df, key in (
        (
            f"{name}_bands",
            sig.select(
                F.explode("_bands").alias("_bh"), F.col("_id").alias("_cid")
            ),
            "_bh",
        ),
        (
            f"{name}_payload",
            sig.select(F.col("_id").alias("_cid"), F.col("_hs").alias("_chs")),
            "_cid",
        ),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            df.write.format("parquet")
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .option("path", os.path.join(path, tbl))
            .mode("overwrite")
            .saveAsTable(tbl)
        )


def admit_with_band_index(
    spark,
    name: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Admission against the PERSISTED index (semantics identical to
    :func:`incremental_near_dup_admission` — pinned by a parity test):
    admit each batch doc unless some indexed doc shares ≥1 band AND
    verifies at exact Jaccard ≥ threshold.

    The batch side is explicitly broadcast in both joins — a batch is
    small relative to the corpus by the definition of incremental
    admission — so the executed plan reads the bucketed corpus tables
    with NO Exchange on the corpus side at all: the only data that
    moves is the batch."""
    bands_tbl = spark.table(f"{name}_bands")
    payload_tbl = spark.table(f"{name}_payload")
    bsig = lsh_signatures(
        batch, id_col, text_col, n_hashes, bands, k
    ).localCheckpoint(eager=True)
    bb = bsig.select("_id", F.explode("_bands").alias("_bh"))
    idx = _cap_buckets(bands_tbl, max_bucket_size)
    cand = (
        F.broadcast(bb.withColumnRenamed("_id", "batch_id"))
        .join(idx, "_bh")
        .select("batch_id", F.col("_cid").alias("corpus_id"))
        .distinct()
    )
    rejected = (
        F.broadcast(
            cand.join(
                # every join the persisted-index path plans carries an
                # explicit batch-side broadcast hint: all three joined
                # inputs here are O(batch), and hints (not stats, which
                # checkpointed RDDs lack) are what make the
                # zero-corpus-shuffle plan deterministic
                F.broadcast(
                    bsig.select(
                        F.col("_id").alias("batch_id"),
                        F.col("_hs").alias("_v_b"),
                    )
                ),
                "batch_id",
            )
        )
        .join(payload_tbl, F.col("corpus_id") == F.col("_cid"))
        .filter(jaccard(F.col("_v_b"), F.col("_chs")) >= threshold)
        .select(F.col("batch_id").alias(id_col))
        .distinct()
    )
    # rejected ⊆ batch ids — always the small side; broadcast keeps the
    # final anti-join shuffle-free at any corpus size
    return batch.join(F.broadcast(rejected), id_col, "left_anti")


def keep_one_filter(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Drop the higher-id member of every near-dup pair. One anti-join,
    no round loop: a chain a–b–c keeps only a, though a and c may not
    be near-dups. :func:`dedup_components` is the exact clustering."""
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return docs.join(losers, id_col, "left_anti")


def dedup_components(
    pairs: DataFrame, max_iterations: int = 20
) -> DataFrame:
    """Exact connected components over a near-dup pair graph via
    hash-min label propagation: every vertex converges to the MINIMUM
    id reachable from it. Returns ``(id, component)``.

    Runs the round loop of ``operators.graph.components_fixed`` on the
    ``(id_a, id_b)`` edges, with ``max_iterations`` as its budget.
    Rounds needed = graph diameter; near-dup clusters are almost
    cliques, so 2–3 rounds in practice. Raises ``RuntimeError`` when
    the budget ends before a round changes no label: silently
    returning partial labels would let a keep-one dedup keep
    duplicates with no signal."""
    labels, owned, converged = _hash_min(
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b")),
        max_iterations,
    )
    if not converged:
        # release before raise: callers that catch the error must not
        # inherit this loop's pinned checkpoint
        release_local_checkpoint(labels, owned)
        raise RuntimeError(
            f"connected components did not converge in {max_iterations} "
            "rounds (graph diameter exceeds the budget); raise "
            "max_iterations"
        )
    return labels.select(F.col("vertex").alias("id"), "component")
