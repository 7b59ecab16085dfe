"""Deduplication operators for LLM training-data pipelines: exact,
word-shingle Jaccard (exact), MinHash+LSH (approximate, scale path), SimHash,
and incremental dedup against a persisted signature store.

Scale design (100 TB):
- Exact dedup is a hash groupBy on the normalized key — one shuffle of
  (key_hash, id); at scale group by md5 fingerprint, never the raw text.
- Exact all-pairs Jaccard is O(n²) and only exists as the small-scale oracle
  / verification path. The scale path is MinHash+LSH: per-doc signature
  (a narrow ``mapInArrow`` pass of numpy over Arrow batches), band hashes
  (a narrow projection), and a shuffle that only carries
  (band_hash -> doc_id) pairs; candidate pairs are then verified with exact
  Jaccard on the (tiny) candidate set. This is the standard
  shingle->minhash->band->bucket-join construction. The numpy pass
  computes Spark's own xxhash64 (``hashLong``/``hashInt`` in wrapping
  uint64 arithmetic), so signatures, and the band hashes of them, equal
  those of the ``F.xxhash64`` expression form bit for bit and persisted
  band stores stay valid.
- LSH operating point: bands/rows are tuned to the verify threshold. With
  ``num_perm`` perms in ``b`` bands of ``r`` rows the S-curve midpoint is
  (1/b)^(1/r); candidate-inclusion probability for a pair at Jaccard j is
  1-(1-j^r)^b. The defaults (32 perms, 16 bands × 2 rows, midpoint 0.25)
  give pairs at the 0.5 verify threshold inclusion prob ≥ 0.99 and pairs at
  0.75+ (the planted-dup regime) prob ≥ 1-2e-6 — measured recall on the
  test corpora is 1.0 (gated by the ``minhash_lsh_near_dups`` oracle match
  and ``tests/test_recall.py``).
- SimHash gives a 64-bit near-dup signature; Hamming-adjacent buckets are
  found by splitting the 64 bits into 4 16-bit keys. Pigeonhole guarantees
  recall ONLY for Hamming distance <= 3 (4 segments, 3 differing bits leave
  one segment intact) — callers must not ask for a larger radius than the
  segmentation supports (enforced below).
- Incremental dedup: a real pipeline dedups each new batch against an
  already-persisted corpus signature store, never re-shuffling the corpus
  text. The store is (fingerprint) for exact / (minhash bands) for near-dup;
  the daily join touches O(new batch) + a semi-join against the store.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .parallelism import gather_for_python, spread_fanout
from .text import TOKEN_SPLIT_RE


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep the min-id representative per duplicate group (deterministic,
    unlike dropDuplicates' arbitrary pick)."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )


def shingle_array(df: DataFrame, text: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Word n-gram shingles as an array column (``sh_arr``) — a narrow
    projection, no explode/shuffle. Docs with fewer than ``n`` tokens are
    dropped (an empty shingle set has no meaningful Jaccard, and the
    max_long MinHash sentinel would otherwise make all such docs collide
    into one O(m²) LSH clique)."""
    idx = ", ".join(f"t[i+{j}]" for j in range(n))
    return (
        df.select(
            F.col(id_col),
            F.split(F.lower(F.trim(F.col(text))), TOKEN_SPLIT_RE).alias("t"),
        )
        .filter(F.size("t") >= n)
        .select(
            id_col,
            F.expr(f"transform(sequence(0, size(t) - {n}), i -> concat_ws(' ', {idx}))").alias(
                "sh_arr"
            ),
        )
    )


def word_shingles(df: DataFrame, text: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles, exploded to (id, shingle) rows — the
    set-table form used by the exact-Jaccard (verification/oracle) path."""
    return (
        shingle_array(df, text, id_col, n)
        .select(id_col, F.explode("sh_arr").alias("shingle"))
        .distinct()
    )


def jaccard_pairs(shingles: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Exact pairwise Jaccard over a (id, shingle) set table. O(pairs sharing
    a shingle) — the verification/oracle path, not the 100 TB path."""
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
    )


# Spark's xxhash64 (org.apache.spark.sql.catalyst.expressions.XXH64) on
# numpy uint64 arrays. Array arithmetic wraps modulo 2**64 exactly as JVM
# longs do, so these reproduce Spark's hashes bit for bit (the tests check
# them against F.xxhash64 on edge values). Every product that can overflow
# runs on an array: numpy warns when two uint64 scalars overflow.
_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5_4 = np.uint64(0x27D4EB2F165667C5 + 4)
_P5_8 = np.uint64(0x27D4EB2F165667C5 + 8)
# Spark's default xxhash64 seed: xxhash64(a, b, ...) folds
# hash = hashX(col, hash) from this value, skipping null columns.
_XXH_SEED = 42


def _rotl(h: np.ndarray, r: int, tmp: np.ndarray) -> None:
    """Rotate ``h`` left by ``r`` bits in place; ``tmp`` is a work buffer."""
    np.left_shift(h, np.uint64(r), out=tmp)
    h >>= np.uint64(64 - r)
    h |= tmp


def _fmix(h: np.ndarray, tmp: np.ndarray) -> np.ndarray:
    """XXH64's final avalanche, in place; ``tmp`` is a work buffer."""
    for shift, prime in ((33, _P2), (29, _P3)):
        np.right_shift(h, np.uint64(shift), out=tmp)
        h ^= tmp
        h *= prime
    np.right_shift(h, np.uint64(32), out=tmp)
    h ^= tmp
    return h


def _xxh64_long(v: np.ndarray, seed) -> np.ndarray:
    """``XXH64.hashLong(v, seed)``: the xxhash64 of one long column value
    ``v`` (uint64 view of the long) under ``seed`` (uint64 array or int)."""
    k = v * _P2
    tmp = np.empty_like(k)
    _rotl(k, 31, tmp)
    k *= _P1
    h = np.asarray(seed, dtype=np.uint64) + _P5_8
    h = h ^ k  # not in place: ``seed`` may be a scalar
    _rotl(h, 27, tmp)
    h *= _P1
    h += _P4
    return _fmix(h, tmp)


def _xxh64_int(v: np.ndarray, seed, out=None, tmp=None) -> np.ndarray:
    """``XXH64.hashInt(v, seed)``: the xxhash64 of one int column value
    ``v`` (uint64 array holding the int's low 32 bits) under ``seed``
    (uint64 array or int). ``out`` and ``tmp``, buffers shaped like the
    result, let a loop reuse its memory instead of faulting in fresh
    pages on every call."""
    h = np.add(np.asarray(seed, dtype=np.uint64), _P5_4, out=out)
    h ^= (v & np.uint64(0xFFFFFFFF)) * _P1
    tmp = np.empty_like(h) if tmp is None else tmp
    _rotl(h, 23, tmp)
    h *= _P2
    h += _P3
    return _fmix(h, tmp)


def _minhash_batches(batches, id_col: str, num_perm: int):
    """The MinHash pass over Arrow batches of (id, hs): per shingle prehash
    ``hashLong(h, 42)`` once, then per permutation ``i`` the signed min
    over each row's list of ``hashInt(i, ·)`` of it, which is
    ``min(xxhash64(h, i))``. An empty list gives Long.MAX_VALUE (the
    fold's initial value) and a null list a null signature."""
    perms = np.arange(num_perm, dtype=np.uint64)
    names = [id_col, *(f"mh{i}" for i in range(num_perm))]
    for batch in batches:
        hs = batch.column(1)
        offsets = hs.offsets.to_numpy()
        base = offsets[0]
        filled = np.diff(offsets) > 0
        starts = offsets[:-1][filled] - base
        pre = _xxh64_long(
            hs.values.to_numpy()[base : offsets[-1]].view(np.uint64), _XXH_SEED
        )
        nulls = hs.is_null().to_numpy(zero_copy_only=False) if hs.null_count else None
        perm_h, tmp = np.empty_like(pre), np.empty_like(pre)
        cols = [batch.column(0)]
        for i in range(num_perm):
            mh = np.full(len(hs), np.iinfo(np.int64).max, dtype=np.int64)
            if len(starts):
                _xxh64_int(perms[i : i + 1], pre, perm_h, tmp)
                mh[filled] = np.minimum.reduceat(perm_h.view(np.int64), starts)
            cols.append(pa.array(mh, mask=nulls))
        yield pa.RecordBatch.from_arrays(cols, names=names)


def minhash_signatures(
    with_shingle_arr: DataFrame, id_col: str = "doc_id", num_perm: int = 32
) -> DataFrame:
    """Per-doc MinHash signature (id, mh0 .. mh{num_perm-1}), all longs.
    Permutation ``i`` is the min over the doc's shingles ``s`` of
    ``xxhash64(xxhash64(s), i)``, compared as signed longs; duplicates in
    the array cannot change a min. An empty array gives Long.MAX_VALUE in
    every column, a null array nulls.

    Two narrow passes, no shuffle. Spark hashes each shingle STRING once
    (``transform(sh_arr, s -> xxhash64(s))``), so UTF-8 hashing stays in
    the JVM. One ``mapInArrow`` pass then computes the permutations in
    numpy over each Arrow batch: Spark's ``xxhash64(h, lit(i))`` is
    ``XXH64.hashInt(i, XXH64.hashLong(h, 42))``, so the pass takes
    ``hashLong(h, 42)`` once per shingle, ``hashInt(i, ·)`` of it per
    permutation in wrapping uint64 arithmetic, and the per-row min with
    ``np.minimum.reduceat`` over the list offsets. The signatures are bit
    for bit those of the Spark-expression fold
    ``aggregate(hs, Long.MAX_VALUE, (acc, h) -> least(acc, xxhash64(h, i)))``,
    which evaluates 32 interpreted lambdas per shingle and pays their
    analysis on every call; a test keeps that fold as the oracle.

    Rehashing the fixed 8-byte prehash makes per-shingle cost
    O(bytes + num_perm) instead of O(num_perm * bytes). Seeding by
    re-hashing a high-entropy 64-bit value gives an equally independent
    permutation family (recall gates in tests/test_recall*.py re-certify
    the operating point).

    A small input is first coalesced to fewer partitions
    (``gather_for_python``): each Python task pays a fixed worker round
    trip, which would outweigh the hashing of a partition of a few rows."""
    hs = gather_for_python(with_shingle_arr).select(
        id_col, F.transform(F.col("sh_arr"), lambda s: F.xxhash64(s)).alias("hs")
    )
    out = T.StructType(
        [hs.schema[id_col]]
        + [T.StructField(f"mh{i}", T.LongType()) for i in range(num_perm)]
    )
    return hs.mapInArrow(
        lambda batches: _minhash_batches(batches, id_col, num_perm), out
    )


def band_hashes(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 32,
    bands: int = 16,
) -> DataFrame:
    """Stacked (id, band_id, band_hash) rows, doc-major — the LSH bucket
    table. This is also the persistable *signature store* schema for
    incremental dedup: O(docs*bands) narrow rows, independent of text size.

    Band ``b`` hashes its ``rows = num_perm // bands`` signature columns
    with ``xxhash64(mh_{b*rows}, .., mh_{b*rows+rows-1})`` (Spark's seed-42
    ``hashLong`` fold, which skips nulls), and one ``posexplode`` of the
    array of band hashes stacks them, its position being the band id. The
    projection is cheap to analyze (one generator, no struct per band) and
    runs in generated JVM code; an Arrow pass would pay a Python worker
    round trip per task for hashing that takes microseconds. Rows, order
    and schema are those of the per-band struct ``explode`` form, kept as
    the test oracle, so persisted stores stay valid.

    ``bands`` must divide ``num_perm`` exactly: bands > num_perm would give
    zero rows per band (a CONSTANT band hash putting the whole corpus in
    one bucket), and a non-divisor would silently drop the leftover
    permutations — both change the documented (bands, rows) S-curve, so
    they fail here instead."""
    if bands <= 0 or num_perm % bands != 0:
        raise ValueError(
            f"band_hashes: bands={bands} must be a positive divisor of "
            f"num_perm={num_perm} (rows per band = num_perm // bands); a "
            f"remainder would silently discard permutations and change the "
            f"LSH operating point"
        )
    rows = num_perm // bands
    band_hash = F.array(
        *[F.xxhash64(*[F.col(f"mh{b * rows + r}") for r in range(rows)]) for b in range(bands)]
    )
    return signatures.select(id_col, F.posexplode(band_hash).alias("band_id", "band_hash"))


# Pairs within one bucket, generated INSIDE the collected array (ids only).
_BUCKET_PAIR_EXPR = """
flatten(transform(ds, x ->
  filter(transform(ds, y -> IF(x < y, struct(x AS doc_a, y AS doc_b), null)),
         z -> z IS NOT NULL)))
"""


# Per-bucket pair generation is O(bucket²) structs inside ONE row/task; a
# pathological hot bucket (giant duplicate clique, low-entropy band) would
# blow the 2 GB single-row limit or OOM one executor with an opaque error.
# 10k members ≈ 5e7 pair structs ≈ 1 GB — the loud-failure line.
MAX_BUCKET_SIZE = 10_000


def _guard_bucket_size(buckets: DataFrame, max_bucket_size: int) -> DataFrame:
    """Fail LOUDLY (assert_true with bucket coordinates in the message) when
    a bucket exceeds ``max_bucket_size``, instead of letting the O(bucket²)
    in-array pair expansion kill a task with an opaque OOM. A corpus that
    trips this needs upstream cleanup (dedup the exact-duplicate clique) or
    more bands/segments — silently dropping the bucket would hide real dups.
    """
    return buckets.withColumn(
        "ds",
        F.when(
            F.assert_true(
                F.size("ds") <= max_bucket_size,
                F.concat(
                    F.lit("LSH bucket over max_bucket_size="),
                    F.lit(str(max_bucket_size)),
                    F.lit(": size="),
                    F.size("ds").cast("string"),
                    F.lit(" — dedup exact duplicates upstream or raise bands/segments"),
                ),
            ).isNull(),
            F.col("ds"),
        ),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 32,
    bands: int = 16,
    max_bucket_size: int = MAX_BUCKET_SIZE,
) -> DataFrame:
    """Band the signature (rows = num_perm/bands) and bucket: docs sharing
    any band hash become candidate pairs. Implemented as groupBy(bucket) ->
    collect_list -> in-array pair generation rather than a self-join: a
    self-join would evaluate the whole signature pipeline TWICE (the build
    side of the join cannot reuse the probe side's exchange), while this
    form computes signatures once and shuffles only (band_id, band_hash,
    id) rows — O(docs*bands) regardless of corpus size. Per-bucket pair
    generation is O(bucket²), which is inherent to LSH candidate generation
    in any formulation; pathological buckets (giant duplicate cliques) are
    a data property, and the empty-shingle clique — the one systematic
    source — is filtered upstream in shingle_array."""
    stacked = band_hashes(signatures, id_col, num_perm, bands)
    buckets = _guard_bucket_size(
        stacked.groupBy("band_id", "band_hash")
        .agg(F.collect_list(id_col).alias("ds"))
        .filter(F.size("ds") > 1),
        max_bucket_size,
    )
    return (
        buckets.select(F.explode(F.expr(_BUCKET_PAIR_EXPR)).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def verify_jaccard_pairs(
    candidates: DataFrame,
    shingle_arrs: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    assume_distinct: bool = False,
) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc_a, doc_b) pairs via
    per-doc distinct-shingle ARRAYS and ``array_intersect`` — two hash joins
    keyed on doc id, each candidate pair folds its two arrays exactly once.
    (The earlier formulation exploded doc_a's full shingle set per candidate
    before matching doc_b — an O(cand × shingles) fan-out this avoids.)
    ``assume_distinct`` skips the per-row array_distinct when the caller
    already de-duplicated the arrays (the materialized-reuse path)."""
    sh_set = (
        F.col("sh_arr") if assume_distinct else F.array_distinct("sh_arr")
    )
    arrs = shingle_arrs.select(F.col(id_col), sh_set.alias("sh_set"))
    return _jaccard_verify_two_sided(candidates, arrs, arrs, id_col, threshold)


def _jaccard_verify_two_sided(
    candidates: DataFrame,
    arrs_a: DataFrame,
    arrs_b: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verify with SEPARATE (id, sh_set) relations for the
    doc_a and doc_b sides. When the pair relation is asymmetric (corpus ×
    new-batch in incremental dedup), each join builds only its own side —
    the batch side never scans the corpus and vice versa."""
    aa = arrs_a.select(F.col(id_col).alias("doc_a"), F.col("sh_set").alias("set_a"))
    ab = arrs_b.select(F.col(id_col).alias("doc_b"), F.col("sh_set").alias("set_b"))
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size("set_a") + F.size("set_b") - inter
    return (
        candidates.join(aa, "doc_a")
        .join(ab, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(inter / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_near_dups(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket_size: int = MAX_BUCKET_SIZE,
) -> DataFrame:
    """Full near-dup pipeline: shingle -> minhash -> LSH candidates ->
    exact-Jaccard verification of the candidate pairs ONLY (the all-pairs
    jaccard_pairs path is the small-scale oracle; here the expensive exact
    check touches just the LSH survivors). Output: (doc_a, doc_b, jaccard)
    pairs above threshold. Precision is exact (verify stage); recall is the
    LSH S-curve at the operating point (see module docstring) — gated
    against the exact oracle in CORRECTNESS and tests/test_recall.py.

    The distinct-shingle arrays are materialized ONCE (localCheckpoint) and
    feed the signature path AND both sides of the verify join: without
    this, shingling — the full-text scan, the expensive stage — executes
    three times per run (candidate subtree + each verify side; the
    subtrees differ downstream, so Catalyst cannot reuse their exchanges).
    Distinct arrays leave every MinHash unchanged (a min can't see
    duplicates). At 100 TB the same reuse is expressed by persisting the
    shingle/signature tables (the incremental_* path); within a one-shot
    job, executor-local MEMORY_AND_DISK materialization is the equivalent."""
    # Re-spread before the checkpoint: the scan side is typically 1 split
    # at bench scale, and everything downstream of the materialized arrays
    # (signature folds, band hashing, verify array_intersects) is O(tokens)
    # per-row CPU that must use every core. No-op on wide inputs.
    sh_arr = spread_fanout(shingle_array(df, text, id_col, n))
    arrs = sh_arr.select(
        F.col(id_col), F.array_distinct("sh_arr").alias("sh_arr")
    ).localCheckpoint(eager=True)
    sigs = minhash_signatures(arrs, id_col, num_perm)
    cand = lsh_candidate_pairs(sigs, id_col, num_perm, bands, max_bucket_size)
    return verify_jaccard_pairs(cand, arrs, id_col, threshold, assume_distinct=True)


def incremental_exact_dedup(
    new_batch: DataFrame,
    store: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup a NEW batch against a persisted fingerprint store (the daily
    operation of a real training-data pipeline): drop new docs whose md5
    fingerprint already exists in the corpus store, then keep the min-id
    representative per fingerprint within the batch itself.

    ``store`` is a (fingerprint) table — at 100 TB it lives as a bucketed
    parquet/Delta table keyed on fingerprint; this join is a semi-join that
    never touches corpus text. Returns (doc_id, fingerprint) of survivors.
    """
    fp = F.md5(F.lower(F.trim(F.col(text)))).alias("fingerprint")
    batch_fp = new_batch.select(F.col(id_col), fp)
    novel = batch_fp.join(
        store.select("fingerprint"), "fingerprint", "left_anti"
    )
    keep = novel.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    return keep.select(id_col, "fingerprint")


def exact_fingerprint_store(corpus: DataFrame, text: str = "text") -> DataFrame:
    """The persisted side of incremental_exact_dedup: distinct md5
    fingerprints of the existing corpus.

    NORMALIZATION CONTRACT: this family fingerprints ``md5(lower(trim(
    text)))`` — internal whitespace PRESERVED. ``text.fingerprint``'s
    ``fp_md5`` additionally collapses whitespace runs; the two are
    deliberately different keys (byte-exact dup vs whitespace-insensitive
    dup) and a store built with one must never be probed with the other —
    pick per pipeline and keep both sides on the same definition."""
    return corpus.select(
        F.md5(F.lower(F.trim(F.col(text)))).alias("fingerprint")
    ).distinct()


def incremental_minhash_near_dups(
    new_batch: DataFrame,
    store_bands: DataFrame,
    store_shingle_arrs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup matches of a NEW batch against a persisted MinHash band
    store (``band_hashes`` output for the corpus, written once). The join
    carries only (band_id, band_hash) keys from the new batch — O(batch ×
    bands) rows against the bucketed store, never corpus × corpus. Verify
    joins the (small) candidate set back to per-doc shingle arrays,
    corpus side and batch side each building ONLY its own relation
    (doc_a is always a corpus id, doc_b always a batch id). The batch's
    distinct-shingle arrays are materialized once (localCheckpoint) and
    feed both its signature path and its verify side; the store sides are
    caller-provided persisted tables, so re-reading them is a scan, not a
    recompute.

    Returns (doc_a=corpus id, doc_b=new id, jaccard) above threshold.
    """
    new_arr = spread_fanout(shingle_array(new_batch, text, id_col, n)).select(
        F.col(id_col), F.array_distinct("sh_arr").alias("sh_arr")
    ).localCheckpoint(eager=True)
    new_bands = band_hashes(
        minhash_signatures(new_arr, id_col, num_perm), id_col, num_perm, bands
    )
    s = store_bands.alias("s")
    nb = new_bands.alias("n")
    cand = (
        s.join(
            nb,
            (F.col("s.band_id") == F.col("n.band_id"))
            & (F.col("s.band_hash") == F.col("n.band_hash")),
        )
        .select(F.col(f"s.{id_col}").alias("doc_a"), F.col(f"n.{id_col}").alias("doc_b"))
        .distinct()
    )
    corpus_arrs = store_shingle_arrs.select(
        F.col(id_col), F.array_distinct("sh_arr").alias("sh_set")
    )
    batch_arrs = new_arr.select(F.col(id_col), F.col("sh_arr").alias("sh_set"))
    return _jaccard_verify_two_sided(cand, corpus_arrs, batch_arrs, id_col, threshold)


# Single-fold SimHash: ONE pass over the token-hash array producing a
# 64-wide bit-balance vector (the previous formulation ran 64 independent
# aggregate() folds — 64 passes per row). SQL lambdas are used because
# shiftright/shiftleft need a non-literal bit index inside the fold, which
# the PySpark column API doesn't expose.
_SIMHASH_SUMS_EXPR = """
aggregate(
  hs,
  array_repeat(0, 64),
  (acc, h) -> zip_with(
    acc,
    sequence(0, 63),
    (a, j) -> a + CASE WHEN (shiftright(h, j) & 1L) = 1L THEN 1 ELSE -1 END
  )
)
"""

_SIMHASH_PACK_EXPR = """
aggregate(
  zip_with(
    sums,
    sequence(0, 63),
    (s, j) -> CASE WHEN s > 0 THEN shiftleft(1L, j) ELSE 0L END
  ),
  0L,
  (acc, x) -> acc | x
)
"""


def _md5_token_h64(t):
    """64-bit token hash from md5's first 16 hex chars, as two 32-bit halves
    (bits 32-63 = hex chars 1-8, bits 0-31 = chars 9-16). Exists so the
    SimHash pipeline can be oracle-checked: DuckDB has no xxhash64, but both
    engines produce identical md5 hex and can cast 8-hex-char substrings to
    int64 (DuckDB can't shift into bit 63 without overflow, so the oracle
    keeps the halves separate — same bits either way)."""
    h1 = F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(F.md5(t), 9, 8), 16, 10).cast("long")
    return F.shiftleft(h1, 32).bitwiseOR(h2)


def simhash(
    df: DataFrame, text: str = "text", id_col: str = "doc_id", token_hash: str = "xxhash64"
) -> DataFrame:
    """64-bit SimHash over tokens: per bit j, sign of sum over tokens of
    (bit_j(hash(token)) ? +1 : -1). ONE fold over the per-row token-hash
    array accumulates all 64 bit balances (array_repeat(0,64) accumulator,
    zip_with per element), then one fold packs the sign bits — a narrow
    projection, no explode, no shuffle, O(tokens) work per row.

    ``token_hash``: "xxhash64" (default — cheapest, the scale path) or
    "md5" (DuckDB-reproducible, used by the oracle-checked queries; the
    bucketing/verify machinery is identical either way)."""
    if token_hash == "md5":
        hash_one = _md5_token_h64
    elif token_hash == "xxhash64":
        hash_one = lambda t: F.xxhash64(t)  # noqa: E731
    else:
        raise ValueError(f"unknown token_hash {token_hash!r}")
    hashes = F.transform(
        F.split(F.lower(F.trim(F.col(text))), TOKEN_SPLIT_RE), hash_one
    )
    # The signature fold is O(tokens × 64) per row off a typically
    # 1-split scan — re-spread so it uses every core (no-op when wide).
    return (
        spread_fanout(df.select(F.col(id_col), hashes.alias("hs")))
        .select(id_col, F.expr(_SIMHASH_SUMS_EXPR).alias("sums"))
        .select(id_col, F.expr(_SIMHASH_PACK_EXPR).alias("simhash"))
    )


def simhash_segments(sig: DataFrame, id_col: str = "doc_id", segments: int = 4) -> DataFrame:
    """Split the 64-bit signature into ``segments`` equal bit-keys and stack
    to (id, simhash, seg_id, seg) rows — the SimHash bucket table (also the
    persistable store for incremental SimHash dedup)."""
    width = 64 // segments
    mask = (1 << width) - 1
    return sig.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("seg_id"),
                        F.shiftright(F.col("simhash"), width * k)
                        .bitwiseAND(F.lit(mask))
                        .alias("seg"),
                    )
                    for k in range(segments)
                ]
            )
        ).alias("s"),
    ).select(id_col, "simhash", "s.seg_id", "s.seg")


def simhash_near_dups(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    segments: int = 4,
    token_hash: str = "xxhash64",
    max_bucket_size: int = MAX_BUCKET_SIZE,
) -> DataFrame:
    """Near-dup pairs by SimHash: bucket on each of the ``segments`` equal
    bit-segments, verify Hamming distance via bit_count(xor).

    Pigeonhole guarantee: a pair within Hamming distance d shares at least
    one segment iff d < segments — so recall is exactly 1.0 (vs brute-force
    Hamming over the same signatures) only for max_hamming <= segments - 1.
    A larger radius than the segmentation supports is rejected rather than
    silently dropping pairs (the round-1 bug: max_hamming=16 with 4 segments
    missed every distance-4..16 pair not sharing a segment by luck).
    """
    if max_hamming > segments - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole recall bound "
            f"for {segments} segments (max supported: {segments - 1}); "
            f"use at least max_hamming+1 segments"
        )
    sig = simhash(df, text, id_col, token_hash)
    seg = simhash_segments(sig, id_col, segments)
    # Same one-pass bucket-collect shape as lsh_candidate_pairs (the
    # signature pipeline would otherwise run once per self-join side);
    # signatures ride along in the bucket so Hamming verification needs no
    # join back.
    pair_expr = f"""
    flatten(transform(ds, x ->
      filter(transform(ds, y -> IF(x.{id_col} < y.{id_col},
               struct(x.{id_col} AS doc_a, y.{id_col} AS doc_b,
                      x.simhash AS ha, y.simhash AS hb), null)),
             z -> z IS NOT NULL)))
    """
    buckets = _guard_bucket_size(
        seg.groupBy("seg_id", "seg")
        .agg(F.collect_list(F.struct(id_col, "simhash")).alias("ds"))
        .filter(F.size("ds") > 1),
        max_bucket_size,
    )
    pairs = (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select(
            "p.doc_a",
            "p.doc_b",
            F.bit_count(F.col("p.ha").bitwiseXOR(F.col("p.hb"))).cast("long").alias("hamming"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.first("hamming").alias("hamming"))
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


# Symmetrized-edge bound under which connected_components uses the
# single-task numpy path. Sized by per-task memory: 4M edges is ~64 MB of
# int64 index arrays in one task (the order of a broadcast hash-join build
# side), while corpus-scale near-dup graphs (billions of edges) stay far
# above it.
_CC_LOCAL_MAX_EDGES = 4_000_000


def _cc_local_supported(staged: DataFrame) -> bool:
    """The numpy path needs node-id min to agree with Spark's ordering
    under numpy/pandas semantics: exact for integers, and for strings
    (UTF-8 byte order equals code-point order, which is Python str
    order). Exotic id types fall back to the distributed loop."""
    return isinstance(
        staged.schema["src"].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.StringType),
    )


def _cc_local(staged: DataFrame) -> DataFrame:
    """Exact min-label connected components of a SMALL symmetrized edge
    relation in one executor task: all edge rows stream into a single
    ``mapInPandas`` partition as Arrow batches; labels live in
    index space over the sorted node universe (``np.unique`` — index
    order equals value order, so index min IS value min), and each
    vectorized round applies min-propagation over every edge plus one
    path-halving hop until fixpoint. Same fixpoint as the distributed
    loop (labels only decrease, only within components), so the output
    (node, lbl) frame is bit-identical."""
    src_type = staged.schema["src"].dataType
    out_schema = (
        f"node {src_type.simpleString()}, lbl {src_type.simpleString()}"
    )

    def cluster(batches):
        import numpy as np
        import pandas as pd

        srcs: list = []
        dsts: list = []
        for pdf in batches:
            srcs.append(pdf["src"].to_numpy())
            dsts.append(pdf["dst"].to_numpy())
        if not srcs:
            return
        src = np.concatenate(srcs)
        dst = np.concatenate(dsts)
        nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
        si, di = inv[: len(src)], inv[len(src) :]
        lbl = np.arange(len(nodes), dtype=np.int64)
        while True:
            prev = lbl
            nxt = lbl.copy()
            # propagate: nxt[a] <= lbl[b] for every directed edge (the
            # staged relation is symmetric, so one direction covers both)
            np.minimum.at(nxt, si, lbl[di])
            # path halving (labels are node indices, so lbl[lbl] is a hop)
            nxt = np.minimum(nxt, nxt[nxt])
            if np.array_equal(nxt, prev):
                break
            lbl = nxt
        yield pd.DataFrame({"node": nodes, "lbl": nodes[lbl]})

    # coalesce(1): narrow read of the already-materialized blocks into the
    # single numpy task — no shuffle, no driver collect.
    return staged.coalesce(1).mapInPandas(cluster, out_schema)


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a near-dup pair relation by MIN-LABEL
    PROPAGATION: every node starts labeled with itself; each round, each
    node takes the min label among itself and its neighbors; converged when
    no label changes. Returns (node, lbl) where lbl is the component's
    minimum member id — the deterministic cluster representative (same
    min-id convention as exact_dedup).

    This is the step that turns pairwise near-dup output into KEEP/DROP
    decisions when duplicates chain (A~B, B~C but not A~C): pair-based
    drop-the-larger-id would keep B out and C in; clustering keeps exactly
    one representative per transitive group.

    Scale design of the distributed loop (:func:`_cc_loop`): each round
    is one keyed join + one min-aggregate — O(edges) shuffle rows —
    followed by a PATH-HALVING hop (lbl <- lbl of lbl, one O(nodes)
    self-join), which turns convergence from O(diameter) rounds into
    O(log diameter): a chain that plain propagation crosses one hop per
    round collapses geometrically once labels start pointing at labels.
    ``localCheckpoint`` after every round cuts the iterative lineage (20
    chained joins would otherwise blow plan compilation), and the
    convergence check moves a single scalar count to the driver — the
    data never leaves the executors. Loop partitioning is sized to the
    MATERIALIZED state volume (edge count / ~500k per partition) via
    EXPLICIT ``repartition(loop_parts, key)`` on the loop relations — no
    session conf is mutated, so concurrent queries sharing the
    SparkSession plan with their own settings: the edge relation is staged
    once hash-partitioned on the join key (iterations never re-exchange
    it; only the O(nodes) label vector moves per round), and the remaining
    in-loop aggregates use the session default where AQE's coalescing
    right-sizes them at runtime. At 100 TB the same formula yields
    hundreds of partitions. This loop shape is deliberately the
    GraphX/GraphFrames propagation pattern expressed in plain DataFrame
    ops, so it needs no extra library at 100 TB.

    SMALL-GRAPH FAST PATH (r20, guide §1.2 "the distributed algorithm"):
    once the symmetrized edge relation is materialized and counted, a
    graph of at most ``_CC_LOCAL_MAX_EDGES`` (4M) symmetrized edges — tens
    of MB in one task, the same order as a broadcast hash-join build side
    — is clustered in ONE executor task: a vectorized numpy min-label
    propagation over the whole edge list inside ``mapInPandas`` (see
    :func:`_cc_local`). The distributed loop (:func:`_cc_loop`) pays ~5
    scheduled stages per round regardless of data volume; at bench scale
    that fixed cost is the entire runtime (measured r20: 3.1 s loop vs
    ~0.3 s local for the ER d1 graph, identical labels). The fixpoint is
    the same exact min-label-by-value (integer/string min — no floats), so
    results are bit-identical; the choice reads only the input — the
    exact post-distinct edge count (never a plan estimate) and the id
    type (:func:`_cc_local_supported`) — and above the bound, every
    corpus-scale graph takes the distributed loop.

    Null ids: a pair with a null endpoint is dropped before staging, so
    neither path sees it and no null node is ever emitted.
    """
    staged = _cc_stage(pairs, id_a, id_b)
    if staged.count() <= _CC_LOCAL_MAX_EDGES and _cc_local_supported(staged):
        return _cc_local(staged)
    return _cc_loop(staged, max_iter)


def _cc_stage(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """The symmetrized, distinct (src, dst) edge relation both CC paths
    run on, materialized once. Pairs with a null endpoint are dropped."""
    # Materialize the symmetrized edge set ONCE: without this, every
    # propagation round's join re-executes the full upstream pair plan
    # (for LSH input, the whole signature+bucket pipeline) — the dominant
    # cost of the loop. After the checkpoint each round touches only the
    # O(edges) materialized relation.
    return _cc_edges(pairs, id_a, id_b).localCheckpoint(eager=True)


def _cc_edges(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """Both orientations of every non-null pair, distinct. One explode
    emits (a, b) and (b, a) from each pair row, so the upstream pair plan
    runs once; a union of the pairs with their swap would run it once per
    branch."""
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).dropna()
    both = F.array(
        F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
        F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
    )
    return e.select(F.explode(both).alias("e")).select("e.src", "e.dst").distinct()


def _cc_loop(staged: DataFrame, max_iter: int) -> DataFrame:
    """The distributed min-label propagation with path halving over the
    staged edges (see :func:`connected_components`). Raises RuntimeError
    when the labels have not converged after ``max_iter`` rounds."""
    spark = staged.sparkSession
    # Loop partition count: sized to the materialized edge volume, capped
    # at the session's configured parallelism. Applied ONLY through
    # explicit repartition(numPartitions, key) below — the session conf is
    # never touched, so a concurrent query on the same SparkSession plans
    # with its own shuffle settings throughout the loop.
    try:
        session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # e.g. "auto" on some platforms
        session_parts = spark.sparkContext.defaultParallelism
    n_edges = staged.count()  # scalar off the materialized relation
    loop_parts = max(8, min(session_parts, n_edges // 500_000 + 1))
    # Re-stage hash-partitioned ON THE JOIN KEY: every propagation round's
    # join then sees its big side already distributed on `src` and only
    # exchanges the O(nodes) label vector (same staging rule as pagerank).
    edges = staged.repartition(loop_parts, "src").localCheckpoint(eager=True)
    # The label vector is kept explicitly co-partitioned with the staged
    # edges (loop_parts on the join key) by ending every round with a
    # repartition BEFORE the checkpoint: each round's propagation join
    # then needs zero exchanges — the O(edges) side never re-shuffles and
    # the trailing exchange moves only O(nodes) rows.
    # Labels SEEDED at min(self, min neighbor) — the identity-label
    # round 0 collapses into one aggregate over the already-staged edges
    # (same node set as distinct(src): symmetrization puts every node on
    # the src side), so the loop starts one propagation step ahead at the
    # cost of a min() instead of a full join round. The fixpoint is
    # unchanged: labels still only carry same-component member ids and
    # only ever decrease.
    labels = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("mn"))
        .select("node", F.least(F.col("node"), F.col("mn")).alias("lbl"))
        .repartition(loop_parts, "node")
        .localCheckpoint(eager=True)
    )
    # Node ids (and therefore labels) can be any orderable type — longs for
    # doc ids, strings for entity-resolution names — so the null `own`
    # carrier is cast to the label's OWN dtype, not a hardcoded long.
    lbl_type = labels.schema["lbl"].dataType
    converged = False
    for _ in range(max_iter):
        # SHUFFLE_HASH on the label vector: both sides are co-partitioned
        # on the join key (zero exchange either way), but sort-merge would
        # re-SORT the O(edges) side every round — hash-building the
        # O(nodes) label side instead streams the edges unsorted
        # (guide §3.1; measured ~20 % per-round at sf0.1).
        neigh = edges.join(
            labels.hint("shuffle_hash"), edges["src"] == labels["node"]
        ).select(
            F.col("dst").alias("node"),
            "lbl",
            F.lit(None).cast(lbl_type).alias("own"),
        )
        # The node's previous label rides through the aggregate as
        # `own` (exactly one non-null per node, from the self row), so
        # convergence is a narrow filter-count over the materialized
        # result — not a second O(nodes) shuffle join per round.
        new = (
            labels.select("node", "lbl", F.col("lbl").alias("own"))
            .unionByName(neigh)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"), F.max("own").alias("own"))
        )
        # Path halving: follow the label one more hop (min is safe —
        # labels only ever decrease toward the component minimum). Both
        # sides are O(nodes); AQE right-sizes the exchanges at runtime.
        hop = new.select(F.col("node").alias("hn"), F.col("lbl").alias("hl"))
        new = (
            new.join(hop.hint("shuffle_hash"), new["lbl"] == hop["hn"], "left")
            .select(
                "node",
                F.least("lbl", "hl").alias("lbl"),
                "own",
            )
            .repartition(loop_parts, "node")
            .localCheckpoint(eager=True)
        )
        changed = new.filter(F.col("lbl") != F.col("own")).count()
        labels = new.select("node", "lbl")
        if changed == 0:
            converged = True
            break
    if not converged:
        # A partially-propagated labeling looks exactly like a final one
        # (distinct labels inside one true component) and silently breaks
        # every KEEP/DROP decision built on it — loud failure, same
        # contract as the bucket/df guards. Path halving converges in
        # O(log diameter) rounds, so hitting this means max_iter is far
        # too small for the graph (or the graph is adversarial).
        raise RuntimeError(
            f"connected_components did not converge within max_iter="
            f"{max_iter} rounds; raise max_iter (rounds needed ~ "
            f"log2(component diameter))"
        )
    return labels


def cc_incremental(
    labels: DataFrame,
    new_pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Merge a batch of NEW near-dup edges into an existing component
    labeling without re-deriving or re-scanning the historical pair
    relation — the daily maintenance verb of the cluster store (r17
    library capability, post-saturation policy: laws + rung, no registry
    entry). At 100 TB the expensive input to clustering is the PAIR
    relation (LSH banding over the whole corpus); once clustered, the
    partition compresses losslessly to one star edge per non-root node
    (node -> its component's min label, which is itself a member node).
    Tomorrow's batch unions its new edges with those O(nodes) star edges
    and re-propagates — the stars have diameter 2, so the loop converges
    in a handful of rounds regardless of the ORIGINAL components'
    diameters, and the historical edge set is never touched again. The
    saving is dominated by what never re-runs: the pair DERIVATION
    (signature + banding over the corpus text) and the O(E) edge volume
    of dense near-dup graphs; the propagation loop itself is cheap either
    way (path-halving makes even a full rebuild's round count
    logarithmic — measured comparable on the rung's shallow planted
    shape, where E ≈ V and nothing upstream needs re-deriving).

    ``labels`` is a (node, lbl) frame in connected_components' canonical
    min-member form; ``new_pairs`` is any pair frame (ids of either
    orderable type, same columns as connected_components takes). Nodes
    never seen before simply enter through their new edges.

    LAWS (test-pinned in tests/test_dedup_incremental_cc.py):
    - rebuild equivalence (EXACT): cc_incremental(cc(E1), E2) ==
      cc(E1 ∪ E2) as (node, lbl) frames — same partition, same canonical
      min-member labels;
    - idempotence: an empty batch, or a batch of edges already internal
      to existing components, returns the labeling unchanged —
      singletons included (they carry no star edge, so they are
      re-attached by the trailing anti-join rather than dropped by the
      edge-derived node universe);
    - monotonicity: labels only ever decrease (a merge adopts the
      smaller component minimum), and every input node survives.
    """
    star = labels.filter(F.col("node") != F.col("lbl")).select(
        F.col("node").alias(id_a), F.col("lbl").alias(id_b)
    )
    batch = new_pairs.select(id_a, id_b)
    merged = connected_components(
        star.unionByName(batch), id_a=id_a, id_b=id_b, max_iter=max_iter
    )
    # connected_components derives its node universe from EDGES, so
    # singleton components (node == lbl, no star edge) and isolated nodes
    # untouched by the batch would vanish — re-attach them unchanged.
    untouched = labels.join(merged.select("node"), "node", "left_anti").select(
        "node", "lbl"
    )
    return merged.unionByName(untouched)


def token_window_hashes(
    base: DataFrame,
    window: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Hash every ``window``-token sliding window of a tokenized frame —
    the shared first stage of both substring-level dedup consumers
    (``duplicate_ngram_spans``' per-doc coverage and web_dedup_stream's
    cross-document ``maximal_shared_spans``; one construction, per the
    r11-queued extraction).

    Input: (id_col, toks: array<string>, n_tokens: long). Output: one
    narrow (id_col, s: long, h: string) row per window — built
    DOC-LOCALLY (split -> sequence -> transform -> explode), O(total
    tokens) rows, the text itself never shuffles; every downstream
    bucketing/counting shuffle moves only the 8-byte offset plus the
    32-char hash. Docs shorter than ``window`` contribute zero rows (the
    starts guard; F.sequence with a negative stop would throw)."""
    starts = F.when(
        F.col("n_tokens") >= window,
        F.sequence(F.lit(0), (F.col("n_tokens") - window).cast("int")),
    ).otherwise(F.array().cast("array<int>"))
    # O(n_tokens) md5-of-window-slice work per row — re-spread the (often
    # 1-split) tokenized base so window hashing uses every core.
    base = spread_fanout(base)
    return base.select(
        id_col,
        F.explode(
            F.transform(
                starts,
                lambda s: F.struct(
                    s.cast("long").alias("s"),
                    F.md5(
                        F.concat_ws(" ", F.slice("toks", s + F.lit(1), window))
                    ).alias("h"),
                ),
            )
        ).alias("w"),
    ).select(id_col, F.col("w.s").alias("s"), F.col("w.h").alias("h"))


def duplicate_ngram_spans(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    window: int = 20,
) -> DataFrame:
    """Exact SUBSTRING-level dedup: every ``window``-token run that occurs
    >= 2 times anywhere in the corpus is a duplicate span (the approach of
    "Deduplicating Training Data Makes Language Models Better" — suffix
    arrays there, hashed sliding windows here; same duplicate definition).
    Complements the doc-level family above: MinHash/SimHash find whole
    near-dup documents, this finds boilerplate/quotation RUNS inside
    otherwise-distinct documents. Output is one row per doc with the merged
    coverage of duplicated windows, the signal used to strip or
    down-weight repeated passages.

    Plan shape (100 TB):
    - window hashes are built doc-locally (split -> sequence -> transform
      -> explode): narrow, O(total tokens) rows of (doc_id, start, hash);
      the text itself is never shuffled;
    - global occurrence counts come from ONE hash-partitioned analytic
      window (count over partition by hash) — the same single shuffle a
      groupBy would cost, with no join back to the exploded frame;
    - span coverage merges overlapping [s, s+W) intervals per doc with the
      classic lag/running-sum island pass — one shuffle on doc_id, reused
      by the final per-doc aggregate;
    - the closing join back to per-doc token counts builds from the small
      aggregated side (AQE broadcasts it).
    No reference twin (the Flink app has no corpus operators; LLM
    extension scope per SURVEY.md §2).
    """
    from pyspark.sql.window import Window as W

    toks = F.split(F.lower(F.trim(F.col(text))), TOKEN_SPLIT_RE)
    base = df.select(
        F.col(id_col), toks.alias("toks")
    ).withColumn("n_tokens", F.size("toks").cast("long"))

    wins = token_window_hashes(base, window, id_col=id_col)

    counted = wins.withColumn("cnt", F.count(F.lit(1)).over(W.partitionBy("h")))
    dup = counted.filter(F.col("cnt") >= 2)

    wdoc = W.partitionBy(id_col).orderBy("s")
    islands = (
        dup.withColumn("prev_s", F.lag("s").over(wdoc))
        .withColumn(
            "new_isl",
            F.when(
                F.col("prev_s").isNull() | (F.col("s") - F.col("prev_s") > window),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "isl_id",
            F.sum("new_isl").over(wdoc.rowsBetween(W.unboundedPreceding, 0)),
        )
    )
    spans = islands.groupBy(id_col, "isl_id").agg(
        F.count(F.lit(1)).alias("dup_w"),
        (F.max("s") + window - F.min("s")).alias("span_len"),
    )
    per_doc = spans.groupBy(id_col).agg(
        F.sum("dup_w").cast("long").alias("dup_windows"),
        F.sum("span_len").cast("long").alias("dup_tokens"),
    )
    return (
        base.select(
            id_col,
            "n_tokens",
            F.greatest(F.col("n_tokens") - window + 1, F.lit(0))
            .cast("long")
            .alias("n_windows"),
        )
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            "n_windows",
            F.coalesce("dup_windows", F.lit(0)).cast("long").alias("dup_windows"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"), 6
            ).alias("dup_token_frac"),
        )
    )
