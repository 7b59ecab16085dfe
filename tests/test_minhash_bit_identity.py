"""The Arrow MinHash pass and the posexplode banding reproduce the
Spark-expression forms they replaced bit for bit: same rows in the same
order, same schema. Those forms are kept here as the oracle; band stores
persisted by them must stay valid."""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from flink_stream_processing_spark.operators.dedup import (
    _xxh64_int,
    _xxh64_long,
    band_hashes,
    minhash_signatures,
)

LONG_MIN, LONG_MAX = -(2**63), 2**63 - 1


def oracle_minhash_signatures(with_shingle_arr, id_col="doc_id", num_perm=32):
    max_long = F.lit(LONG_MAX).cast("long")
    prehash = F.transform(F.col("sh_arr"), lambda s: F.xxhash64(s))

    def min_hash(i):
        return lambda acc, h: F.least(acc, F.xxhash64(h, F.lit(i)))

    sig_cols = [
        F.aggregate(F.col("hs"), max_long, min_hash(i)).alias(f"mh{i}")
        for i in range(num_perm)
    ]
    return with_shingle_arr.select(id_col, prehash.alias("hs")).select(id_col, *sig_cols)


def oracle_band_hashes(signatures, id_col="doc_id", num_perm=32, bands=16):
    rows = num_perm // bands
    band_cols = [
        F.xxhash64(*[F.col(f"mh{b * rows + r}") for r in range(rows)]).alias(f"band{b}")
        for b in range(bands)
    ]
    return (
        signatures.select(id_col, *band_cols)
        .select(
            id_col,
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("band_hash"))
                        for b in range(bands)
                    ]
                )
            ).alias("bb"),
        )
        .select(id_col, "bb.band_id", "bb.band_hash")
    )


@pytest.fixture(scope="module")
def small_batches(spark):
    """A session clone with 7-row Arrow batches, so every partition is
    several batches (the shared session's conf is left alone)."""
    clone = spark.newSession()
    clone.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    return clone


def _id(k, id_type):
    i = k * 37 - 2000
    return f"doc-{i}" if id_type == "string" else i


def _shingle_frame(session, id_type):
    rng = random.Random(11)
    vocab = [f"w{k} w{k + 1} w{k + 2}" for k in range(40)] + ["", "é ü ß", "日本 語 x"]
    rows = []
    for k in range(120):
        # lists of 1-12 drawn with replacement from a small vocabulary, so
        # most carry repeated shingles
        rows.append([rng.choice(vocab) for _ in range(rng.randint(1, 12))])
    rows[5] = []
    rows[17] = None
    rows[60] = ["only"] * 4
    ids = [_id(k, id_type) for k in range(len(rows))]
    df = session.createDataFrame(
        list(zip(ids, rows)), f"doc_id {id_type}, sh_arr array<string>"
    )
    return df.repartition(3).localCheckpoint(eager=True)


def _assert_same(got, want):
    assert got.schema == want.schema
    rows = got.collect()
    assert rows == want.collect()
    return rows


@pytest.mark.parametrize("id_type", ["long", "string"])
@pytest.mark.parametrize("num_perm, band_counts", [(7, []), (6, [3]), (32, [16, 8]), (64, [16])])
def test_arrow_minhash_and_bands_equal_spark_expressions(small_batches, id_type, num_perm, band_counts):
    arrs = _shingle_frame(small_batches, id_type)
    want_sigs = oracle_minhash_signatures(arrs, num_perm=num_perm)
    by_id = {r[0]: r[1:] for r in _assert_same(minhash_signatures(arrs, num_perm=num_perm), want_sigs)}
    assert set(by_id[_id(5, id_type)]) == {LONG_MAX}  # empty array
    assert set(by_id[_id(17, id_type)]) == {None}  # null array
    # both banding forms over the same signatures, so a mismatch here is
    # the banding pass alone; mh1 is nulled on some rows (a null-array
    # row nulls them all), which the band hash must skip as Spark does
    gappy = want_sigs.withColumn("mh1", F.expr("IF(mh0 % 3 = 0, NULL, mh1)"))
    for bands in band_counts:
        _assert_same(
            band_hashes(gappy, num_perm=num_perm, bands=bands),
            oracle_band_hashes(gappy, num_perm=num_perm, bands=bands),
        )


def test_numpy_xxhash_helpers_equal_spark_on_edge_values(spark):
    values = [0, 1, -1, LONG_MIN, LONG_MAX, 42]
    ints = list(range(64)) + [-1, -(2**31), 2**31 - 1]
    df = spark.createDataFrame([(v,) for v in values], "v long")
    cols = [F.xxhash64("v").alias("h")] + [
        F.xxhash64("v", F.lit(i)).alias(f"p{k}") for k, i in enumerate(ints)
    ]
    got = df.select("v", *cols).collect()

    v = np.array(values, dtype=np.int64).view(np.uint64)
    h = _xxh64_long(v, 42)
    assert h.view(np.int64).tolist() == [r["h"] for r in got]
    for k, i in enumerate(ints):
        i_low = np.array([i], dtype=np.int64).view(np.uint64)
        want = [r[f"p{k}"] for r in got]
        assert _xxh64_int(i_low, h).view(np.int64).tolist() == want, i
