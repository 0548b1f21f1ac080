"""Fused MinHash+SimHash signature UDF — one Arrow transfer, one flatten.

The pipeline's signature stage needs MinHash and/or SimHash over the SAME
shingle arrays. Evaluating them as two separate pandas UDFs ships the
(heavy) shingle arrays across the JVM↔Python Arrow boundary twice and
flattens them twice; this fused UDF does both from one flat buffer and
returns a struct. ``lsh.signatures`` asks only for the sketches the active
detectors' keys are built from; the unwanted half comes back NULL, so a
minhash-only run does no simhash work and a simhash-only run no minhash
work.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .minhash import (
    MINHASH_EMPTY,
    flatten_shingle_rows,
    minhash_from_flat,
)
from .simhash import simhash_from_flat

SIGNATURE_STRUCT = T.StructType(
    [
        T.StructField("minhash", T.ArrayType(T.LongType())),
        T.StructField("simhash", T.LongType()),
    ]
)


def signature_batch(
    shingle_lists: pd.Series,
    num_perm: int,
    seed: int,
    want_minhash: bool = True,
    want_simhash: bool = True,
) -> pd.DataFrame:
    n_rows = len(shingle_lists)
    flat, offsets, idx = flatten_shingle_rows(shingle_lists)
    cols: dict = {}
    if want_minhash:
        mh = np.full((n_rows, num_perm), MINHASH_EMPTY, dtype=np.int64)
        if len(idx):
            mh[idx] = minhash_from_flat(flat, offsets, num_perm, seed)
        cols["minhash"] = pd.Series(list(mh))
    else:
        cols["minhash"] = pd.Series([None] * n_rows, dtype=object)
    if want_simhash:
        sh = np.zeros(n_rows, dtype=np.int64)
        if len(idx):
            sh[idx] = simhash_from_flat(flat, offsets)
        cols["simhash"] = pd.Series(sh)
    else:
        cols["simhash"] = pd.Series([None] * n_rows, dtype=object)
    return pd.DataFrame(cols)


def signature_udf(
    num_perm: int,
    seed: int,
    want_minhash: bool = True,
    want_simhash: bool = True,
):
    """pandas UDF: ARRAY<BIGINT> shingles -> STRUCT<minhash, simhash>."""

    @F.pandas_udf(SIGNATURE_STRUCT)
    def _signature(shingles: pd.Series) -> pd.DataFrame:
        return signature_batch(
            shingles, num_perm, seed, want_minhash, want_simhash
        )

    return _signature
