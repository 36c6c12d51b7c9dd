"""Hashing column functions.

blake2b_udf — BLAKE2b-256 over a BinaryType column, bit-identical to the
reference's file hash (digest_size=32; reference
services/ai_service/utils/hash_file.py:5-19). Spark's built-ins cover
sha2/md5/xxhash64 but not BLAKE2b, so this is a vectorized pandas UDF
(Arrow-batched, never per-row Python UDF).

salted_bucket — deterministic url bucket: built-in xxhash64 (JVM-side,
codegen'd) of (url, salt) mod P, the checkpoint key of the pipeline's
url-bucket mode (plans/pipeline.run_extraction).
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType


@F.pandas_udf(StringType())
def blake2b_udf(payload: pd.Series) -> pd.Series:
    def _h(b) -> str:
        if b is None:
            b = b""
        h = hashlib.blake2b(digest_size=32)
        h.update(bytes(b))
        return h.hexdigest()

    return payload.map(_h)


def salted_bucket(url_col: Column, num_buckets: int, salt: int = 0) -> Column:
    """Deterministic bucket id in [0, num_buckets) from the url + salt.

    Pure column expression (xxhash64 is a JVM built-in) so the bucket of a
    row is independent of partitioning/parallelism — required for
    checkpoint/resume identity between runs at different cluster sizes.
    """
    return F.pmod(F.xxhash64(url_col, F.lit(salt)), F.lit(num_buckets)).cast("int")
