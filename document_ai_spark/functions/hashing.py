"""Hashing column functions.

salted_bucket — deterministic url bucket: built-in xxhash64 (JVM-side,
codegen'd) of (url, salt) mod P, the checkpoint key of the pipeline's
url-bucket mode (plans/pipeline.run_extraction).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def salted_bucket(url_col: Column, num_buckets: int, salt: int = 0) -> Column:
    """Deterministic bucket id in [0, num_buckets) from the url + salt.

    Pure column expression (xxhash64 is a JVM built-in) so the bucket of a
    row is independent of partitioning/parallelism — required for
    checkpoint/resume identity between runs at different cluster sizes.
    """
    return F.pmod(F.xxhash64(url_col, F.lit(salt)), F.lit(num_buckets)).cast("int")
