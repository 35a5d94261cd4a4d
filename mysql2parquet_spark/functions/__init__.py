"""Column-expression helpers, built-in-function first.

Everything here composes ``pyspark.sql.functions`` (JVM-side, whole-stage
codegen eligible) — no Python row UDFs in any hot path. Pandas UDFs appear
only in the explicitly-vectorized variants (see operators/similarity.py).
"""

from mysql2parquet_spark.functions.vector import (  # noqa: F401
    cosine_similarity,
    dot,
    l2_norm,
    lit_vector,
    quantize_int8,
)
from mysql2parquet_spark.functions.hashing import (  # noqa: F401
    hamming_long,
    minhash_signature,
    shingles,
    simhash_chunk,
    simhash_long,
)
