"""Scalar/vectorized functions: URL canonicalization, SipHash-2-4,
host extraction, boolean coercion (SURVEY.md §2 O-8, O-12..O-16)."""

from hiispider_spark.functions.canon import (  # noqa: F401
    canonicalize_url,
    canonical_url_col,
    host_col,
    path_col,
)
from hiispider_spark.functions.siphash import (  # noqa: F401
    SIP_KEY_DEFAULT,
    siphash24,
    siphash64_np,
    url_hash_udf,
)
