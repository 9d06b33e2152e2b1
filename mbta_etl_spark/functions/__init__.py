"""Reusable column functions — the engine's public expression surface.

Everything here returns ``pyspark.sql.Column`` (or a registered UDF)
and composes into any DataFrame plan. Engine-portability contract:
every function has deterministic, SQL-replayable semantics so queries
built from them stay oracle-checkable.
"""

from mbta_etl_spark.functions.texthash import (
    md5_32,
    regex_tokens,
    token_count_bpe,
)
from mbta_etl_spark.functions.vector import (
    cosine,
    dot,
    norm,
    norm_pandas_udf,
)

__all__ = [
    "cosine",
    "dot",
    "md5_32",
    "norm",
    "norm_pandas_udf",
    "regex_tokens",
    "token_count_bpe",
]
