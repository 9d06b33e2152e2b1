"""Vector column functions over ``array<float|double>`` embeddings.

Two tiers, matching the engine's two execution paths:

- Column builders (``dot``/``norm``/``cosine``): pure JVM
  higher-order functions — right for one-off scores inside a larger
  codegen'd projection, and for oracle parity (ordered left-to-right
  fold, same as the DuckDB ``list_sum(list_transform(...))`` form).
- ``norm_pandas_udf``: the Arrow scalar-UDF tier — each batch arrives
  as a pandas Series of lists and is reduced with one numpy call.
  Use this tier when vector math dominates the stage (see
  similarity.ivf_assign / dedup._exact_cosine_pairs_blocked for the
  matmul-heavy variants).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _dbl(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """a · b as an ordered left-to-right fold (engine-portable sum)."""
    return F.aggregate(
        F.zip_with(_dbl(a), _dbl(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(vec: Column) -> Column:
    """L2 norm."""
    return F.sqrt(dot(vec, vec))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity (unrounded; round at the query boundary)."""
    return dot(a, b) / (norm(a) * norm(b))


def median_agg_pandas_udf():
    """A GROUPED-AGGREGATE Arrow Pandas UDF (the UDAF tier): exact median
    of a double column per group. Each group's values arrive as one
    pandas Series over Arrow; the reduction is a single numpy call.

    This is the escape hatch for aggregations Catalyst lacks a built-in
    for (exact median IS built in as ``median``, but serves here as the
    verifiable reference point for the UDAF surface — swap the numpy
    body for any custom reduction). Grouped-agg UDFs don't do partial
    aggregation: every group's full value set crosses the shuffle, so
    at 100 TB prefer a built-in/algebraic form when one exists."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    def _median(v):
        return float(np.median(v.to_numpy(dtype=np.float64)))

    _median.__annotations__ = {"v": pd.Series, "return": float}
    return pandas_udf(_median, "double")


def norm_pandas_udf():
    """A scalar Arrow-batched Pandas UDF computing L2 norms: one numpy
    reduction per batch, no per-row Python. Returned as a callable UDF
    (``df.select(norm_pandas_udf()(F.col('embedding')))``)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    # no pd.Series annotations: `from __future__ import annotations` turns
    # them into strings the UDF type-hint resolver can't evaluate here
    def _l2(v):
        mat = np.array(v.tolist(), dtype=np.float64)
        return pd.Series(np.sqrt((mat * mat).sum(axis=1)))

    _l2.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return pandas_udf(_l2, "double")
