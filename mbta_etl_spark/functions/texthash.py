"""Text + hashing column functions with engine-portable semantics."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish pre-tokenizer: letter runs, digit runs, or single non-space
# symbols — the coarse split a byte-pair tokenizer applies before
# merges. POSIX-safe classes only, so Java regex (Spark) and RE2-style
# engines (DuckDB) agree byte-for-byte.
BPE_SPLIT_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def md5_32(col: Column) -> Column:
    """First 32 bits of md5 as a non-negative long — the portable cheap
    integer hash (same value from any engine that has md5 + hex parse)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def regex_tokens(text: Column) -> Column:
    """All ``BPE_SPLIT_PATTERN`` matches as an array — a BPE-style
    pre-tokenization."""
    return F.regexp_extract_all(text, F.lit(BPE_SPLIT_PATTERN), 0)


def token_count_bpe(text: Column) -> Column:
    """Number of BPE-ish pre-tokens (the "token count" a training-data
    pipeline budgets by, minus merges). Pure JVM regex — no UDF."""
    return F.size(regex_tokens(text)).cast("long")


def position_tokenizer_udtf():
    """A Python UDTF (user-defined TABLE function): one input row ->
    (pos, term) output rows, the lateral-join expansion surface for
    logic that genuinely needs per-row Python control flow.

    For plain tokenization the declarative form (posexplode(split(...)))
    is strictly better — fully JVM-side — and is what the rest of the
    engine uses; the UDTF exists to cover the API tier, with
    arrow-enabled execution so batches cross the boundary columnar.
    Register and use laterally:

        spark.udtf.register("tokenize", position_tokenizer_udtf())
        SELECT d.doc_id, t.pos, t.term
        FROM docs d, LATERAL tokenize(d.text) t
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, term string", useArrow=True)
    class PositionTokenizer:
        def eval(self, text: str):
            if text is None:
                return
            for i, term in enumerate(text.split(" ")):
                yield i + 1, term

    return PositionTokenizer
