"""Expression builders.

Everything here compiles to JVM-side Catalyst expressions (no Python
UDFs), so the hot paths stay inside whole-stage codegen and the same
logic is mirrorable as ANSI SQL for the DuckDB oracle. The text and
hashing builders return ``pyspark.sql.Column`` values; the vector
folds are SQL-text builders (``*_expr``) that callers parse with
``F.expr``, so a fold of any width is one planner call.
"""

from movievectorsearch_spark.functions.vector import (  # noqa: F401
    array_expr,
    cosine_expr,
    cosine_to_query,
    dot_expr,
    norm_expr,
)
from movievectorsearch_spark.functions.hashing import (  # noqa: F401
    int_mix,
    int_mix_sql,
    poly_hash,
    poly_hash_sql,
    minhash_permute,
)
from movievectorsearch_spark.functions.text import (  # noqa: F401
    clean_text,
    normalize_key,
    slug_id,
    tokens,
    token_count,
    word_shingles,
)
