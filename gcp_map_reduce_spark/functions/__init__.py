from gcp_map_reduce_spark.functions.text import (
    normalize_text,
    sql_normalize,
    sql_tokens_cte,
    tokenize,
)
from gcp_map_reduce_spark.functions.numeric import dec, dsum

__all__ = [
    "normalize_text",
    "sql_normalize",
    "sql_tokens_cte",
    "tokenize",
    "dec",
    "dsum",
]
