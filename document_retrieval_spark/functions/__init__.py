from .text import tokenize_expr, tokenize_pandas_udf  # noqa: F401
from .analysis import (  # noqa: F401
    add_quality_columns,
    lang_id_expr,
    token_count_expr,
)
