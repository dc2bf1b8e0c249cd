from bht_etl_app_spark.functions.exprs import (
    norm,
    pandas_str,
    sel_predicate,
    non_empty,
    to_double,
    weight_expr,
    codebook_recode_expr,
    extract_brand_from_column,
    brands_from_binary_columns,
)

__all__ = [
    "norm",
    "pandas_str",
    "sel_predicate",
    "non_empty",
    "to_double",
    "weight_expr",
    "codebook_recode_expr",
    "extract_brand_from_column",
    "brands_from_binary_columns",
]
