from clockpipe_spark.functions.casts import (  # noqa: F401
    pg_datetime_trunc,
    pg_array_parse,
    pg_string_array_parse,
    mask_column,
    objectid_hex,
    binary_base64,
)
