from .readers import (  # noqa: F401
    SCHEMAS,
    TRAFFIC_SIGNS_SCHEMA,
    convert_ts_cols,
    load_table,
    parquet_ts_unit,
    read_schema_for,
    read_text_lines,
    read_traffic_signs_csv,
)
