from .readers import (  # noqa: F401
    read_csv,
    read_json,
    route_bronze_files,
    sanitize_identifier,
    with_audit_columns,
)
from .writers import overwrite_table, upsert_partitions, write_table  # noqa: F401
