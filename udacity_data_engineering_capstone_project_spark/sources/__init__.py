from .readers import (  # noqa: F401
    from_records,
    parse_sas_labels,
    read_csv,
    read_table,
)
from .writers import write_parquet  # noqa: F401
