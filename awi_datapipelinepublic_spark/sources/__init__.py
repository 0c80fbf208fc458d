"""Sources & sinks: schema loading, CSV/Excel/Parquet readers, staged writers."""

from awi_datapipelinepublic_spark.sources.schema import (
    date_columns,
    load_schema_json,
    to_struct_type,
)
from awi_datapipelinepublic_spark.sources.readers import (
    read_csv,
    read_excel_sheets,
    read_snapshot,
    read_table,
)
from awi_datapipelinepublic_spark.sources.writers import (
    overwrite_table,
    write_csv,
    write_parquet,
)

__all__ = [
    "date_columns",
    "load_schema_json",
    "to_struct_type",
    "read_csv",
    "read_excel_sheets",
    "read_snapshot",
    "read_table",
    "overwrite_table",
    "write_csv",
    "write_parquet",
]
