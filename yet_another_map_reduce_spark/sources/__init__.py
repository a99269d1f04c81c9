"""Sources & sinks (reference F1/F2/F9/F10 → Spark readers/writers/catalog)."""

from yet_another_map_reduce_spark.sources.avro_format import read_avro, write_avro
from yet_another_map_reduce_spark.sources.catalog import Catalog
from yet_another_map_reduce_spark.sources.readers import (
    TABLES,
    load_tables,
    read_csv,
    read_json,
    read_table,
)
from yet_another_map_reduce_spark.sources.writers import (
    overwrite_partitions,
    write_csv,
    write_json,
    write_orc,
    write_parquet,
    write_text,
)

__all__ = [
    "TABLES",
    "Catalog",
    "load_tables",
    "read_avro",
    "read_csv",
    "read_json",
    "read_table",
    "overwrite_partitions",
    "write_avro",
    "write_csv",
    "write_json",
    "write_orc",
    "write_parquet",
    "write_text",
]
