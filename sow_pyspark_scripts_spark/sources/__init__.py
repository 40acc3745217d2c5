from .parquet import TABLES, read_table, read_tables, register_tables, scan, spread
from .writers import (
    SchemaContractError,
    assert_schema_contract,
    merge_upsert,
    write_partitioned,
)

__all__ = [
    "TABLES",
    "read_table",
    "read_tables",
    "register_tables",
    "scan",
    "spread",
    "SchemaContractError",
    "assert_schema_contract",
    "merge_upsert",
    "write_partitioned",
]
