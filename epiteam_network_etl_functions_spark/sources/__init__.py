"""IO helpers: parquet/csv sources and sinks, partitioned layouts."""

from .io import (  # noqa: F401
    read_partitioned,
    read_days,
    write_partitioned,
    write_single,
    read_csv,
    write_csv,
)
