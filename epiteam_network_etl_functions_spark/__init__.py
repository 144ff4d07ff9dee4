"""PySpark-native analytics engine with the query/data-processing surface of
hemora/epiteam-network-etl-functions (reference read-only at /root/reference).

Everything here is a from-scratch, Spark-first re-expression of the
reference's *semantics* (see SURVEY.md §2): declarative DataFrame plans that
Catalyst/Tungsten optimize, no handler chains, no driver-side row loops.

Layout:
    session     SparkSession factory + per-query runtime prep (tz, AQE)
    catalog     testdata table loading (explicit names, schema helpers)
    constants   sentinel values and shared literals
    operators/  pure DataFrame-in -> DataFrame-out kernels
    functions/  cell grid (h3 pandas UDFs, else square-grid JVM forms), UDTFs
    sources/    IO helpers (partitioned parquet, csv, custom data sources)
    streaming/  Structured Streaming variants of the batch windows
    plans/      composed multi-stage pipelines (home-location, contact matrix)
    workload/   named queries over /root/testdata tables + DuckDB oracle SQL
"""

__version__ = "0.1.0"
