"""PySpark-native rebuild of jsmithdenverdev/poc-parquet-publisher.

The reference (868 LoC of Go) is a Parquet -> SQS publishing pipeline
that embeds DuckDB as its scan/compute substrate. This package
re-expresses that capability Spark-first:

- ``session``   : SparkSession bootstrap (UTC, AQE, nanos-timestamp handling,
                  s3a endpoint override -- reference duckdb.go:18-39).
- ``catalog``   : table loading/normalization over the parquet fixtures.
- ``queries``   : the DECLARED QUERY SET (SURVEY.md section 2.2, 49
                  queries, q01-q42 and their variants) plus
                  LLM-pipeline extension queries, each paired with a
                  DuckDB oracle SQL string.
- ``pipeline``  : scan -> to_json -> chunked queue publish (reference
                  parquetgo-record-processor/handler.go), fail-fast.
- ``generate``  : Spark-native synthetic Record generator (reference
                  create-test-data/main.go).
- ``streaming`` : Structured Streaming analogs of the SQS leg.
- ``ops``       : dedup / similarity / text-analysis / multimodal operators
                  designed for 100 TB scale.
"""

__version__ = "0.1.0"
