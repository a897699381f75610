"""pot_spark — a PySpark-native analytics engine with the capabilities of
petomalina/pot (reference: /root/reference, a path-scoped key->JSON-document
store on GCS), rebuilt Spark-first.

Layers:
- ``pot_spark.kv``       — pot-faithful KV/document store (versioned parquet
  snapshots + put-if-absent manifest commit; reference server.go:272-548).
- ``pot_spark.queries``  — the relational/analytic operator inventory
  (SURVEY.md §2-B-2), each registered with a DuckDB oracle twin.
- ``pot_spark.streaming``— Structured Streaming variants of the event-time
  window operators.
"""

__version__ = "0.1.0"
