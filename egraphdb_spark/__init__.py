"""egraphdb_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference graph database (neeraj9/egraphdb),
re-expressed Spark-first.

Layout:
  session.py    — SparkSession factory tuned for local[32] testing and cluster scale
  schema.py     — canonical DataFrame schemas (vertices / edges / indexes / functions)
  ingest.py     — node/edge ingest + typed secondary-index extraction (type inference)
  graph.py      — derivation of the graph fixture from the TPC-H-ish test tables
  operators/    — search IR compiler, scans, traversal, set ops
  functions/    — scalar surface: hashing, geo, jsonpath, text, dedup, similarity
  sources/      — sinks (json/csv/parquet) and ingest readers
  streaming/    — Structured Streaming operators over the events table
  plans/        — query-IR (JSON) → DataFrame compiler
  gates/        — the gates, one module per family; queries.py joins their
                  GATES dicts into the driver-facing REGISTRY
"""

__version__ = "0.1.0"
