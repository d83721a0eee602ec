"""obadiah_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of petr-fedorov/obadiah (order-book OLAP over a
microsecond event log), re-expressed Spark-first.

Layout
------
- ``session``    — tuned SparkSession builder
- ``synth``      — deterministic level3/matches synthesis from the driver's
                   ``events`` table (shared SQL, runs on Spark AND DuckDB)
- ``fold``       — the one custom physical primitive: ordered stateful fold
                   per (pair, era) via repartition+sortWithinPartitions+mapInPandas
- ``operators``  — order book / depth / spread / events / trading / quality
- ``pipelines``  — LLM-data-pipeline ops: dedup, similarity, text, multimodal
- ``streaming``  — Structured Streaming variants (watermark reorderer, book fold)
- ``relational`` — generic relational queries over the TPC-H-ish tables
"""

__version__ = "0.1.0"
