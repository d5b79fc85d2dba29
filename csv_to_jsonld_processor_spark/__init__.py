"""csv_to_jsonld_processor_spark — a PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of
fluree/csv-to-jsonld-processor, re-architected Spark-first.

Reference (read-only, studied for behavior only): /root/reference
(Rust workspace ``csv-to-jsonld-lib`` + ``csv-to-jsonld-cli``).

Layout
------
- ``session``     — tuned SparkSession builders (AQE, Arrow, shuffle sizing)
- ``iri``         — exact-parity string/IRI functions (SURVEY §2.6 F1–F5, F10–F11)
- ``coercion``    — typed value coercion as SQL expressions (F6–F9)
- ``manifest``    — declarative pipeline plan (JSONC manifest, SURVEY §1.1)
- ``vocabulary``  — driver-side vocabulary/@context compiler (broadcast artifact)
- ``operators/``  — instance steps, triple merge, dedup, similarity, text stats
- ``kg/``         — web-text KG pipeline: extract → mentions → link → materialize
- ``sources/``    — CSV/parquet/pages sources, synthetic page generator
- ``plans/``      — pipeline orchestrator + relational query library
- ``streaming/``  — Structured Streaming variants of the batch operators
"""

__version__ = "0.1.0"
