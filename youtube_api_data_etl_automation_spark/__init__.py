"""PySpark-native analytics engine with the query/data-processing surface of
the reference ETL pipeline (Shalini-patra/Youtube-API-data-ETL-Automation).

Brand-new Spark-first design: explicit schemas, pure Column-expression
transforms (no Python UDFs on the hot path), Parquet-native tables, a
driver-planned mapInArrow scan for API-shaped ingestion, and Structured
Streaming for the incremental ingest mode. See SURVEY.md for the capability blueprint.
"""

__version__ = "0.1.0"
