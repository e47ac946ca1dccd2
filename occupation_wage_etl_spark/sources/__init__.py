"""Sources & sinks.

- ``lake``       — date-partitioned parquet snapshot lake (S4/S5/X3)
- ``html_table`` — driver-side HTML <table> extractor (S2; stdlib only)
- ``excel``      — Excel ingestion (S3; stdlib xlsx parser)
- ``warehouse``  — JDBC/catalog sink with idempotent snapshot append (S6/S7)
"""

from occupation_wage_etl_spark.sources import excel, html_table, lake, warehouse

__all__ = ["lake", "html_table", "excel", "warehouse"]
