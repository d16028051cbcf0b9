"""nahuatl_data_pipeline_spark — a PySpark-native analytics/ETL engine.

A from-scratch Spark implementation of the query and data-processing
capabilities of the reference pipeline (saidmoreno808/nahuatl-data-pipeline):
a Medallion-style multilingual corpus pipeline (ingest → normalize → dedup →
split) plus its SQL analytics surface (joins, windowed trends, conditional
aggregation), re-expressed as lazy DataFrame plans that Catalyst can optimize.

Design stance (SURVEY.md §7):
- every operator is a composable ``DataFrame -> DataFrame`` function;
- built-in ``pyspark.sql.functions`` everywhere (JVM-side, codegen-friendly);
- Arrow-vectorized ``pandas_udf`` only where no builtin expresses the work
  (chunk packing); Unicode NFC is ICU4J via ``reflect``, n-gram shingling
  one ``regexp_extract_all``;
- no RDDs, no driver-side collect loops in any operator.
"""

__version__ = "0.1.0"

from nahuatl_data_pipeline_spark.session import get_spark  # noqa: F401
