"""spark_auto_schema — PySpark-native schema inference + DDL engine.

A from-scratch, Spark-first rebuild of the capabilities of
``mikethoun/redshift-auto-schema`` (reference read-only at
``/root/reference/``): infer Redshift/Spark column types from delimited or
parquet data, emit DDL/GRANT statements, and diff proposed schemas against
deployed catalogs — plus large-scale LLM-data-pipeline operators (dedup,
similarity search, text analysis, multimodal columns) under ``ops/``.

Everything data-touching is expressed as lazy DataFrame plans so Catalyst
provides pushdown/pruning and the single-pass inference aggregate scales
linearly to cluster sizes; the driver only ever holds per-column scalars.

Session-config note: ``io.read_table`` and ``streaming.read_event_stream``
pin ``spark.sql.session.timeZone`` to UTC (see ``io.pin_utc_session``) so
collected TIMESTAMP values render identically across engines; the streaming
ns path additionally leaves ``spark.sql.legacy.parquet.nanosAsLong`` set
for the stream's lifetime.  ``io.read_parquet``/``io.load_file`` are
side-effect-free.
"""

from .core import SparkAutoSchema
from .inference import ColumnInference, infer_table_schema, inference_to_df
from .types import classify_type

__all__ = [
    "SparkAutoSchema",
    "ColumnInference",
    "infer_table_schema",
    "inference_to_df",
    "classify_type",
]

__version__ = "0.2.0"
