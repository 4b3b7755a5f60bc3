"""SparkAutoSchema — the reference-compatible public API, PySpark-native.

Mirrors the 9-method surface of ``RedshiftAutoSchema``
(``/root/reference/redshift_auto_schema/RedshiftAutoSchema.py:26-225``,
README.md:36-46) with the psycopg2 Redshift connection replaced by the Spark
catalog and the per-column pandas inference loop replaced by the single-pass
aggregate (inference.py).  The diff stays on the driver like the reference's
pandas merge: both sides are catalog-sized, so ``self.metadata`` and the
collected deployed columns stay Python lists, and the one Spark frame a
diff builds is the local DataFrame it returns (diff.py), which the ALTER
emitters read without a Spark job.

Constructor parameters track RAS.py:47-80; ``conn`` becomes ``spark``, and
``file_df`` accepts a Spark DataFrame.  ``evaluate_table_ddl_diffs`` takes
one option, ``deployed_df``, for catalog-independent diffing: a stubbed
deployed schema, or a live warehouse's via
``catalog.deployed_schema_df_jdbc``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import catalog as _catalog
from . import ddl as _ddl
from . import diff as _diff
from .inference import ColumnInference, infer_table_schema, inference_to_df
from .io import load_file, normalize_columns, override_columns


class SparkAutoSchema:
    """Infer a Redshift/Spark schema from a file and manage its DDL lifecycle."""

    def __init__(
        self,
        schema: str,
        table: str,
        file: str | None = None,
        export_field_name: str | None = None,
        export_field_type: str | None = None,
        primary_key: str | None = None,
        dist_key: str | None = None,
        sort_key: str | None = None,
        delimiter: str = "|",
        quotechar: str = '"',
        encoding: str | None = None,
        spark: SparkSession | None = None,
        default_group: str = "dbreader",
        file_df: DataFrame | None = None,
        columns: list[str] | None = None,
        fmt: str | None = None,
        compat_nested: bool = True,
        sample_fraction: float | None = None,
    ) -> None:
        if file is None and file_df is None:
            # the reference's guard (RAS.py:63) crashes with AttributeError
            # in this case; raise something meaningful instead (SURVEY 1.4)
            raise ValueError("either `file` or `file_df` must be provided")
        self.file = file
        self.schema = schema
        self.table = table
        self.export_field_name = export_field_name
        self.export_field_type = export_field_type
        self.primary_key = primary_key
        self.dist_key = dist_key
        self.sort_key = sort_key
        self.delimiter = delimiter
        self.quotechar = quotechar
        self.encoding = encoding
        self.spark = spark
        self.default_group = default_group
        self.columns = columns
        self.fmt = fmt
        self.compat_nested = compat_nested
        self.sample_fraction = sample_fraction
        self.file_df: DataFrame | None = (
            override_columns(normalize_columns(file_df), columns)
            if file_df is not None
            else None
        )
        self.metadata: list[ColumnInference] | None = None
        self.diff: DataFrame | None = None

    # ------------------------------------------------------------------ io
    def _require_spark(self) -> SparkSession:
        if self.spark is None:
            raise ValueError("spark must be set to a valid SparkSession")
        return self.spark

    def _load(self) -> DataFrame:
        if self.file_df is None:
            self.file_df = load_file(
                self._require_spark(),
                self.file,
                delimiter=self.delimiter,
                quotechar=self.quotechar,
                encoding=self.encoding,
                fmt=self.fmt,
                columns=self.columns,
            )
        return self.file_df

    def get_column_list(self) -> list[str]:
        """Column list from the file header (RAS.py:82-91).

        Spark-native: reading ``df.columns`` touches only schema metadata —
        for parquet just the footer — where the reference loads the entire
        file into pandas to list headers.
        """
        if self.columns is None:
            self.columns = list(self._load().columns)
        return self.columns

    # ------------------------------------------------------------- metadata
    def _generate_table_metadata(self) -> None:
        """RAS.py:235-256 — lazily infer metadata (None for empty input)."""
        self.metadata = infer_table_schema(
            self._load(),
            compat_nested=self.compat_nested,
            sample_fraction=self.sample_fraction,
        )

    def _ensure_metadata(self) -> list[ColumnInference] | None:
        if self.metadata is None:
            self._generate_table_metadata()
        return self.metadata

    def _proposed(self) -> list[tuple[str, str]] | None:
        """(field, proposed_type) per column; None for empty input."""
        meta = self._ensure_metadata()
        return None if meta is None else [(ci.name, ci.proposed_type) for ci in meta]

    def metadata_df(self) -> DataFrame | None:
        """Inference result as a DataFrame (field, spark_type, proposed_type)."""
        meta = self._ensure_metadata()
        if meta is None:
            return None
        return inference_to_df(self._require_spark(), meta)

    # -------------------------------------------------------------- catalog
    def check_schema_existence(self) -> bool:
        return _catalog.schema_exists(self._require_spark(), self.schema)

    def check_table_existence(self) -> bool:
        return _catalog.table_exists(self._require_spark(), self.schema, self.table)

    # ------------------------------------------------------------------ ddl
    def generate_schema_ddl(self) -> str:
        return _ddl.generate_schema_ddl(self.schema)

    def generate_schema_permissions(self) -> str:
        return _ddl.generate_schema_permissions(self.schema, self.default_group)

    def generate_table_permissions(self) -> str:
        return _ddl.generate_table_permissions(
            self.schema, self.table, self.default_group
        )

    def generate_table_ddl(self) -> str | None:
        columns = self._proposed()
        if columns is None:
            return None  # empty file -> no DDL (RAS.py:149-150)
        return _ddl.generate_table_ddl(
            self.schema,
            self.table,
            columns,
            export_field_name=self.export_field_name,
            export_field_type=self.export_field_type,
            primary_key=self.primary_key,
            dist_key=self.dist_key,
            sort_key=self.sort_key,
        )

    def generate_spark_table_ddl(
        self,
        fmt: str = "parquet",
        partitioned_by: list[str] | None = None,
        location: str | None = None,
    ) -> str | None:
        """Spark SQL dialect DDL (rebuild extension); None for empty input."""
        columns = self._proposed()
        if columns is None:
            return None
        return _ddl.generate_spark_table_ddl(
            self.schema,
            self.table,
            columns,
            fmt=fmt,
            partitioned_by=partitioned_by,
            location=location,
        )

    # ----------------------------------------------------------------- diff
    def evaluate_table_ddl_diffs(
        self, deployed_df: DataFrame | None = None
    ) -> DataFrame:
        """RAS.py:202-225 — proposed vs deployed full-outer diff, as a local
        DataFrame (field, proposed_type, deployed_type, reason) held in
        ``self.diff`` (set it to None to diff again).  The deployed side is
        ``deployed_df`` (field, deployed_type), e.g. a live warehouse's via
        ``catalog.deployed_schema_df_jdbc`` (RAS.py:215-216), else the Spark
        catalog's; it is collected and diffed against ``self.metadata`` in
        Python.  Raises ``ValueError("no metadata (empty input file)")`` for
        empty input."""
        spark = self._require_spark()
        proposed = self._proposed()
        if proposed is None:
            raise ValueError("no metadata (empty input file)")
        if deployed_df is None:
            deployed_df = _catalog.deployed_schema_df(spark, self.schema, self.table)
        deployed = deployed_df.select("field", "deployed_type").collect()
        self.diff = _diff.evaluate_diffs(spark, proposed, deployed)
        return self.diff

    def _missing(self) -> list[tuple[str, str]]:
        if self.diff is None:
            self.evaluate_table_ddl_diffs()
        return _diff.missing_columns(self.diff)

    def generate_column_ddl(self) -> str | None:
        """RAS.py:177-192 — ALTER ADD COLUMN for each MISSING diff row,
        diffing against the Spark catalog first if no diff is held.
        Raises ``ValueError("no metadata (empty input file)")`` for empty
        input."""
        return _ddl.generate_column_ddl(self.schema, self.table, self._missing())

    def generate_spark_column_ddl(self) -> str | None:
        """Spark SQL dialect twin of :meth:`generate_column_ddl`: one
        runnable ``ALTER TABLE ... ADD COLUMNS (...)`` for the MISSING
        rows — executing it against the Spark catalog and re-running
        :meth:`evaluate_table_ddl_diffs` reconverges the diff to empty
        (lifecycle-tested).  Raises ``ValueError("no metadata (empty input
        file)")`` for empty input."""
        return _ddl.generate_spark_column_ddl(self.schema, self.table, self._missing())
