"""Metastore DDL sync for committed Parquet tables.

Re-expresses the reference's HadoopDBConnector / HiveDBConnector /
ImpalaDBConnector (waimak-core/.../metastore/MetastoreUtils.scala:137-199,
waimak-hive/.../HiveDBConnector.scala:16-112,
waimak-impala/.../ImpalaDBConnector.scala:17-104): on commit-finish, each
committed label's table is created (schema read from one Parquet footer
on the driver, :func:`~waimak_spark.filesystem.read_parquet`, so building
the DDL launches no Spark job) or repointed at the new snapshot location. The natural PySpark
path is ``spark.sql`` against the session's built-in Hive metastore
(``HiveSparkSQLConnector``, HiveDBConnector.scala:94-112); the dummy
connectors collect DDL strings for tests or manual submission.

The Impala dialect differs from Hive in three ways (ImpalaDBConnector
.scala:18-40): tables are created ``like parquet '<file>'`` (Impala
infers the schema from the footer server-side, so no column list is
inlined), partitions are discovered with ``alter table ... recover
partitions`` instead of ``msck repair table``, and paths are fully
qualified against the FileSystem URI. Table names are unqualified — the
database is part of the JDBC connection, not the DDL.
"""

from __future__ import annotations

from typing import Optional, Sequence

from ..dataflow.exceptions import DataFlowException
from ..filesystem import _jvm_refs, read_parquet

FORCE_RECREATE_TABLES = "spark.waimak.metastore.forceRecreateTables"
FORCE_RECREATE_TABLES_DEFAULT = False


class HadoopDBConnector:
    """DDL generator + submitter. Subclasses define ``submit_ddls``."""

    def __init__(self, context, database: str,
                 force_recreate_tables: Optional[bool] = None):
        self.context = context
        self.database = database
        self._force_recreate = force_recreate_tables

    # -- config ----------------------------------------------------------------
    @property
    def force_recreate_tables(self) -> bool:
        if self._force_recreate is not None:
            return self._force_recreate
        return self.context.get_boolean(FORCE_RECREATE_TABLES,
                                        FORCE_RECREATE_TABLES_DEFAULT)

    # -- naming ----------------------------------------------------------------
    def _qualified_name(self, table_name: str) -> str:
        """How the dialect spells the table in DDL: Hive qualifies with the
        database; Impala leaves it to the JDBC connection."""
        return f"{self.database}.{table_name}"

    # -- schema inference (HiveDBConnector.getSchema, :56-64) ------------------
    def _find_parquet_file(self, path: str,
                           partition_columns: Sequence[str]) -> str:
        pattern = "/".join([path.rstrip("/")]
                           + [f"{c}=*" for c in partition_columns]
                           + ["part-*.parquet"])
        files = sorted(self.context.file_ops.glob(pattern))
        if not files:
            raise DataFlowException(
                f"Could not find parquet file at '{path}' to infer schema "
                f"for table '{self.database}.{path.rsplit('/', 1)[-1]}'")
        return files[0]

    def _schema_string(self, parquet_file: str) -> str:
        schema = read_parquet(self.context.spark, parquet_file).schema
        cols = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                         for f in schema.fields)
        return f"({cols})"

    # -- DDL builders (MetastoreUtils.scala:137-188) ---------------------------
    def create_table_from_parquet_ddl(self, table_name: str, path: str,
                                      external: bool = True,
                                      partition_columns: Sequence[str] = (),
                                      if_not_exists: bool = True) -> list[str]:
        qualified = self._qualified_name(table_name)
        parquet_file = self._find_parquet_file(path, partition_columns)
        schema = self._schema_string(parquet_file)
        ine = "if not exists " if if_not_exists else ""
        ext = "external " if external else ""
        if not partition_columns:
            return [f"create {ext}table {ine}{qualified} {schema} "
                    f"stored as parquet location '{path}'"]
        parts = ", ".join(f"{c} string" for c in partition_columns)
        return [
            f"create {ext}table {ine}{qualified} {schema} "
            f"partitioned by ({parts}) stored as parquet location '{path}'",
            f"msck repair table {qualified}",
        ]

    def drop_table_ddl(self, table_name: str, if_exists: bool = True) -> str:
        opt = " if exists " if if_exists else " "
        return f"drop table{opt}{self._qualified_name(table_name)}"

    def update_table_location_ddl(self, table_name: str, path: str) -> str:
        return (f"alter table {self._qualified_name(table_name)} "
                f"set location '{path}'")

    def recreate_table_ddls(self, table_name: str, path: str,
                            partition_columns: Sequence[str] = ()) -> list[str]:
        return [self.drop_table_ddl(table_name)] + \
            self.create_table_from_parquet_ddl(
                table_name, path, partition_columns=partition_columns)

    def update_table_parquet_location_ddls(
            self, table_name: str, path: str,
            partition_columns: Sequence[str] = ()) -> list[str]:
        """Partitioned or force-recreate → drop + create; otherwise create
        if missing + set location (MetastoreUtils.scala:174-188)."""
        if partition_columns or self.force_recreate_tables:
            return self.recreate_table_ddls(table_name, path,
                                            partition_columns)
        return self.create_table_from_parquet_ddl(table_name, path) + \
            [self.update_table_location_ddl(table_name, path)]

    # -- submission ------------------------------------------------------------
    def submit_ddls(self, ddls: Sequence[str]) -> None:
        raise NotImplementedError

    def update_table_location(self, _db: Optional[str], table_name: str,
                              path: str,
                              partition_cols: Sequence[str] = ()) -> None:
        """Hook called by the committer's finish step (commit.py)."""
        self.submit_ddls(
            self.update_table_parquet_location_ddls(table_name, path,
                                                    partition_cols))


class HiveSparkSQLConnector(HadoopDBConnector):
    """Submit DDLs through ``spark.sql`` against the session metastore
    (HiveDBConnector.scala:94-112)."""

    def __init__(self, context, database: str,
                 create_database_if_not_exists: bool = False,
                 force_recreate_tables: Optional[bool] = None):
        super().__init__(context, database, force_recreate_tables)
        self.create_database_if_not_exists = create_database_if_not_exists

    def submit_ddls(self, ddls: Sequence[str]) -> None:
        all_ddls = list(ddls)
        if self.create_database_if_not_exists:
            all_ddls = [f"create database if not exists {self.database}"] \
                + all_ddls
        for ddl in all_ddls:
            self.context.spark.sql(ddl)


class HiveDummyConnector(HadoopDBConnector):
    """Collects DDLs instead of submitting them — for tests or manual
    runs (HiveDBConnector.scala:74-83)."""

    def __init__(self, context, database: str = "test",
                 force_recreate_tables: Optional[bool] = None):
        super().__init__(context, database, force_recreate_tables)
        self.ran_ddls: list[list[str]] = []

    def submit_ddls(self, ddls: Sequence[str]) -> None:
        self.ran_ddls.append(list(ddls))


# ---------------------------------------------------------------------------
# Impala dialect (waimak-impala/.../ImpalaDBConnector.scala:17-104)
# ---------------------------------------------------------------------------


class ImpalaDBConnector(HadoopDBConnector):
    """Impala-dialect DDL generation (ImpalaDBConnector.scala:17-40):
    ``create ... like parquet '<file>'`` (server-side schema inference
    from the footer — no inlined column list), ``alter table ... recover
    partitions``, fully-qualified FileSystem paths, unqualified table
    names (the database lives in the JDBC connection string)."""

    def _qualified_name(self, table_name: str) -> str:
        return table_name

    def _qualify_path(self, path: str) -> str:
        """Qualify against the FileSystem URI + working dir, as the
        reference does with ``Path.makeQualified`` — Impala requires
        absolute qualified locations (e.g. ``hdfs://nn/...``)."""
        fs, p = self.context.file_ops._resolve(path)
        return p.makeQualified(fs.getUri(), fs.getWorkingDirectory()).toString()

    def create_table_from_parquet_ddl(self, table_name: str, path: str,
                                      external: bool = True,
                                      partition_columns: Sequence[str] = (),
                                      if_not_exists: bool = True) -> list[str]:
        qualified_path = self._qualify_path(path)
        parquet_file = self._qualify_path(
            self._find_parquet_file(path, partition_columns))
        ine = "if not exists " if if_not_exists else ""
        ext = "external " if external else ""
        name = self._qualified_name(table_name)
        if not partition_columns:
            return [f"create {ext}table {ine}{name} like parquet "
                    f"'{parquet_file}' stored as parquet "
                    f"location '{qualified_path}'"]
        parts = ", ".join(f"{c} string" for c in partition_columns)
        return [
            f"create {ext}table {ine}{name} like parquet '{parquet_file}' "
            f"partitioned by ({parts}) stored as parquet "
            f"location '{qualified_path}'",
            f"alter table {name} recover partitions",
        ]

    def update_table_location_ddl(self, table_name: str, path: str) -> str:
        return (f"alter table {self._qualified_name(table_name)} "
                f"set location '{self._qualify_path(path)}'")


class ImpalaDummyConnector(ImpalaDBConnector):
    """Collects Impala DDLs instead of submitting them
    (ImpalaDBConnector.scala:97-104)."""

    def __init__(self, context, database: str = "default",
                 force_recreate_tables: Optional[bool] = None):
        super().__init__(context, database, force_recreate_tables)
        self.ran_ddls: list[list[str]] = []

    def submit_ddls(self, ddls: Sequence[str]) -> None:
        self.ran_ddls.append(list(ddls))


#: Hadoop's credential-provider path conf
#: (CredentialProviderFactory.CREDENTIAL_PROVIDER_PATH) — where secure
#: JDBC parameters live (a ``jceks://`` keystore on a real deployment).
CREDENTIAL_PROVIDER_PATH = "hadoop.security.credential.provider.path"


class ImpalaJDBCConnector(ImpalaDBConnector):
    """Submit Impala DDLs over a JDBC connection via the JVM
    ``DriverManager`` (ImpalaDBConnector.scala:74-91,
    MetastoreUtils.scala:62-131). The Hive JDBC driver must be on the
    Spark driver's classpath; tests stub :meth:`_run_queries`.

    ``secure_properties`` maps a credential-store key to the JDBC
    property it populates (MetastoreUtils.scala:79-121 secureProperties):
    each value is resolved through ``Configuration.getPassword`` — a
    ``jceks://`` keystore at ``hadoop.security.credential.provider.path``
    on a real deployment (clear-text conf fallback is Hadoop's own
    documented behavior) — and a missing key is a loud error that says
    whether a credential store was configured at all."""

    driver_name = "org.apache.hive.jdbc.HiveDriver"

    def __init__(self, context, jdbc_string: str,
                 properties: Optional[dict[str, str]] = None,
                 database: str = "default",
                 force_recreate_tables: Optional[bool] = None,
                 secure_properties: Optional[dict[str, str]] = None):
        super().__init__(context, database, force_recreate_tables)
        self.jdbc_string = jdbc_string
        self.properties = dict(properties or {})
        self.secure_properties = dict(secure_properties or {})

    def _all_properties(self) -> dict[str, str]:
        """Plain + secure connection properties
        (MetastoreUtils.scala:94-121 getAllProperties)."""
        props = dict(self.properties)
        if not self.secure_properties:
            return props
        spark = self.context.spark
        refs = _jvm_refs(spark._jvm)
        hconf = spark._jsc.hadoopConfiguration()
        for jceks_key, jdbc_key in self.secure_properties.items():
            cred = hconf.getPassword(jceks_key)
            if cred is not None:
                props[jdbc_key] = refs.string_value_of(cred)
            elif hconf.get(CREDENTIAL_PROVIDER_PATH) is None:
                raise DataFlowException(
                    f"Could not read secure parameter [{jceks_key}] as no "
                    f"jceks file is set using [{CREDENTIAL_PROVIDER_PATH}]")
            else:
                raise DataFlowException(
                    f"Could not find secure parameter [{jceks_key}] in any "
                    f"locations at "
                    f"[{hconf.get(CREDENTIAL_PROVIDER_PATH)}]")
        return props

    def _run_queries(self, ddls: Sequence[str]) -> None:
        refs = _jvm_refs(self.context.spark._jvm)
        refs.load_class(self.driver_name)
        props = refs.properties()
        for k, v in self._all_properties().items():
            props.setProperty(k, v)
        conn = refs.connect(self.jdbc_string, props)
        try:
            stmt = conn.createStatement()
            for ddl in ddls:
                stmt.execute(ddl)
        finally:
            conn.close()

    def submit_ddls(self, ddls: Sequence[str]) -> None:
        self._run_queries(list(ddls))


# ---------------------------------------------------------------------------
# Impala type constraints (waimak-impala/.../ImpalaUtils.scala:16-58) —
# re-expressed as native expressions (the reference uses a row-at-a-time
# UDF; when/otherwise keeps the clamp inside whole-stage codegen)
# ---------------------------------------------------------------------------

IMPALA_TIMESTAMP_LOW = "1400-01-01"
IMPALA_TIMESTAMP_HIGH = "9999-12-31"


def standardize_name_for_impala(name: str) -> str:
    """Lower-case and replace characters Impala rejects in identifiers
    (ImpalaUtils.standardizeName, :58)."""
    out = name.strip().lower().replace("'", "")
    for ch in (" ", "-", "\\", "/", ".", "#", "&"):
        out = out.replace(ch, "_")
    return out.replace("%", "_perc")


def amend_data_types_for_impala(df):
    """Lower-case/sanitize all column names, cast Date columns to
    Timestamp, and clamp timestamps outside Impala's supported range
    [1400-01-01, 9999-12-31 23:59:59] UTC down to the low bound
    (ImpalaUtils.amendDataTypesForImpala, :44-54).

    Deliberate deviation from the reference: ImpalaUtils.scala:35 tests
    ``after(low) && before(high)`` with ``high`` = MIDNIGHT 9999-12-31,
    which rewrites any timestamp on the last supported day (e.g. the
    common end-of-time sentinel 9999-12-31 12:00) — and even exactly
    1400-01-01 00:00 — to 1400-01-01. Impala supports the whole last day,
    so the bounds here are inclusive over the full supported range."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DateType, TimestampType

    low = F.to_timestamp(F.lit(IMPALA_TIMESTAMP_LOW))
    high = F.to_timestamp(F.lit(f"{IMPALA_TIMESTAMP_HIGH} 23:59:59"))

    def clamp(col):
        return F.when(col.isNull(), None) \
            .when((col >= low) & (col <= high), col).otherwise(low)

    cols = []
    for f in df.schema.fields:
        c = df[f.name]
        if isinstance(f.dataType, DateType):
            c = clamp(c.cast(TimestampType()))
        elif isinstance(f.dataType, TimestampType):
            c = clamp(c)
        cols.append(c.alias(standardize_name_for_impala(f.name)))
    return df.select(*cols)
