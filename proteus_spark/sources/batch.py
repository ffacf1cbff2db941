"""Batch datastore drivers — scans over external stores.

Reference model (SURVEY §2.1): a ``datastore_driver`` QPU adapts one
backing store to the common record stream. Two real backends exist:

- MySQL tables: full-table SELECT with projection + IS [NOT] NULL pushdown
  (internal/qpu_classes/datastore_driver/mysql/store.go:154-247);
- S3 buckets: ListObjectsV2 + HeadObject per key, with the queryable
  attributes carried as ``x-amz-meta-*`` object metadata
  (internal/qpu_classes/datastore_driver/s3/store.go:146-200,240-254).

Spark re-expression:

- JDBC source = ``spark.read.format("jdbc")``. Catalyst pushes projection
  AND all predicate types down to the remote SQL (strictly more than the
  reference's IS-NULL-only pushdown), and ``partitionColumn/numPartitions``
  turns the reference's single-connection scan into N parallel range scans
  — the thing that matters at 100 TB.
- S3 object source = ``binaryFile`` scan over the object tree (payload +
  path/length/mtime) joined to a *manifest* table carrying the per-object
  metadata attributes. HeadObject-per-key is an anti-pattern at scale (one
  round-trip per object, driver-side); a columnar manifest makes attribute
  predicates a parquet filter instead. Works on any Hadoop FS scheme
  (``s3a://``, ``file://``), so the plumbing is tested locally.

Neither a MySQL server nor S3 exists in this container: JDBC ``.load()``
and ``s3a://`` are exercised up to the reader configuration; the local
filesystem stands in for the object store in tests.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class JDBCTableSource:
    """One relational table behind a JDBC url (MySQL-driver parity).

    ``partition_column``/``num_partitions``/``lower``/``upper`` split the
    scan into parallel range queries — required for any table that doesn't
    fit one executor; without them Spark reads the whole table on a single
    task (the reference's behavior, store.go:181-198, which is exactly what
    we must not do at scale).
    """

    url: str
    table: str
    user: str | None = None
    password: str | None = None
    driver: str | None = None
    partition_column: str | None = None
    num_partitions: int | None = None
    lower: int | None = None
    upper: int | None = None
    fetch_size: int = 10_000
    extra: dict[str, str] = field(default_factory=dict)

    def options(self) -> dict[str, str]:
        """The reader option map (exposed for tests/inspection)."""
        opts: dict[str, str] = {
            "url": self.url,
            "dbtable": self.table,
            "fetchsize": str(self.fetch_size),
        }
        if self.user is not None:
            opts["user"] = self.user
        if self.password is not None:
            opts["password"] = self.password
        if self.driver is not None:
            opts["driver"] = self.driver
        if self.partition_column is not None:
            if None in (self.num_partitions, self.lower, self.upper):
                raise ValueError(
                    "partitioned JDBC scan needs num_partitions, lower, upper"
                )
            opts.update(
                partitionColumn=self.partition_column,
                numPartitions=str(self.num_partitions),
                lowerBound=str(self.lower),
                upperBound=str(self.upper),
            )
        opts.update(self.extra)
        return opts

    def reader(self, spark: SparkSession):
        return spark.read.format("jdbc").options(**self.options())

    def snapshot(self, spark: SparkSession) -> DataFrame:
        """GetSnapshot parity (store.go:154-247). Projection/filter pushdown
        happens in Catalyst when the caller selects/filters the result."""
        return self.reader(spark).load()


@dataclass
class S3ObjectSource:
    """An object-store 'bucket' whose queryable attributes live beside the
    payload (s3/store.go:146-200).

    ``scan()`` returns one row per object: payload columns from a
    ``binaryFile`` scan (path, modificationTime, length, content) joined to
    the manifest's metadata attributes on object path. The manifest is any
    DataFrame with an ``object_path`` column — typically a parquet table
    maintained by the ingest job (the scalable stand-in for x-amz-meta-*
    HeadObject calls).
    """

    path: str  # s3a://bucket/prefix or file:///dir (tests)
    manifest: DataFrame | None = None
    path_glob: str | None = None

    def objects(self, spark: SparkSession) -> DataFrame:
        reader = spark.read.format("binaryFile")
        if self.path_glob:
            reader = reader.option("pathGlobFilter", self.path_glob)
        return reader.load(self.path)

    def scan(self, spark: SparkSession, with_content: bool = True) -> DataFrame:
        objs = self.objects(spark)
        if not with_content:
            objs = objs.drop("content")  # metadata-only listing (ListObjectsV2)
        if self.manifest is None:
            return objs
        # normalize to a scheme-less path so file:///x and /x manifests agree
        key = F.regexp_replace(F.col("path"), r"^[a-z0-9]+:/+", "/")
        mkey = F.regexp_replace(F.col("object_path"), r"^[a-z0-9]+:/+", "/")
        return objs.withColumn("_k", key).join(
            self.manifest.withColumn("_k", mkey).drop("object_path"),
            "_k",
            "left",
        ).drop("_k")


def parquet_source(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """The default scan: columnar, splittable, min/max-skipping. ``schema``
    asserts the fixed external contract (reference declares schemas in TOML,
    config.go:25-35) — never inferred drift."""
    df = spark.read.parquet(path)
    if schema is not None:
        declared = {f.name: f.dataType for f in schema.fields}
        actual = {f.name: f.dataType for f in df.schema.fields}
        if declared != actual:
            raise ValueError(f"schema drift at {path}: {declared} != {actual}")
    return df
