"""JDBC state mirror — the reference's database state sink, live.

The reference persists view state as per-row UPSERTs into a MySQL table
(internal/qpustate/mysql_backend/mysql_backend.go:147-254: writeState /
updateState keyed on the group attribute). This module reproduces that
sink surface against ANY JDBC database — tested live against the embedded
Derby engine Spark ships — but with the scale-correct write shape:

- each micro-batch's CHANGED GROUPS (the delta the view already emits to
  subscribers) bulk-load into a staging table via Spark's parallel JDBC
  writer (executor-side batched inserts, not a driver loop);
- one set-based ``MERGE INTO`` folds staging into the target — the
  database does the upsert as one statement, not one round-trip per row
  (the reference's per-row loop is exactly what dies at scale).

This is the deployment seam for a serving database beside the LSM state
table (the LSM remains the engine's own store; the mirror feeds systems
that want to read state with plain SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_SQL_TYPES = {
    T.LongType(): "BIGINT",
    T.IntegerType(): "INT",
    T.DoubleType(): "DOUBLE",
    T.FloatType(): "REAL",
    T.StringType(): "VARCHAR(255)",
    T.BooleanType(): "BOOLEAN",
}


class JDBCStateMirror:
    """Mirror a view's changed-group totals into a JDBC table.

    Use with views whose subscriber deltas carry NEW TOTALS per changed
    key (SumView mode='append', JoinView snapshots): the MERGE overwrites
    matched keys — writeState parity. Pass it to
    ``view.subscribe(mirror.on_delta, durable=True)`` — the mirror is a
    durability-bearing sink: a swallowed transient JDBC error after the
    state commit would checkpoint the epoch with the mirror missing those
    keys until they next change (ADVICE r13); durable=True instead fails
    the micro-batch so a restart replays it and the MERGE (idempotent —
    it overwrites matched keys) completes.
    """

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        table: str,
        key_col: str,
        val_cols: list[str],
        driver: str | None = None,
    ):
        self.spark = spark
        self.url = url
        self.table = table
        self.key_col = key_col
        self.val_cols = list(val_cols)
        self.driver = driver
        self._staging = f"{table}_STG"
        self._created = False

    # -- plumbing ------------------------------------------------------------
    def _connect(self):
        jvm = self.spark._jvm
        if self.driver:
            jvm.java.lang.Class.forName(self.driver)
        return jvm.java.sql.DriverManager.getConnection(self.url)

    def _sql_type(self, dt: T.DataType) -> str:
        return _SQL_TYPES.get(dt, "VARCHAR(255)")

    def _ensure_target(self, schema: T.StructType) -> None:
        if self._created:
            return
        cols = ", ".join(
            f'"{f.name}" {self._sql_type(f.dataType)}'
            + (" PRIMARY KEY" if f.name == self.key_col else "")
            for f in schema.fields
            if f.name in (self.key_col, *self.val_cols)
        )
        con = self._connect()
        try:
            # Idempotent across restarts — but only the table-already-exists
            # case is benign. Check existence via DatabaseMetaData first so a
            # genuine failure (bad URL, permissions, unmappable type) raises
            # HERE instead of surfacing later as a confusing MERGE error.
            meta = con.getMetaData()
            rs = meta.getTables(None, None, self.table, None)
            exists = rs.next()
            rs.close()
            if not exists:
                con.createStatement().executeUpdate(
                    f'CREATE TABLE "{self.table}" ({cols})'
                )
        finally:
            con.close()
        self._created = True

    # -- the sink ------------------------------------------------------------
    def on_delta(self, delta: DataFrame, epoch: int) -> None:
        """Apply one micro-batch delta. Deltas may carry JoinView's
        tombstone marker (``_op = 'DELETE'`` on keys removed from state):
        tombstoned keys are DELETED from the mirror in the SAME set-based
        MERGE statement that upserts the rest — still one DB round-trip
        per batch. (The reference's state sink only ever upserts,
        mysql_backend.go:147-254; a mirror that ignored tombstones would
        hold dead keys forever.)"""
        has_op = "_op" in delta.columns
        cols = [self.key_col, *self.val_cols]
        out = delta.select(*cols, *(["_op"] if has_op else []))
        self._ensure_target(out.schema)
        # bulk load the batch delta through Spark's parallel JDBC writer
        writer = out.write.format("jdbc").options(
            url=self.url, dbtable=f'"{self._staging}"', truncate="false"
        )
        if self.driver:
            writer = writer.option("driver", self.driver)
        writer.mode("overwrite").save()
        # one set-based MERGE: the DB applies the whole delta — deletes
        # first (clause order resolves the MATCHED ambiguity), then
        # upserts. A NULL _op compares unknown to 'DELETE', so non-
        # tombstone rows fall through to the update/insert clauses.
        sets = ", ".join(f'"{c}" = s."{c}"' for c in self.val_cols)
        collist = ", ".join(f'"{c}"' for c in cols)
        vals = ", ".join(f's."{c}"' for c in cols)
        if has_op:
            # Spark's JDBC writer maps StringType to Derby CLOB, which is
            # not directly comparable to a char literal — cast to VARCHAR
            op = 'CAST(s."_op" AS VARCHAR(16))'
            stmt = (
                f'MERGE INTO "{self.table}" t USING "{self._staging}" s '
                f'ON t."{self.key_col}" = s."{self.key_col}" '
                f"WHEN MATCHED AND {op} = 'DELETE' THEN DELETE "
                f"WHEN MATCHED THEN UPDATE SET {sets} "
                f"WHEN NOT MATCHED AND ({op} IS NULL OR {op} <> 'DELETE') "
                f"THEN INSERT ({collist}) VALUES ({vals})"
            )
        else:
            stmt = (
                f'MERGE INTO "{self.table}" t USING "{self._staging}" s '
                f'ON t."{self.key_col}" = s."{self.key_col}" '
                f"WHEN MATCHED THEN UPDATE SET {sets} "
                f"WHEN NOT MATCHED THEN INSERT ({collist}) VALUES ({vals})"
            )
        con = self._connect()
        try:
            con.createStatement().executeUpdate(stmt)
        finally:
            con.close()

    def read(self) -> DataFrame:
        """The mirrored state, read back over JDBC."""
        reader = self.spark.read.format("jdbc").options(
            url=self.url, dbtable=f'"{self.table}"'
        )
        if self.driver:
            reader = reader.option("driver", self.driver)
        return reader.load()
