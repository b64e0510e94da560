"""Catalog abstraction (SURVEY.md §1.4): Iceberg semantics in
production, plain Parquet + atomic JSON manifests in the sandbox.

The spec (BASELINE.json:14) mandates Iceberg tables; the sandbox has
no iceberg-spark-runtime jar and no network, so all pipeline logic is
written against this interface:

- ``LocalParquetCatalog``: directory-per-table, `bucket=NN/` /
  `batch_id=N/` partition subdirs via dynamic partition overwrite,
  small driver-side appends via unique-named parquet sub-files (no
  Spark append path, so no `_temporary/0` staging dir shared across
  writers).  Gives the append/overwrite atomicity the checkpoint
  protocol needs (manifest rename last).
- ``IcebergCatalog``: thin wrapper over ``spark.read.table`` /
  ``writeTo().append()`` / ``overwritePartitions()``; usable on a
  real cluster via
  ``spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-3.5_2.12:...``
  (documented, not executable here).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class Catalog:
    def read_table(self, name: str) -> DataFrame: ...
    def overwrite_partitions(self, name: str, df: DataFrame, keys: list[str]) -> None: ...
    def table_exists(self, name: str) -> bool: ...
    def snapshot_id(self, name: str) -> str | None: ...

    def append_small(self, name: str, rows: list, schema,
                     spark: SparkSession) -> None:
        """Append a SMALL, already-collected row set (<= wave_size
        rows — the audit table path) with an explicit Spark schema."""


def _spark_to_arrow_type(dt):
    """Minimal Spark->arrow type map for the driver-side small-append
    path (audit/ledger column types only; extend as schemas grow)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    if isinstance(dt, T.StringType):
        return pa.string()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.BooleanType):
        return pa.bool_()
    if isinstance(dt, T.TimestampType):
        # tz-pinned micros: naive arrow timestamps would read back as
        # TIMESTAMP_NTZ under Spark's parquet NTZ inference and split
        # the column type across files
        return pa.timestamp("us", tz="UTC")
    if isinstance(dt, T.MapType):
        return pa.map_(_spark_to_arrow_type(dt.keyType),
                       _spark_to_arrow_type(dt.valueType))
    if isinstance(dt, T.ArrayType):
        return pa.list_(_spark_to_arrow_type(dt.elementType))
    raise TypeError(f"append_small: unmapped Spark type {dt}")


class LocalParquetCatalog(Catalog):
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- helpers -----------------------------------------------------------
    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_dir(self, name: str) -> str:
        return os.path.join(self._dir(name), "_manifests")

    def _iter_data_files(self, name: str):
        """Relative paths of the table's current parquet data files,
        skipping every path component that starts with `_` or `.` —
        Spark's own listing rule, so `_manifests/`, a writer's
        `_temporary/` attempt files and `.spark-staging-*` dirs of an
        in-flight dynamic overwrite are never part of the table."""
        d = self._dir(name)
        for dirpath, dirs, files in os.walk(d):
            dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
            for f in files:
                if f.endswith(".parquet") and not f.startswith(("_", ".")):
                    yield os.path.relpath(os.path.join(dirpath, f), d)

    def _data_files(self, name: str) -> list[str]:
        """Sorted _iter_data_files: an O(files) walk per commit — the
        sandbox stand-in for Iceberg's manifest lists, which make the
        same enumeration O(manifests) at 10^12-file scale."""
        return sorted(self._iter_data_files(name))

    def _write_manifest(self, name: str, op: str) -> str:
        """Write-then-rename: the rename is the commit point.  The
        manifest pins the snapshot's data-file set, which is what
        makes read_table_at (time travel) possible."""
        mdir = self._manifest_dir(name)
        os.makedirs(mdir, exist_ok=True)
        # strictly monotonic ids: two commits inside the same
        # millisecond would otherwise tie on the timestamp and sort
        # by the random suffix, scrambling snapshot order
        prev = [int(f.split("-")[0]) for f in os.listdir(mdir)
                if f.endswith(".json")]
        ms = max(int(time.time() * 1000),
                 (max(prev) + 1) if prev else 0)
        sid = f"{ms:013d}-{uuid.uuid4().hex[:8]}"
        tmp = os.path.join(mdir, f".{sid}.json.tmp")
        final = os.path.join(mdir, f"{sid}.json")
        with open(tmp, "w") as f:
            json.dump({"snapshot": sid, "op": op,
                       "files": self._data_files(name)}, f)
        os.replace(tmp, final)
        return sid

    # -- interface ---------------------------------------------------------
    def table_exists(self, name: str) -> bool:
        return next(self._iter_data_files(name), None) is not None

    def read_table(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self._dir(name))

    def append_rows(self, name: str, rows: list[dict]) -> None:
        """Driver-side append for tiny metadata tables (ledger): one
        pyarrow file write, no Spark job.  The Iceberg branch routes
        through a normal append."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        d = self._dir(name)
        os.makedirs(d, exist_ok=True)
        tbl = pa.Table.from_pylist(rows)
        # an all-None column (e.g. output_fingerprint of an empty
        # bucket wave) infers as pyarrow null type, which Spark reads
        # back as void and cannot union with later string appends —
        # pin such columns to string
        for i, fld in enumerate(tbl.schema):
            if pa.types.is_null(fld.type):
                tbl = tbl.set_column(
                    i, pa.field(fld.name, pa.string()),
                    tbl.column(i).cast(pa.string()))
        path = os.path.join(d, f"part-driver-{uuid.uuid4().hex}.parquet")
        # hidden-prefixed temp: a crash mid-write must leave a file
        # Spark's directory listing ignores, or resume breaks
        tmp = os.path.join(d, f".{uuid.uuid4().hex}.tmp")
        pq.write_table(tbl, tmp)
        os.replace(tmp, path)
        self._write_manifest(name, "append")

    def append_small(self, name: str, rows: list, schema,
                     spark: SparkSession) -> None:
        """Driver-side arrow append with an EXPLICIT schema derived
        from the Spark one (append_rows infers, which is fine for the
        flat ledger but would turn the audit's map<string,long> into
        a struct).  Write-then-rename per file: unique names, so any
        number of concurrent processes can commit waves against one
        catalog root without a shared staging dir."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        arrow_schema = pa.schema(
            [(f.name, _spark_to_arrow_type(f.dataType))
             for f in schema.fields])
        d = self._dir(name)
        os.makedirs(d, exist_ok=True)
        pydicts = []
        for r in rows:
            rd = r.asDict(recursive=True) if hasattr(r, "asDict") else dict(r)
            for f in schema.fields:
                v = rd.get(f.name)
                # collect() returns naive local-tz datetimes; make
                # them aware so the tz=UTC arrow column is exact
                if v is not None and f.dataType.typeName() == "timestamp" \
                        and getattr(v, "tzinfo", None) is None:
                    rd[f.name] = v.astimezone()
            pydicts.append(rd)
        tbl = pa.Table.from_pylist(pydicts, schema=arrow_schema)
        path = os.path.join(d, f"part-driver-{uuid.uuid4().hex}.parquet")
        tmp = os.path.join(d, f".{uuid.uuid4().hex}.tmp")
        pq.write_table(tbl, tmp)
        os.replace(tmp, path)
        self._write_manifest(name, "append")

    def overwrite_partitions(self, name: str, df: DataFrame, keys: list[str]) -> None:
        """Dynamic partition overwrite: only partitions present in
        `df` are replaced — the idempotent-rerun primitive for
        per-bucket results (spark.sql.sources.partitionOverwriteMode
        = dynamic, set in session.py)."""
        (df.write.mode("overwrite")
         # writer-level option, NOT the session conf: with the static
         # default a vanilla session would truncate every existing
         # partition and silently break crash-resume
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy(*keys)
         .parquet(self._dir(name)))
        self._write_manifest(name, "overwrite_partitions")

    def snapshot_id(self, name: str) -> str | None:
        snaps = self.snapshots(name)
        return snaps[-1] if snaps else None

    def snapshots(self, name: str) -> list[str]:
        """All committed snapshot ids, oldest first (ids embed a ms
        timestamp, so lexicographic order == commit order)."""
        mdir = self._manifest_dir(name)
        if not os.path.isdir(mdir):
            return []
        return sorted(f.removesuffix(".json") for f in os.listdir(mdir)
                      if f.endswith(".json"))

    def read_table_at(self, name: str, snapshot: str) -> DataFrame:
        """Time travel: read the table exactly as of a committed
        snapshot — the Iceberg `VERSION AS OF` primitive, used to
        reconstruct the audit/ledger state any pipeline wave saw.

        Sound for APPEND-ONLY tables (audit, ledger — the lineage
        tables this catalog exists for): appends never delete files,
        so every older snapshot's file set is still on disk.  A
        dynamic-partition OVERWRITE physically replaces files (the
        local catalog keeps no file history, unlike real Iceberg), so
        reading a pre-overwrite snapshot raises instead of silently
        returning partial data."""
        mpath = os.path.join(self._manifest_dir(name), f"{snapshot}.json")
        if not os.path.isfile(mpath):
            raise ValueError(f"unknown snapshot {snapshot!r} for table "
                             f"{name!r}")
        with open(mpath) as f:
            m = json.load(f)
        files = m.get("files")
        if files is None:
            raise ValueError(
                f"snapshot {snapshot!r} predates file tracking")
        d = self._dir(name)
        paths = [os.path.join(d, rel) for rel in files]
        missing = [p for p in paths if not os.path.isfile(p)]
        if missing:
            raise ValueError(
                f"snapshot {snapshot!r} is no longer readable: "
                f"{len(missing)} file(s) were replaced by a later "
                f"overwrite (append-only tables never hit this)")
        if not paths:
            return self.spark.createDataFrame([], self.read_table(name).schema)
        # basePath keeps partition columns (bucket=NN/) recoverable
        # when reading an explicit file list
        return self.spark.read.option("basePath", d).parquet(*paths)


class IcebergCatalog(Catalog):
    """Iceberg branch for real clusters (interface-identical; not
    executable in the sandbox — no iceberg jar, no network [ENV])."""

    def __init__(self, spark: SparkSession, namespace: str = "dq"):
        self.spark = spark
        self.ns = namespace

    def _fq(self, name: str) -> str:
        return f"{self.ns}.{name}"

    def table_exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(self._fq(name))

    def read_table(self, name: str) -> DataFrame:
        return self.spark.read.table(self._fq(name))

    def _append(self, name: str, df: DataFrame) -> None:
        # first write must CREATE the table: writeTo().append() raises
        # TABLE_OR_VIEW_NOT_FOUND on a fresh catalog
        if not self.table_exists(name):
            df.writeTo(self._fq(name)).using("iceberg").create()
        else:
            df.writeTo(self._fq(name)).append()

    def append_rows(self, name: str, rows: list[dict]) -> None:
        df = self.spark.createDataFrame(rows)
        # mirror LocalParquetCatalog: all-None fingerprints must not
        # pin the table schema to void
        for fld in df.schema.fields:
            if fld.dataType.typeName() in ("null", "void"):
                df = df.withColumn(
                    fld.name, df[fld.name].cast("string"))
        self._append(name, df)

    def append_small(self, name: str, rows: list, schema,
                     spark: SparkSession) -> None:
        self._append(name, spark.createDataFrame(rows, schema))

    def overwrite_partitions(self, name: str, df: DataFrame, keys: list[str]) -> None:
        if not self.table_exists(name):
            from pyspark.sql import functions as F
            w = df.writeTo(self._fq(name)).using("iceberg")
            if keys:
                w = w.partitionedBy(*[F.col(k) for k in keys])
            w.create()
        else:
            df.writeTo(self._fq(name)).overwritePartitions()

    def snapshot_id(self, name: str) -> str | None:
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self._fq(name)}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1").collect()
        return str(rows[0][0]) if rows else None
