"""Storage capability layer — Iceberg when a runtime jar is on the
classpath, parquet directories otherwise, behind one backend interface.

The north rule names Iceberg-backed transcript tables; PySpark 4.1.2
bundles no iceberg-spark-runtime jar and this sandbox has no network,
so the capability is detected at runtime (`Class.forName`) and the
warehouse falls back to parquet dirs with the identical table shapes.
Either way the engine-level behaviors (manifest commit protocol,
checkpoint-resume, stats) are byte-identical; which backend ran is
recorded in every `encode_resumable` result and in BENCH.md.

Iceberg path (exercised when a jar is provided via
``spark.jars.packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13``):
a per-warehouse Hadoop catalog whose warehouse dir is the same root the
parquet backend would use, tables ``<catalog>.db.segments`` /
``<catalog>.db.manifest``, appends via the V2 ``writeTo`` API (atomic
snapshot commits — the manifest-last commit protocol is kept anyway so
both backends share one consistency argument).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


class ParquetBackend:
    """Parquet-directory tables + manifest-last commit (the fallback)."""

    name = "parquet"
    #: data/metadata use paths relative to the root dir, so a warehouse
    #: written under one directory can be os.rename'd to another
    relocatable = True

    def __init__(self, root: str):
        self.root = root.rstrip("/")
        self.segments_path = f"{self.root}/segments"
        self.manifest_path = f"{self.root}/manifest"

    # mergeSchema: a warehouse written across engine versions may mix
    # files with and without later additive nullable columns (e.g. the
    # bloom words); without it Spark picks one file's schema
    # nondeterministically. Footer-merge cost is trivial at warehouse
    # file counts (one file per commit attempt).
    def read_segments(self, spark: SparkSession) -> DataFrame:
        return spark.read.option("mergeSchema", "true").parquet(
            self.segments_path)

    def read_manifest(self, spark: SparkSession) -> DataFrame | None:
        from pyspark.errors import AnalysisException
        try:
            return spark.read.option("mergeSchema", "true").parquet(
                self.manifest_path)
        except AnalysisException as e:
            # only "no manifest yet" maps to None; a corrupt or
            # unreadable manifest must SURFACE — silently treating it
            # as empty would re-encode every rowgroup under a new
            # run_id and serve raw deltas as if nothing was committed
            if ("PATH_NOT_FOUND" in str(e)
                    or "Path does not exist" in str(e)):
                return None
            raise

    def manifest_files(self) -> list[str] | None:
        """The manifest's data files (what Spark's file index would
        list: hidden `.`/`_` names skipped), or None before the first
        commit."""
        return data_files(self.manifest_path)

    def segment_files(self) -> list[str]:
        return data_files(self.segments_path) or []

    def read_manifest_arrow(self, files: list[str]):
        """The raw manifest as one pyarrow Table, read on the driver
        with no Spark job; files written before an additive column
        existed read it as NULL (the mergeSchema contract). None when
        nothing is committed yet."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        if not files:
            return None
        tables = [pq.read_table(f) for f in files]
        return pa.concat_tables(tables, promote_options="permissive")

    def append_segments(self, df: DataFrame) -> None:
        df.write.mode("append").parquet(self.segments_path)

    def append_manifest(self, df: DataFrame) -> None:
        """Atomic manifest append: the manifest IS the commit point of
        every write protocol, and a plain multi-file Spark append can
        tear mid-job-commit (a crash leaves a SUBSET of part files
        visible) — for a replace_rowgroups commit that could expose
        retire tombstones without their replacement rows (rows vanish)
        or the reverse (rows double-counted). Manifest rows are
        metadata-only (payload dropped), so one file per commit is the
        right shape at any scale: stage a single part file under a
        hidden dir (invisible to Spark's file index), then os.rename
        it into the manifest dir — rename is atomic on a filesystem,
        mirroring the Iceberg backend's snapshot commit."""
        import glob
        import os
        import shutil
        import uuid

        tag = uuid.uuid4().hex
        tmp = f"{self.manifest_path}/.staging-{tag}"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        # glob.escape: a warehouse root containing glob metachars
        # ([, ], *, ?) must not turn the staging path into a pattern
        parts = glob.glob(f"{glob.escape(tmp)}/part-*.parquet")
        if len(parts) != 1:  # pragma: no cover - coalesce(1) guarantees
            raise RuntimeError(
                f"manifest staging wrote {len(parts)} files, expected 1")
        os.rename(parts[0], f"{self.manifest_path}/commit-{tag}.parquet")
        shutil.rmtree(tmp, ignore_errors=True)


def data_files(path: str) -> list[str] | None:
    import os
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return None
    return sorted(os.path.join(path, n) for n in names
                  if not n.startswith((".", "_"))
                  and os.path.isfile(os.path.join(path, n)))


class IcebergBackend:
    """Iceberg Hadoop-catalog tables (requires the runtime jar)."""

    name = "iceberg"
    #: Iceberg table metadata embeds ABSOLUTE data-file paths — a
    #: directory written under a temp root dangles after a rename, so
    #: rebuild must commit in place (staging-marker protocol)
    relocatable = False

    def __init__(self, spark: SparkSession, root: str):
        self.root = root.rstrip("/")
        # one catalog per warehouse root: catalog confs are session-global
        tag = hashlib.md5(self.root.encode()).hexdigest()[:8]
        self.catalog = f"cs_iceberg_{tag}"
        spark.conf.set(f"spark.sql.catalog.{self.catalog}",
                       "org.apache.iceberg.spark.SparkCatalog")
        spark.conf.set(f"spark.sql.catalog.{self.catalog}.type", "hadoop")
        spark.conf.set(f"spark.sql.catalog.{self.catalog}.warehouse",
                       self.root)
        self.segments_table = f"{self.catalog}.db.segments"
        self.manifest_table = f"{self.catalog}.db.manifest"

    def _exists(self, spark: SparkSession, table: str) -> bool:
        try:
            spark.read.table(table).schema
            return True
        except Exception:
            return False

    def read_segments(self, spark: SparkSession) -> DataFrame:
        return spark.read.table(self.segments_table)

    def read_manifest(self, spark: SparkSession) -> DataFrame | None:
        if not self._exists(spark, self.manifest_table):
            return None
        return spark.read.table(self.manifest_table)

    def _append(self, df: DataFrame, table: str) -> None:
        if self._exists(df.sparkSession, table):
            # DSv2 append rejects columns the target table lacks. A
            # table created before an additive, NULLABLE schema column
            # existed (e.g. the bloom words) must keep accepting
            # appends: drop the extra columns — conservative by
            # construction, since every reader treats their absence as
            # "feature not stored" (pruning keeps, shims add NULLs).
            # Parquet dirs merge mixed schemas natively; this keeps the
            # two backends behaviorally identical.
            have = set(df.sparkSession.read.table(table).columns)
            extra = [c for c in df.columns if c not in have]
            if extra:
                df = df.drop(*extra)
            df.writeTo(table).append()
        else:
            df.writeTo(table).create()

    def append_segments(self, df: DataFrame) -> None:
        self._append(df, self.segments_table)

    def append_manifest(self, df: DataFrame) -> None:
        self._append(df, self.manifest_table)


def resolve_backend(spark: SparkSession, root: str, fmt: str = "auto"):
    """fmt: 'auto' (iceberg if the jar is present, else parquet),
    'iceberg' (hard requirement), or 'parquet'."""
    if fmt == "parquet":
        return ParquetBackend(root)
    if fmt == "iceberg":
        if not iceberg_available(spark):
            raise RuntimeError(
                "format='iceberg' requires iceberg-spark-runtime on the "
                "classpath (spark.jars.packages); none detected")
        return IcebergBackend(spark, root)
    if fmt != "auto":
        raise ValueError(f"unknown warehouse format {fmt!r}")
    if iceberg_available(spark):
        return IcebergBackend(spark, root)
    return ParquetBackend(root)
