"""TableFormat seam — the one storage path for a crawl root.

The north_rule mandates "Iceberg tables"; this sandbox has no Iceberg jars
(SURVEY.md §7), so the engine writes/reads through this one indirection:

* ``IcebergSnapshotFormat`` — used automatically when the Iceberg Spark
  runtime is on the classpath (probed once per session);
* ``ParquetSnapshotFormat`` — the fallback: plain parquet directories with
  the engine's epoch-snapshot manifest as the commit protocol (same schema,
  same bucketing, same append-only-delta semantics).

The seam carries the commit protocol too: the epoch manifest is read and
committed through the format, and both formats reach the root through the
Hadoop ``FileSystem`` of its path, so a root may be any path Spark can
write (a local directory, ``file://``, ``hdfs://``).  ``engine.py``
contains no file I/O of its own; dropping Iceberg jars onto a real cluster
flips every crawl table to Iceberg without touching the epoch loop.
"""
from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession


class TableFormat:
    """Write/read one logical table at a path (or several paths — the
    append-only tables are unions of per-epoch deltas), the probe the
    epoch loop needs (``exists``: was this table ever written?), and the
    snapshot's commit marker (``read_manifest``/``commit_manifest``: the
    JSON manifest a snapshot is complete with).  The probe and the
    manifest are implemented once here, over the Hadoop ``FileSystem``
    of the path; the Iceberg variant keeps its own table-load probe."""

    def write(self, df: DataFrame, path: str) -> None:
        raise NotImplementedError

    def read(self, spark: SparkSession, paths: list[str], schema=None) -> DataFrame:
        raise NotImplementedError

    def read_stream(self, spark: SparkSession, path: str, schema=None,
                    max_files_per_trigger: int | None = None) -> DataFrame:
        """Structured-streaming source over one table path or glob (the
        append-only tables stream naturally: new epoch deltas appear as
        new commits/files and flow through incrementally).

        Glob contract (the batch ``read`` takes an explicit path list and
        never sees globs, so this is the one place it matters): the
        parquet variant hands the glob to the file-stream source, which
        re-lists it every micro-batch — snapshot dirs created AFTER the
        stream starts are picked up.  Iceberg's ``load`` does not expand
        globs, so that variant expands the glob ONCE at stream start and
        unions the per-table streams; late-created tables are not picked
        up (moot in a real Iceberg deployment, where an append-only table
        is ONE Iceberg table and new epochs are new commits to it)."""
        raise NotImplementedError

    def exists(self, spark: SparkSession, path: str) -> bool:
        fs, hpath = _fs(spark, path)
        return fs.isDirectory(hpath)

    def read_manifest(self, spark: SparkSession, path: str) -> dict:
        fs, hpath = _fs(spark, path)
        stream = fs.openFile(hpath).opt(
            "fs.option.openfile.read.policy", "whole-file").build().get()
        try:
            return json.loads(bytes(stream.readAllBytes()))
        finally:
            stream.close()

    def commit_manifest(self, spark: SparkSession, path: str,
                        manifest: dict) -> None:
        """Write ``manifest`` to a temp file beside ``path``, then rename
        it to ``path``: the manifest appears only complete.  The write
        goes through an uncached FileSystem instance with checksums off,
        so a local root gets no ``.crc`` sidecar while the cached
        instance Spark's table writes use stays as it is."""
        data = bytearray(json.dumps(manifest).encode())  # fails before any I/O
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        tmp = jvm.org.apache.hadoop.fs.Path(path + ".tmp")
        fs = jvm.org.apache.hadoop.fs.FileSystem.newInstance(
            hpath.toUri(), spark._jsc.hadoopConfiguration())
        try:
            fs.setWriteChecksum(False)
            out = fs.create(tmp, True)
            try:
                out.write(data)
            finally:
                out.close()
            # neither HDFS nor the local FS renames over a file; a
            # manifest exists here only when an epoch is re-run
            fs.delete(hpath, False)
            if not fs.rename(tmp, hpath):
                raise OSError(f"could not commit manifest {path}")
        finally:
            fs.close()


class ParquetSnapshotFormat(TableFormat):
    def write(self, df: DataFrame, path: str) -> None:
        df.write.mode("overwrite").parquet(path)

    def read(self, spark: SparkSession, paths: list[str], schema=None) -> DataFrame:
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*paths)

    def read_stream(self, spark: SparkSession, path: str, schema=None,
                    max_files_per_trigger: int | None = None) -> DataFrame:
        reader = spark.readStream
        if schema is not None:
            reader = reader.schema(schema)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        return reader.parquet(path)


class IcebergSnapshotFormat(TableFormat):
    """Iceberg-backed variant (requires iceberg-spark-runtime on the
    classpath and a configured catalog).  Snapshot dirs become Iceberg
    table partitions; the epoch manifest maps onto Iceberg snapshot ids.
    Not exercisable in this sandbox — constructed only when the probe
    below finds the runtime.  ``read`` ignores the schema argument by
    design: an Iceberg table carries its own (evolvable) schema."""

    def write(self, df: DataFrame, path: str) -> None:
        df.write.format("iceberg").mode("overwrite").save(path)

    def read(self, spark: SparkSession, paths: list[str], schema=None) -> DataFrame:
        dfs = [spark.read.format("iceberg").load(p) for p in paths]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def exists(self, spark: SparkSession, path: str) -> bool:
        try:
            spark.read.format("iceberg").load(path).schema
            return True
        except Exception:
            return False

    def read_stream(self, spark: SparkSession, path: str, schema=None,
                    max_files_per_trigger: int | None = None) -> DataFrame:
        # Iceberg's incremental streaming source; schema comes from the
        # table, rate limiting from streaming options.  load() does not
        # expand globs, so expand here and union (see the base-class
        # glob contract — expansion is once-at-start by necessity).
        def _one(p: str) -> DataFrame:
            reader = spark.readStream.format("iceberg")
            if max_files_per_trigger is not None:
                reader = reader.option(
                    "streaming-max-files-per-micro-batch",
                    max_files_per_trigger)
            return reader.load(p)

        paths = expand_glob(spark, path)
        if not paths:
            raise FileNotFoundError(f"no Iceberg tables match {path!r}")
        out = _one(paths[0])
        for p in paths[1:]:
            out = out.unionByName(_one(p))
        return out


def expand_glob(spark: SparkSession, path: str) -> list[str]:
    """Expand a path glob through the Hadoop filesystem API (works for any
    scheme Spark can read, not just ``file:``).  A non-glob path passes
    through verbatim — existence is the reader's problem, same as
    ``spark.read``'s.  Sorted for deterministic union order."""
    if not any(c in path for c in "*?[{"):
        return [path]
    fs, hpath = _fs(spark, path)
    statuses = fs.globStatus(hpath)
    if statuses is None:
        return []
    return sorted(str(s.getPath()) for s in statuses)


def _fs(spark: SparkSession, path: str):
    """The Hadoop ``FileSystem`` of ``path`` (the cached instance Spark
    uses) and ``path`` as a Hadoop ``Path``."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


_OVERRIDE: TableFormat | None = None


def get_table_format(spark: SparkSession) -> TableFormat:
    # the classpath probe is a py4j ClassNotFoundException round-trip
    # (~15 ms; a two-epoch crawl asks ~30 times); its answer holds for
    # the life of the JVM, so it is kept on the session's SparkContext
    # object, which a new context replaces
    if _OVERRIDE is not None:
        return _OVERRIDE
    sc = spark.sparkContext
    if not hasattr(sc, "_iceberg_available"):
        sc._iceberg_available = iceberg_available(spark)
    return (
        IcebergSnapshotFormat() if sc._iceberg_available
        else ParquetSnapshotFormat()
    )


class use_table_format:
    """Context manager injecting a TableFormat for everything under it —
    how the fake-format contract test proves the epoch loop touches
    storage ONLY via the seam, and how a deployment could force a
    specific format regardless of the classpath probe."""

    def __init__(self, fmt: TableFormat):
        self._fmt = fmt

    def __enter__(self):
        global _OVERRIDE
        self._prev = _OVERRIDE
        _OVERRIDE = self._fmt
        return self._fmt

    def __exit__(self, *exc):
        global _OVERRIDE
        _OVERRIDE = self._prev
        return False
