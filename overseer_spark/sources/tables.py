"""Parquet table sources for the analytics surface.

All reads go through Spark's parquet source so Catalyst gets native
vectorized scans with predicate pushdown and column pruning; at cluster
scale the same call reads a partitioned directory tree and prunes
partitions from pushed filters. (Reference analogue: the JDBC/Datomic
store reads in overseer/store/jdbc.clj:45-60 — here the "store" is the
columnar lakehouse itself.)

Inferring a table's schema costs a Spark job that reads the parquet
footers, so ``load_table`` infers it once per version of the table's
files (see ``read_parquet``) and reads with ``spark.read.schema(s)``.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession

from overseer_spark.session import configure_for_oracle

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via Spark's Hadoop conf — works for
    any URI scheme the session can write (file://, hdfs://, s3a://), unlike
    a driver-local ``os.path`` probe, which would silently report a remote
    directory as empty (for an ANN index: "no tombstones", resurrecting
    deleted vectors, ADVICE r10)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def data_files(spark: SparkSession, path: str):
    """(fs, [FileStatus]) of the DATA files under ``path``, descending
    into subdirectories (a partitioned layout's ``col=value``
    directories; hidden and marker files and directories excluded), or
    of ``path`` itself when it is a file; a missing path lists as
    empty."""
    fs, d = hadoop_fs(spark, path)
    if not fs.exists(d):
        return fs, []
    found, dirs = [], [d]
    while dirs:
        for st in fs.listStatus(dirs.pop()):
            if st.getPath().getName().startswith(("_", ".")):
                continue
            if st.isDirectory():
                dirs.append(st.getPath())
            else:
                found.append(st)
    return fs, found


# Directory memo: key -> loaded value, least recently used first. The
# lock makes the get/insert/evict sequence safe for foreachBatch ingest,
# which runs on the streaming query's own thread.
_DIR_MEMO: OrderedDict = OrderedDict()
_DIR_MEMO_MAX = 512
_DIR_MEMO_LOCK = threading.Lock()


def dir_memo(spark: SparkSession, path: str, load, files=None):
    """``load(path)``, memoized per (applicationId, path, fingerprint),
    where the fingerprint is the sorted (name, length, modification
    time) of ``path``'s data files (``files``, or ``data_files``' listing
    through the path's own Hadoop FileSystem: no Spark job). Spark
    part-file names carry the writing job's UUID and a fixed-name file
    gets a new modification time, so any rewrite of the path, by a
    package writer or by any other writer or process, changes the key,
    and a copied directory has a new path: nothing needs to evict an
    entry for correctness. Stale keys age out of the bounded LRU."""
    if files is None:
        _, files = data_files(spark, path)
    key = (
        spark.sparkContext.applicationId,
        path,
        tuple(
            sorted(
                (st.getPath().getName(), st.getLen(), st.getModificationTime())
                for st in files
            )
        ),
    )
    with _DIR_MEMO_LOCK:
        if key in _DIR_MEMO:
            _DIR_MEMO.move_to_end(key)
            return _DIR_MEMO[key]
    value = load(path)  # outside the lock: loads run Spark jobs
    with _DIR_MEMO_LOCK:
        _DIR_MEMO[key] = value
        while len(_DIR_MEMO) > _DIR_MEMO_MAX:
            _DIR_MEMO.popitem(last=False)
    return value


def read_parquet(spark: SparkSession, path: str, files=None) -> DataFrame:
    """``spark.read.parquet`` of the directory ``path``, or of its data
    files ``files`` (FileStatus, as ``data_files`` lists them), with the
    schema inferred once per version of the files (``dir_memo``) and
    every read made with ``spark.read.schema(s)``: an inferred read
    starts a Spark job that reads the parquet footers, a known-schema
    read starts none. A partitioned layout (``col=value``
    subdirectories) is fingerprinted by its leaf data files, and its
    memoized schema holds the partition columns too."""
    paths = [path] if files is None else [st.getPath().toString() for st in files]
    schema = dir_memo(
        spark, path, lambda _: spark.read.parquet(*paths).schema, files
    )
    return spark.read.schema(schema).parquet(*paths)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    configure_for_oracle(spark)
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # events.ts is TIMESTAMP(NANOS) parquet, which Spark's vectorized
        # reader rejects; nanosAsLong (set in configure_for_oracle) reads it
        # as int64 ns. Truncate to µs TimestampType — the same truncation
        # DuckDB applies — so both engines see identical values.
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    names = names or TABLES
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` can be used."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
