"""SnapshotTable — the manifest-versioned parquet table behind the
lakehouse snapshot ops (``operators/lakehouse.py``).

A table is immutable data files plus a linear log of manifests, one per
commit; a manifest is the full list of data-file URIs that make up that
version, the layout Iceberg/Delta keep in their metadata layer. The core
owns the mechanics every snapshot op shares:

- listing the data files a write produced (driver-side file index, one
  URI per data FILE — metadata scale);
- copy-on-write (COW): find the files holding rows that match a
  predicate, rewrite only those, report ``(replaced, added)``;
- the single atomic commit point: new manifest = manifest(base) −
  replaced + added, accepted only if the head is still ``base``
  (compare-and-swap) and the transaction id has not committed before;
  durable tables also write each manifest as one parquet file
  ``manifests/v=N``, so the commit log itself is a file-stream source;
- the on-disk data-file inventory the "no data file written" certificates
  compare;
- the change feed between two manifests, read from the files one lost and
  the other gained only.

Each table lives in the op's scratch directory, cleared on construction.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cloudtrail_streamer_spark.catalog import scratch_dir

# One row per data file of the version; a durable table's commit log is a
# directory of these files, readable as a file-stream source.
MANIFEST_SCHEMA = "version int, f string"


def file_list(spark: SparkSession, path: str, schema: StructType) -> list[str]:
    """Data-file URIs under a parquet dir, from Spark's file index (works
    on any FS a cluster would use). The known ``schema`` spares the
    schema-inference job, so no job runs."""
    return spark.read.schema(schema).parquet(path).inputFiles()


def local_path(uri: str) -> str:
    """Local filesystem path of a ``file:`` URI."""
    return os.path.normpath(uri[len("file:") :] if uri.startswith("file:") else uri)


def minus(a: list[str], b: list[str]) -> list[str]:
    """Manifest diff: the files of ``a`` not in ``b``, in ``a``'s order."""
    drop = set(b)
    return [f for f in a if f not in drop]


def spool(df: DataFrame, dest: str) -> None:
    """Write ``df`` as exactly one parquet file at ``dest``: written to a
    sibling temp dir, then renamed into place, so a directory reader only
    ever sees whole files."""
    tmp = dest + ".tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
    os.rename(os.path.join(tmp, part), dest)
    shutil.rmtree(tmp)


class SnapshotTable:
    """One manifest-versioned table; version 0 is empty. Rows are
    ``orders`` in integer cents: ``by_year`` needs ``o_year`` and
    ``change_feed`` needs ``o_orderkey`` and ``price_c``."""

    def __init__(self, spark: SparkSession, name: str, sf_dir: str, durable: bool = False):
        self.spark = spark
        self.root = scratch_dir(name, sf_dir)
        shutil.rmtree(self.root)
        os.makedirs(self.path("manifests") if durable else self.root)
        self.durable = durable
        self.log: list[list[str]] = []  # manifest of version v is log[v - 1]
        self.txns: dict[object, int] = {}  # committed txn id -> version
        self._data_dirs: list[str] = []
        self._schemas: dict[str, StructType] = {}  # data file -> schema written

    def path(self, sub: str) -> str:
        return os.path.join(self.root, sub)

    @property
    def head(self) -> int:
        return len(self.log)

    def manifest(self, version: int | None = None) -> list[str]:
        v = self.head if version is None else version
        return list(self.log[v - 1]) if v else []

    def read(self, files: list[str]) -> DataFrame:
        """Read data files, with the schema they were written with when
        they share one (no schema-inference job)."""
        schemas = {self._schemas.get(f) for f in files}
        if len(schemas) == 1 and None not in schemas:
            return self.spark.read.schema(schemas.pop()).parquet(*files)
        return self.spark.read.parquet(*files)

    def as_of(self, version: int) -> DataFrame:
        """Time travel: read exactly the files manifest ``version`` names —
        from its committed manifest file when the table is durable."""
        if not self.durable:
            return self.read(self.manifest(version))
        path = self.path(f"manifests/v={version}")
        rows = self.spark.read.schema(MANIFEST_SCHEMA).parquet(path).collect()
        return self.read([r["f"] for r in rows])

    def write(self, df: DataFrame, sub: str, by_year: bool = False) -> list[str]:
        """Write ``df`` as new data files under ``sub``; return their URIs.
        ``by_year`` lays files out one directory per ``o_year`` (through a
        duplicated ``y`` key, so file-list reads keep ``o_year`` as data)."""
        out = self.path(sub)
        if by_year:
            df.withColumn("y", F.col("o_year")).write.partitionBy("y").mode(
                "overwrite"
            ).parquet(out)
        else:
            df.write.mode("overwrite").parquet(out)
        self._data_dirs.append(out)
        files = file_list(self.spark, out, df.schema)
        self._schemas.update(dict.fromkeys(files, df.schema))
        return files

    def touching(self, pred: Column) -> list[str]:
        """Files of the head manifest holding any row matching ``pred``."""
        hits = self.read(self.manifest()).where(pred)
        return [r["f"] for r in hits.select(F.input_file_name().alias("f")).distinct().collect()]

    def rewrite(
        self, pred: Column, fn: Callable[[DataFrame], DataFrame], sub: str
    ) -> tuple[list[str], list[str]]:
        """COW against the head: rewrite only the files holding ``pred``
        rows, through ``fn``, into ``sub``. Returns ``(replaced, added)``
        — a change not yet committed."""
        replaced = self.touching(pred)
        return replaced, self.write(fn(self.read(replaced)), sub)

    def commit(
        self, replaced: list[str], added: list[str], base: int | None = None, txn: object = None
    ) -> bool:
        """The single atomic commit point. The new manifest is
        manifest(base) − replaced + added; it is accepted only if the head
        is still ``base`` (CAS, default: the current head) and ``txn`` has
        not committed before (idempotent writes). Returns whether it was."""
        base = self.head if base is None else base
        if base != self.head or (txn is not None and txn in self.txns):
            return False
        self.log.append(minus(self.manifest(base), replaced) + list(added))
        if txn is not None:
            self.txns[txn] = self.head
        if self.durable:
            rows = [(self.head, f) for f in self.log[-1]]
            spool(
                self.spark.createDataFrame(rows, MANIFEST_SCHEMA),
                self.path(f"manifests/v={self.head}"),
            )
        return True

    def data_files(self) -> dict[str, int]:
        """``{path: mtime_ns}`` of every data file on disk. Two equal
        snapshots of this mean no data file was written or rewritten
        between them."""
        found = {}
        for d in self._data_dirs:
            for r, _dirs, fs in os.walk(d):
                for fn in fs:
                    if fn.endswith(".parquet"):
                        p = os.path.join(r, fn)
                        found[p] = os.stat(p).st_mtime_ns
        return found

    def change_feed(self, before: list[str], after: list[str]) -> DataFrame:
        """Row-level changes between two manifests, read only from the files
        ``before`` lost (preimages) and ``after`` gained (postimages); one
        keyed full-outer join classifies every key:

        - in both, price equal   → COW copy artifact, no change row;
        - in both, price differs → ``update_preimage`` + ``update_postimage``;
        - only in removed files  → ``delete``;
        - only in added files    → ``insert``.

        Returns ``(o_orderkey, change_type, price_c)``."""
        pre = self.read(minus(before, after)).select(
            "o_orderkey", F.col("price_c").alias("pre_c")
        )
        post = self.read(minus(after, before)).select(
            "o_orderkey", F.col("price_c").alias("post_c")
        )

        def change(kind: str, price: str) -> Column:
            return F.struct(F.lit(kind).alias("change_type"), F.col(price).alias("price_c"))

        ch = (
            F.when(F.col("pre_c").isNull(), F.array(change("insert", "post_c")))
            .when(F.col("post_c").isNull(), F.array(change("delete", "pre_c")))
            .when(
                F.col("pre_c") != F.col("post_c"),
                F.array(
                    change("update_preimage", "pre_c"), change("update_postimage", "post_c")
                ),
            )
            .otherwise(F.array())
        )
        return (
            pre.join(post, "o_orderkey", "full_outer")
            .select("o_orderkey", F.explode(ch).alias("c"))
            .select("o_orderkey", "c.change_type", "c.price_c")
        )
