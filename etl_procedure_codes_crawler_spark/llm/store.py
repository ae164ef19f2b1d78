"""One lifecycle for the persisted ``llm/`` stores.

Bloom, KMV, minhash/neardup, passage-frequency, phash, winnow and the
ANN index each keep their own algorithm (OR-fold, bottom-k, signing,
counting, hashing, winnowing, PQ encoding); what they share lives
here:

- **meta**: one JSON document per store, ``<path>/meta.json`` (the
  neardup cluster token is ``<path>/cluster_meta.json``), written and
  read driver-side over the Hadoop FS — no Spark job. Replace is
  write-tmp, delete, rename (:func:`..sinks.fsutil.write_json`); a
  crash between the last two leaves the meta absent, which
  :func:`read_meta` reports as absent (the caller's default, or an
  error naming the create call to re-run).
- **version refusal**: :class:`StoreVersionError`, raised when the
  meta's ``version`` (missing = 1) is not one the store reads.
- **id-keyed append**: :func:`append_new_ids` — drop NULL and
  duplicate ids, anti-join against the ids the part holds, encode
  only the fresh rows, pin, count, append. Replay-idempotent.

Compaction of an append-grown part goes through
:func:`..sinks.parquet.compact_dataset` (checked two-phase swap,
crash-healed on the next call).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..sinks.fsutil import hadoop_fs, read_json, write_json

META = "meta.json"


class StoreVersionError(RuntimeError):
    """Persisted store was written under a layout this code refuses."""

    kind = "persisted"
    detail = "this code reads another layout. Rebuild the store."

    def __init__(self, path: str, version):
        super().__init__(
            f"{self.kind} store at {path!r} is version {version}; "
            f"{self.detail}"
        )


def part(path: str, name: str) -> str:
    """``<path>/<name>`` — a store's data part or meta file."""
    return f"{path.rstrip('/')}/{name}"


def write_meta(
    spark: SparkSession, path: str, meta: dict, name: str = META
) -> dict:
    """Create or replace the store's meta document; returns ``meta``."""
    fs, hpath = hadoop_fs(spark, path)
    fs.mkdirs(hpath(path))
    write_json(fs, hpath, part(path, name), meta)
    return meta


def read_meta(
    spark: SparkSession,
    path: str,
    versions: tuple[int, ...] | None = None,
    error: type[StoreVersionError] = StoreVersionError,
    name: str = META,
    default: dict | None = None,
) -> dict:
    """The store's meta document. Absent: ``default`` if given, else
    FileNotFoundError. ``versions``: the meta versions this code reads
    (a missing key is version 1); any other raises ``error``."""
    fs, hpath = hadoop_fs(spark, path)
    target = part(path, name)
    if not fs.exists(hpath(target)):
        if default is not None:
            return dict(default)
        raise FileNotFoundError(
            f"no store meta at {target!r}: create or build the store "
            "first (stores written before meta.json must be rebuilt)"
        )
    meta = read_json(fs, hpath, target)
    version = meta.get("version", 1)
    if versions is not None and version not in versions:
        raise error(path, version)
    return meta


def append_new_ids(
    spark: SparkSession,
    part_path: str,
    rows: DataFrame,
    id_col: str = "id",
    encode: Callable[[DataFrame], DataFrame] | None = None,
    schema: StructType | str | None = None,
    partition_by: list[str] | None = None,
    count: Callable[[DataFrame], int] = DataFrame.count,
) -> int:
    """Append the encoded form of every row whose id the part at
    ``part_path`` does not hold yet — idempotent under replay.

    ``rows`` carry ``id_col``; the part keys its rows by ``id``.
    ``encode`` maps the fresh rows to part rows (the store's own
    algorithm; identity when omitted). ``schema``: the part's schema,
    when fixed — reading with it skips a schema-inference job.
    ``partition_by``: the part's partition columns; each append writes
    one file per partition value. Returns ``count`` of the appended
    relation (rows by default)."""
    fresh = rows.where(F.col(id_col).isNotNull()).dropDuplicates([id_col])
    fs, hpath = hadoop_fs(spark, part_path)
    if fs.exists(hpath(part_path)):
        reader = spark.read if schema is None else spark.read.schema(schema)
        held = reader.parquet(part_path).select(F.col("id").alias(id_col))
        fresh = fresh.join(held, id_col, "left_anti")
    if encode is not None:
        fresh = encode(fresh)
    fresh = fresh.localCheckpoint(eager=True)  # lineage reads the part
    n = count(fresh)
    if n and partition_by:
        fresh.repartition(*partition_by).write.mode("append").partitionBy(
            *partition_by
        ).parquet(part_path)
    elif n:
        fresh.write.mode("append").parquet(part_path)
    return n
