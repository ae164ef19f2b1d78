"""Persisted passage-frequency store: corpus-wide boilerplate
statistics maintained incrementally — the lifecycle form of
:func:`.dedup.remove_boilerplate_passages`.

C4/CCNet-style pipelines compute passage (line) frequencies over the
WHOLE crawl, then strip frequent passages from every document; a
growing corpus cannot re-aggregate history per batch. This store
persists mergeable per-batch count segments:

    <path>/meta.json  block, version (:mod:`.store` meta)
    <path>/segments/  (batch_id, fp, df) — per-segment DISTINCT-
                      document counts KEYED BY BATCH; the read path
                      drops duplicate (batch_id, fp) rows BEFORE
                      summing, so a crash-replayed append (same batch
                      re-offered after a failure between the segment
                      write and the caller's warehouse append) cannot
                      double-count — the stats-artifact discipline the
                      budget gate uses. The summed segments equal the
                      global distinct-document frequency under the
                      store's contract: EVERY DOCUMENT IS OFFERED
                      EXACTLY ONCE (the ingest gates' id anti-join
                      provides this).

Counts are additive, so the store is mergeable like the HLL/Bloom
stores but EXACT; 32-byte fingerprints + one long per distinct
passage per segment. Compaction is file-layout-only
(:func:`..sinks.parquet.compact_dataset` — row-preserving atomic
swap); the read-side sum handles segment multiplicity, so folding is
an optimization, not a correctness need.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import _rebuild_cleaned, passage_rows
from .store import StoreVersionError, part, read_meta, write_meta


def _segments_path(path: str) -> str:
    return part(path, "segments")


_SEGMENTS_SCHEMA = "batch_id string, fp string, df bigint"


class PassageFreqStoreVersionError(StoreVersionError):
    """Persisted store predates batch-keyed (replay-safe) segments."""

    kind = "passage-frequency"
    detail = (
        "version-2 segments are batch-keyed for replay idempotency. "
        "Rebuild: create_passage_freq_store + one append per batch."
    )


def create_passage_freq_store(
    spark: SparkSession, path: str, block: int = 16
) -> dict:
    """Initialize an empty store; ``block`` rides in meta so a batch
    chunked at a different granularity cannot silently contribute
    incomparable counts."""
    return write_meta(spark, path, {"block": int(block), "version": 2})


def load_passage_freq_meta(spark: SparkSession, path: str) -> dict:
    """Store meta, REFUSING version-1 stores: their segments carry no
    batch_id, so the replay-dedup read path cannot tell a crash-
    replayed append from a legitimate one — exactly the silent
    frequency inflation version 2 exists to prevent. Rebuild by
    re-offering the corpus once into a fresh store."""
    return read_meta(spark, path, (2,), PassageFreqStoreVersionError)


def _derived_batch_id(docs: DataFrame, id_col: str) -> str:
    """Deterministic, order-independent id of the OFFERED DOCUMENT
    SET: count + two independently-seeded xxhash64 XOR folds. Under
    the once-per-doc contract, two appends can only share an id set
    when one is a replay of the other — which is exactly when the
    read-side (batch_id, fp) dedup must collapse them. One tiny
    3-number aggregate; no extra corpus pass (the ids are already in
    hand)."""
    row = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(F.col(id_col), F.lit(0xB1D1))).alias("x1"),
        F.bit_xor(F.xxhash64(F.col(id_col), F.lit(0xB1D2))).alias("x2"),
    ).first()
    return f"auto-{row['n']}-{row['x1']}-{row['x2']}"


def append_passage_counts(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_id: str | None = None,
    chunks: DataFrame | None = None,
) -> None:
    """Append one count segment covering ``docs`` — (fp, distinct-doc
    count) within the batch, keyed by ``batch_id``.

    REPLAY-IDEMPOTENT: a crash between this append and the caller's
    warehouse append re-offers the batch; the replay recomputes the
    identical (batch_id, fp, df) rows and the read path's
    (batch_id, fp) dedup collapses them, so frequencies never inflate
    (a version-1 store double-counted here, which could strip
    non-boilerplate passages corpus-wide). Callers with a durable
    batch identity (streaming epoch, ingest-gate batch) should pass
    it; otherwise the id derives deterministically from the offered
    document-id set. The caller must still offer each document
    exactly once across DISTINCT batches (ingest gates' id
    anti-join). A batch with no passages appends an empty part, which
    the read path ignores.

    ``chunks``: a precomputed :func:`..dedup.passage_rows` relation
    for ``docs`` at the store's block size — callers that both count
    AND strip the same batch (the streaming gate) pass it so the
    batch's passages explode once, not twice. The caller owns the
    block-size agreement; when omitted the rows derive here under the
    store's meta."""
    if batch_id is None:
        batch_id = _derived_batch_id(docs, id_col)
    if chunks is None:
        meta = load_passage_freq_meta(spark, path)
        chunks = passage_rows(docs, meta["block"], text_col, id_col)
    # written straight from its plan, unpinned: ``docs``/``chunks``
    # never derive from this store's segments, so the append cannot
    # change its own input
    (
        chunks
        .groupBy("fp")
        .agg(F.countDistinct("id").cast("bigint").alias("df"))
        .select(F.lit(batch_id).alias("batch_id"), "fp", "df")
        .write.mode("append").parquet(_segments_path(path))
    )


def read_passage_freqs(spark: SparkSession, path: str) -> DataFrame:
    """(fp, df) summed over all segments — the corpus-wide passage
    document-frequency relation (one row per distinct passage).
    Duplicate (batch_id, fp) rows — a crash-replayed append — count
    once."""
    from ..sources.parquet import read_table_or_empty

    return (
        read_table_or_empty(spark, _segments_path(path), _SEGMENTS_SCHEMA)
        .dropDuplicates(["batch_id", "fp"])
        .groupBy("fp")
        .agg(F.sum("df").cast("bigint").alias("df"))
    )


def strip_boilerplate_against_store(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    min_doc_freq: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunks: DataFrame | None = None,
) -> DataFrame:
    """Clean ``docs`` against the PERSISTED corpus-wide frequencies:
    passages whose stored document frequency exceeds ``min_doc_freq``
    are stripped, survivors reassemble in order — the same output
    contract as :func:`.dedup.remove_boilerplate_passages`
    ``(id, n_passages, n_removed, text_clean)``, but the frequency
    side never re-reads history (the store relation is
    distinct-passage-sized, and the join hashes 32-byte
    fingerprints). Passages absent from the store count as df=0
    (never seen → never boilerplate). ``chunks``: precomputed
    passage rows, same contract as :func:`append_passage_counts`."""
    if chunks is None:
        meta = load_passage_freq_meta(spark, path)
        chunks = passage_rows(docs, meta["block"], text_col, id_col)
    judged = chunks.join(
        read_passage_freqs(spark, path).withColumnRenamed("df", "_df"),
        "fp",
        "left",
    ).withColumn("_df", F.coalesce(F.col("_df"), F.lit(0)))
    return _rebuild_cleaned(docs, judged, min_doc_freq, id_col)


def strip_rebuilt_against_store(
    spark: SparkSession,
    path: str,
    chunks: DataFrame,
    min_doc_freq: int = 50,
) -> DataFrame:
    """The attach-it-yourself form of
    :func:`strip_boilerplate_against_store` (round 13, guide §2.4):
    returns the per-doc rebuilt relation ``(id, n_passages, n_removed,
    text_clean)`` for documents that HAVE passage rows in ``chunks``,
    WITHOUT joining it back onto a document relation. A caller that
    already holds the doc relation (and knows its ids are unique —
    e.g. the unified gate, whose arrival guard enforces it) attaches
    the result with ONE left join and 0/0/NULL defaults; the generic
    form pays a dropDuplicates exchange plus a second doc-sized join
    for the same answer."""
    from .dedup import _rebuilt_per_doc

    judged = chunks.join(
        read_passage_freqs(spark, path).withColumnRenamed("df", "_df"),
        "fp",
        "left",
    ).withColumn("_df", F.coalesce(F.col("_df"), F.lit(0)))
    # the identical aggregation _rebuild_cleaned uses — shared code,
    # so the generic and attach-it-yourself paths cannot drift
    return _rebuilt_per_doc(judged, min_doc_freq)


def compact_passage_freq_store(
    spark: SparkSession, path: str, target_file_mb: int = 128
) -> int:
    """File-layout compaction (row-preserving atomic swap via
    :func:`..sinks.parquet.compact_dataset`); the read-side sum is
    layout-invariant. Folding segments into one row per fingerprint
    would ALSO be sound (sums are associative) but is deliberately not
    done on the hot path: a crash between writing a folded segment and
    deleting its inputs would double-count, so folding would need the
    swap protocol anyway — which compact_dataset already provides for
    the layout problem that actually hurts (file-count growth)."""
    from ..sinks.parquet import compact_dataset

    return compact_dataset(spark, _segments_path(path), target_file_mb)
