"""Distributed Bloom-filter membership store.

The ingest gate's exact dedup anti-joins every batch against the full
warehouse id/fingerprint set — correct, but at 100 TB the warehouse
side of that join is billions of rows re-shuffled per batch. A Bloom
filter is the standard prefilter: a bit array sized for the corpus
(m = −n·ln(fpr)/ln(2)², k = m/n·ln 2 hash probes) that answers
"definitely new" with zero error and "maybe seen" with a bounded
false-positive rate, so the expensive exact anti-join only runs over
the tiny maybe-seen slice.

Spark shape — both paths stay fully JVM-side:

- **build**: each item contributes k positions via Kirsch–Mitzenmacher
  double hashing (pos_i = (h1 + i·h2) mod m with two xxhash64 seeds —
  2 hash evaluations, not k); positions fold to (word_idx, bitmask)
  rows and ONE ``bit_or`` groupBy produces the filter as an
  (word_idx, bits) relation of m/64 rows. Partial aggregation ORs
  map-side, so the shuffle carries at most partitions×m/64 rows.
- **merge**: union + the same bit_or — Bloom filters of the same
  (m, k) are closed under OR, so per-batch filters fold without
  rereading data (the HLL-store pattern).
- **probe**: the filter relation is small by construction (m/64 rows;
  ~1.5 M rows ≈ 12 MB for 10⁸ items at 1 % fpr), so each of the k bit
  tests is a BROADCAST join — the probed corpus never shuffles and no
  Python runs.

Not DuckDB-oracled: positions come from JVM xxhash64, which other
engines don't reproduce — the gate entry is rows-only and correctness
is pinned by the no-false-negative / FPR-bound / merge-equivalence
tests in tests/test_bloom.py.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .store import StoreVersionError, part, read_meta, write_meta

_WORD = 64


def bloom_parameters(n_items: int, fpr: float = 0.01) -> tuple[int, int]:
    """Standard sizing: bits m = ceil(−n·ln p / ln²2) rounded up to a
    whole word, probes k = round(m/n·ln 2), both ≥ 1."""
    if n_items <= 0:
        raise ValueError(f"n_items must be positive, got {n_items}")
    if not 0.0 < fpr < 1.0:
        raise ValueError(f"fpr must be in (0, 1), got {fpr}")
    m = math.ceil(-n_items * math.log(fpr) / (math.log(2) ** 2))
    m = ((m + _WORD - 1) // _WORD) * _WORD
    k = max(1, round(m / n_items * math.log(2)))
    return m, k


def _positions(col, m_bits: int, k: int) -> list:
    """k probe positions by double hashing: two xxhash64 draws, then
    pos_i = (h1 + i·h2) mod m — non-negative via pmod."""
    # reduce both draws mod m BEFORE the i·h2 products: xxhash64 spans
    # the full long range and i·h2 would overflow ANSI arithmetic;
    # after reduction every intermediate is ≤ k·m.
    # h2 is forced into [1, m−1]: a zero step would collapse all k
    # probes onto one bit for that key (~1/m of keys), locally
    # inflating the false-positive rate past the designed bound (no
    # false negatives either way — build and probe share the step).
    h1 = F.pmod(F.xxhash64(col, F.lit(0x5EED1)), F.lit(m_bits))
    h2 = F.lit(1) + F.pmod(F.xxhash64(col, F.lit(0x5EED2)), F.lit(m_bits - 1))
    return [
        F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)).alias(f"_pos{i}")
        for i in range(k)
    ]


def build_bloom(
    df: DataFrame, col: str, m_bits: int, k: int
) -> DataFrame:
    """(word_idx, bits) filter relation over ``df[col]`` (NULLs are
    skipped — NULL is not a member). One corpus-sized explode + one
    bit_or groupBy; output is m/64 rows regardless of input size."""
    if m_bits % _WORD:
        raise ValueError(f"m_bits must be a multiple of {_WORD}")
    pos = F.explode(F.array(*_positions(F.col(col), m_bits, k))).alias(
        "_pos"
    )
    return (
        df.where(F.col(col).isNotNull())
        .select(pos)
        .select(
            F.expr(f"_pos div {_WORD}").alias("word_idx"),
            # DataFrame-API shiftleft takes only literal shift amounts;
            # the SQL form accepts a column
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(_pos % {_WORD} AS INT))"
            ).alias("_mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("_mask").alias("bits"))
    )


def merge_blooms(a: DataFrame, b: DataFrame) -> DataFrame:
    """OR-fold two filters built with the same (m, k) — the mergeable-
    sketch property that lets per-batch filters accrete without
    rereading any batch."""
    return (
        a.unionByName(b)
        .groupBy("word_idx")
        .agg(F.bit_or("bits").alias("bits"))
    )


def probe_bloom(
    df: DataFrame, col: str, bloom: DataFrame, m_bits: int, k: int
) -> DataFrame:
    """``df`` plus a ``maybe_seen`` column: true iff all k probed bits
    are set. False means DEFINITELY not inserted (the dedup-safe
    direction); NULL values probe to false. k broadcast joins against
    the m/64-row filter — the probed relation never shuffles."""
    out = df.withColumn("_b_val", F.col(col))
    checks = []
    for i, p in enumerate(_positions(F.col("_b_val"), m_bits, k)):
        out = out.withColumn(f"_p{i}", p)
        side = bloom.select(
            F.col("word_idx").alias(f"_w{i}"),
            F.col("bits").alias(f"_bits{i}"),
        )
        out = out.join(
            F.broadcast(side),
            F.expr(f"_p{i} div {_WORD}") == F.col(f"_w{i}"),
            "left",
        )
        checks.append(
            F.coalesce(
                F.expr(
                    f"shiftright(_bits{i}, CAST(_p{i} % {_WORD} AS INT))"
                    " & CAST(1 AS BIGINT)"
                )
                == F.lit(1),
                F.lit(False),
            )
        )
    seen = checks[0]
    for c in checks[1:]:
        seen = seen & c
    seen = F.when(F.col("_b_val").isNull(), F.lit(False)).otherwise(seen)
    keep = [c for c in df.columns]
    return out.select(*keep, seen.alias("maybe_seen"))


# ---------------------------------------------------------------------------
# Persisted store: append-only segments, OR-idempotent under replay
# ---------------------------------------------------------------------------
#
# Each accepted batch APPENDS its own (word_idx, bits) segment; the
# read path folds all segments with one bit_or groupBy (m/64 rows out,
# regardless of segment count). Because OR is idempotent, a crash-
# replayed batch re-appending the same segment changes nothing — the
# store needs no atomic swap on the hot path, only on compaction.


def _segments_path(path: str) -> str:
    return part(path, "segments")


class BloomStoreVersionError(StoreVersionError):
    """Persisted store was built under an older probe scheme."""

    kind = "bloom"
    detail = (
        "this code probes with the version-2 nonzero double-hash step "
        "and would return false negatives against its bit array. "
        "Rebuild the store from the guarded warehouse: "
        "create_bloom_store(spark, path, n_items, fpr, "
        "seed_df=warehouse, col=key)."
    )


def create_bloom_store(
    spark: SparkSession,
    path: str,
    n_items: int,
    fpr: float = 0.01,
    seed_df: DataFrame | None = None,
    col: str | None = None,
) -> dict:
    """Initialize a store sized for ``n_items`` at ``fpr``. If the
    guarded warehouse already has rows, pass them as ``seed_df[col]``
    — a bloom that under-covers its warehouse would wrongly wave
    known keys through the definitely-new fast path."""
    m_bits, k = bloom_parameters(n_items, fpr)
    meta = write_meta(
        spark, path, {"m_bits": m_bits, "k": k, "fpr": fpr, "version": 2}
    )
    if seed_df is not None:
        if col is None:
            raise ValueError("seed_df requires col")
        build_bloom(seed_df, col, m_bits, k).write.mode("overwrite").parquet(
            _segments_path(path)
        )
    return meta


def load_bloom_meta(spark: SparkSession, path: str) -> dict:
    """Store meta, REFUSING version-1 stores.

    Version 2 changed the double-hash step to h2 = 1 + pmod(h, m−1)
    (nonzero step), which redefines the probe positions of every key
    with k ≥ 2. Probing a version-1 bit array with version-2 positions
    yields FALSE NEGATIVES — the definitely-new fast path would
    silently re-append keys the warehouse already holds, breaking
    exactly-once — so a stale store is a hard error, not a warning.
    Rebuild with ``create_bloom_store(..., seed_df=warehouse)``."""
    return read_meta(spark, path, (2,), BloomStoreVersionError)


def read_bloom_store(spark: SparkSession, path: str) -> DataFrame:
    """The folded filter relation (m/64 rows max). Empty store folds
    to an empty relation — every probe returns definitely-new, which
    is correct for a store with nothing inserted."""
    from ..sources.parquet import read_table_or_empty

    segs = read_table_or_empty(
        spark, _segments_path(path), "word_idx bigint, bits bigint"
    )
    return segs.groupBy("word_idx").agg(F.bit_or("bits").alias("bits"))


def append_to_bloom_store(
    spark: SparkSession, path: str, items: DataFrame, col: str
) -> None:
    """Append one segment covering ``items[col]``. Idempotent under
    replay (OR), safe to run BEFORE the guarded warehouse append —
    over-approximation only routes rows to the exact check."""
    meta = load_bloom_meta(spark, path)
    build_bloom(items, col, meta["m_bits"], meta["k"]).write.mode(
        "append"
    ).parquet(_segments_path(path))


def compact_bloom_store(spark: SparkSession, path: str) -> int:
    """Fold accreted segments into one. Returns the folded row count.

    Reader-safe by OR-idempotency rather than by swap: the folded
    relation is APPENDED into the live segments directory as one more
    segment, and only then are the pre-fold segment files deleted
    individually. Every intermediate listing a concurrent reader can
    observe — old segments alone, old + folded, folded + a shrinking
    suffix of old, folded alone — ORs to the identical filter, and the
    directory is never empty mid-compaction (round 7's rename-out/
    rename-in swap had a window where a reader folded an EMPTY store,
    answered definitely-new for everything, and a concurrent
    bloom-gated ingest would have bypassed the exact check). A crash
    mid-delete merely leaves redundant old segments for the next
    compaction to clear."""
    from ..sinks.fsutil import checked_rename, hadoop_fs, remove_stale

    fs, hpath = hadoop_fs(spark, path)
    seg = _segments_path(path)
    src = hpath(seg)
    backup = hpath(seg + "._precompact")
    # heal the terminal states of the retired swap protocol, in case a
    # pre-upgrade compaction crashed mid-swap
    if (not fs.exists(src)) and fs.exists(backup):
        checked_rename(fs, backup, src)
    remove_stale(fs, hpath(seg + "._compacting"), backup)
    if not fs.exists(src):
        return 0
    before = [
        f.getPath() for f in fs.listStatus(src)
        if f.getPath().getName() != "_SUCCESS"
    ]
    folded = read_bloom_store(spark, path).localCheckpoint(eager=True)
    n = folded.count()
    folded.repartition(1).write.mode("append").parquet(seg)
    for p in before:
        fs.delete(p, False)
    return n
