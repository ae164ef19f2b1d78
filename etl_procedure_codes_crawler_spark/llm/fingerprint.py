"""Rolling-hash document fingerprints: winnowing (MOSS-style).

The sha256 fingerprint (:func:`.text.fingerprint_sha256`) detects only
whole-document duplicates; contamination and plagiarism checks need
LOCAL fingerprints that survive edits around them. This module
implements the standard winnowing scheme (Schleimer, Wilkerson &
Aiken, SIGMOD 2003): polynomial rolling hashes over every character
k-gram, then the minimum hash per sliding window of ``window``
consecutive k-grams — guaranteeing any shared substring of length
``k + window - 1`` yields at least one shared fingerprint, while
storing only ~2/(window+1) of the k-gram hashes.

Hash: Horner's rule with per-step modulus, ``h = (h*B + codepoint)
mod M`` over each k-gram, with B=257 and M=1e9+7 — small enough that
every intermediate fits int64 (ANSI-safe) and simple enough that
DuckDB computes it bit-identically (``list_reduce`` oracle in
llm/queries.py), so fingerprints are CROSS-ENGINE reproducible: a
contamination check between corpora fingerprinted by different
engines still works.

Execution shape: hashing is an Arrow-batched pandas UDF (k vectorized
numpy passes per batch — a per-position nested HOF would be ~2 µs per
interpreted lambda eval, the same pathology the round-5 PQ encode fix
removed), normalization and the length cap stay JVM-side so the UDF
sees bounded input. The overlap join shuffles (8-byte fingerprint,
id) pairs only — text never enters the wide stage — and fingerprints
shared by more than ``max_df`` documents are dropped as
stop-fingerprints (boilerplate headers/footers), which both removes
noise matches and bounds every posting list, exactly as
:func:`.dedup.ngram_jaccard_pairs`'s df-cap does for shingles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..sinks.parquet import compact_dataset
from .store import append_new_ids, part, read_meta, write_meta

#: polynomial base / modulus — shared with the DuckDB oracle spelling
HASH_BASE = 257
HASH_MOD = 1_000_000_007

#: default geometry: any shared run of K + WINDOW - 1 = 23 normalized
#: characters guarantees a shared fingerprint
KGRAM = 8
WINDOW = 16

#: the fingerprint part of a winnow store, ``<path>/fps``
FPS = "fps"

#: normalized-length cap so one pathological document cannot dominate
#: a task; plenty for matching (a cap'd doc still yields ~cap/8
#: fingerprints)
MAX_CHARS = 4096


def _winnow_udf(k: int, window: int):
    @pandas_udf("array<bigint>")
    def winnow(texts: pd.Series) -> pd.Series:
        out = []
        for txt in texts:
            if txt is None:
                out.append(None)
                continue
            n = len(txt)
            if n < k:
                out.append([])
                continue
            # utf-32-le bytes ARE the codepoint array — fully
            # vectorized, no per-char Python ord() loop
            codes = np.frombuffer(
                txt.encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            m = n - k + 1
            acc = np.zeros(m, dtype=np.int64)
            # Horner with per-step mod: k vectorized passes, every
            # intermediate < M*B + 2^21 << 2^63
            for j in range(k):
                acc = (acc * HASH_BASE + codes[j : j + m]) % HASH_MOD
            if m <= window:
                mins = acc.min(keepdims=True)
            else:
                mins = np.lib.stride_tricks.sliding_window_view(
                    acc, window
                ).min(axis=1)
            out.append([int(x) for x in np.unique(mins)])
        return pd.Series(out)

    return winnow


def _normalized_capped(text_col: str, max_chars: int):
    from .text import normalized_text

    return F.substring(normalized_text(text_col), 1, max_chars)


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = KGRAM,
    window: int = WINDOW,
    max_chars: int = MAX_CHARS,
) -> DataFrame:
    """(id, fingerprint) — one row per selected k-gram hash per doc,
    ascending-distinct within a doc. Documents shorter than ``k``
    normalized characters yield no rows."""
    winnow = _winnow_udf(k, window)
    # explode_outer + null filter on the GENERATED column: a plain
    # explode adds an implicit size>0 predicate on the UDF output,
    # which splits the plan into two ArrowEvalPython stages — the
    # winnow hash pass ran twice per document. Fingerprint elements
    # are never NULL, so only the outer rows from empty arrays (docs
    # too short to fingerprint) are filtered — the same rows plain
    # explode dropped.
    return (
        df.select(
            F.col(id_col).alias("id"),
            winnow(_normalized_capped(text_col, max_chars)).alias("_fps"),
        )
        .select("id", F.explode_outer("_fps").alias("fingerprint"))
        .where(F.col("fingerprint").isNotNull())
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = KGRAM,
    window: int = WINDOW,
    max_chars: int = MAX_CHARS,
    min_shared: int = 2,
    max_df: int = 20,
) -> DataFrame:
    """(doc_a, doc_b, shared_fps) for document pairs sharing at least
    ``min_shared`` winnowing fingerprints — local-overlap detection
    (contamination, quoting, templated rewrites) that exact and
    shingle-Jaccard dedup both miss when the shared region is a small
    part of each document.

    Scale shape: one fingerprint exchange; fingerprints in more than
    ``max_df`` documents are dropped before the self-join (stop
    fingerprints = boilerplate), so a posting list is at most
    ``max_df`` long and the pair blow-up per fingerprint is bounded at
    max_df·(max_df-1)/2 regardless of corpus shape."""
    # materialize the fingerprints ONCE: four consumers follow (the
    # df-cap groupBy and both self-join sides through the semi filter)
    # and without the checkpoint each re-runs the hashing UDF over the
    # full corpus text — measured 8 ArrowEvalPython stages in the plan
    # vs 1 after (AQE blocks ReusedExchange across the UDF subtree, so
    # a pinned repartition does NOT deduplicate it). The checkpointed
    # relation is (id, 8-byte fingerprint) rows — the cheap thing —
    # while the text scan happens exactly once.
    fps = winnow_fingerprints(
        df, text_col, id_col, k, window, max_chars
    ).localCheckpoint(eager=True)
    df_ok = (
        fps.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("fingerprint")
    )
    kept = fps.join(df_ok, "fingerprint")
    a = kept.select(F.col("id").alias("doc_a"), "fingerprint")
    b = kept.select(F.col("id").alias("doc_b"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


# ---------------------------------------------------------------------------
# Persisted eval-set decontamination store
# ---------------------------------------------------------------------------


def _fps_with_empty_markers(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    window: int,
    max_chars: int,
) -> DataFrame:
    """Store-side fingerprint rows: like :func:`winnow_fingerprints`
    but a document yielding NO fingerprints (shorter than k, NULL
    text) still gets one (id, NULL) marker row — without it the
    append's id anti-join would classify such docs as never-seen and
    re-fingerprint them on EVERY append, and the append count would
    never converge. Queries filter the NULL markers out before
    joining."""
    winnow = _winnow_udf(k, window)
    return df.select(
        F.col(id_col).alias("id"),
        winnow(_normalized_capped(text_col, max_chars)).alias("_fps"),
    ).select("id", F.explode_outer("_fps").alias("fingerprint"))


def build_winnow_store(
    eval_docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = KGRAM,
    window: int = WINDOW,
    max_chars: int = MAX_CHARS,
    max_df: int = 20,
) -> None:
    """Persist the winnowing fingerprints of a BENCHMARK/EVAL corpus —
    the decontamination workflow: every training batch is then checked
    against the store (:func:`contamination_against_store`) so eval
    material, quoted eval material, and lightly-edited eval material
    never enter a training corpus.

    Layout: <path>/meta.json (hashing params, :mod:`.store` meta —
    queries must fingerprint with the STORE's geometry or the join is
    silently empty) and <path>/fps with raw (id, fingerprint) rows.
    Fingerprints are persisted UNCAPPED; the stop-fingerprint df-cap (``max_df`` rides
    in meta) is applied at query time over the store-side counts —
    eval sets are curated and small, the recount is one cheap groupBy,
    and applying the cap at build time would silently drift as
    :func:`append_to_winnow_store` grows the store. Docs yielding no
    fingerprints are recorded as (id, NULL) marker rows so appends
    stay id-idempotent for them too."""
    _fps_with_empty_markers(
        eval_docs, text_col, id_col, k, window, max_chars
    ).write.mode("overwrite").parquet(part(path, FPS))
    write_meta(eval_docs.sparkSession, path, {
        "k": k, "window": window, "max_chars": max_chars, "max_df": max_df,
    })


def append_to_winnow_store(
    spark: SparkSession,
    path: str,
    new_eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> int:
    """Grow the eval store (new benchmark versions, new held-out
    splits): fingerprint docs not already present (anti-join on id,
    idempotent under replay) with the STORE's hashing geometry."""
    meta = read_meta(spark, path)
    return append_new_ids(
        spark,
        part(path, FPS),
        new_eval_docs,
        id_col,
        encode=lambda fresh: _fps_with_empty_markers(
            fresh, text_col, id_col, meta["k"], meta["window"],
            meta["max_chars"],
        ),
        # count DOCS (the empty-marker rows make every fresh doc
        # visible here), not fingerprints
        count=lambda fps: fps.select("id").distinct().count(),
    )


def contamination_against_store(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_shared: int = 2,
) -> DataFrame:
    """(new_id, eval_id, shared_fps) for every batch document sharing
    at least ``min_shared`` winnowing fingerprints with a stored eval
    document — any shared normalized run of k+window-1 characters is
    guaranteed to fingerprint, so verbatim and lightly-edited eval
    leakage both surface. The batch is fingerprinted ONCE with the
    store's geometry; the join shuffles 8-byte fingerprints; the
    store-side df-cap (from meta) bounds every posting list."""
    meta = read_meta(spark, path)
    store = spark.read.parquet(part(path, FPS)).filter(
        F.col("fingerprint").isNotNull()  # drop the empty-doc markers
    )
    df_ok = (
        store.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= meta["max_df"])
        .select("fingerprint")
    )
    kept = store.join(df_ok, "fingerprint").select(
        F.col("id").alias("eval_id"), "fingerprint"
    )
    batch_fps = winnow_fingerprints(
        batch, text_col, id_col, meta["k"], meta["window"], meta["max_chars"]
    ).select(F.col("id").alias("new_id"), "fingerprint")
    return (
        batch_fps.join(kept, "fingerprint")
        .groupBy("new_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def compact_winnow_store(
    spark: SparkSession, path: str, target_file_mb: int = 128
) -> int:
    """Restore a compact file layout after incremental appends — every
    :func:`append_to_winnow_store` call adds a file set, and the store
    scan in :func:`contamination_against_store` runs once per training
    batch forever. Delegates to :func:`..sinks.parquet.compact_dataset`
    (atomic swap, crash-healed on the next call); the fingerprint rows
    are a set, so query results are unaffected. Returns the new file
    count."""
    return compact_dataset(spark, part(path, FPS), target_file_mb)
