"""The UNIFIED streaming admission gate — six gates, one commit.

Round 9 left the corpus front door as five separate ingest gates
(exact dedup, per-source token budgets, media near-dup, boilerplate
strip, KMV cardinality), each proven alone. A real 100 TB ingest runs
them as ONE admission decision per batch — this module composes them
in a single ``foreachBatch`` sink with per-batch per-source attrition
accounting, the streaming twin of the ``llm_corpus_prep_multimodal``
batch capstone.

Admission pipeline per micro-batch (order is the policy). Gates 1, 2
and 2b are decided together as one pinned per-document VERDICT
relation (:func:`admission_verdict`), built on one fused Python pass
that computes both media identities of every arrived document next to
its JVM-side text fingerprint:

1. **exact content dedup** — a doc survives (``ex_ok``) if it is the
   min id of its normalized-text fingerprint class in the batch and
   the persisted fingerprint store holds no row of that class under
   a DIFFERENT id (same-id store rows are the batch's own
   crash-replayed commits, so replays never self-reject);
2. **media near-dup** — each doc's media view is a real PNG of its
   first 8 tokens (the re-hosted-image-different-caption case exact
   text dedup cannot see), decoded + dHashed + pixel-sha'd. Among the
   ``ex_ok`` docs WITH an identity, the min id per decoded-content
   sha survives, again unless the persisted media store holds that
   sha under a different id (``md_ok``). Exact content equality is
   the whole decision — equal content implies hamming 0, so no
   hamming candidate join is needed — which keeps the gate
   deterministic and DuckDB-expressible. Undecodable media admits the
   doc (no perceptual identity; the exact gate already held);
2b. **video near-dup** — the same rule over the ``md_ok`` docs' clip
   view (a real MJPEG-in-MP4 of the first 3 tokens — coarser than the
   PNG class, the re-hosted-preview-clip case the image gate cannot
   pair), keyed by the full clip payload's sha (``vd_ok``). A clip has
   identity only if its container parses AND every keyframe decodes.
   Each window ranges over the docs still eligible, so a doc rejected
   by an earlier gate can never make a later-gate twin lose;
3. **boilerplate strip at admission** — the batch's passage counts
   land in the frequency store under the durable (gate, batch) key,
   then each surviving doc is stripped against the store's cumulative
   frequencies (a one-batch corpus therefore matches the batch
   operator bit-for-bit);
4. **per-source token budgets** — on the CLEAN token counts (the
   budget buys kept tokens, not boilerplate), consumed-before read
   from the transactional stats artifact excluding the batch's own
   key (the budget gate's replay discipline);
5. **KMV cardinality** — admitted docs' clean-text shingles fold into
   the persisted bottom-k sketch store (idempotent minima — zero
   replay bookkeeping).

Crash contract: every store write precedes the warehouse append, and
every store has its own replay idempotency (fingerprint/media/video
ignore same-id rows and append only keys they do not hold, passage
counts are batch-keyed with read-side dedup, budget stats exclude the
batch's own key, KMV minima are idempotent, the attrition row is a
run-id partition REPLACE) — so any crash
interleaving replays to the identical accepted set and identical
store state, and the warehouse id anti-join makes the data append
exactly-once.

Scale shape: gates 1, 2, 2b and 5 operate on hash relations (32-byte
fingerprints, 64-bit phashes + shas, 60-bit minima; each store is
probed as a per-key (min id, max id) aggregate) — document text
shuffles only for the passage count/strip (one batch-sized exchange)
and the final append; the consumed-budget read and the sketch serve
are metadata-sized. The survivors carry their verdict keys and
store flags forward, so the three hash-store commits are projections
of the accepted relation and the attrition row is one groupBy over
the verdict joined with it.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..llm import kmv as KV
from ..llm import passagefreq as PF
from ..llm import text as T
from ..sinks.parquet import write_idempotent_run
from ..sources.parquet import read_table_or_empty
from .incremental import (
    _stream_gate_id,
    budget_filter,
    read_consumed_tokens,
)

#: media-view geometry shared with the SQL oracle: the PNG carries the
#: first 8 whitespace tokens (re-hosted image, different caption), and
#: documents_as_png's corrupt_every=50 truncation exercises the
#: no-perceptual-identity admission path
MEDIA_PREFIX_TOKENS = 8

#: the round-11 video gate's clip covers the first 3 tokens — STRICTLY
#: COARSER than the PNG gate's 8, so docs sharing a clip head but
#: diverging at tokens 4-8 pass the image gate and are caught here
#: (the re-hosted preview-clip case); an 8+-token clip class would be
#: finer than the PNG class and the gate could never fire. 3 tokens
#: (not 4) because the gate must actually FIRE on the test corpora:
#: measured collisions-beyond-the-image-class are 317 docs at sf0.1
#: and 3 at gate SF for 3 tokens, 0 at gate SF for 4
VIDEO_PREFIX_TOKENS = 3


def unified_store_paths(stores_root: str) -> dict[str, str]:
    import os

    return {
        "fingerprints": os.path.join(stores_root, "fingerprints"),
        "media": os.path.join(stores_root, "media"),
        "video": os.path.join(stores_root, "video"),
        "passages": os.path.join(stores_root, "passages"),
        "budget_stats": os.path.join(stores_root, "budget_stats"),
        "kmv": os.path.join(stores_root, "kmv"),
        "attrition": os.path.join(stores_root, "attrition"),
    }


def create_unified_stores(
    spark: SparkSession,
    stores_root: str,
    block: int = 3,
    kmv_k: int = 64,
    kmv_shingle_k: int = 3,
) -> dict[str, str]:
    """Initialize the persisted stores under one root. The
    fingerprint/media/attrition artifacts are plain parquet append
    dirs (created lazily on first write); the passage and KMV stores
    pin their parameters in meta so mismatched batches cannot merge."""
    paths = unified_store_paths(stores_root)
    PF.create_passage_freq_store(spark, paths["passages"], block=block)
    KV.create_kmv_store(
        spark, paths["kmv"], k=kmv_k, shingle_k=kmv_shingle_k
    )
    return paths


_FP_SCHEMA = "id bigint, fp string"
_MEDIA_SCHEMA = "id bigint, phash bigint, content_sha string"

#: verdict columns the survivors carry forward (prefixed ``_``, see
#: :func:`verdict_survivors`)
_CARRIED = ("fp", "fp_in", "m_phash", "m_sha", "m_in", "v_phash", "v_sha",
            "v_in")


def _head(text_col: str, n: int):
    """The doc's first ``n`` whitespace tokens, space-joined."""
    return F.concat_ws(" ", F.slice(T.tokens(text_col), 1, n))


def admission_verdict(
    spark: SparkSession,
    fresh: DataFrame,
    paths: dict[str, str],
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Gates 1, 2 and 2b for every document of ``fresh`` (unique ids)
    against the fingerprint/media/video stores of ``paths``
    (:func:`unified_store_paths`), as one relation:

        (id, <source_col>, fp, fp_in, m_phash, m_sha, m_in,
         v_phash, v_sha, v_in, ex_ok, md_ok, vd_ok)

    ``fp``/``m_*``/``v_*`` are the text fingerprint and the PNG-view
    and clip-view identities (phash, content sha; NULL when the view
    has no identity), all from one fused Python pass
    (``video.document_media_identities``). ``ex_ok``/``md_ok``/
    ``vd_ok`` are the nested gate survivals. Each gate is a min-id
    window over the docs still eligible (the prior gate's survivors
    that have an identity in this view — gate 1's NULL fingerprint is
    a class of its own, as a groupBy would make it) plus one left join
    against the store's per-key (min id, max id): a store row rejects
    only if it carries a different id, because same-id rows are the
    doc's own crash-replayed commit. ``*_in`` flags that the store
    holds the key at all — for a surviving doc that can only be its
    own id, so the commit appends exactly the keys with ``*_in``
    false."""
    from ..llm import video as V

    ident = V.document_media_identities(
        fresh.select(
            F.col(id_col).cast("bigint").alias("doc_id"),
            F.col(source_col),
            T.fingerprint_sha256(text_col).alias("fp"),
            _head(text_col, MEDIA_PREFIX_TOKENS).alias("image_text"),
            _head(text_col, VIDEO_PREFIX_TOKENS).alias("clip_text"),
        )
    ).select(
        F.col("doc_id").alias("id"),
        source_col,
        "fp",
        F.col("image_phash").alias("m_phash"),
        F.col("image_sha").alias("m_sha"),
        F.col("clip_phash").alias("v_phash"),
        F.col("clip_sha").alias("v_sha"),
    )

    def gate(rel, key, path, schema, store_key, prior, identity, ok, flag):
        store = (
            read_table_or_empty(spark, path, schema)
            .groupBy(F.col(store_key).alias(key))
            .agg(F.min("id").alias("_smin"), F.max("id").alias("_smax"))
        )
        eligible = prior & identity
        winner = F.col("id") == F.min(F.when(eligible, F.col("id"))).over(
            Window.partitionBy(key)
        )
        foreign = F.col("_smin").isNotNull() & (
            (F.col("_smin") != F.col("id")) | (F.col("_smax") != F.col("id"))
        )
        return rel.join(store, key, "left").select(
            *rel.columns,
            (prior & (~identity | (winner & ~foreign))).alias(ok),
            F.col("_smin").isNotNull().alias(flag),
        )

    def has(view: str):
        phash, sha = F.col(f"{view}_phash"), F.col(f"{view}_sha")
        return phash.isNotNull() & sha.isNotNull()

    every = F.lit(True)
    out = gate(ident, "fp", paths["fingerprints"], _FP_SCHEMA, "fp",
               every, every, "ex_ok", "fp_in")
    out = gate(out, "m_sha", paths["media"], _MEDIA_SCHEMA, "content_sha",
               F.col("ex_ok"), has("m"), "md_ok", "m_in")
    return gate(out, "v_sha", paths["video"], _MEDIA_SCHEMA, "content_sha",
                F.col("md_ok"), has("v"), "vd_ok", "v_in")


def verdict_survivors(
    verdict: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The docs that pass gates 1-2b, as ``(id_col, _fp, _fp_in,
    _m_phash, _m_sha, _m_in, _v_phash, _v_sha, _v_in)`` — the keys and
    store flags they carry forward to :func:`hash_store_appends`."""
    return verdict.filter("vd_ok").select(
        F.col("id").alias(id_col),
        *[F.col(c).alias(f"_{c}") for c in _CARRIED],
    )


def hash_store_appends(
    survivors: DataFrame, id_col: str = "doc_id"
) -> dict[str, DataFrame]:
    """The fingerprint/media/video store appends of the admitted
    ``survivors`` (which carry the columns of :func:`verdict_survivors`)
    as plain projections: an admitted doc survived every store probe, so
    a key its store already holds (``_*_in``) can only be under its
    own id — a crash replay's earlier commit, not appended again. A
    NULL fingerprint never matches a store row and is not stored; a
    view without identity has nothing to store."""
    doc_id = F.col(id_col).cast("bigint").alias("id")

    def hashes(view: str) -> DataFrame:
        return survivors.filter(
            F.col(f"_{view}_phash").isNotNull() & ~F.col(f"_{view}_in")
        ).select(
            doc_id,
            F.col(f"_{view}_phash").alias("phash"),
            F.col(f"_{view}_sha").alias("content_sha"),
        )

    return {
        "fingerprints": survivors.filter(
            F.col("_fp").isNotNull() & ~F.col("_fp_in")
        ).select(doc_id, F.col("_fp").alias("fp")),
        "media": hashes("m"),
        "video": hashes("v"),
    }


def stream_ingest_unified(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    warehouse_path: str,
    stores_root: str,
    checkpoint_dir: str,
    budgets: dict[str, int],
    min_doc_freq: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    gate_shuffle_partitions: int | None = None,
):
    """Run the five-gate admission pipeline over arriving document
    files. Call :func:`create_unified_stores` on ``stores_root``
    first. Returns the StreamingQuery handle; read the per-batch
    per-source funnel with :func:`unified_attrition_report`.

    ``gate_shuffle_partitions``: every exchange in the sink is
    BATCH-sized (the verdict relation's three store joins and
    windows, the passage count/strip, the budget window, per-source
    aggregates) — on a wide session default each one pays pure
    task-scheduling latency; when set, the sink body runs under this
    shuffle width (restored after each batch), the same knob as the
    media gate."""
    paths = unified_store_paths(stores_root)
    gate_cache: dict[str, str] = {}

    def _sink(batch: DataFrame, batch_id: int) -> None:
        if gate_shuffle_partitions is not None:
            prev = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(int(gate_shuffle_partitions)),
            )
            try:
                _gate_body(batch, batch_id)
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
        else:
            _gate_body(batch, batch_id)

    def _gate_body(batch: DataFrame, batch_id: int) -> None:
        from ..sinks.fsutil import hadoop_fs

        if "id" not in gate_cache:
            gate_cache["id"] = _stream_gate_id(spark, checkpoint_dir)
        gate_id = gate_cache["id"]
        run_id = str(int(batch_id))

        def _label(phase: str) -> None:
            # guide §1.5: a ~30-job sink is unreadable in the UI
            # without per-phase labels (thread-local, streaming thread)
            spark.sparkContext.setJobDescription(
                f"unified b{batch_id}: {phase}"
            )

        _label("arrival guard")
        rows = batch.filter(F.col(id_col).isNotNull())
        # Loud, not silent: the funnel counts one row per doc id and
        # the SQL oracle counts every non-NULL-id row — a corpus with
        # duplicate ids would diverge invisibly if we just
        # dropDuplicates()-ed here. Batch-sized agg, one job.
        tot, uniq = rows.agg(
            F.count(F.lit(1)), F.countDistinct(id_col)
        ).first()
        if tot != uniq:
            raise ValueError(
                f"unified gate batch {batch_id}: {tot - uniq} duplicate "
                f"{id_col} rows in one batch — per-doc admission "
                "bookkeeping cannot represent them; dedup ids upstream"
            )
        _label("warehouse anti-join + batch pin")
        fs, hpath = hadoop_fs(spark, warehouse_path)
        if fs.exists(hpath(warehouse_path)):
            # the batch's own id field as the read schema: no
            # schema-inference job over the warehouse footers
            existing_ids = spark.read.schema(
                StructType([rows.schema[id_col]])
            ).parquet(warehouse_path)
            fresh = rows.join(existing_ids, id_col, "left_anti")
        else:
            fresh = rows
        fresh = fresh.localCheckpoint(eager=True)
        if fresh.isEmpty():
            return

        # ---- gates 1, 2, 2b: one pinned verdict relation -----------
        # one label for all three gates (the benchmark's phase map
        # counts it as the exact-dedup phase)
        _label("gate 1: exact dedup")
        verdict = admission_verdict(
            spark, fresh, paths, id_col, text_col, source_col
        ).localCheckpoint(eager=True)

        # ---- gate 3: boilerplate strip at admission ----------------
        # the survivors carry their verdict keys and store flags
        # through gates 3 and 4 to the store commits
        _label("gate 3: passage count + strip")
        surv_docs = fresh.join(
            verdict_survivors(verdict, id_col), id_col
        ).localCheckpoint(eager=True)
        from ..llm.dedup import passage_rows

        if "pf_meta" not in gate_cache:
            # store meta is immutable for the store's lifetime — one
            # read per stream, not one whole job per micro-batch
            gate_cache["pf_meta"] = PF.load_passage_freq_meta(
                spark, paths["passages"]
            )
        meta = gate_cache["pf_meta"]
        chunks = passage_rows(
            surv_docs, meta["block"], text_col, id_col
        ).localCheckpoint(eager=True)
        PF.append_passage_counts(
            spark,
            paths["passages"],
            surv_docs,
            text_col,
            id_col,
            batch_id=f"{gate_id}-{int(batch_id)}",
            chunks=chunks,
        )
        rebuilt = PF.strip_rebuilt_against_store(
            spark, paths["passages"], chunks, min_doc_freq
        ).withColumnRenamed("id", id_col)
        # ONE left join attaches the strip result (round 13, guide
        # §2.4): ids are unique per batch (the loud guard above), so
        # the generic strip's dropDuplicates + doc-relation join +
        # second attach join collapse to this single join with the
        # same 0/0/NULL defaults _rebuild_cleaned produces for
        # token-less docs. Not checkpointed: consumed exactly once by
        # budget_filter, whose accepted output is the pinned relation.
        _surv_cols = [id_col] + [
            c for c in surv_docs.columns if c != id_col
        ]
        stripped = surv_docs.join(rebuilt, id_col, "left").select(
            *_surv_cols,
            F.coalesce("n_passages", F.lit(0)).alias("n_passages"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
            F.col("text_clean"),
        )

        # ---- gate 4: per-source token budgets on CLEAN text --------
        _label("gate 4: budgets")
        consumed = read_consumed_tokens(
            spark,
            paths["budget_stats"],
            source_col,
            exclude=(gate_id, int(batch_id)),
        )
        accepted = budget_filter(
            stripped,
            consumed,
            budgets,
            key=id_col,
            source_col=source_col,
            text_col="text_clean",
        ).localCheckpoint(eager=True)

        # ---- commits: every store BEFORE the warehouse -------------
        # The five store commits are INDEPENDENT (separate dirs, all
        # reading pinned checkpoints), so they run from a small thread
        # pool (round 13, guide §2.6: overlap independent jobs — each
        # commit is a short multi-stage job whose scheduling latency
        # otherwise serializes). The pool joins before the attrition
        # row and the warehouse append, so the crash contract (every
        # store write precedes the warehouse append) is unchanged.
        _label("store commits")
        batch_empty = accepted.isEmpty()
        delta = (
            accepted.groupBy(source_col)
            .agg(F.sum("_n_tok").alias("n_tokens"))
            .select(
                F.lit(gate_id).alias("gate_id"),
                F.lit(int(batch_id)).cast("bigint").alias("batch_id"),
                F.col(source_col),
                F.col("n_tokens").cast("bigint").alias("n_tokens"),
            )
        )
        appends = hash_store_appends(accepted, id_col)

        def _commit_delta() -> None:
            delta.repartition(1).write.mode("append").parquet(
                paths["budget_stats"]
            )

        def _commit_hashes(store: str) -> None:
            appends[store].write.mode("append").parquet(paths[store])

        def _commit_kmv() -> None:
            if "kmv_meta" not in gate_cache:
                gate_cache["kmv_meta"] = KV.load_kmv_meta(
                    spark, paths["kmv"]
                )
            KV.append_to_kmv_store(
                spark, paths["kmv"], accepted, source_col, "text_clean",
                meta=gate_cache["kmv_meta"],
            )

        commits = [partial(_commit_hashes, store) for store in appends]
        if not batch_empty:
            commits += [_commit_delta, _commit_kmv]

        from concurrent.futures import ThreadPoolExecutor

        def _run_commit(fn) -> None:
            # job descriptions are JVM-thread-local — label each
            # commit thread's jobs independently
            spark.sparkContext.setJobDescription(
                f"unified b{batch_id}: store commits"
            )
            fn()

        with ThreadPoolExecutor(max_workers=3) as pool:
            # list() re-raises the first failure — a failed store
            # commit must still abort the batch before the warehouse
            list(pool.map(_run_commit, commits))

        _label("attrition fold")
        # ---- attrition row (per source, this batch) ----------------
        # ONE groupBy over verdict ⟕ accepted: the verdict holds one
        # row per arrived doc with its nested gate flags (accepted ⊆
        # vd_ok ⊆ md_ok ⊆ ex_ok), so per-source flag sums are the
        # funnel's survivor counts.
        def _n(flag):
            return F.sum(F.when(flag, 1).otherwise(0))

        att = (
            verdict.join(
                accepted.select(
                    F.col(id_col).cast("bigint").alias("id"),
                    F.lit(True).alias("_acc"),
                    F.col("n_removed").alias("_rm"),
                    F.col("_n_tok").alias("_tok"),
                ),
                "id",
                "left",
            )
            .groupBy(source_col)
            .agg(
                F.count(F.lit(1)).alias("n_arrived"),
                _n(F.col("ex_ok")).alias("_ae"),
                _n(F.col("md_ok")).alias("_am"),
                _n(F.col("vd_ok")).alias("_av"),
                _n(F.col("_acc").isNotNull()).alias("_aa"),
                F.sum(F.coalesce("_rm", F.lit(0))).alias("_rms"),
                F.sum(F.coalesce("_tok", F.lit(0))).alias("_toks"),
            )
            .select(
                F.col(source_col),
                F.col("n_arrived"),
                (F.col("n_arrived") - F.col("_ae"))
                .cast("bigint").alias("n_exact_rejected"),
                (F.col("_ae") - F.col("_am"))
                .cast("bigint").alias("n_media_rejected"),
                (F.col("_am") - F.col("_av"))
                .cast("bigint").alias("n_video_rejected"),
                (F.col("_av") - F.col("_aa"))
                .cast("bigint").alias("n_budget_rejected"),
                F.col("_aa").cast("bigint").alias("n_admitted"),
                F.col("_rms").cast("bigint").alias("passages_removed"),
                F.col("_toks").cast("bigint").alias("tokens_admitted"),
            )
        )
        write_idempotent_run(att, paths["attrition"], run_id=run_id)

        # ---- warehouse append (exactly-once via the id anti-join) --
        _label("warehouse append")
        if not batch_empty:
            accepted.drop("_n_tok", *[f"_{c}" for c in _CARRIED]).write.mode(
                "append"
            ).option("compression", "snappy").parquet(warehouse_path)
        spark.sparkContext.setJobDescription(None)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def unified_attrition_report(
    spark: SparkSession, stores_root: str, source_col: str = "source"
) -> DataFrame:
    """(source, n_arrived, n_exact_rejected, n_media_rejected,
    n_video_rejected, n_budget_rejected, n_admitted, passages_removed,
    tokens_admitted, est_distinct_shingles) summed over every batch,
    with the KMV store's per-source distinct-clean-shingle estimate
    joined on — the streaming funnel a planner reads mid-ingest.
    Everything is served from the attrition artifact + k-row
    sketches; the warehouse is never scanned."""
    paths = unified_store_paths(stores_root)
    att = (
        spark.read.parquet(paths["attrition"])
        .groupBy(source_col)
        .agg(
            F.sum("n_arrived").cast("bigint").alias("n_arrived"),
            F.sum("n_exact_rejected").cast("bigint")
            .alias("n_exact_rejected"),
            F.sum("n_media_rejected").cast("bigint")
            .alias("n_media_rejected"),
            F.sum("n_video_rejected").cast("bigint")
            .alias("n_video_rejected"),
            F.sum("n_budget_rejected").cast("bigint")
            .alias("n_budget_rejected"),
            F.sum("n_admitted").cast("bigint").alias("n_admitted"),
            F.sum("passages_removed").cast("bigint")
            .alias("passages_removed"),
            F.sum("tokens_admitted").cast("bigint")
            .alias("tokens_admitted"),
        )
    )
    est = KV.kmv_store_estimates(spark, paths["kmv"]).select(
        F.col("group").alias(source_col),
        F.col("est_distinct").alias("est_distinct_shingles"),
    )
    return att.join(est, source_col, "left")
