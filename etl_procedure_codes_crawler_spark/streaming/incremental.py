"""Streaming incremental append — the reference's batch-incremental
pattern (read existing → dedup new keys → append) as a continuous
pipeline.

The reference reruns the whole job per LOGICAL_DATE
(``crawler/src/procedure_code.py:686-691``, ``:745-811``); here the
same semantics run forever: new files landing in a source directory are
discovered by the file stream, and each micro-batch passes through
``foreachBatch`` where full batch-DataFrame machinery (anti-join
against the live warehouse snapshot) is available — streaming joins
against a mutable sink aren't expressible declaratively, so
``foreachBatch`` is the sanctioned escape hatch.

Exactly-once story (two layers, both needed at scale):
- the checkpoint makes source progress durable — a restart resumes at
  the first unprocessed file, never re-reading finished ones;
- the per-batch anti-join makes REPLAYED batches idempotent — if a
  crash lands between "batch written" and "checkpoint committed", the
  replay dedups against what the crashed attempt already appended and
  writes nothing twice.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.dedup import anti_join_on_key
from ..sources.parquet import read_table_or_empty


def _unseen_rows(
    spark: SparkSession,
    rows: DataFrame,
    key: str,
    warehouse_path: str,
    schema: StructType,
    bloom_store_path: str | None,
) -> DataFrame:
    """``rows`` whose ``key`` the warehouse does not hold. With a bloom
    store, keys probing definitely-new skip the warehouse, and only
    the maybe-seen slice pays the exact anti-join."""
    if bloom_store_path is None:
        existing = read_table_or_empty(spark, warehouse_path, schema)
        return anti_join_on_key(rows, existing, key)
    from ..llm import bloom as B

    meta = B.load_bloom_meta(spark, bloom_store_path)
    flt = B.read_bloom_store(spark, bloom_store_path)
    # coverage guard: an EMPTY filter guarding a NON-EMPTY warehouse
    # means the store was created without seeding (or its segments
    # were lost) — every probe would answer definitely-new and the
    # fast path would re-append known keys with no error
    if flt.isEmpty() and not read_table_or_empty(
        spark, warehouse_path, schema
    ).isEmpty():
        raise ValueError(
            f"bloom store {bloom_store_path!r} is empty but warehouse "
            f"{warehouse_path!r} has rows — the definitely-new fast path "
            "would re-append known keys; recreate the store seeded from "
            "the warehouse (create_bloom_store(seed_df=...))"
        )
    probed = B.probe_bloom(
        rows, key, flt, meta["m_bits"], meta["k"]
    ).localCheckpoint(eager=True)
    definite = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    suspects = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    if suspects.isEmpty():
        # every key is definitely new — no warehouse scan this batch
        return definite
    existing = read_table_or_empty(spark, warehouse_path, schema)
    return definite.unionByName(anti_join_on_key(suspects, existing, key))


def stream_incremental_append(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    warehouse_path: str,
    key: str,
    checkpoint_dir: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    bloom_store_path: str | None = None,
):
    """Stream files from ``source_dir`` into ``warehouse_path``,
    appending only rows whose ``key`` is new (vs the warehouse AND
    within the batch). Returns the StreamingQuery handle.

    With ``bloom_store_path`` set (a store from
    ``llm.bloom.create_bloom_store`` — create it alongside the
    warehouse, or seeded from it), each batch probes the persisted
    Bloom filter first: keys probing definitely-new skip the
    warehouse anti-join entirely, and only the maybe-seen slice pays
    the exact check. At 100 TB that turns a per-batch
    full-warehouse-side shuffle into k broadcast joins plus an
    anti-join over ~fpr·batch rows. Exactly-once is preserved by
    ordering: the batch's segment is appended to the bloom store
    BEFORE the warehouse append — a crash between the two leaves the
    filter over-approximating, which only routes rows to the exact
    check; segment re-appends on replay are OR-idempotent."""

    def _sink(batch: DataFrame, batch_id: int) -> None:
        rows = batch
        if transform is not None:
            rows = transform(rows)
        # NULL keys can never match the anti join, so a NULL-key row
        # would re-append on EVERY batch (and on crash replay) —
        # breaking both dedup and the exactly-once story. Same guard
        # as the batch path's incremental_new_rows.
        rows = rows.filter(F.col(key).isNotNull())
        rows = rows.dropDuplicates([key])
        fresh = _unseen_rows(
            spark, rows, key, warehouse_path, rows.schema, bloom_store_path
        )
        # materialize once: isEmpty would otherwise run the whole
        # anti-join plan and the write would run it AGAIN from scratch
        fresh = fresh.localCheckpoint(eager=True)
        if not fresh.isEmpty():
            if bloom_store_path is not None:
                from ..llm import bloom as B

                # BEFORE the warehouse append — see the ordering note
                # in the docstring
                B.append_to_bloom_store(
                    spark, bloom_store_path, fresh, key
                )
            fresh.write.mode("append").option(
                "compression", "snappy"
            ).parquet(warehouse_path)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def budget_stats_path(warehouse_path: str) -> str:
    """Default location of the per-source consumed-token stats
    artifact: a SIBLING directory of the warehouse (never inside it —
    the warehouse scan must not pick the stats files up)."""
    return warehouse_path.rstrip("/") + "_budget_stats"


def _budget_stats_schema(source_col: str) -> StructType:
    from pyspark.sql.types import LongType, StringType, StructField

    return StructType(
        [
            StructField("gate_id", StringType()),
            StructField("batch_id", LongType()),
            StructField(source_col, StringType()),
            StructField("n_tokens", LongType()),
        ]
    )


def _stream_gate_id(spark: SparkSession, checkpoint_dir: str) -> str:
    """Stable identity of THIS stream incarnation: the StreamingQuery
    id persisted in ``<checkpoint>/metadata``. Survives crash-restarts
    (same checkpoint → same id, so a replayed batch can recognize its
    own earlier stats row) and rolls over when the checkpoint is wiped
    (new id → the old epoch's rows count as plain history, never as
    "my own attempt")."""
    from ..sinks.fsutil import hadoop_fs, read_json

    fs, hpath = hadoop_fs(spark, checkpoint_dir)
    p = checkpoint_dir.rstrip("/") + "/metadata"
    if not fs.exists(hpath(p)):
        # foreachBatch only runs after the stream wrote its metadata;
        # a missing file means a non-standard harness drove the sink
        # directly — degrade to a shared epoch (budget still enforced;
        # replay self-exclusion keys on batch_id alone)
        return "epoch0"
    return str(read_json(fs, hpath, p)["id"])


def read_consumed_tokens(
    spark: SparkSession,
    stats_path: str,
    source_col: str = "source",
    exclude: tuple[str, int] | None = None,
) -> DataFrame:
    """Per-source consumed-token totals from the stats artifact — a
    relation of O(batches × sources) rows, NOT the corpus. Rows are
    deduped on (gate_id, batch_id, source) first: crash-replayed
    batches re-append byte-identical rows, so any surviving duplicate
    is exact and dedup restores the true sum. With ``exclude`` set to
    the calling batch's own (gate_id, batch_id), the batch sees the
    world as of BEFORE its first attempt — the replay-determinism
    contract (see :func:`stream_ingest_with_budget`)."""
    stats = read_table_or_empty(
        spark, stats_path, _budget_stats_schema(source_col)
    )
    if exclude is not None:
        gid, bid = exclude
        stats = stats.filter(
            ~(
                (F.col("gate_id") == F.lit(gid))
                & (F.col("batch_id") == F.lit(int(bid)))
            )
        )
    return (
        stats.dropDuplicates(["gate_id", "batch_id", source_col])
        .groupBy(source_col)
        .agg(F.sum("n_tokens").alias("_used"))
    )


def heal_budget_stats(
    spark: SparkSession,
    warehouse_path: str,
    warehouse_schema: StructType,
    stats_path: str,
    source_col: str = "source",
    text_col: str = "text",
) -> None:
    """Rebuild the stats artifact from the warehouse — the ONE
    remaining O(corpus) aggregation, deliberately confined to the heal
    path (stats lost/deleted, or a gate pointed at a pre-existing
    warehouse). Overwrites the artifact with a single baseline row per
    source under the reserved ``(gate_id='heal', batch_id=-1)`` key;
    a crash mid-write is healed by the next call (parquet overwrite
    commits via rename, and the auto-heal re-fires while the artifact
    is empty)."""
    from ..llm.text import token_count

    wh = read_table_or_empty(spark, warehouse_path, warehouse_schema)
    baseline = (
        wh.groupBy(source_col)
        .agg(F.sum(token_count(text_col)).alias("n_tokens"))
        .select(
            F.lit("heal").alias("gate_id"),
            F.lit(-1).cast("bigint").alias("batch_id"),
            F.col(source_col),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )
    baseline.repartition(1).write.mode("overwrite").parquet(stats_path)


def budget_filter(
    fresh: DataFrame,
    consumed: DataFrame,
    budgets: dict[str, int],
    key: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """The pure gate decision: keep each document whose per-source
    running token sum (in ``key`` order — deterministic, so a replay
    re-makes identical decisions) fits within ``budget − consumed``.
    Sources missing from ``budgets`` are UNCAPPED (a new source
    appearing mid-stream must not be silently dropped). Returns the
    accepted rows with a ``_n_tok`` column attached so the caller can
    aggregate the batch's stats delta without re-tokenizing."""
    from pyspark.sql import Window

    from ..llm.text import token_count

    budget_col = None
    for src, cap in sorted(budgets.items()):
        branch = (
            F.when(F.col(source_col) == src, F.lit(int(cap)))
            if budget_col is None
            else budget_col.when(F.col(source_col) == src, F.lit(int(cap)))
        )
        budget_col = branch
    budget_col = (
        budget_col.otherwise(F.lit(None).cast("bigint"))
        if budget_col is not None
        else F.lit(None).cast("bigint")
    )
    w = (
        Window.partitionBy(source_col)
        .orderBy(F.asc(key))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        fresh.withColumn("_n_tok", token_count(text_col))
        .withColumn("_cum", F.sum("_n_tok").over(w))
        .join(F.broadcast(consumed), source_col, "left")
        .withColumn("_budget", budget_col)
        .filter(
            F.col("_budget").isNull()
            | (
                F.coalesce(F.col("_used"), F.lit(0)) + F.col("_cum")
                <= F.col("_budget")
            )
        )
        .drop("_cum", "_used", "_budget")
    )


def stream_ingest_with_budget(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    warehouse_path: str,
    checkpoint_dir: str,
    budgets: dict[str, int],
    key: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    stats_path: str | None = None,
    bloom_store_path: str | None = None,
):
    """Ingest with PER-SOURCE TOKEN BUDGETS enforced at the gate — the
    UniMax-style mixture cap applied online: once a source's accepted
    token count reaches its budget, further documents from that source
    are rejected (whole documents only; a partial doc is never split).

    Scale shape (this is the 100 TB design, not the sf0.01 one): the
    already-consumed count per source comes from a TINY transactional
    stats artifact (``stats_path``, default a warehouse sibling —
    O(batches × sources) rows), NOT from re-aggregating the warehouse;
    the only remaining per-batch corpus-sized work is the id anti-join,
    and with ``bloom_store_path`` set even that collapses: keys probing
    definitely-new skip the warehouse entirely (a batch whose keys are
    all new schedules ZERO warehouse reads — pinned by
    tests/test_streaming_incremental.py's corrupt-warehouse-file test),
    and only the maybe-seen slice pays the exact check.

    Crash contract (write order is load-bearing — stats FIRST, then
    bloom, then warehouse):

    - The batch's stats delta is keyed ``(gate_id, batch_id)`` where
      gate_id is the StreamingQuery id persisted in the checkpoint.
      When computing consumed-before, a batch EXCLUDES its own key —
      so a replay (same checkpoint → same gate_id+batch_id) sees the
      identical consumed-before state and, decisions being
      deterministic in ``key`` order, re-makes the identical
      accept/reject set. Re-appended stats rows are byte-identical and
      deduped on read.
    - Crash after stats, before warehouse: the replay re-decides
      identically and lands the data; nothing drifts.
    - Crash after warehouse append: the replay's id anti-join empties
      the batch; the stats row is already durable. (Stats-LAST would
      instead lose the row forever here — the replay can no longer see
      what the crashed attempt accepted.)
    - Checkpoint wiped (outside the exactly-once contract but handled):
      a new gate_id means old rows count as plain history; the id
      anti-join still blocks re-appends, so the budget can only
      under-fill, never overflow. ``heal_budget_stats`` restores
      exactness.
    - Stats artifact lost while the warehouse has data: auto-healed —
      the sink detects the empty artifact and rebuilds it from the
      warehouse ONCE (the heal path is the only O(corpus) aggregation
      left; round 7 ran it every batch).
    """
    if stats_path is None:
        stats_path = budget_stats_path(warehouse_path)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        gate_id = _stream_gate_id(spark, checkpoint_dir)
        rows = batch.filter(F.col(key).isNotNull()).dropDuplicates([key])
        stats_probe = read_table_or_empty(
            spark, stats_path, _budget_stats_schema(source_col)
        )
        if stats_probe.isEmpty():
            # empty stats + non-empty warehouse = unseeded gate (stats
            # lost, or pointed at an existing corpus) — rebuild once
            # rather than silently treating every budget as unspent
            probe = read_table_or_empty(spark, warehouse_path, batch.schema)
            if not probe.isEmpty():
                heal_budget_stats(
                    spark, warehouse_path, batch.schema, stats_path,
                    source_col, text_col,
                )
        consumed = read_consumed_tokens(
            spark, stats_path, source_col, exclude=(gate_id, batch_id)
        )
        fresh = _unseen_rows(
            spark, rows, key, warehouse_path, batch.schema, bloom_store_path
        )
        accepted = budget_filter(
            fresh, consumed, budgets, key, source_col, text_col
        ).localCheckpoint(eager=True)
        if not accepted.isEmpty():
            # stats delta FIRST (see the crash contract above), from
            # the _n_tok column budget_filter left attached — the
            # batch is never re-tokenized
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
            delta.repartition(1).write.mode("append").parquet(stats_path)
            if bloom_store_path is not None:
                from ..llm import bloom as B

                # BEFORE the warehouse append — over-approximation only
                # routes replayed keys to the exact check
                B.append_to_bloom_store(
                    spark, bloom_store_path, accepted, key
                )
            accepted.drop("_n_tok").write.mode("append").option(
                "compression", "snappy"
            ).parquet(warehouse_path)

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


def stream_training_shuffle(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    manifest_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    num_shards: int = 8,
    seed: int = 1,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Continuous manifest growth: newly arriving corpus files are
    assigned (shard, pos) read-order slots that extend the live
    manifest at ``manifest_path`` — the streaming twin of
    ``llm.packing.training_shuffle_incremental``, with the same
    written-files-never-move guarantee.

    Rank windows are unsupported on streaming DataFrames, so the
    assignment runs inside ``foreachBatch`` (the sanctioned escape
    hatch, as in :func:`stream_incremental_append`): each micro-batch
    anti-joins the manifest snapshot (skipping replayed ids — that is
    also what makes a crash-replayed batch idempotent), takes each
    shard's current MAX pos (num_shards rows, broadcast), and appends
    only the new assignments. The checkpoint makes file progress
    durable across restarts."""
    from pyspark.sql.types import LongType, StructField

    from ..llm.packing import training_shuffle_incremental

    manifest_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("shard", LongType()),
            StructField("pos", LongType()),
        ]
    )

    def _sink(batch: DataFrame, batch_id: int) -> None:
        snapshot = read_table_or_empty(spark, manifest_path, manifest_schema)
        fresh = training_shuffle_incremental(
            batch.select(id_col).dropDuplicates([id_col]),
            snapshot,
            id_col,
            num_shards,
            seed,
        )
        # materialize once (isEmpty + write would otherwise each run
        # the anti-join + rank window + max-pos join from scratch)
        fresh = fresh.localCheckpoint(eager=True)
        if not fresh.isEmpty():
            fresh.write.mode("append").option(
                "compression", "snappy"
            ).parquet(manifest_path)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_ingest_with_neardup(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    warehouse_path: str,
    store_path: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    eval_store_path: str | None = None,
    eval_min_shared: int = 2,
    metrics_path: str | None = None,
    quality_model: dict | None = None,
    quality_cutoff: float = 0.0,
    version_each_batch: bool = False,
    neardup_action: str = "reject",
):
    """The full corpus ingest gate as one continuous pipeline: each
    arriving batch is (1) id-deduped against the warehouse (replay
    safety + exact re-crawls), (2) near-dup-collapsed WITHIN the batch
    (a crawl burst fetching the same boilerplate page under many URLs
    arrives in one micro-batch — the store can't gate those because
    none of them is in the store yet), (3) NEAR-dup-gated against the
    persisted MinHash store (fuzzy re-crawls and boilerplate variants
    never enter the corpus), and (4) survivors are appended to the
    warehouse AND their signatures to the store — so the next batch
    is judged against everything accepted so far.

    Intra-batch collapse rule, deterministic and conservative: verify
    LSH candidates with exact Jaccard (``minhash_near_dup_pairs``,
    banding params from the store's meta) and drop every doc that is
    the GREATER id of any qualifying pair. In a near-dup chain
    a~b~c with a≁c this drops both b and c — acceptable for a gate
    whose job is "never let two near-dups of one page into the
    corpus"; the kept doc is always the cluster's minimum id, so a
    replayed batch collapses identically.

    With ``metrics_path`` set, each batch appends ONE observability
    row — ``(batch_id, n_input, n_rows, n_fresh, n_quality_rejected,
    n_intra_dropped, n_contaminated, n_neardup_rejected, n_accepted)``
    — so rejection rates are queryable without log scraping. ``n_input`` counts raw
    arrivals BEFORE the NULL-id filter and id-dedup (a feed gone bad
    must show in the audit). Auditing is (almost) free: every count
    rides an ``Observation`` on a localCheckpoint the sink already
    executes — CollectMetrics accumulators on existing jobs, ZERO
    extra count jobs (round 6 ran up to 6 ``count()`` jobs per
    audited batch; a plan-shape test pins that audit-on adds only the
    metric-row write). Callers without a metrics_path skip even the
    observe nodes. The metric write happens LAST (a crash loses at
    most the metric row, never the data); replayed batches re-emit
    their row, so the audit shows the replay.

    With ``eval_store_path`` set (a winnowing store built by
    ``fingerprint.build_winnow_store`` over the benchmark/eval
    corpus), the gate ALSO rejects batch docs sharing
    ``eval_min_shared``+ winnowing fingerprints with any eval doc —
    decontamination enforced at the corpus front door rather than as
    a post-hoc sweep. The eval check is stateless per batch (the eval
    store only changes when benchmarks are added), so it composes
    with the crash contract unchanged.

    With ``quality_model`` set (feature-name → coefficient, the
    ``llm.quality.score_documents`` contract), docs whose linear
    quality margin is <= ``quality_cutoff`` — or whose text is NULL
    (no score means no admission) — are rejected right after the id
    gate, BEFORE the near-dup machinery spends MinHash/winnowing work
    on docs that were never going to enter the corpus.
    The scorer is per-row column math (model-as-data, no UDF), so the
    stage adds no shuffle; rejects show as ``n_quality_rejected``.
    Like every other gate stage it only ever REMOVES batch docs, so
    crash replay and store reconciliation are unchanged.

    With ``version_each_batch`` set, every batch that appends rows
    also commits a warehouse version (:mod:`..sinks.versions`, note
    ``"ingest batch <id>"``) — training runs can pin "the corpus as
    of batch N" and time-travel across ingest history for free
    (manifests are metadata-only).

    Build the store first (``neardup_store.build_minhash_store`` — an
    empty corpus is fine). Crash semantics: the id anti-join makes a
    replayed batch a no-op on the warehouse, and the store side is
    RECONCILED rather than blindly appended — every batch doc the
    warehouse already holds is offered to the store (whose own id
    anti-join no-ops the already-signed ones) at the TOP of the sink,
    BEFORE any gating. The ordering is load-bearing: a crash between
    the warehouse write and the signature append leaves accepted docs
    unsigned, and if the replay gated before healing, a near-dup of a
    crashed doc (its intra-batch twin, or a fuzzy re-crawl) would
    sail through the store gate and land in the warehouse next to it.
    Heal-first closes that window: the replay back-fills the missing
    signatures, THEN judges the remainder of the batch against them —
    pinned by both crash tests in tests/test_neardup_store.py (a
    naive accepted-only append would permanently lose the crashed
    batch's signatures, because the replay's empty fresh set
    short-circuits before reaching them).

    ``neardup_action`` selects the corpus policy at the near-dup
    stage: ``"reject"`` (default, everything above) drops near-dups at
    the door; ``"label"`` ADMITS them and instead records the observed
    pairs (intra-batch + vs-store) into the store's incremental
    cluster labels (:func:`..llm.neardup_store.update_cluster_labels`)
    — quality-argmax survivor selection then runs at ingest off the
    persisted ``(id, cluster_id)`` relation
    (:func:`..llm.neardup_store.store_cluster_labels` +
    ``cluster.keep_best_in_cluster``) with no from-scratch component
    recompute. The edge append rides BEFORE the warehouse append, so a
    crash between them replays into duplicate edge rows (harmless to
    components) rather than lost ones; a crash inside the label update
    itself is healed by the update's own staleness token."""
    if neardup_action not in ("reject", "label"):
        raise ValueError(
            f"neardup_action must be 'reject' or 'label', got "
            f"{neardup_action!r}"
        )
    from ..llm.dedup import minhash_near_dup_pairs
    from ..llm.neardup_store import (
        append_to_minhash_store,
        load_store_meta,
        near_dups_against_store,
        update_cluster_labels,
    )

    def _sink(batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Observation

        audit = metrics_path is not None
        m = {"n_input": 0, "n_rows": 0, "n_fresh": 0,
             "n_quality_rejected": 0, "n_intra_dropped": 0,
             "n_contaminated": 0, "n_neardup_rejected": 0, "n_accepted": 0}
        _n = F.count(F.lit(1)).alias("n")

        def observed(df: DataFrame, obs) -> DataFrame:
            return df.observe(obs, _n) if obs is not None else df

        # raw arrivals BEFORE the NULL-id filter and id-dedup (a feed
        # suddenly full of NULL-id rows must be visible in the audit)
        # and the post-dedup count both ride the SAME checkpoint job
        # as accumulators — no extra scan of the batch
        o_input = Observation() if audit else None
        o_rows = Observation() if audit else None
        rows = observed(
            observed(batch, o_input)
            .filter(F.col(id_col).isNotNull())
            .dropDuplicates([id_col]),
            o_rows,
        ).localCheckpoint(eager=True)  # consumed up to three times
        if audit:
            m["n_input"] = int(o_input.get["n"])
            m["n_rows"] = int(o_rows.get["n"])
        existing = read_table_or_empty(spark, warehouse_path, rows.schema)
        # crash-heal FIRST, before any gating: a prior run may have
        # died between its warehouse write and its store append, so
        # batch docs the warehouse already holds get their missing
        # signatures back-filled NOW — if it happened after, a replayed
        # batch's near-dups of the crashed docs would sail through the
        # store gate unsigned (steady state: the store's own id
        # anti-join makes this a no-op)
        warehoused = rows.join(existing.select(id_col), id_col, "left_semi")
        append_to_minhash_store(spark, store_path, warehoused, text_col, id_col)
        o_fresh = Observation() if audit else None
        fresh = observed(
            rows.join(existing.select(id_col), id_col, "left_anti"), o_fresh
        ).localCheckpoint(eager=True)  # two consumers below
        if audit:
            m["n_fresh"] = int(o_fresh.get["n"])
        if quality_model is not None and not fresh.isEmpty():
            from ..llm.quality import score_documents

            # cheapest gate first: per-row column math drops docs that
            # were never going to be accepted BEFORE MinHash/winnowing
            # work is spent on them
            # NULL text scores NULL -> keep NULL; a bare ~keep would
            # silently ACCEPT those rows (NULL is excluded by where).
            # A corpus gate must reject what it cannot score.
            low_quality = (
                score_documents(
                    fresh,
                    model=quality_model,
                    text_col=text_col,
                    id_col=id_col,
                    threshold=quality_cutoff,
                )
                .where(~F.coalesce(F.col("keep"), F.lit(False)))
                .select(id_col)
            )
            o_qual = Observation() if audit else None
            fresh = observed(
                fresh.join(low_quality, id_col, "left_anti"), o_qual
            ).localCheckpoint(eager=True)
            if audit:
                m["n_quality_rejected"] = m["n_fresh"] - int(o_qual.get["n"])
        if neardup_action == "reject" and not fresh.isEmpty():
            # intra-batch collapse: two near-dups arriving in the SAME
            # micro-batch both pass the store gate (neither is stored
            # yet) — drop every greater-id member of a verified pair
            # so at most one representative per near-dup cluster goes
            # on to the store gate and the warehouse (label mode keeps
            # them and records the pairs as cluster edges below)
            meta = load_store_meta(spark, store_path)
            intra_losers = (
                minhash_near_dup_pairs(
                    fresh,
                    text_col,
                    id_col,
                    meta["k"],
                    meta["bands"],
                    meta["rows_per_band"],
                    threshold,
                )
                .select(F.col("doc_b").alias(id_col))
                .distinct()
            )
            o_intra = Observation() if audit else None
            fresh = observed(
                fresh.join(intra_losers, id_col, "left_anti"), o_intra
            ).localCheckpoint(
                eager=True  # two consumers below, and the pair scan above
            )
            if audit:
                m["n_intra_dropped"] = (
                    m["n_fresh"]
                    - m["n_quality_rejected"]
                    - int(o_intra.get["n"])
                )
        if eval_store_path is not None and not fresh.isEmpty():
            from ..llm.fingerprint import contamination_against_store

            contaminated = (
                contamination_against_store(
                    spark, eval_store_path, fresh, text_col, id_col,
                    min_shared=eval_min_shared,
                )
                .select(F.col("new_id").alias(id_col))
                .distinct()
            )
            o_surv = Observation() if audit else None
            survivors = observed(
                fresh.join(contaminated, id_col, "left_anti"), o_surv
            ).localCheckpoint(eager=True)
            if audit:
                n_before = (
                    m["n_fresh"]
                    - m["n_quality_rejected"]
                    - m["n_intra_dropped"]
                )
                m["n_contaminated"] = n_before - int(o_surv.get["n"])
            fresh = survivors
        if not fresh.isEmpty():
            if neardup_action == "label":
                # admit near-dups, persist their pair structure: the
                # observed edges feed the store's incremental cluster
                # labels BEFORE the warehouse append (a crash between
                # replays into duplicate edges, never lost ones)
                meta = load_store_meta(spark, store_path)
                intra_pairs = minhash_near_dup_pairs(
                    fresh,
                    text_col,
                    id_col,
                    meta["k"],
                    meta["bands"],
                    meta["rows_per_band"],
                    threshold,
                ).select("doc_a", "doc_b")
                store_pairs = near_dups_against_store(
                    spark, store_path, fresh, threshold, text_col, id_col
                ).select(
                    F.col("new_id").alias("doc_a"),
                    F.col("snapshot_id").alias("doc_b"),
                )
                update_cluster_labels(
                    spark,
                    store_path,
                    intra_pairs.unionByName(store_pairs),
                )
                near = fresh.limit(0).select(id_col)  # nobody rejected
            else:
                near = (
                    near_dups_against_store(
                        spark, store_path, fresh, threshold, text_col, id_col
                    )
                    .select(F.col("new_id").alias(id_col))
                    .distinct()
                )
            o_acc = Observation() if audit else None
            accepted = observed(
                fresh.join(near, id_col, "left_anti"), o_acc
            ).localCheckpoint(
                eager=True  # lineage reads the warehouse being appended
            )
            if audit:
                m["n_accepted"] = int(o_acc.get["n"])
                n_gate_in = (
                    m["n_fresh"]
                    - m["n_quality_rejected"]
                    - m["n_intra_dropped"]
                    - m["n_contaminated"]
                )
                m["n_neardup_rejected"] = n_gate_in - m["n_accepted"]
            if not accepted.isEmpty():
                accepted.write.mode("append").option(
                    "compression", "snappy"
                ).parquet(warehouse_path)
                if version_each_batch:
                    # stamp the warehouse AS OF this batch — a training
                    # run can pin "the corpus after ingest batch N"
                    # (sinks.versions manifests are metadata-only and
                    # live in a SIBLING directory the stream never
                    # reads). Committed right after the append so the
                    # version exists even if the store append below
                    # crashes; a crash BETWEEN append and commit loses
                    # only this batch's version stamp (the data is safe
                    # and the replay no-ops), visible as a gap in the
                    # version notes.
                    from ..sinks.versions import commit_version

                    commit_version(
                        spark,
                        warehouse_path,
                        note=f"ingest batch {int(batch_id)}",
                    )
                # sign the newly accepted docs; a crash between the
                # two writes above is healed by the reconciliation at
                # the TOP of the next replay
                append_to_minhash_store(
                    spark, store_path, accepted, text_col, id_col
                )
        if audit:
            spark.createDataFrame(
                [(
                    int(batch_id), m["n_input"], m["n_rows"], m["n_fresh"],
                    m["n_quality_rejected"], m["n_intra_dropped"],
                    m["n_contaminated"], m["n_neardup_rejected"],
                    m["n_accepted"],
                )],
                "batch_id bigint, n_input bigint, n_rows bigint, "
                "n_fresh bigint, n_quality_rejected bigint, "
                "n_intra_dropped bigint, n_contaminated bigint, "
                "n_neardup_rejected bigint, n_accepted bigint",
            ).repartition(1).write.mode("append").parquet(metrics_path)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_ingest_media_neardup(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    warehouse_path: str,
    store_path: str,
    checkpoint_dir: str,
    max_hamming: int = 3,
    id_col: str = "media_id",
    hasher=None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    neardup_action: str = "reject",
    gate_shuffle_partitions: int | None = None,
):
    """The MEDIA ingest gate: perceptual near-dup dedup for
    image/audio payloads at the corpus front door — the multimodal
    twin of :func:`stream_ingest_with_neardup`. Each batch is
    (1) id-deduped against the warehouse (replay safety), (2) decoded
    + perceptually hashed in ONE Arrow pass (``hasher`` maps a media
    frame to (media_id, phash, ...) — default
    :func:`..llm.multimodal.image_hashes`; pass
    ``audio_fingerprints``-based hashers for audio corpora),
    (3) collapsed WITHIN the batch (the greater id of any pair within
    ``max_hamming`` drops — a crawl burst carrying one image under
    many URLs), (4) gated against the persisted phash store (a
    re-hosted/re-encoded copy of anything accepted before is
    rejected), and (5) survivors append their payloads to the
    warehouse AND their 16-byte hash rows to the store.

    Decode-ERROR payloads (NULL phash) are ADMITTED past the
    perceptual stages — an undecodable object has no perceptual
    identity to compare, and the exact-id gate already holds; the
    error is preserved in the store-less hash relation for auditing
    upstream. Crash contract mirrors the text gate: heal-first (batch
    objects the warehouse already holds are offered to the store
    before any gating), store append BEFORE warehouse append
    (over-approximation only ever rejects a would-be duplicate
    earlier), id anti-join makes replays no-ops.

    ``neardup_action="label"`` (same policy switch as the text gate):
    perceptual copies are ADMITTED and the observed pairs (intra-batch
    + vs-store) land in the phash store's incremental cluster labels
    (the :mod:`..llm.neardup_store` edge-log/label machinery is
    store-layout-agnostic), so per-cluster survivor selection runs at
    serving time off persisted ``(id, cluster_id)`` rows — e.g. keep
    the highest-resolution copy of each image cluster rather than
    whichever URL was crawled first.

    ``gate_shuffle_partitions``: the gate's exchanges are BATCH-sized
    (64-bit hash rows), not corpus-sized — on a wide session default
    (e.g. 32+ for the corpus queries) each tiny exchange pays pure
    task-scheduling latency. When set, the sink body runs under this
    shuffle width (restored after each batch); AQE still coalesces
    below it. Leave None to inherit the session setting."""
    if neardup_action not in ("reject", "label"):
        raise ValueError(
            f"neardup_action must be 'reject' or 'label', got "
            f"{neardup_action!r}"
        )
    from ..llm import multimodal as MM
    from ..llm import phash_store as PS
    from ..llm.dedup import hamming_band_pairs
    from ..llm.neardup_store import update_cluster_labels

    hash_fn = hasher if hasher is not None else MM.image_hashes

    def _sink(batch: DataFrame, batch_id: int) -> None:
        if gate_shuffle_partitions is not None:
            prev = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(int(gate_shuffle_partitions)),
            )
            try:
                _gate_body(batch)
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
        else:
            _gate_body(batch)

    def _gate_body(batch: DataFrame) -> None:
        # decode + hash FIRST: the whole gate then runs on the 4-column
        # hash relation, and the payload bytes are only read once more
        # at the final warehouse append (semi-join against accepted
        # ids). The previous shape checkpointed the payload rows twice
        # (rows + fresh) before hashing — at sf0.1 those payload
        # materializations were ~2 s of the gate's cost, and at 100 TB
        # a payload shuffle per batch is exactly the thing a
        # hashes-only gate exists to avoid. Heal path included: the
        # one decode pass covers warehoused rows too, so re-signing
        # them costs no second decode.
        raw = batch.filter(F.col(id_col).isNotNull())
        hashes_all = (
            hash_fn(raw)
            .dropDuplicates([id_col])
            .localCheckpoint(eager=True)  # small: ids + 64-bit hashes
        )
        # missing-warehouse fast path: before the first accepted batch
        # there is nothing to heal against and nothing to anti-join —
        # one filesystem stat instead of two join jobs
        from ..sinks.fsutil import hadoop_fs

        fs, hpath = hadoop_fs(spark, warehouse_path)
        if not fs.exists(hpath(warehouse_path)):
            hashes = hashes_all
        else:
            existing = read_table_or_empty(
                spark, warehouse_path, batch.schema
            ).select(id_col)
            # heal-first: re-offer already-warehoused batch objects to
            # the store (its id anti-join no-ops the steady state) so a
            # crash between a prior warehouse append and store append
            # cannot leave accepted objects unsigned
            warehoused_h = hashes_all.join(existing, id_col, "left_semi")
            if not warehoused_h.isEmpty():
                PS.append_to_phash_store(
                    spark, store_path, warehoused_h, id_col=id_col
                )
            hashes = hashes_all.join(
                existing, id_col, "left_anti"
            ).localCheckpoint(eager=True)
        if hashes.isEmpty():
            return
        intra_pairs = hamming_band_pairs(
            hashes.filter(F.col("phash").isNotNull()),
            "phash",
            id_col,
            max_hamming=max_hamming,
        )
        if neardup_action == "label":
            # admit everything; record the observed pair structure as
            # cluster edges BEFORE the warehouse append (a crash
            # between replays into duplicate edges, never lost ones)
            store_pairs = PS.near_dups_against_phash_store(
                spark, store_path, hashes, max_hamming, id_col=id_col
            ).select(
                F.col("new_id").alias("doc_a"),
                F.col("existing_id").alias("doc_b"),
            )
            update_cluster_labels(
                spark,
                store_path,
                intra_pairs.select("doc_a", "doc_b").unionByName(store_pairs),
            )
            accepted_ids = hashes.select(id_col)
        else:
            # intra-batch collapse: drop the greater id of any pair
            intra_losers = (
                intra_pairs.select(F.col("doc_b").alias(id_col)).distinct()
            )
            survivors_h = hashes.join(intra_losers, id_col, "left_anti")
            # store gate: reject anything perceptually held already
            near = (
                PS.near_dups_against_phash_store(
                    spark, store_path, survivors_h, max_hamming, id_col=id_col
                )
                .select(F.col("new_id").alias(id_col))
                .distinct()
            )
            accepted_ids = survivors_h.select(id_col).join(
                near, id_col, "left_anti"
            )
        accepted_ids = accepted_ids.localCheckpoint(eager=True)
        if accepted_ids.isEmpty():
            return
        # store BEFORE warehouse (see the crash contract)
        PS.append_to_phash_store(
            spark,
            store_path,
            hashes.join(accepted_ids, id_col, "left_semi"),
            id_col=id_col,
        )
        # payloads re-enter here and ONLY here: semi-join the raw
        # batch against the (small, checkpointed) accepted ids; the
        # dedup-by-id runs after the semi-join so only accepted
        # payload rows ever shuffle
        raw.join(accepted_ids, id_col, "left_semi").dropDuplicates(
            [id_col]
        ).write.mode("append").option(
            "compression", "snappy"
        ).parquet(warehouse_path)

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


def stream_ingest_with_boilerplate(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    warehouse_path: str,
    store_path: str,
    checkpoint_dir: str,
    min_doc_freq: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Passage-frequency-aware ingest: boilerplate is stripped AT
    ADMISSION against the persisted passage-frequency store
    (:mod:`..llm.passagefreq`), and the batch's own passage counts
    land in the store inside the same batch commit — the incremental
    form of :func:`..llm.passagefreq.strip_boilerplate_against_store`
    wired to the corpus front door. Each batch:

    1. id-dedups against the warehouse (replay safety — the standard
       exactly-once anti-join);
    2. APPENDS its passage counts to the store, keyed by the durable
       ``(stream id, batch id)`` identity (the budget gate's stats-
       artifact discipline): a crash between this append and the
       warehouse append re-offers the batch, the replay recomputes the
       identical segment under the same key, and the store's
       (batch_id, fp) read-side dedup collapses it — frequencies never
       inflate, and the replayed strip sees BIT-IDENTICAL store state;
    3. strips each fresh document against the store's cumulative
       frequencies — which include this batch's own counts, so a
       corpus offered as ONE batch matches the batch operator (and its
       DuckDB oracle) exactly;
    4. appends the original columns + ``(n_passages, n_removed,
       text_clean)`` to the warehouse.

    Across MULTIPLE batches the strip is deliberately monotone-
    approximate: an early document is judged against the frequencies
    known at its admission (a passage only later revealed as
    boilerplate stays in the early document's text_clean). That is
    the honest streaming contract — global frequencies do not exist
    until the corpus ends — and the store retains exact cumulative
    counts, so a serve-time re-strip
    (``strip_boilerplate_against_store`` over the warehouse) upgrades
    any document to the full-corpus judgment without rescanning
    history."""
    from ..llm import passagefreq as PF

    def _sink(batch: DataFrame, batch_id: int) -> None:
        rows = (
            batch.filter(F.col(id_col).isNotNull())
            .dropDuplicates([id_col])
            .localCheckpoint(eager=True)  # counted + stripped + joined
        )
        from ..sinks.fsutil import hadoop_fs

        fs, hpath = hadoop_fs(spark, warehouse_path)
        if fs.exists(hpath(warehouse_path)):
            existing_ids = (
                spark.read.parquet(warehouse_path).select(id_col)
            )
            fresh = rows.join(
                existing_ids, id_col, "left_anti"
            ).localCheckpoint(eager=True)
        else:
            fresh = rows
        if fresh.isEmpty():
            return
        # counts BEFORE warehouse (crash contract above); the batch
        # key makes the replayed append a read-side no-op. The batch's
        # passage rows explode ONCE (checkpointed) and feed both the
        # count append and the strip — the count/strip pair would
        # otherwise re-tokenize the batch twice.
        from ..llm.dedup import passage_rows

        gate_id = _stream_gate_id(spark, checkpoint_dir)
        meta = PF.load_passage_freq_meta(spark, store_path)
        chunks = passage_rows(
            fresh, meta["block"], text_col, id_col
        ).localCheckpoint(eager=True)
        PF.append_passage_counts(
            spark,
            store_path,
            fresh,
            text_col,
            id_col,
            batch_id=f"{gate_id}-{int(batch_id)}",
            chunks=chunks,
        )
        # ONE left join attaches the strip result (round 13, guide
        # §2.4; ids are unique per batch — dropDuplicates above): the
        # generic strip's dropDuplicates + doc join + second attach
        # join collapse to this, with _rebuild_cleaned's exact
        # 0/0/NULL defaults for token-less docs
        rebuilt = PF.strip_rebuilt_against_store(
            spark, store_path, chunks, min_doc_freq
        ).withColumnRenamed("id", id_col)
        _cols = [id_col] + [c for c in fresh.columns if c != id_col]
        stripped = fresh.join(rebuilt, id_col, "left").select(
            *_cols,
            F.coalesce("n_passages", F.lit(0)).alias("n_passages"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
            F.col("text_clean"),
        )
        stripped.write.mode("append").option(
            "compression", "snappy"
        ).parquet(warehouse_path)

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


def compact_budget_stats(
    spark: SparkSession, stats_path: str, target_file_mb: int = 16
) -> int:
    """Restore a compact layout for the budget-gate stats artifact —
    every accepted batch appends one file, so a year-long gate
    accretes tens of thousands of tiny files whose listing cost the
    per-batch consumed read pays forever. Safe anytime the gate is not
    mid-batch: rows are read through a (gate_id, batch_id, source)
    dedup + sum, which is invariant under file re-layout. Delegates to
    :func:`..sinks.parquet.compact_dataset` (atomic swap,
    crash-healed on the next call)."""
    from ..sinks.parquet import compact_dataset

    return compact_dataset(spark, stats_path, target_file_mb)


def stream_ingest_with_kmv(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    warehouse_path: str,
    store_path: str,
    checkpoint_dir: str,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Cardinality-tracking ingest: every admitted batch folds its
    per-group KMV bottom-k into the persisted sketch store
    (:mod:`..llm.kmv`) inside the batch commit, so per-source
    distinct-content estimates are SERVED off k rows per group at any
    moment of the stream's life — never by rescanning the warehouse.

    This gate is deliberately the simplest of the family, because the
    sketch erases the usual crash-replay machinery: bottom-k over a
    hash set is idempotent under re-offer (llm/kmv.py module notes),
    so unlike the budget gate (transactional stats artifact), the
    passage gate (batch-keyed segments + read-side dedup), or the
    media gate (id anti-join), a replayed KMV append needs NO
    bookkeeping — the store converges to the same k minima in every
    crash interleaving. The warehouse append keeps the standard
    exactly-once anti-join; the store append keeps nothing.

    Offered as one availableNow batch, the stored sketch equals the
    one-shot corpus sketch BIT-FOR-BIT (exact merge), which is what
    lets the streaming query share the batch DuckDB oracle. Across
    many batches the estimates are exact-merge cumulative — unlike the
    boilerplate gate there is no monotone approximation to document:
    the sketch after batch N is exactly the sketch of batches 1..N.
    """
    from ..llm import kmv as KV

    def _sink(batch: DataFrame, batch_id: int) -> None:
        rows = (
            batch.filter(F.col(id_col).isNotNull())
            .dropDuplicates([id_col])
            .localCheckpoint(eager=True)  # sketched + appended
        )
        from ..sinks.fsutil import hadoop_fs

        fs, hpath = hadoop_fs(spark, warehouse_path)
        if fs.exists(hpath(warehouse_path)):
            existing_ids = spark.read.parquet(warehouse_path).select(id_col)
            fresh = rows.join(
                existing_ids, id_col, "left_anti"
            ).localCheckpoint(eager=True)
        else:
            fresh = rows
        if fresh.isEmpty():
            return
        # sketch BEFORE warehouse: a crash between the two re-offers
        # the batch, the replayed sketch append is a semantic no-op
        # (idempotent minima), and the warehouse anti-join drops the
        # duplicate rows — both artifacts converge in every order.
        KV.append_to_kmv_store(spark, store_path, fresh, group_col, text_col)
        fresh.write.mode("append").option("compression", "snappy").parquet(
            warehouse_path
        )

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
