"""Persisted MinHash store: incremental near-dup at ingest
(llm/neardup_store.py)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_procedure_codes_crawler_spark.llm import neardup_store as NS


BASE = (
    "the quick brown fox jumps over the lazy dog and keeps running "
    "through the quiet green field toward the old stone bridge"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


@pytest.fixture()
def store(spark, tmp_path):
    """Snapshot: the base doc + unrelated docs."""
    path = str(tmp_path / "store")
    snapshot = _docs(
        spark,
        [
            (0, BASE),
            (1, "completely different material about spark physical plans"),
            (2, "yet another unrelated document mentioning parquet footers"),
        ],
    )
    NS.build_minhash_store(snapshot, path)
    return path


def test_near_dup_found_and_unrelated_not(spark, store):
    new = _docs(
        spark,
        [
            # near-dup of doc 0: one word changed
            (10, BASE.replace("lazy", "sleepy")),
            # unrelated
            (11, "totally fresh content with no overlap whatsoever here"),
        ],
    )
    hits = NS.near_dups_against_store(spark, store, new, threshold=0.5)
    got = {(r.new_id, r.snapshot_id): r.est_jaccard for r in hits.collect()}
    assert (10, 0) in got, got
    assert got[(10, 0)] >= 0.5
    assert all(nid != 11 for nid, _ in got), got


def test_estimate_tracks_true_jaccard(spark, store):
    """The signature-agreement estimate must be in the right
    neighborhood of true shingle Jaccard for an exact duplicate."""
    new = _docs(spark, [(20, BASE)])  # exact text of doc 0
    hits = NS.near_dups_against_store(spark, store, new, threshold=0.5)
    got = {(r.new_id, r.snapshot_id): r.est_jaccard for r in hits.collect()}
    assert got.get((20, 0)) == 1.0  # identical shingles → identical sigs


def test_append_is_idempotent_and_grows_matching(spark, store):
    new = _docs(spark, [(30, "some brand new corpus material for the store")])
    assert NS.append_to_minhash_store(spark, store, new) == 1
    assert NS.append_to_minhash_store(spark, store, new) == 0  # replay

    # a later batch near-duping the APPENDED doc is now caught
    later = _docs(
        spark, [(40, "some brand new corpus material for this store")]
    )
    hits = NS.near_dups_against_store(spark, store, later, threshold=0.3)
    pairs = {(r.new_id, r.snapshot_id) for r in hits.collect()}
    assert (40, 30) in pairs, pairs


def test_store_parameters_come_from_meta(spark, tmp_path):
    path = str(tmp_path / "store")
    NS.build_minhash_store(
        _docs(spark, [(0, BASE)]), path, bands=4, rows_per_band=8
    )
    meta = NS.load_store_meta(spark, path)
    assert meta == {"k": 3, "bands": 4, "rows_per_band": 8, "version": 2,
                    "hash_fn": "xx"}
    # query uses the stored banding: an exact dup still matches even
    # though the defaults (8 bands x 4 rows) differ
    hits = NS.near_dups_against_store(
        spark, path, _docs(spark, [(50, BASE)]), threshold=0.9
    )
    assert {(r.new_id, r.snapshot_id) for r in hits.collect()} == {(50, 0)}


class TestMd5StoreMode:
    """hash_fn='md5' (round 11): the K-M double-md5 family pinned in
    store meta, so build/append/probe all derive the same
    engine-deterministic signatures — what hash-oracled
    neardup_incremental_documents."""

    def test_md5_store_lifecycle_and_exact_dup_probe(self, spark, tmp_path):
        path = str(tmp_path / "store")
        NS.build_minhash_store(
            _docs(spark, [(0, BASE), (2, "unrelated parquet footers")]),
            path,
            hash_fn="md5",
        )
        assert NS.load_store_meta(spark, path)["hash_fn"] == "md5"
        # append derives the SAME family (meta, not caller defaults)
        NS.append_to_minhash_store(
            spark, path, _docs(spark, [(4, "another unrelated body")])
        )
        hits = NS.near_dups_against_store(
            spark, path, _docs(spark, [(51, BASE)]), threshold=0.9
        ).collect()
        assert {(r.new_id, r.snapshot_id) for r in hits} == {(51, 0)}
        (hit,) = hits
        assert hit.est_jaccard == 1.0  # exact dup: all 32 slots agree

    def test_md5_signature_matches_dedup_family(self, spark, tmp_path):
        """The store's md5 signatures must be the SAME family
        dedup.minhash_signatures(hash_fn='md5') produces — the oracle
        recomputes that construction, so any drift breaks the gate."""
        from etl_procedure_codes_crawler_spark.llm.dedup import (
            minhash_signatures,
        )

        docs = _docs(spark, [(7, BASE)])
        got = NS._sig_array(docs, "text", "doc_id", 3, 32, "md5").collect()
        ref = minhash_signatures(docs, "text", "doc_id", 3, 32, "md5").collect()
        assert list(got[0].sig) == [ref[0][f"h{i}"] for i in range(32)]


class TestStreamIngestWithNearDup:
    SCHEMA = "doc_id bigint, text string"

    def _drop(self, spark, source_dir, name, rows):
        import glob
        import os
        import shutil
        import tempfile

        staging = tempfile.mkdtemp()
        spark.createDataFrame(rows, self.SCHEMA).repartition(1).write.mode(
            "overwrite"
        ).parquet(staging)
        part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(source_dir, f"{name}.parquet"))
        shutil.rmtree(staging, ignore_errors=True)

    def _run(self, spark, dirs, **kw):
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        from etl_procedure_codes_crawler_spark.streaming.incremental import (
            stream_ingest_with_neardup,
        )

        schema = StructType(
            [StructField("doc_id", LongType()), StructField("text", StringType())]
        )
        q = stream_ingest_with_neardup(
            spark,
            dirs["source"],
            schema,
            dirs["warehouse"],
            dirs["store"],
            dirs["checkpoint"],
            threshold=0.5,
            **kw,
        )
        q.awaitTermination()

    def test_gate_rejects_near_dups_accepts_fresh(self, spark, tmp_path):
        import os

        source = tmp_path / "incoming"
        source.mkdir()
        dirs = {
            "source": str(source),
            "warehouse": str(tmp_path / "wh"),
            "store": str(tmp_path / "store"),
            "checkpoint": str(tmp_path / "ckpt"),
        }
        # empty store to start
        NS.build_minhash_store(
            spark.createDataFrame([], self.SCHEMA), dirs["store"]
        )

        self._drop(spark, dirs["source"], "b1", [(1, BASE)])
        self._run(spark, dirs)
        # batch 2: a near-dup of doc 1, a replay of doc 1, and fresh text
        self._drop(
            spark,
            dirs["source"],
            "b2",
            [
                (2, BASE.replace("lazy", "sleepy")),
                (1, BASE),
                (3, "entirely novel corpus content nothing shared at all"),
            ],
        )
        self._run(spark, dirs)

        wh = {r.doc_id for r in spark.read.parquet(dirs["warehouse"]).collect()}
        assert wh == {1, 3}, wh  # near-dup 2 gated out, replay 1 skipped
        # the store grew with exactly the accepted docs
        sigs = {
            r.id
            for r in spark.read.parquet(
                os.path.join(dirs["store"], "signatures")
            ).collect()
        }
        assert sigs == {1, 3}, sigs

    def test_version_each_batch_gives_time_travel(self, spark, tmp_path):
        from etl_procedure_codes_crawler_spark.sinks.versions import (
            list_versions,
            read_version,
        )

        source = tmp_path / "incoming"
        source.mkdir()
        dirs = {
            "source": str(source),
            "warehouse": str(tmp_path / "wh"),
            "store": str(tmp_path / "store"),
            "checkpoint": str(tmp_path / "ckpt"),
        }
        NS.build_minhash_store(
            spark.createDataFrame([], self.SCHEMA), dirs["store"]
        )
        self._drop(spark, dirs["source"], "b1", [(1, BASE)])
        self._run(spark, dirs, version_each_batch=True)
        self._drop(
            spark,
            dirs["source"],
            "b2",
            [(3, "entirely novel corpus content nothing shared at all")],
        )
        self._run(spark, dirs, version_each_batch=True)

        detail = list_versions(spark, dirs["warehouse"], detail=True)
        assert [d["version"] for d in detail] == [1, 2]
        assert all(d["readable"] for d in detail)
        assert all(d["note"].startswith("ingest batch") for d in detail)
        v1 = {r.doc_id for r in read_version(spark, dirs["warehouse"], 1).collect()}
        v2 = {r.doc_id for r in read_version(spark, dirs["warehouse"], 2).collect()}
        assert v1 == {1} and v2 == {1, 3}
        # a batch that appends nothing commits nothing: replay batch 2
        # via a fresh checkpoint — id-dedup makes it a no-op
        import shutil

        shutil.rmtree(dirs["checkpoint"])
        self._run(spark, dirs, version_each_batch=True)
        assert list_versions(spark, dirs["warehouse"]) == [1, 2]


def test_ingest_gate_crash_between_writes_recovers(spark, tmp_path, monkeypatch):
    """The gate's documented crash contract: a failure AFTER the
    warehouse append but BEFORE the store append must heal on replay —
    no duplicate warehouse rows, store catches up to the accepted
    set."""
    import os

    from etl_procedure_codes_crawler_spark.streaming import incremental as INC

    source = tmp_path / "incoming"
    source.mkdir()
    dirs = {
        "source": str(source),
        "warehouse": str(tmp_path / "wh"),
        "store": str(tmp_path / "store"),
        "checkpoint": str(tmp_path / "ckpt"),
    }
    schema_str = "doc_id bigint, text string"
    NS.build_minhash_store(spark.createDataFrame([], schema_str), dirs["store"])

    helper = TestStreamIngestWithNearDup()
    helper._drop(
        spark,
        dirs["source"],
        "b1",
        [(1, BASE), (2, "independent corpus text with zero shared shingles")],
    )

    # first run: the store append blows up AFTER the warehouse write.
    # The sink calls append twice per batch — the heal-first
    # reconciliation (call 1, a steady-state no-op) and the
    # accepted-doc signing after the warehouse write (call 2) — so
    # exploding on call 2 lands the crash exactly between the two
    # writes, the documented dangerous window.
    import etl_procedure_codes_crawler_spark.llm.neardup_store as NSmod

    real_append = NSmod.append_to_minhash_store
    calls = {"n": 0}

    def exploding_append(*a, **kw):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("simulated crash between the two writes")
        return real_append(*a, **kw)

    # the gate imports append_to_minhash_store when the stream is
    # BUILT (inside stream_ingest_with_neardup), i.e. after this
    # patch, so the sink binds the exploding wrapper for run 1
    monkeypatch.setattr(NSmod, "append_to_minhash_store", exploding_append)
    import pytest as _pytest
    from pyspark.errors import StreamingQueryException

    with _pytest.raises(StreamingQueryException):
        helper._run(spark, dirs)
    # warehouse got the rows; the store did not
    assert {r.doc_id for r in spark.read.parquet(dirs["warehouse"]).collect()} == {1, 2}

    # restore and replay (new checkpoint dir simulates the restart
    # re-reading the unacknowledged file)
    monkeypatch.setattr(NSmod, "append_to_minhash_store", real_append)
    dirs["checkpoint"] = str(tmp_path / "ckpt2")
    helper._run(spark, dirs)

    wh = [r.doc_id for r in spark.read.parquet(dirs["warehouse"]).collect()]
    assert sorted(wh) == [1, 2], wh  # no double append on replay
    sigs = {
        r.id
        for r in spark.read.parquet(
            os.path.join(dirs["store"], "signatures")
        ).collect()
    }
    assert sigs == {1, 2}, sigs  # store caught up


# ---------------------------------------------------------------------------
# Degenerate-bucket cap: the candidate join must stay LINEAR in the
# batch on boilerplate corpora (the round-5 weak mark)
# ---------------------------------------------------------------------------


class TestDegenerateBucketCap:
    def test_boilerplate_store_emits_linear_candidates(self, spark, tmp_path):
        """300 identical store docs + 40 identical batch docs all land
        in ONE (band, bucket) per band. Uncapped, the join emits
        40x300 pairs; capped at 16 store rows per bucket it must emit
        exactly 40x16 — and every batch doc is still flagged."""
        path = str(tmp_path / "boiler")
        NS.build_minhash_store(
            _docs(spark, [(i, BASE) for i in range(300)]), path
        )
        new = _docs(spark, [(1000 + i, BASE) for i in range(40)])
        hits = NS.near_dups_against_store(
            spark, path, new, threshold=0.5, max_store_bucket_size=16
        ).collect()
        assert len(hits) == 40 * 16, len(hits)
        assert {r.new_id for r in hits} == {1000 + i for i in range(40)}
        # deterministic ranked truncation: the survivors are the
        # lowest snapshot ids
        assert {r.snapshot_id for r in hits} == set(range(16))

    def test_cap_changes_nothing_on_normal_data(self, spark, store):
        new = _docs(
            spark,
            [
                (10, BASE.replace("lazy", "sleepy")),
                (11, "totally fresh content with no overlap whatsoever here"),
                (12, BASE),
            ],
        )
        capped = sorted(
            map(
                tuple,
                NS.near_dups_against_store(spark, store, new, 0.3).collect(),
            )
        )
        uncapped = sorted(
            map(
                tuple,
                NS.near_dups_against_store(
                    spark, store, new, 0.3, max_store_bucket_size=10**6
                ).collect(),
            )
        )
        assert capped == uncapped and capped

    def test_store_bucket_stats_reports_capped_buckets(self, spark, tmp_path):
        path = str(tmp_path / "boiler2")
        NS.build_minhash_store(
            _docs(
                spark,
                [(i, BASE) for i in range(100)]
                + [(900, "a lone unrelated document about arrow batches")],
            ),
            path,
        )
        stats = {r.band: r for r in NS.store_bucket_stats(spark, path, 16).collect()}
        assert len(stats) == 8  # default bands
        for band, r in stats.items():
            assert r.max_bucket_size == 100
            assert r.n_capped_buckets >= 1


# ---------------------------------------------------------------------------
# v1 layout compatibility: stores written before the buckets column
# existed must keep querying and keep accepting appends
# ---------------------------------------------------------------------------


def _build_v1_store(spark, path, docs):
    from etl_procedure_codes_crawler_spark.llm.store import write_meta

    NS._sig_array(docs, "text", "doc_id", 3, 32).write.mode(
        "overwrite"
    ).parquet(path + "/signatures")
    meta = {"k": 3, "bands": 8, "rows_per_band": 4}  # no version key
    write_meta(spark, path, meta)


def test_v1_store_queries_and_appends_without_buckets_column(spark, tmp_path):
    path = str(tmp_path / "v1store")
    _build_v1_store(spark, path, _docs(spark, [(0, BASE)]))

    hits = NS.near_dups_against_store(
        spark, path, _docs(spark, [(10, BASE.replace("lazy", "sleepy"))])
    )
    assert {(r.new_id, r.snapshot_id) for r in hits.collect()} == {(10, 0)}

    # appends must match the v1 schema (no buckets column) — a mixed
    # dataset would corrupt the scan
    long_doc = (
        "an entirely separate long passage describing arrow record "
        "batches flowing between the jvm and python workers during a "
        "vectorized scan of columnar parquet data files"
    )
    assert (
        NS.append_to_minhash_store(spark, path, _docs(spark, [(30, long_doc)]))
        == 1
    )
    sig_df = spark.read.parquet(path + "/signatures")
    assert "buckets" not in sig_df.columns
    assert {r.id for r in sig_df.collect()} == {0, 30}
    # and the appended doc is matchable
    hits2 = NS.near_dups_against_store(
        spark,
        path,
        _docs(spark, [(40, long_doc.replace("columnar", "compressed"))]),
        0.5,
    )
    assert (40, 30) in {(r.new_id, r.snapshot_id) for r in hits2.collect()}


def test_v2_store_persists_buckets_and_append_matches(spark, store):
    import os

    NS.append_to_minhash_store(
        spark, store, _docs(spark, [(30, "fresh appended store material")])
    )
    sig_df = spark.read.parquet(os.path.join(store, "signatures"))
    assert "buckets" in sig_df.columns
    for row in sig_df.collect():  # build AND append rows carry buckets
        assert len(row.buckets) == 8  # one struct per band
        assert {b.band for b in row.buckets} == set(range(8))


def test_intra_batch_near_dups_collapse_to_min_id(spark, tmp_path):
    """Two near-dups arriving in the SAME micro-batch: neither is in
    the store yet, so the store gate alone would accept both. The
    intra-batch collapse must keep only the minimum id."""
    source = tmp_path / "incoming"
    source.mkdir()
    dirs = {
        "source": str(source),
        "warehouse": str(tmp_path / "wh"),
        "store": str(tmp_path / "store"),
        "checkpoint": str(tmp_path / "ckpt"),
    }
    helper = TestStreamIngestWithNearDup()
    NS.build_minhash_store(
        spark.createDataFrame([], helper.SCHEMA), dirs["store"]
    )
    helper._drop(
        spark,
        dirs["source"],
        "b1",
        [
            (5, BASE.replace("lazy", "sleepy")),  # near-dup of 4, greater id
            (4, BASE),
            (6, "entirely unrelated corpus content nothing shared at all"),
        ],
    )
    helper._run(spark, dirs)
    wh = {r.doc_id for r in spark.read.parquet(dirs["warehouse"]).collect()}
    assert wh == {4, 6}, wh
    import os

    sigs = {
        r.id
        for r in spark.read.parquet(
            os.path.join(dirs["store"], "signatures")
        ).collect()
    }
    assert sigs == {4, 6}, sigs


def test_store_compaction_single_file_and_matches_unchanged(spark, tmp_path):
    import glob

    path = str(tmp_path / "compstore")
    NS.build_minhash_store(_docs(spark, [(0, BASE)]), path)
    for i in range(1, 4):  # three ingest batches → three more files
        NS.append_to_minhash_store(
            spark, path, _docs(spark, [(i, f"{BASE} batch variant {i}")])
        )
    assert len(glob.glob(f"{path}/signatures/part-*.parquet")) >= 4

    probe = _docs(spark, [(99, BASE.replace("lazy", "sleepy"))])
    before = sorted(
        map(tuple, NS.near_dups_against_store(spark, path, probe, 0.3).collect())
    )
    n_files = NS.compact_minhash_store(spark, path)
    assert n_files == 1 == len(glob.glob(f"{path}/signatures/part-*.parquet"))
    after = sorted(
        map(tuple, NS.near_dups_against_store(spark, path, probe, 0.3).collect())
    )
    assert before == after and before


def test_crash_window_cannot_admit_near_dup_twin(spark, tmp_path, monkeypatch):
    """The ordering bug the heal-first reconciliation closes: doc 4 is
    accepted and written, the run crashes before signing it, and the
    replay's fresh set holds only 4's near-dup twin 5 (4 is already
    warehoused, so the intra-batch pair scan never sees the pair). If
    the replay gated BEFORE back-filling 4's signature, 5 would be
    accepted next to 4. It must be rejected."""
    import os

    import etl_procedure_codes_crawler_spark.llm.neardup_store as NSmod

    source = tmp_path / "incoming"
    source.mkdir()
    dirs = {
        "source": str(source),
        "warehouse": str(tmp_path / "wh"),
        "store": str(tmp_path / "store"),
        "checkpoint": str(tmp_path / "ckpt"),
    }
    helper = TestStreamIngestWithNearDup()
    NS.build_minhash_store(spark.createDataFrame([], helper.SCHEMA), dirs["store"])
    helper._drop(
        spark,
        dirs["source"],
        "b1",
        [(4, BASE), (5, BASE.replace("lazy", "sleepy"))],
    )

    real_append = NSmod.append_to_minhash_store
    calls = {"n": 0}

    def exploding_append(*a, **kw):
        calls["n"] += 1
        if calls["n"] >= 2:  # call 2 = signing the accepted docs
            raise RuntimeError("crash after warehouse write, before signing")
        return real_append(*a, **kw)

    monkeypatch.setattr(NSmod, "append_to_minhash_store", exploding_append)
    import pytest as _pytest
    from pyspark.errors import StreamingQueryException

    with _pytest.raises(StreamingQueryException):
        helper._run(spark, dirs)
    # intra-batch collapse kept 4; the crash left it unsigned
    assert {r.doc_id for r in spark.read.parquet(dirs["warehouse"]).collect()} == {4}

    monkeypatch.setattr(NSmod, "append_to_minhash_store", real_append)
    dirs["checkpoint"] = str(tmp_path / "ckpt2")
    helper._run(spark, dirs)

    wh = {r.doc_id for r in spark.read.parquet(dirs["warehouse"]).collect()}
    assert wh == {4}, wh  # the twin must NOT slip in on replay
    sigs = {
        r.id
        for r in spark.read.parquet(
            os.path.join(dirs["store"], "signatures")
        ).collect()
    }
    assert sigs == {4}, sigs


def test_gate_metrics_row_per_batch(spark, tmp_path):
    """Observability: with metrics_path set, every batch appends one
    audit row whose counts reconcile exactly with the gate's
    decisions (accepted + rejected + dropped == fresh)."""
    source = tmp_path / "incoming"
    source.mkdir()
    dirs = {
        "source": str(source),
        "warehouse": str(tmp_path / "wh"),
        "store": str(tmp_path / "store"),
        "checkpoint": str(tmp_path / "ckpt"),
    }
    metrics = str(tmp_path / "metrics")
    helper = TestStreamIngestWithNearDup()
    NS.build_minhash_store(spark.createDataFrame([], helper.SCHEMA), dirs["store"])
    # batch: a near-dup pair (5 dropped intra-batch), one fresh doc
    helper._drop(
        spark,
        dirs["source"],
        "b1",
        [(4, BASE), (5, BASE.replace("lazy", "sleepy")),
         (6, "wholly distinct corpus content nothing shared anywhere")],
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_procedure_codes_crawler_spark.streaming.incremental import (
        stream_ingest_with_neardup,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    q = stream_ingest_with_neardup(
        spark, dirs["source"], schema, dirs["warehouse"], dirs["store"],
        dirs["checkpoint"], threshold=0.5, metrics_path=metrics,
    )
    q.awaitTermination()
    row = spark.read.parquet(metrics).first()
    assert (row.n_input, row.n_rows, row.n_fresh) == (3, 3, 3)
    assert row.n_intra_dropped == 1  # doc 5
    assert row.n_contaminated == 0
    assert row.n_neardup_rejected == 0
    assert row.n_accepted == 2  # docs 4 and 6
    # replay with a fresh checkpoint: second audit row, n_fresh 0
    q = stream_ingest_with_neardup(
        spark, dirs["source"], schema, dirs["warehouse"], dirs["store"],
        str(tmp_path / "ckpt2"), threshold=0.5, metrics_path=metrics,
    )
    q.awaitTermination()
    rows = sorted(spark.read.parquet(metrics).collect(), key=lambda r: r.n_fresh)
    assert len(rows) == 2
    # the replay re-sees doc 5 (it was dropped intra-batch, never
    # warehoused) — its twin 4 is now STORED, so the store gate
    # rejects it this time; the audit trail shows exactly that story
    replay = rows[0]
    assert (replay.n_fresh, replay.n_neardup_rejected, replay.n_accepted) == (
        1, 1, 0,
    )


def test_gate_quality_filter_rejects_before_neardup(spark, tmp_path):
    """With quality_model set, low-margin docs are rejected right
    after the id gate: they never reach the warehouse OR the store
    (no signature is spent on them), and the audit shows them as
    n_quality_rejected with the funnel still reconciling exactly."""
    source = tmp_path / "incoming"
    source.mkdir()
    dirs = {
        "source": str(source),
        "warehouse": str(tmp_path / "wh"),
        "store": str(tmp_path / "store"),
        "checkpoint": str(tmp_path / "ckpt"),
    }
    metrics = str(tmp_path / "metrics")
    helper = TestStreamIngestWithNearDup()
    NS.build_minhash_store(
        spark.createDataFrame([], helper.SCHEMA), dirs["store"]
    )
    helper._drop(
        spark,
        dirs["source"],
        "b1",
        [
            (1, BASE),  # stopword-rich prose: positive margin
            (2, "zzz xyzzy qqq www vvv"),  # no stopwords: rejected
            (3, "wholly distinct corpus content but the words flow"),
            (4, None),  # NULL text: unscorable -> rejected, not passed
        ],
    )
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from etl_procedure_codes_crawler_spark.streaming.incremental import (
        stream_ingest_with_neardup,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    # keep iff any stopword markers appear: margin = 100*stop_ratio - 1
    model = {"bias": -1.0, "stop_ratio": 100.0}
    q = stream_ingest_with_neardup(
        spark, dirs["source"], schema, dirs["warehouse"], dirs["store"],
        dirs["checkpoint"], threshold=0.5, metrics_path=metrics,
        quality_model=model, quality_cutoff=0.0,
    )
    q.awaitTermination()
    row = spark.read.parquet(metrics).first()
    assert (row.n_input, row.n_fresh) == (4, 4)
    assert row.n_quality_rejected == 2  # doc 2 (low margin) + 4 (NULL)
    assert row.n_intra_dropped == 0 and row.n_neardup_rejected == 0
    assert row.n_accepted == 2
    wh = {r.doc_id for r in spark.read.parquet(dirs["warehouse"]).collect()}
    assert wh == {1, 3}
    sigs = {
        r.id
        for r in spark.read.parquet(
            dirs["store"] + "/signatures"
        ).collect()
    }
    assert sigs == {1, 3}  # no signature spent on the rejected doc


def test_gate_metrics_cost_only_the_metric_write(spark, tmp_path):
    """Audit counts ride Observations on the checkpoints the sink
    already executes, so turning metrics ON schedules only the
    metric-row append — never per-count jobs (round 6 ran up to 6
    extra count() jobs per audited batch)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_procedure_codes_crawler_spark.streaming.incremental import (
        stream_ingest_with_neardup,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    helper = TestStreamIngestWithNearDup()
    docs = [(4, BASE), (5, BASE.replace("lazy", "sleepy")),
            (6, "wholly distinct corpus content nothing shared anywhere")]

    def run(tag, metrics_path):
        src = tmp_path / f"in_{tag}"
        src.mkdir()
        NS.build_minhash_store(
            spark.createDataFrame([], helper.SCHEMA), str(tmp_path / f"st_{tag}")
        )
        helper._drop(spark, str(src), "b1", docs)
        dag = spark.sparkContext._jsc.sc().dagScheduler()
        before = dag.nextJobId().get() if hasattr(
            dag.nextJobId(), "get"
        ) else dag.nextJobId()
        q = stream_ingest_with_neardup(
            spark, str(src), schema, str(tmp_path / f"wh_{tag}"),
            str(tmp_path / f"st_{tag}"), str(tmp_path / f"ck_{tag}"),
            threshold=0.5, metrics_path=metrics_path,
        )
        q.awaitTermination()
        after = dag.nextJobId()
        return (after.get() if hasattr(after, "get") else after) - before

    # the measurement diffs GLOBAL job ids, so a stray job from a
    # neighboring test's async teardown landing inside one window
    # inflates it by 1-2 — re-measure once before declaring a
    # regression (observed exactly once in ~10 full-suite runs)
    for attempt in ("a", "b"):
        metrics = str(tmp_path / f"metrics_{attempt}")
        jobs_off = run(f"off{attempt}", None)
        jobs_on = run(f"on{attempt}", metrics)
        if jobs_on - jobs_off <= 2:
            break
    # identical pipeline; the only audit-mode additions are the
    # metric-row append (1-2 jobs). 6 count jobs would blow this.
    assert jobs_on - jobs_off <= 2, (jobs_on, jobs_off)
    # and the audit row still reconciles
    row = spark.read.parquet(metrics).first()
    assert (row.n_input, row.n_accepted, row.n_intra_dropped) == (3, 2, 1)


class TestIncrementalClusterLabels:
    """Round-8 persisted (id, cluster_id) labels: quotient absorb ==
    from-scratch recompute, crash heal via the staleness token, and
    the streaming gate's label mode."""

    def _edges(self, spark, rows):
        return spark.createDataFrame(rows, "doc_a bigint, doc_b bigint")

    def test_incremental_absorb_equals_recompute(self, spark, tmp_path):
        """Edges arriving over three updates (the third MERGES two
        existing clusters — the quotient path that a naive relabel
        gets wrong) must land exactly where a from-scratch components
        run does."""
        import etl_procedure_codes_crawler_spark.llm.neardup_store as NS
        from etl_procedure_codes_crawler_spark.llm.cluster import (
            connected_components,
        )

        store = str(tmp_path / "store")
        batches = [
            [(1, 2), (10, 11)],
            [(20, 21), (2, 3)],
            [(11, 20), (3, 10)],  # chains everything into one cluster
        ]
        for b in batches:
            out = NS.update_cluster_labels(spark, store, self._edges(spark, b))
            assert out["mode"] == "incremental"
        got = {
            (r.id, r.cluster_id)
            for r in NS.read_cluster_labels(spark, store).collect()
        }
        scratch = {
            (r.vertex, r.component)
            for r in connected_components(
                self._edges(spark, [e for b in batches for e in b])
            ).collect()
        }
        assert got == scratch
        assert got == {(i, 1) for i in (1, 2, 3, 10, 11, 20, 21)}

    def test_replayed_edges_are_idempotent(self, spark, tmp_path):
        import etl_procedure_codes_crawler_spark.llm.neardup_store as NS

        store = str(tmp_path / "store")
        e = self._edges(spark, [(5, 6), (6, 7)])
        NS.update_cluster_labels(spark, store, e)
        before = sorted(
            (r.id, r.cluster_id)
            for r in NS.read_cluster_labels(spark, store).collect()
        )
        NS.update_cluster_labels(spark, store, e)  # crash-replay twin
        after = sorted(
            (r.id, r.cluster_id)
            for r in NS.read_cluster_labels(spark, store).collect()
        )
        assert before == after == [(5, 5), (6, 5), (7, 5)]

    def test_stale_token_heals_from_edge_log(self, spark, tmp_path):
        """Simulated crash between the edge append and the label
        write: extra edges in the log without a matching token must
        trigger a full recompute on the next update — and the healed
        labels include the orphaned edges."""
        import etl_procedure_codes_crawler_spark.llm.neardup_store as NS

        store = str(tmp_path / "store")
        NS.update_cluster_labels(spark, store, self._edges(spark, [(1, 2)]))
        # crash simulation: edges appended, labels/token never updated
        self._edges(spark, [(2, 9)]).write.mode("append").parquet(
            NS._edges_path(store)
        )
        out = NS.update_cluster_labels(
            spark, store, self._edges(spark, [(30, 31)])
        )
        assert out["mode"] == "recompute"
        got = {
            (r.id, r.cluster_id)
            for r in NS.read_cluster_labels(spark, store).collect()
        }
        assert got == {(1, 1), (2, 1), (9, 1), (30, 30), (31, 30)}

    def test_store_cluster_labels_covers_singletons(self, spark, tmp_path):
        import etl_procedure_codes_crawler_spark.llm.neardup_store as NS

        store = str(tmp_path / "store")
        docs = _docs(
            spark,
            [(1, "alpha beta gamma delta"), (2, "zz yy xx ww"),
             (3, "unrelated words entirely here")],
        )
        NS.build_minhash_store(docs, store)
        NS.update_cluster_labels(spark, store, self._edges(spark, [(1, 2)]))
        got = {
            (r.id, r.cluster_id)
            for r in NS.store_cluster_labels(spark, store).collect()
        }
        assert got == {(1, 1), (2, 1), (3, 3)}  # 3 is its own singleton


class TestStreamIngestLabelMode:
    # borrow the drop/run helpers without inheriting (subclassing would
    # re-collect and re-run the parent's streaming tests)
    SCHEMA = TestStreamIngestWithNearDup.SCHEMA
    _drop = TestStreamIngestWithNearDup._drop
    _run = TestStreamIngestWithNearDup._run

    def test_label_mode_admits_and_labels_near_dups(self, spark, tmp_path):
        """neardup_action='label': the fuzzy re-crawl that reject mode
        drops is ADMITTED, and the store's persisted cluster labels
        tie it to its stored original — batches N and N+1 both land
        their edges, and survivor selection runs off the store with no
        recompute."""
        import os

        import etl_procedure_codes_crawler_spark.llm.neardup_store as NS

        dirs = {
            "source": str(tmp_path / "in"),
            "warehouse": str(tmp_path / "wh"),
            "store": str(tmp_path / "store"),
            "checkpoint": str(tmp_path / "ck"),
        }
        os.makedirs(dirs["source"])
        base = _docs(
            spark,
            [(1, "the quick brown fox jumps over the lazy dog today")],
        )
        NS.build_minhash_store(base, dirs["store"])
        base.write.mode("overwrite").parquet(dirs["warehouse"])
        # batch 1: a fuzzy re-crawl of doc 1 + an unrelated doc
        self._drop(
            spark, dirs["source"], "b1",
            [(11, "the quick brown fox jumps over the lazy dog"),
             (50, "completely different content with other words")],
        )
        self._run(spark, dirs, neardup_action="label")
        got1 = sorted(
            r.doc_id
            for r in spark.read.parquet(dirs["warehouse"]).collect()
        )
        assert got1 == [1, 11, 50]  # near-dup ADMITTED
        # batch 2: a fuzzy re-crawl of the re-crawl
        self._drop(
            spark, dirs["source"], "b2",
            [(12, "the quick brown fox jumps over the lazy dog again")],
        )
        self._run(spark, dirs, neardup_action="label")
        labels = {
            (r.id, r.cluster_id)
            for r in NS.store_cluster_labels(spark, dirs["store"]).collect()
        }
        assert (1, 1) in labels and (11, 1) in labels and (12, 1) in labels
        assert (50, 50) in labels
        # survivor selection straight off the persisted labels
        from pyspark.sql import functions as F

        from etl_procedure_codes_crawler_spark.llm.cluster import (
            keep_best_in_cluster,
        )
        from etl_procedure_codes_crawler_spark.llm.text import token_count

        corpus = spark.read.parquet(dirs["warehouse"])
        survivors = keep_best_in_cluster(
            NS.store_cluster_labels(spark, dirs["store"]).select(
                F.col("id").alias("doc_id"), "cluster_id"
            ),
            corpus.select("doc_id", token_count("text").alias("score")),
        ).filter("keep")
        assert sorted(r.doc_id for r in survivors.collect()) == [1, 50]


def test_within_store_pairs_use_persisted_buckets(spark, tmp_path):
    """near_dup_pairs_within_store: twins pair at est 1.0 off the
    PERSISTED signatures (no re-signing), unrelated docs do not, and
    the pair set feeds update_cluster_labels directly."""
    import etl_procedure_codes_crawler_spark.llm.neardup_store as NS

    store = str(tmp_path / "store")
    docs = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # twin
            (3, "completely different content with other words"),
        ],
    )
    NS.build_minhash_store(docs, store)
    pairs = NS.near_dup_pairs_within_store(spark, store, threshold=0.9)
    got = {(r.doc_a, r.doc_b, r.est_jaccard) for r in pairs.collect()}
    assert got == {(1, 2, 1.0)}
    NS.update_cluster_labels(spark, store, pairs.select("doc_a", "doc_b"))
    labels = {
        (r.id, r.cluster_id)
        for r in NS.store_cluster_labels(spark, store).collect()
    }
    assert labels == {(1, 1), (2, 1), (3, 3)}
