"""Bloom membership store (llm/bloom.py): no false negatives, bounded
false positives, OR-mergeable, shuffle-free probe."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_procedure_codes_crawler_spark.llm import bloom as B


def _ids(spark, lo, hi, col="fp"):
    return spark.range(lo, hi).select(
        F.concat(F.lit("item-"), F.col("id")).alias(col)
    )


def test_parameters_standard_sizing():
    m, k = B.bloom_parameters(1000, 0.01)
    assert m % 64 == 0
    assert 9000 <= m <= 9664  # ~9.585 bits/key at 1%
    assert k == 7
    with pytest.raises(ValueError):
        B.bloom_parameters(0, 0.01)
    with pytest.raises(ValueError):
        B.bloom_parameters(10, 1.5)


def test_no_false_negatives(spark):
    inserted = _ids(spark, 0, 2000)
    m, k = B.bloom_parameters(2000, 0.01)
    bloom = B.build_bloom(inserted, "fp", m, k).localCheckpoint(eager=True)
    probed = B.probe_bloom(inserted, "fp", bloom, m, k)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_false_positive_rate_bounded(spark):
    inserted = _ids(spark, 0, 2000)
    fresh = _ids(spark, 1_000_000, 1_010_000)
    m, k = B.bloom_parameters(2000, 0.01)
    bloom = B.build_bloom(inserted, "fp", m, k).localCheckpoint(eager=True)
    fp = B.probe_bloom(fresh, "fp", bloom, m, k).filter("maybe_seen").count()
    # 1% design point; allow 3x slack for hash variance on 10k probes
    assert fp / 10_000 < 0.03, fp


def test_merge_equals_single_build(spark):
    a, b = _ids(spark, 0, 500), _ids(spark, 500, 1000)
    both = _ids(spark, 0, 1000)
    m, k = B.bloom_parameters(1000, 0.01)
    merged = B.merge_blooms(
        B.build_bloom(a, "fp", m, k), B.build_bloom(b, "fp", m, k)
    )
    single = B.build_bloom(both, "fp", m, k)
    assert merged.exceptAll(single).count() == 0
    assert single.exceptAll(merged).count() == 0


def test_null_values_skipped_and_probe_false(spark):
    df = spark.createDataFrame([("a",), (None,)], "fp string")
    m, k = B.bloom_parameters(10, 0.01)
    bloom = B.build_bloom(df, "fp", m, k).localCheckpoint(eager=True)
    out = {r.fp: r.maybe_seen for r in B.probe_bloom(df, "fp", bloom, m, k).collect()}
    assert out["a"] is True and out[None] is False


def test_probe_plan_never_shuffles_the_corpus(spark):
    inserted = _ids(spark, 0, 100)
    m, k = B.bloom_parameters(100, 0.01)
    bloom = B.build_bloom(inserted, "fp", m, k).localCheckpoint(eager=True)
    plan = (
        B.probe_bloom(inserted, "fp", bloom, m, k)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("BroadcastHashJoin") == k


class TestBloomStore:
    def test_roundtrip_and_replay_idempotent(self, spark, tmp_path):
        path = str(tmp_path / "bloom")
        B.create_bloom_store(spark, path, n_items=1000, fpr=0.01)
        meta = B.load_bloom_meta(spark, path)
        items = _ids(spark, 0, 300)
        B.append_to_bloom_store(spark, path, items, "fp")
        # replayed segment append changes the folded filter not at all
        before = {
            r.word_idx: r.bits
            for r in B.read_bloom_store(spark, path).collect()
        }
        B.append_to_bloom_store(spark, path, items, "fp")
        after = {
            r.word_idx: r.bits
            for r in B.read_bloom_store(spark, path).collect()
        }
        assert before == after
        flt = B.read_bloom_store(spark, path)
        probed = B.probe_bloom(items, "fp", flt, meta["m_bits"], meta["k"])
        assert probed.filter(~F.col("maybe_seen")).count() == 0

    def test_empty_store_probes_all_new(self, spark, tmp_path):
        path = str(tmp_path / "bloom")
        meta = B.create_bloom_store(spark, path, n_items=100)
        flt = B.read_bloom_store(spark, path)
        probed = B.probe_bloom(
            _ids(spark, 0, 50), "fp", flt, meta["m_bits"], meta["k"]
        )
        assert probed.filter("maybe_seen").count() == 0

    def test_seeded_store_covers_warehouse(self, spark, tmp_path):
        path = str(tmp_path / "bloom")
        seed = _ids(spark, 0, 200)
        meta = B.create_bloom_store(
            spark, path, n_items=1000, seed_df=seed, col="fp"
        )
        flt = B.read_bloom_store(spark, path)
        probed = B.probe_bloom(seed, "fp", flt, meta["m_bits"], meta["k"])
        assert probed.filter(~F.col("maybe_seen")).count() == 0

    def test_compaction_preserves_filter(self, spark, tmp_path):
        path = str(tmp_path / "bloom")
        B.create_bloom_store(spark, path, n_items=500)
        for lo in (0, 100, 200):
            B.append_to_bloom_store(
                spark, path, _ids(spark, lo, lo + 100), "fp"
            )
        before = {
            r.word_idx: r.bits
            for r in B.read_bloom_store(spark, path).collect()
        }
        n = B.compact_bloom_store(spark, path)
        after = {
            r.word_idx: r.bits
            for r in B.read_bloom_store(spark, path).collect()
        }
        assert after == before and n == len(before)
        import glob

        files = glob.glob(str(tmp_path / "bloom" / "segments" / "*.parquet"))
        assert len(files) == 1

    def test_version1_store_refused(self, spark, tmp_path):
        """A store persisted under the version-1 probe scheme (zero-step
        double hash) must be refused: probing its bit array with the
        version-2 nonzero step yields false negatives, which would let
        the definitely-new fast path re-append warehouse keys."""
        from etl_procedure_codes_crawler_spark.llm.store import write_meta

        path = str(tmp_path / "bloom")
        B.create_bloom_store(spark, path, n_items=100)
        stale = {"m_bits": 1024, "k": 7, "fpr": 0.01, "version": 1}
        write_meta(spark, path, stale)
        with pytest.raises(B.BloomStoreVersionError, match="version 1"):
            B.load_bloom_meta(spark, path)
        # rebuild (create over the same path) heals it
        meta = B.create_bloom_store(spark, path, n_items=100)
        assert B.load_bloom_meta(spark, path) == meta == {
            "m_bits": meta["m_bits"], "k": meta["k"],
            "fpr": 0.01, "version": 2,
        }
