"""The shared store lifecycle (llm/store.py): job-free JSON meta,
version refusal, replace, absent meta, and the id-keyed append."""

from __future__ import annotations

import pytest

from etl_procedure_codes_crawler_spark.llm import kmv as KV
from etl_procedure_codes_crawler_spark.llm import passagefreq as PF
from etl_procedure_codes_crawler_spark.llm import store as ST

#: (create, load meta, the store's version error, a version it refuses)
STORES = {
    "kmv": (
        lambda spark, p: KV.create_kmv_store(spark, p, k=8, shingle_k=2),
        lambda spark, p: ST.read_meta(spark, p, KV._KMV_VERSIONS),
        ST.StoreVersionError,
        2,
    ),
    "passagefreq": (
        lambda spark, p: PF.create_passage_freq_store(spark, p, block=4),
        PF.load_passage_freq_meta,
        PF.PassageFreqStoreVersionError,
        1,
    ),
}


@pytest.mark.parametrize("kind", sorted(STORES))
def test_create_and_meta_reads_run_no_spark_job(spark, tmp_path, kind):
    create, load, _, _ = STORES[kind]
    path = str(tmp_path / kind)
    sc = spark.sparkContext
    group = f"store-meta-{kind}"
    sc.setJobGroup(group, "store meta")
    try:
        meta = create(spark, path)
        assert load(spark, path) == meta
        assert load(spark, path) == meta
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize("kind", sorted(STORES))
def test_refused_version_raises_the_store_error(spark, tmp_path, kind):
    create, load, error, refused = STORES[kind]
    path = str(tmp_path / kind)
    meta = create(spark, path)
    ST.write_meta(spark, path, {**meta, "version": refused})
    with pytest.raises(error, match=f"version {refused}"):
        load(spark, path)
    assert issubclass(error, ST.StoreVersionError)


@pytest.mark.parametrize("kind", sorted(STORES))
def test_replacing_meta_keeps_the_last_value(spark, tmp_path, kind):
    create, load, _, _ = STORES[kind]
    path = str(tmp_path / kind)
    meta = create(spark, path)
    ST.write_meta(spark, path, {**meta, "note": "first"})
    ST.write_meta(spark, path, {**meta, "note": "second"})
    assert load(spark, path) == {**meta, "note": "second"}
    assert sorted(p.name for p in (tmp_path / kind).iterdir()
                  if not p.name.startswith(".")) == [ST.META]


@pytest.mark.parametrize("kind", sorted(STORES))
def test_missing_meta_is_absent(spark, tmp_path, kind):
    _, load, _, _ = STORES[kind]
    path = str(tmp_path / kind)
    with pytest.raises(FileNotFoundError, match="no store meta"):
        load(spark, path)
    token = ST.read_meta(
        spark, path, name="cluster_meta.json", default={"n_edges": 0}
    )
    assert token == {"n_edges": 0}


def test_reoffered_rows_append_nothing(spark, tmp_path):
    part = str(tmp_path / "part")
    rows = spark.createDataFrame(
        [(1, "a"), (1, "a"), (None, "b"), (2, "c")], "id bigint, v string"
    )
    assert ST.append_new_ids(spark, part, rows) == 2
    assert ST.append_new_ids(spark, part, rows) == 0
    got = sorted(tuple(r) for r in spark.read.parquet(part).collect())
    assert got == [(1, "a"), (2, "c")]
