"""Iceberg StageStore backend: factory routing + graceful degradation.

The sandbox image ships no iceberg-spark-runtime jar, so the full
write/commit/resume path is exercised only when the runtime is present
(skipif) — what ALWAYS runs is the contract around it: the factory
routes specs correctly, and an iceberg:// request without the runtime
fails loudly instead of silently falling back to Parquet.

Offline-vendoring note (checked 2026-08-17): the jar cannot be
obtained in this sandbox — no copy exists anywhere on the image
(``find / -name '*iceberg*'`` returns only this repo's files) and the
network is unreachable (DNS resolution to repo1.maven.org fails,
curl exit 6), so ``spark.jars.packages``/offline-install are both
impossible. The two runtime-conditional tests below therefore skip
here by design; on any host with the jar on the classpath they run
the full snapshot commit/read-back path unchanged.
"""

import pytest

from entity_linking_in_biomedical_spark.plans.resume import (
    IcebergStageStore,
    StageStore,
    make_stage_store,
    stage_signature,
)


def test_factory_none_and_path(spark, tmp_path):
    s0 = make_stage_store(spark, None)
    assert type(s0) is StageStore and s0.out_dir is None
    s1 = make_stage_store(spark, str(tmp_path / "stages"))
    assert type(s1) is StageStore and s1.out_dir is not None


def test_factory_iceberg_without_runtime_raises(spark):
    if IcebergStageStore.available(spark):
        pytest.skip("iceberg runtime present; covered by the e2e test")
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        make_stage_store(spark, "iceberg://local.el_stages")


def test_iceberg_store_requires_configured_catalog(spark):
    if not IcebergStageStore.available(spark):
        pytest.skip("iceberg runtime absent")
    with pytest.raises(RuntimeError, match="no catalog"):
        IcebergStageStore(spark, "nosuchcatalog.ns")


def test_iceberg_commit_resume_roundtrip(spark, tmp_path):
    if not IcebergStageStore.available(spark):
        pytest.skip("iceberg runtime absent")
    cat = spark.conf.get("spark.sql.catalog.local", None)
    if cat is None:
        pytest.skip("no 'local' iceberg catalog configured on this session")
    store = make_stage_store(spark, "iceberg://local.el_stages")
    sig = stage_signature("s1", {"k": 1}, [])
    df = spark.range(10).withColumnRenamed("id", "x")
    assert not store.committed("s1", sig)
    out = store.commit("s1", sig, df)
    assert out.count() == 10
    assert store.committed("s1", sig)
    # changed signature -> not committed -> recompute path
    sig2 = stage_signature("s1", {"k": 2}, [])
    assert not store.committed("s1", sig2)
    assert store.load("s1").count() == 10
