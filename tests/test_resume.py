"""Resumability: per-stage manifests skip committed stages; a killed
stage recomputes; final output identical."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from entity_linking_in_biomedical_spark.plans.pipeline import run_pipeline
from entity_linking_in_biomedical_spark.plans.resume import StageStore, stage_signature


def clusters(res) -> dict:
    return {
        (r["doc_id"], r["span_seq"]): r["cluster_id"]
        for r in res["mention_clusters"].collect()
    }


def next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def parquet_files(path) -> set[str]:
    return {n for n in os.listdir(path) if n.endswith(".parquet")}


def test_stage_store_roundtrip(spark, tmp_path):
    store = StageStore(spark, str(tmp_path))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    sig = stage_signature("s1", {"p": 1}, [])
    out = store.commit("s1", sig, df)
    assert out.count() == 2
    assert store.committed("s1", sig)
    assert not store.committed("s1", stage_signature("s1", {"p": 2}, []))
    m = json.load(open(tmp_path / "s1" / "_MANIFEST.json"))
    assert m["rows"] == 2 and sum(m["partition_rows"].values()) == 2
    # a plain stage keys its footer counts by file
    assert set(m["partition_rows"]) == parquet_files(tmp_path / "s1" / "data")


def test_commit_submits_no_job_beyond_its_write(spark, tmp_path):
    """The manifest's row counts come from the written Parquet footers
    and the snapshot is re-read with the frame's own schema: a commit
    submits exactly the jobs of a bare ``df.write.parquet`` of the same
    frame, and loading the committed stage (with the schema the manifest
    records) submits none."""
    store = StageStore(spark, str(tmp_path / "store"))
    df = spark.range(0, 300).select(
        F.concat(F.lit("s"), F.col("id")).alias("norm"), (F.col("id") % 7).alias("v")
    )

    before = next_job_id(spark)
    df.write.parquet(str(tmp_path / "bare"))
    bare_jobs = next_job_id(spark) - before

    sig = stage_signature("s1", {"p": 1}, [])
    before = next_job_id(spark)
    out = store.commit("s1", sig, df)
    assert next_job_id(spark) - before == bare_jobs

    before = next_job_id(spark)
    loaded = store.load("s1")
    assert next_job_id(spark) == before
    assert loaded.schema == out.schema

    m = json.load(open(tmp_path / "store" / "s1" / "_MANIFEST.json"))
    assert m["rows"] == out.count() == loaded.count() == 300
    assert set(m["partition_rows"]) == parquet_files(tmp_path / "store" / "s1" / "data")


def test_corrupt_manifest_treated_as_uncommitted(spark, tmp_path):
    """A truncated/corrupt _MANIFEST.json (external tampering, partial
    copy of a user-supplied out_dir) must read as NOT committed — the
    stage recomputes instead of the pipeline crashing — and load() must
    degrade to a plain parquet read of whatever data exists."""
    store = StageStore(spark, str(tmp_path))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    sig = stage_signature("s1", {"p": 1}, [])
    store.commit("s1", sig, df)
    assert store.committed("s1", sig)

    mpath = tmp_path / "s1" / "_MANIFEST.json"
    mpath.write_text('{"signature": "tru')  # truncated mid-write
    assert not store.committed("s1", sig)
    assert store.load("s1").count() == 2  # data files still readable


def test_stage_store_rejects_uri_out_dir(spark, corpus, tmp_path):
    """The store reads manifests and footers through the local
    filesystem, so a ``scheme://`` out_dir is refused before any job
    runs instead of failing after the first stage write."""
    docs, ents, _, _, _ = corpus.to_spark(spark)
    for uri in ("iceberg://local.el_stages", f"file://{tmp_path}/stages"):
        before = next_job_id(spark)
        with pytest.raises(ValueError, match="filesystem path"):
            run_pipeline(spark, docs, ents, out_dir=uri)
        assert next_job_id(spark) == before
    assert not os.path.exists(tmp_path / "stages")


def test_pipeline_resume_identical_and_skips(spark, corpus, tmp_path):
    docs, ents, _, abbr, _ = corpus.to_spark(spark)
    emb = corpus.embeddings_df(spark)
    out_dir = str(tmp_path / "run")

    r1 = run_pipeline(spark, docs, ents, embeddings=emb, abbr_map=abbr, out_dir=out_dir)
    c1 = clusters(r1)
    # simulate a crash after stage-2 commit: wipe downstream stages
    for stage in ("me_scores", "mm_scores", "assignments"):
        shutil.rmtree(os.path.join(out_dir, stage), ignore_errors=True)

    r2 = run_pipeline(spark, docs, ents, embeddings=emb, abbr_map=abbr, out_dir=out_dir)
    c2 = clusters(r2)
    assert c1 == c2
    resumed = [m["stage"] for m in r2["metrics"] if m.get("resumed")]
    assert "mentions" in resumed and "candidates" in resumed
    recomputed = [m["stage"] for m in r2["metrics"] if not m.get("resumed")]
    assert "me_scores" in recomputed and "assignments" in recomputed


def test_resume_across_shuffle_widths(spark, corpus, tmp_path):
    """A run committed at one shuffle width resumes at another with
    identical output, serving the stages it kept from their snapshots."""
    docs, ents, _, abbr, _ = corpus.to_spark(spark)
    emb = corpus.embeddings_df(spark)
    out_dir = str(tmp_path / "run")
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "8")
        c1 = clusters(
            run_pipeline(spark, docs, ents, embeddings=emb, abbr_map=abbr, out_dir=out_dir)
        )
        for stage in ("me_scores", "mm_scores", "assignments"):
            shutil.rmtree(os.path.join(out_dir, stage), ignore_errors=True)

        spark.conf.set(key, "4")
        r2 = run_pipeline(spark, docs, ents, embeddings=emb, abbr_map=abbr, out_dir=out_dir)
        c2 = clusters(r2)
    finally:
        spark.conf.set(key, prev)

    assert c1 == c2
    resumed = {m["stage"] for m in r2["metrics"] if m.get("resumed")}
    assert resumed == {"mentions", "candidates"}


def test_pipeline_registers_no_catalog_table(spark, corpus, tmp_path):
    """Stage snapshots are plain Parquet under out_dir: a committed and
    a resumed run leave no ``el_stage_*`` table in the session catalog
    (under a Hive catalog that would be the shared metastore)."""
    docs, ents, _, abbr, _ = corpus.to_spark(spark)
    out_dir = str(tmp_path / "run")
    for _ in range(2):
        res = run_pipeline(spark, docs, ents, abbr_map=abbr, out_dir=out_dir)
        clusters(res)
    assert {m["stage"] for m in res["metrics"] if m.get("resumed")} == {
        "mentions", "candidates", "me_scores", "mm_scores", "assignments"
    }
    tables = [t.name for t in spark.catalog.listTables()]
    assert not [t for t in tables if t.startswith("el_stage_")], tables


def test_input_change_invalidates(spark, corpus, tmp_path):
    """Stage signatures cover the inputs: re-running into the same
    out_dir with a different entities frame resumes nothing."""
    docs, ents, _, abbr, _ = corpus.to_spark(spark)
    out_dir = str(tmp_path / "run")
    run_pipeline(spark, docs, ents, abbr_map=abbr, out_dir=out_dir)
    fewer = ents.filter(F.col("cui") != ents.first()["cui"])
    r = run_pipeline(spark, docs, fewer, abbr_map=abbr, out_dir=out_dir)
    assert not any(m.get("resumed") for m in r["metrics"])
