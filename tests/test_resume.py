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
from entity_linking_in_biomedical_spark.sources.bucketed import write_bucketed


def clusters(res) -> dict:
    return {
        (r["doc_id"], r["span_seq"]): r["cluster_id"]
        for r in res["mention_clusters"].collect()
    }


def next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def parquet_files(path) -> set[str]:
    return {n for n in os.listdir(path) if n.endswith(".parquet")}


def num_buckets(spark, table: str) -> int:
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    return int(next(r["data_type"] for r in rows if r["col_name"] == "Num Buckets"))


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
    """The manifest's row counts come from the written Parquet footers:
    a bucketed commit submits exactly the jobs of a bare
    ``write_bucketed`` of the same frame, and the store buckets at the
    session's shuffle width."""
    store = StageStore(spark, str(tmp_path / "store"))
    assert store.n_buckets == int(spark.conf.get("spark.sql.shuffle.partitions"))
    df = spark.range(0, 300).select(
        F.concat(F.lit("s"), F.col("id")).alias("norm"), (F.col("id") % 7).alias("v")
    )

    bare_tbl = store._catalog_table("bare")
    before = next_job_id(spark)
    write_bucketed(
        df, bare_tbl, ["norm"], n_buckets=store.n_buckets, path=str(tmp_path / "bare")
    )
    bare_jobs = next_job_id(spark) - before
    spark.sql(f"drop table if exists {bare_tbl}")

    sig = stage_signature("s1", {"p": 1}, [])
    before = next_job_id(spark)
    out = store.commit("s1", sig, df, bucket_by=["norm"])
    assert next_job_id(spark) - before == bare_jobs

    m = json.load(open(tmp_path / "store" / "s1" / "_MANIFEST.json"))
    assert m["rows"] == out.count() == 300
    assert len(m["partition_rows"]) == len(parquet_files(tmp_path / "store" / "s1" / "data"))
    assert all(0 <= int(b) < store.n_buckets for b in m["partition_rows"])
    assert m["bucket"]["n_buckets"] == store.n_buckets


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
    """A run committed at one shuffle width resumes at another: the
    output is identical, reloaded stages keep the bucket count their
    manifest records (also when the catalog lost the table), and the
    recomputed stages commit at the new width."""
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
        store = StageStore(spark, out_dir)
        for stage in ("mentions", "candidates"):
            spark.sql(f"drop table if exists {store._catalog_table(stage)}")
            store.load(stage)  # re-attached from the manifest at width 4
    finally:
        spark.conf.set(key, prev)

    assert c1 == c2
    resumed = {m["stage"] for m in r2["metrics"] if m.get("resumed")}
    assert resumed == {"mentions", "candidates"}

    def manifest_buckets(stage: str) -> int:
        with open(os.path.join(out_dir, stage, "_MANIFEST.json")) as f:
            return json.load(f)["bucket"]["n_buckets"]

    for stage in ("mentions", "candidates"):
        assert manifest_buckets(stage) == 8
        assert num_buckets(spark, store._catalog_table(stage)) == 8
    for stage in ("me_scores", "mm_scores"):
        assert manifest_buckets(stage) == 4
        assert num_buckets(spark, store._catalog_table(stage)) == 4


def test_pipeline_stage_snapshots_join_exchange_free(spark, corpus, tmp_path):
    """The stage sinks bucket on the re-join key: a resumed run joins
    the committed ``candidates``/``mentions`` snapshots on ``norm`` with
    NO Exchange on either side — the write-time shuffle amortized."""
    from entity_linking_in_biomedical_spark.sources.bucketed import (
        join_is_exchange_free,
    )

    docs, ents, _, abbr, _ = corpus.to_spark(spark)
    out_dir = str(tmp_path / "run")
    run_pipeline(spark, docs, ents, abbr_map=abbr, out_dir=out_dir)

    store = StageStore(spark, out_dir)
    cands = store.load("candidates")
    mentions_by_norm = store.load("mentions")
    assert join_is_exchange_free(cands, mentions_by_norm, ["norm"])

    # the manifest carries the layout for fresh-session re-registration
    m = json.load(open(os.path.join(out_dir, "candidates", "_MANIFEST.json")))
    assert m["bucket"]["keys"] == ["norm"]
    assert m["bucket"]["n_buckets"] == store.n_buckets

    # fresh-catalog path: drop the catalog entries (files are external →
    # survive), reload — register_bucketed re-attaches the layout from
    # the manifest DDL and the join still plans shuffle-free
    for stage in ("candidates", "mentions"):
        spark.sql(f"drop table if exists {store._catalog_table(stage)}")
    assert join_is_exchange_free(
        store.load("candidates"), store.load("mentions"), ["norm"]
    )

    # windowed top-k over the bucketed me_scores needs no Exchange either
    # (the assignments stage's per-surface argmax on a resumed run)
    from pyspark.sql import Window

    me = store.load("me_scores")
    w = Window.partitionBy("a_norm").orderBy(F.desc("score"))
    plan = (
        me.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_config_change_invalidates(spark, corpus, tmp_path):
    from entity_linking_in_biomedical_spark.plans.pipeline import PipelineConfig
    from entity_linking_in_biomedical_spark.operators.scoring import ScoringConfig

    docs, ents, _, abbr, _ = corpus.to_spark(spark)
    out_dir = str(tmp_path / "run")
    run_pipeline(spark, docs, ents, abbr_map=abbr, out_dir=out_dir)
    r = run_pipeline(
        spark,
        docs,
        ents,
        abbr_map=abbr,
        out_dir=out_dir,
        cfg=PipelineConfig(scoring=ScoringConfig(threshold=0.6)),
    )
    # different params -> different signatures -> nothing resumed
    assert not any(m.get("resumed") for m in r["metrics"])
