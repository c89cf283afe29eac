#!/usr/bin/env python
"""Measure the checkpoint/resume path: cold run (every stage computed +
committed to the stage store as Parquet plus a manifest) vs resumed run
(every stage served from its committed snapshot; only the final
cluster-attach join and sinks execute).

This is the north rule's "resumes from its last committed snapshot"
contract as a throughput number: at 10^12 docs a restarted job must pay
for the remaining work, not the finished work.

Prints one JSON line:
  {"cold_sec": ..., "resumed_sec": ..., "speedup": ...,
   "resumed_stages": [...], "corpus_docs": N}

Env: SPARK_GRAFT_RESUME_DOCS (default 20000), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas  # noqa: F401

from pyspark.sql import functions as F


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 32))
    n_docs = int(os.environ.get("SPARK_GRAFT_RESUME_DOCS", 20000))

    from entity_linking_in_biomedical_spark.plans.pipeline import run_pipeline
    from entity_linking_in_biomedical_spark.session import get_spark
    from entity_linking_in_biomedical_spark.sources.synthetic import synth_corpus

    spark = get_spark("el-resume-bench", master=f"local[{cpus}]")
    corpus = synth_corpus(n_docs=n_docs, n_entities=max(100, n_docs // 4), seed=42)
    docs, ents, _, abbr, _ = corpus.to_spark(spark)
    emb = corpus.embeddings_df(spark)
    docs = docs.repartition(cpus).localCheckpoint(eager=True)
    ents = ents.localCheckpoint(eager=True)
    emb = emb.localCheckpoint(eager=True)

    # warm executor pool + codegen cache (identical to bench.py)
    @F.pandas_udf("long")
    def _warm(x: pandas.Series) -> pandas.Series:
        return x

    spark.range(cpus * 10000, numPartitions=cpus).select(
        F.sum(_warm(F.col("id")))
    ).collect()
    warm_docs = docs.limit(2000).repartition(cpus).localCheckpoint(eager=True)
    force(
        run_pipeline(spark, warm_docs, ents, embeddings=emb, abbr_map=abbr)[
            "linked_documents"
        ]
    )

    out_dir = os.path.join(tempfile.gettempdir(), f"resume_bench_{os.getpid()}")
    shutil.rmtree(out_dir, ignore_errors=True)
    try:
        t0 = time.time()
        res = run_pipeline(
            spark, docs, ents, embeddings=emb, abbr_map=abbr, out_dir=out_dir
        )
        force(res["linked_documents"])
        cold = time.time() - t0

        t0 = time.time()
        res2 = run_pipeline(
            spark, docs, ents, embeddings=emb, abbr_map=abbr, out_dir=out_dir
        )
        force(res2["linked_documents"])
        resumed = time.time() - t0
        resumed_stages = [
            m["stage"] for m in res2["metrics"] if m.get("resumed")
        ]
        print(
            json.dumps(
                {
                    "cold_sec": round(cold, 2),
                    "resumed_sec": round(resumed, 2),
                    "speedup": round(cold / resumed, 2),
                    "resumed_stages": resumed_stages,
                    "corpus_docs": n_docs,
                    "cpus": cpus,
                }
            )
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
