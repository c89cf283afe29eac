"""The benchmark's workloads: inputs made from the seed, staging into a
session, one timed job, the output checks, and the counts the traced run
reports.

Every workload calls a public entry point of the engine and nothing
else inside its timed segments; the checks and counts run untimed.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, functions as F

from entity_linking_in_biomedical_spark.plans.pipeline import PipelineConfig, run_pipeline
from entity_linking_in_biomedical_spark.plans.preprocess import pubtator_to_context
from entity_linking_in_biomedical_spark.sources.synthetic import synth_corpus, synth_pubtator_lines

from quality import mention_f1, pairwise_f1

CFG = PipelineConfig()


def force(df: DataFrame) -> None:
    """Execute a DataFrame to a noop sink (no driver collect)."""
    df.write.format("noop").mode("overwrite").save()


class NullTracer:
    def span(self, name: str):
        return contextlib.nullcontext()


@dataclass
class Iteration:
    """One timed iteration: its timed segments (epoch seconds) and
    whatever the checks and counts need afterwards."""

    segments: list[tuple[float, float]] = field(default_factory=list)
    result: dict | None = None
    extra: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return sum(b - a for a, b in self.segments)

    @contextlib.contextmanager
    def timed(self, tracer, phase: str):
        """A timed segment, traced as a root span named after its phase."""
        t0 = time.time()
        with tracer.span(phase):
            yield
        self.segments.append((t0, time.time()))


def _stage_corpus(spark, corpus):
    """Corpus -> in-memory Spark inputs (local relations), so generation
    and the transfer to the JVM are not timed."""
    docs, ents, _, abbr, _ = corpus.to_spark(spark)
    return docs, ents, abbr, corpus.embeddings_df(spark)


def _span_seq(df: DataFrame) -> DataFrame:
    return df.select(
        "doc_id",
        F.transform("spans", lambda s: F.struct(s["kind"], s["text"], s["media_ref"])).alias("sq"),
    )


def _rows(df: DataFrame) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def check_er(res: dict, docs: DataFrame) -> tuple[list[tuple], list[str]]:
    """The ER output checks. Returns the sorted mention_clusters rows
    (doc_id, span_seq, surface, norm, cluster_id) and the failed checks."""
    problems = []
    rows = _rows(res["mention_clusters"])
    if len({r[:2] for r in rows}) != len(rows):
        problems.append("a mention is in more than one cluster")
    if any(r[4] is None for r in rows):
        problems.append("a surviving mention has no cluster")
    out = res["linked_documents"]
    if _span_seq(out).exceptAll(_span_seq(docs)).count() or out.count() != docs.count():
        problems.append("linked_documents changed a document's span sequence")
    return rows, problems


def er_counts(res: dict) -> dict:
    """Work and outcome counts of one ER result (untimed, traced run)."""
    tau = CFG.scoring.threshold
    cands, me, mm = res["candidates"], res["me_scores"], res["mm_scores"]
    n_cands = cands.count()
    me_pairs, mm_pairs = me.count(), mm.count()
    linked = me.filter(F.col("score") >= tau).select("a_norm").distinct().count()
    clusters = res["assignments"].groupBy(
        F.col("cluster_id").startswith("e|").alias("pinned")
    ).agg(F.countDistinct("cluster_id").alias("n")).collect()
    by_pin = {r["pinned"]: r["n"] for r in clusters}
    return {
        "mentions.rows": res["mentions"].count(),
        "mentions.surfaces": res["mentions"].select("norm").distinct().count(),
        "candidates.key_rows": res["surface_keys"].count(),
        "candidates.rows": n_cands,
        "candidates.max_block": cands.groupBy("block_key").count().agg(F.max("count")).first()[0] or 0,
        "candidates.link_yield": linked / n_cands if n_cands else 0.0,
        "idf_fit.vocab": len(res["idf"]),
        "me_scores.pairs": me_pairs,
        "me_scores.match_ratio": me.filter(F.col("score") >= tau).count() / me_pairs if me_pairs else 0.0,
        "mm_scores.pairs": mm_pairs,
        "mm_scores.match_ratio": (
            mm.filter(F.col("score") >= CFG.mm_threshold).count() / mm_pairs if mm_pairs else 0.0
        ),
        "assignments.cc_rounds": res["cc_iterations"],
        "assignments.clusters": sum(by_pin.values()),
        "assignments.nil_clusters": by_pin.get(False, 0),
    }


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _source_digest(*files: str) -> str:
    """Digest of the engine's sources and ``files``."""
    import entity_linking_in_biomedical_spark as pkg

    h = hashlib.sha256()
    for f in sorted(Path(pkg.__file__).parent.rglob("*.py")) + [Path(f) for f in files]:
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


class ErResume:
    """The resumable ER job, in two timed phases:

    - ``cold``: run_pipeline over the corpus, every stage committed to a
      fresh bucketed Parquet store;
    - ``resumed``: the identical run, which reads every stage back.

    The job is the first one in its session, as it is in a CLI run."""

    name = "er_resume"
    n_docs, n_entities = 800, 200

    def __init__(self, seed: int, work: str):
        self.work = work
        self.corpus = synth_corpus(n_docs=self.n_docs, n_entities=self.n_entities, seed=seed)
        self.gold = {(l["doc_id"], l["span_seq"]): l["cluster_id"] for l in self.corpus.labels}
        self.timed_docs = self.n_docs
        self._runs = 0

    def stage(self, spark) -> None:
        self.docs, self.ents, self.abbr, self.emb = _stage_corpus(spark, self.corpus)

    def verify(self, spark) -> None:
        """The golden check, untimed after the first job, once per engine
        source: the frozen 60-doc corpus must reproduce er_golden.ROWS. A
        passed check leaves a marker file beside the work directory."""
        import er_golden

        marker = Path(self.work).parent / f"golden-{_source_digest(er_golden.__file__)}.ok"
        if marker.exists():
            return
        corpus = synth_corpus(n_docs=er_golden.N_DOCS, n_entities=er_golden.N_ENTITIES, seed=er_golden.SEED)
        docs, ents, _, abbr, _ = corpus.to_spark(spark)
        res = run_pipeline(spark, docs, ents, embeddings=corpus.embeddings_df(spark), abbr_map=abbr)
        if _rows(res["mention_clusters"]) != sorted(er_golden.ROWS):
            raise AssertionError("golden check failed: the 60-doc corpus no longer reproduces er_golden.ROWS")
        marker.touch()

    def _link(self, spark, out_dir: str) -> dict:
        res = run_pipeline(
            spark, self.docs, self.ents, embeddings=self.emb, abbr_map=self.abbr, out_dir=out_dir
        )
        force(res["linked_documents"])
        return res

    def iterate(self, spark, tracer) -> Iteration:
        it = Iteration()
        out_dir = os.path.join(self.work, f"store{self._runs}")
        self._runs += 1
        with it.timed(tracer, "cold"):
            cold = self._link(spark, out_dir)
        it.extra["cold_rows"] = _rows(cold["mention_clusters"])
        it.extra["store_bytes"] = _dir_bytes(out_dir)
        with it.timed(tracer, "resumed"):
            it.result = self._link(spark, out_dir)
        it.extra["out_dir"] = out_dir
        return it

    def check(self, it: Iteration) -> tuple[float, list[str]]:
        rows, problems = check_er(it.result, self.docs)
        if rows != it.extra["cold_rows"]:
            problems.append("resumed output differs from the cold output")
        return pairwise_f1({r[:2]: r[4] for r in rows}, self.gold), problems

    def counts(self, it: Iteration) -> dict:
        return {**er_counts(it.result), "store.bytes_written_mb": it.extra["store_bytes"] / 2**20}

    def done(self, it: Iteration) -> None:
        shutil.rmtree(it.extra["out_dir"], ignore_errors=True)


class Preprocess:
    """pubtator_to_context over a synthetic PubTator corpus: one JVM
    scan plus one Arrow block kernel; no ER stage runs."""

    name = "preprocess"
    n_docs, n_entities = 2000, 500

    def __init__(self, seed: int, work: str):
        self.timed_docs = self.n_docs
        self.path = os.path.join(work, "corpus.pubtator")
        lines = synth_pubtator_lines(n_docs=self.n_docs, n_entities=self.n_entities, seed=seed)
        self.gold = Counter(
            (c[0], c[5].split(":")[-1], c[3]) for c in (l.split("\t") for l in lines) if len(c) == 6
        )
        with open(self.path, "w", encoding="utf-8") as f:
            f.write("\n".join(lines))

    def stage(self, spark) -> None:
        pass

    def verify(self, spark) -> None:
        pass

    def _run(self, spark) -> dict:
        res = pubtator_to_context(spark, self.path)
        force(res["context"])
        force(res["mentions"])
        return res

    def iterate(self, spark, tracer) -> Iteration:
        it = Iteration()
        with it.timed(tracer, "preprocess"):
            it.result = self._run(spark)
        return it

    def check(self, it: Iteration) -> tuple[float, list[str]]:
        rows = it.result["mentions"].select("doc_id", "cui", "surface").collect()
        got = Counter(tuple(r) for r in rows)
        problems = []
        if got - self.gold:
            problems.append("a mention that is not in the corpus annotations was emitted")
        if it.result["context"].count() != len(rows):
            problems.append("context blocks and mentions differ in number")
        return mention_f1(got, self.gold), problems

    def counts(self, it: Iteration) -> dict:
        return {
            "preprocess.context_rows": it.result["context"].count(),
            "preprocess.mention_rows": it.result["mentions"].count(),
        }

    def done(self, it: Iteration) -> None:
        pass


WORKLOADS = {w.name: w for w in (ErResume, Preprocess)}
