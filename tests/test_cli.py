"""Deployment surface: the CLI under python -m and under a real
spark-submit --py-files invocation (the north rule's deploy shape)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def cli_inputs(tmp_path_factory):
    """Small synthetic corpus written as parquet CLI inputs."""
    base = tmp_path_factory.mktemp("cli_in")
    from entity_linking_in_biomedical_spark.session import get_spark
    from entity_linking_in_biomedical_spark.sources.synthetic import synth_corpus

    spark = get_spark("cli-fixture", master="local[4]")
    corpus = synth_corpus(n_docs=40, n_entities=20, seed=7)
    docs, ents, _, abbr, _ = corpus.to_spark(spark)
    emb = corpus.embeddings_df(spark)
    docs.write.parquet(str(base / "docs.parquet"))
    ents.write.parquet(str(base / "ents.parquet"))
    emb.write.parquet(str(base / "emb.parquet"))
    abbr.write.parquet(str(base / "abbr.parquet"))
    return base


def _run_args(base, out, stage=None):
    a = [
        "run",
        "--documents", str(base / "docs.parquet"),
        "--entities", str(base / "ents.parquet"),
        "--embeddings", str(base / "emb.parquet"),
        "--abbr", str(base / "abbr.parquet"),
        "--out", str(out),
        "--master", "local[4]",
    ]
    if stage:
        a += ["--stage-dir", str(stage)]
    return a


def test_cli_run_python_m(cli_inputs, tmp_path):
    out = tmp_path / "linked"
    env = dict(os.environ, PYTHONPATH=REPO)
    r = subprocess.run(
        [sys.executable, "-m", "entity_linking_in_biomedical_spark"]
        + _run_args(cli_inputs, out, stage=tmp_path / "stages"),
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    metrics = json.loads(r.stdout.strip().splitlines()[-1])
    assert metrics["cc_iterations"] >= 1
    import duckdb

    n = duckdb.connect().execute(
        f"select count(*) from read_parquet('{out}/*.parquet')"
    ).fetchone()[0]
    assert n >= 40  # every input doc survives into linked_documents


def test_cli_spark_submit_py_files(cli_inputs, tmp_path):
    """The real deploy shape: package zipped, shipped via --py-files,
    driver script run by spark-submit."""
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        import pyspark

        spark_submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
        if not os.path.exists(spark_submit):
            pytest.skip("spark-submit not available")

    pkg_zip = str(tmp_path / "elspark.zip")
    pkg_root = os.path.join(REPO, "entity_linking_in_biomedical_spark")
    with zipfile.ZipFile(pkg_zip, "w") as z:
        for dirpath, _dirs, files in os.walk(pkg_root):
            if "__pycache__" in dirpath:
                continue
            for f in files:
                full = os.path.join(dirpath, f)
                z.write(full, os.path.relpath(full, REPO))

    out = tmp_path / "linked_submit"
    # no --master flag to the CLI: the session must be adopted from the
    # spark-submit conf. The driver script is COPIED into the neutral
    # tmp cwd before submission: Python puts the script's own directory
    # at sys.path[0], so submitting it from the repo checkout would let
    # the package import resolve from the repo source and prove
    # nothing — from the copy, with PYTHONPATH scrubbed, the import can
    # only come from the --py-files zip
    driver = str(tmp_path / "run_el.py")
    shutil.copy(os.path.join(REPO, "run_el.py"), driver)
    base = cli_inputs
    r = subprocess.run(
        [
            spark_submit, "--master", "local[4]", "--py-files", pkg_zip,
            driver,
            "run",
            "--documents", str(base / "docs.parquet"),
            "--entities", str(base / "ents.parquet"),
            "--embeddings", str(base / "emb.parquet"),
            "--abbr", str(base / "abbr.parquet"),
            "--out", str(out),
        ],
        capture_output=True, text=True, timeout=900,
        cwd=str(tmp_path),
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert r.returncode == 0, (r.stderr[-3000:], r.stdout[-500:])
    import duckdb

    n = duckdb.connect().execute(
        f"select count(*) from read_parquet('{out}/*.parquet')"
    ).fetchone()[0]
    assert n >= 40


def test_cli_lm_score_fit_save_then_load(tmp_path):
    """lm-score: fit + save on one invocation, load + score on the
    next — both via python -m; scores must agree."""
    import duckdb

    env = dict(os.environ, PYTHONPATH=REPO)
    docs = tmp_path / "docs.parquet"
    duckdb.connect().execute(
        f"""copy (select cast(i as bigint) as doc_id,
                 'the quick brown fox number ' || cast(i % 7 as varchar) ||
                 ' jumps over the lazy dog' as text
          from range(60) t(i)) to '{docs}' (format parquet)"""
    )
    out1, out2, model = tmp_path / "s1", tmp_path / "s2", tmp_path / "m"
    base = [sys.executable, "-m", "entity_linking_in_biomedical_spark", "lm-score",
            "--documents", str(docs), "--vocab-cap", "10", "--master", "local[4]"]
    r = subprocess.run(base + ["--out", str(out1), "--save-model", str(model)],
                       capture_output=True, text=True, timeout=600, env=env, cwd=REPO)
    assert r.returncode == 0, r.stderr[-2000:]
    r = subprocess.run(base + ["--out", str(out2), "--model", str(model),
                               "--broadcast-model"],
                       capture_output=True, text=True, timeout=600, env=env, cwd=REPO)
    assert r.returncode == 0, r.stderr[-2000:]
    con = duckdb.connect()
    a = con.execute(f"select * from read_parquet('{out1}/*.parquet') order by doc_id").fetchall()
    b = con.execute(f"select * from read_parquet('{out2}/*.parquet') order by doc_id").fetchall()
    assert a == b and len(a) == 60


def test_cli_dsir_score_fit_save_then_load(tmp_path):
    """dsir-score: fit + save the model table on one invocation, load +
    score on the next — weights must agree."""
    import duckdb

    env = dict(os.environ, PYTHONPATH=REPO)
    docs = tmp_path / "docs.parquet"
    duckdb.connect().execute(
        f"""copy (select cast(i as bigint) as doc_id,
                 case when i % 4 = 0
                      then 'quantum flux resonance field ' || cast(i as varchar)
                      else 'banana oat smoothie recipe ' || cast(i as varchar) end as text,
                 (i % 4 = 0) as is_target
          from range(60) t(i)) to '{docs}' (format parquet)"""
    )
    out1, out2, model = tmp_path / "s1", tmp_path / "s2", tmp_path / "m"
    base = [sys.executable, "-m", "entity_linking_in_biomedical_spark", "dsir-score",
            "--documents", str(docs), "--master", "local[4]"]
    r = subprocess.run(base + ["--out", str(out1), "--save-model", str(model)],
                       capture_output=True, text=True, timeout=600, env=env, cwd=REPO)
    assert r.returncode == 0, r.stderr[-2000:]
    r = subprocess.run(base + ["--out", str(out2), "--model", str(model)],
                       capture_output=True, text=True, timeout=600, env=env, cwd=REPO)
    assert r.returncode == 0, r.stderr[-2000:]
    con = duckdb.connect()
    a = con.execute(f"select * from read_parquet('{out1}/*.parquet') order by doc_id").fetchall()
    b = con.execute(f"select * from read_parquet('{out2}/*.parquet') order by doc_id").fetchall()
    assert a == b and len(a) == 60  # target docs scored too (they're rows of df)
    m = con.execute(f"select count(*) from read_parquet('{model}/*.parquet')").fetchone()
    assert m[0] == 256


def test_cli_bpe_fit_writes_merges_and_pieces(tmp_path):
    import duckdb

    env = dict(os.environ, PYTHONPATH=REPO)
    docs = tmp_path / "docs.parquet"
    duckdb.connect().execute(
        f"""copy (select cast(i as bigint) as doc_id,
                 'abab abab ab cd cd' as text
          from range(20) t(i)) to '{docs}' (format parquet)"""
    )
    merges, pieces = tmp_path / "merges", tmp_path / "pieces"
    r = subprocess.run(
        [sys.executable, "-m", "entity_linking_in_biomedical_spark", "bpe-fit",
         "--documents", str(docs), "--merges", "2",
         "--save-merges", str(merges), "--pieces-out", str(pieces),
         "--master", "local[4]"],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO)
    assert r.returncode == 0, r.stderr[-2000:]
    con = duckdb.connect()
    mt = con.execute(
        f"select rank, merged from read_parquet('{merges}/*.parquet') order by rank"
    ).fetchall()
    assert mt[0][1] == "ab" and len(mt) == 2
    n = con.execute(f"select count(*) from read_parquet('{pieces}/*.parquet')").fetchone()
    assert n[0] == 20


def test_cli_curate_end_to_end(tmp_path):
    import duckdb

    env = dict(os.environ, PYTHONPATH=REPO)
    docs = tmp_path / "docs.parquet"
    duckdb.connect().execute(
        f"""copy (select cast(i as bigint) as doc_id,
                 'the quick brown fox paragraph about systems number ' ||
                   cast(i as varchar) ||
                 ' with enough words that the quality gate keeps it around' as text,
                 case when i % 5 = 0 then 'fr' else 'en' end as lang
          from range(30) t(i)) to '{docs}' (format parquet)"""
    )
    out = tmp_path / "clean"
    r = subprocess.run(
        [sys.executable, "-m", "entity_linking_in_biomedical_spark", "curate",
         "--documents", str(docs), "--out", str(out),
         "--no-near-dup", "--master", "local[4]"],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO)
    assert r.returncode == 0, r.stderr[-2000:]
    report = json.loads(r.stdout.strip().splitlines()[-1])
    gates = [g for g, _ in report["funnel"]]
    assert gates == ["input", "lang", "quality", "exact_dedup"]
    n = duckdb.connect().execute(
        f"select count(*) from read_parquet('{out}/*.parquet')").fetchone()
    assert n[0] == 24  # 30 minus the six i%5==0 'fr' docs; texts distinct


def test_cli_curate_sharded_output(tmp_path):
    import duckdb

    env = dict(os.environ, PYTHONPATH=REPO)
    docs = tmp_path / "docs.parquet"
    duckdb.connect().execute(
        f"""copy (select cast(i as bigint) as doc_id,
                 'the quick brown fox paragraph about systems number ' ||
                   cast(i as varchar) ||
                 ' with enough words that the quality gate keeps it around' as text,
                 'en' as lang
          from range(30) t(i)) to '{docs}' (format parquet)"""
    )
    out = tmp_path / "sharded"
    r = subprocess.run(
        [sys.executable, "-m", "entity_linking_in_biomedical_spark", "curate",
         "--documents", str(docs), "--out", str(out),
         "--no-near-dup", "--shard-size", "800", "--master", "local[4]"],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO)
    assert r.returncode == 0, r.stderr[-2000:]
    report = json.loads(r.stdout.strip().splitlines()[-1])
    assert report["shards"] >= 2
    manifest = json.load(open(out / "_MANIFEST.json"))
    assert len(manifest) == report["shards"]
    back = duckdb.connect().execute(
        f"select count(*), count(distinct shard_id) "
        f"from read_parquet('{out}/shards/*/*.parquet', hive_partitioning=1)"
    ).fetchone()
    assert back[0] == 30 and back[1] == report["shards"]


def test_cli_link_snapshot_two_rounds(cli_inputs, tmp_path, spark):
    """Incremental deployment surface: snapshot 1 (no --state) then
    snapshot 2 folding into snapshot 1's state; the merged state covers
    both snapshots' surfaces and the relabeled mentions land in --out."""
    from entity_linking_in_biomedical_spark.cli import main

    base = cli_inputs
    docs = spark.read.parquet(str(base / "docs.parquet"))
    a_dir, b_dir = str(tmp_path / "snap_a"), str(tmp_path / "snap_b")
    from pyspark.sql import functions as F

    half = F.abs(F.hash("doc_id")) % 2 == 0
    docs.filter(half).write.parquet(a_dir)
    docs.filter(~half).write.parquet(b_dir)

    def _args(snap, out, state_out, state=None, index=False):
        a = [
            "link-snapshot",
            "--documents", snap,
            "--entities", str(base / "ents.parquet"),
            "--embeddings", str(base / "emb.parquet"),
            "--abbr", str(base / "abbr.parquet"),
            "--out", out,
            "--state-out", state_out,
            "--master", "local[4]",
        ]
        if state:
            a += ["--state", state]
        if index:
            a += ["--surface-index"]
        return a

    s1 = str(tmp_path / "state1")
    assert main(_args(a_dir, str(tmp_path / "mc1"), s1)) == 0
    s2 = str(tmp_path / "state2")
    assert (
        main(_args(b_dir, str(tmp_path / "mc2"), s2, state=s1, index=True))
        == 0
    )

    merged = spark.read.parquet(s2)
    state1 = spark.read.parquet(s1)
    # state grows monotonically and stays one-row-per-node
    assert merged.count() > state1.count()
    assert merged.groupBy("node").count().filter("count > 1").count() == 0
    mc2 = spark.read.parquet(str(tmp_path / "mc2"))
    assert mc2.count() > 0
    assert set(mc2.columns) == {
        "doc_id", "span_seq", "surface", "norm", "cluster_id",
    }


def test_cli_evaluate_report_card(tmp_path):
    """evaluate: one JSON report-card line + the impurity parquet,
    agreeing with the operator's documented fixture values."""
    import duckdb
    import json as _json

    env = dict(os.environ, PYTHONPATH=REPO)
    assign = tmp_path / "assign.parquet"
    # gold {a,b,c},{d,e}; pred {a,b},{c,d},{e} — the hand-computed
    # fixture from test_evaluation.py
    duckdb.connect().execute(
        f"""copy (select * from (values
              ('a','p1','g1'),('b','p1','g1'),('c','p2','g1'),
              ('d','p2','g2'),('e','p3','g2'))
              t(doc_id, pred, gold)) to '{assign}' (format parquet)"""
    )
    imp = tmp_path / "impurity"
    r = subprocess.run(
        [sys.executable, "-m", "entity_linking_in_biomedical_spark", "evaluate",
         "--assignments", str(assign), "--impurity-out", str(imp),
         "--master", "local[4]"],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    card = _json.loads(r.stdout.strip().splitlines()[-1])
    assert card["n_items"] == 5 and card["pair_precision"] == 0.5
    assert card["pair_recall"] == 0.25 and card["ari"] is not None
    rows = duckdb.connect().execute(
        f"select * from read_parquet('{imp}/*.parquet') order by pred_cluster"
    ).fetchall()
    # p1 is pure; p2 spans g1+g2 (1 wrong pair); p3 singleton
    assert rows == [("p2", 2, 2, 0.5, 1)]


def test_cli_apply_reviews(tmp_path):
    """apply-reviews: accepted pairs merge clusters, rejected pairs
    split them, the edge table stays in lockstep, and reversed-
    orientation verdicts still hit their stored edges."""
    import duckdb
    import json as _json

    env = dict(os.environ, PYTHONPATH=REPO)
    con = duckdb.connect()
    state = tmp_path / "state.parquet"
    edges = tmp_path / "edges.parquet"
    reviews = tmp_path / "reviews.parquet"
    # clusters {a,b,c} (chain a-b-c), {p,q}, {x,y}
    con.execute(
        f"""copy (select * from (values
              ('a','a'),('b','a'),('c','a'),('p','p'),('q','p'),
              ('x','x'),('y','x'))
              t(node, cluster_id)) to '{state}' (format parquet)"""
    )
    con.execute(
        f"""copy (select * from (values
              ('a','b'),('b','c'),('p','q'),('x','y'))
              t(src, dst)) to '{edges}' (format parquet)"""
    )
    # accept c-p (merges {a,b,c} with {p,q}); reject b-c submitted
    # REVERSED as (c,b) (splits {a,b} from {c,...}); reject x-y
    con.execute(
        f"""copy (select * from (values
              ('c','p','match'),('c','b','not_match'),
              ('x','y','not_match'))
              t(src, dst, verdict)) to '{reviews}' (format parquet)"""
    )
    so, eo = tmp_path / "state_out", tmp_path / "edges_out"
    r = subprocess.run(
        [sys.executable, "-m", "entity_linking_in_biomedical_spark",
         "apply-reviews", "--state", str(state), "--edges", str(edges),
         "--reviews", str(reviews), "--state-out", str(so),
         "--edges-out", str(eo), "--master", "local[4]"],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    summary = _json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["accepted"] == 1 and summary["rejected"] == 2
    got = dict(
        con.execute(f"select node, cluster_id from read_parquet('{so}/*.parquet')").fetchall()
    )
    # after accept c-p and reject b-c: {a,b} and {c,p,q}; x,y split
    assert got == {
        "a": "a", "b": "a", "c": "c", "p": "c", "q": "c", "x": "x", "y": "y"
    }
    new_edges = set(
        con.execute(f"select src, dst from read_parquet('{eo}/*.parquet')").fetchall()
    )
    assert new_edges == {("a", "b"), ("c", "p"), ("p", "q")}


def test_cli_apply_reviews_rejects_unknown_verdict(tmp_path):
    import duckdb

    env = dict(os.environ, PYTHONPATH=REPO)
    con = duckdb.connect()
    state = tmp_path / "state.parquet"
    edges = tmp_path / "edges.parquet"
    reviews = tmp_path / "reviews.parquet"
    con.execute(
        f"copy (select 'a' as node, 'a' as cluster_id) to '{state}' (format parquet)"
    )
    con.execute(f"copy (select 'a' as src, 'b' as dst) to '{edges}' (format parquet)")
    con.execute(
        f"""copy (select 'a' as src, 'b' as dst, 'maybe' as verdict)
            to '{reviews}' (format parquet)"""
    )
    r = subprocess.run(
        [sys.executable, "-m", "entity_linking_in_biomedical_spark",
         "apply-reviews", "--state", str(state), "--edges", str(edges),
         "--reviews", str(reviews), "--state-out", str(tmp_path / "so"),
         "--edges-out", str(tmp_path / "eo"), "--master", "local[4]"],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO,
    )
    assert r.returncode != 0
    assert "unknown review verdicts" in (r.stderr + r.stdout)


def test_cli_calibrate_model_and_curve(tmp_path):
    """calibrate: fits the Platt model on a separable labeled set (a>0)
    and writes the threshold-curve parquet with the endpoint rows."""
    import duckdb
    import json as _json

    env = dict(os.environ, PYTHONPATH=REPO)
    scored = tmp_path / "scored.parquet"
    duckdb.connect().execute(
        f"""copy (select * from (values
              (0.95, true), (0.9, true), (0.85, true), (0.8, true),
              (0.2, false), (0.15, false), (0.1, false), (0.05, false))
              t(score, label)) to '{scored}' (format parquet)"""
    )
    curve = tmp_path / "curve"
    r = subprocess.run(
        [sys.executable, "-m", "entity_linking_in_biomedical_spark", "calibrate",
         "--scored", str(scored), "--curve-out", str(curve),
         "--curve-points", "4", "--master", "local[4]"],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    out = _json.loads(r.stdout.strip().splitlines()[-1])
    assert out["model"]["s"] > 0  # p increases with score
    rows = duckdb.connect().execute(
        f"select threshold, tp, fp, precision, recall from "
        f"read_parquet('{curve}/*.parquet') order by threshold"
    ).fetchall()
    assert len(rows) == 5
    assert rows[0] == (0.0, 4, 4, 0.5, 1.0)  # everything predicted
    assert rows[2] == (0.5, 4, 0, 1.0, 1.0)  # perfect split at 0.5
    assert rows[4][1] == 0 and rows[4][3] == 1.0  # empty prediction set


def test_cli_stitch_stable_ids(tmp_path):
    """stitch: a renamed cluster inherits its old id; the brand-new one
    gets a namespaced fresh id."""
    import duckdb
    import json as _json

    env = dict(os.environ, PYTHONPATH=REPO)
    old = tmp_path / "old.parquet"
    new = tmp_path / "new.parquet"
    duckdb.connect().execute(
        f"""copy (select * from (values ('1','A'),('2','A'),('3','B'))
              t(doc_id, cluster_id)) to '{old}' (format parquet)"""
    )
    duckdb.connect().execute(
        f"""copy (select * from (values ('1','x'),('2','x'),('3','y'),('4','z'))
              t(doc_id, cluster_id)) to '{new}' (format parquet)"""
    )
    out = tmp_path / "stitched"
    r = subprocess.run(
        [sys.executable, "-m", "entity_linking_in_biomedical_spark", "stitch",
         "--old", str(old), "--new", str(new), "--out", str(out),
         "--master", "local[4]"],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    summary = _json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["n_items"] == 4 and summary["n_fresh_items"] == 1
    rows = dict(duckdb.connect().execute(
        f"select doc_id, cluster_id from read_parquet('{out}/*.parquet')"
    ).fetchall())
    assert rows == {"1": "A", "2": "A", "3": "B", "4": "new:z"}


def test_spark_submit_session_carries_engine_conf(spark, monkeypatch):
    """Under spark-submit (no --master) the CLI adopts the submitted
    session but layers on every conf the engine relies on, the same
    values get_spark sets: AQE with coalescing and skew-join splitting,
    Arrow and its batch size, and lz4 for the serialized barrier
    blocks (``spark.rdd.compress``)."""
    from pyspark.sql import SparkSession

    from entity_linking_in_biomedical_spark import cli

    required = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.rdd.compress": "true",
    }
    conf = spark.sparkContext.getConf()  # the session get_spark built
    assert {k: conf.get(k) for k in required} == required
    # capture the builder's options instead of starting a session
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda b: dict(b._options))
    submitted = cli._session(None)
    assert {k: submitted.get(k) for k in required} == required
