"""Checks of the benchmark's own code; no SparkSession is started.

    python3 -m pytest perfbench/test_quality.py -q
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
from collections import Counter
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import er_golden  # noqa: E402
import run  # noqa: E402
from entity_linking_in_biomedical_spark.sources.synthetic import synth_corpus  # noqa: E402
from quality import mention_f1, pairwise_f1  # noqa: E402
from tests.test_pipeline import pairwise_f1 as pairwise_f1_by_pairs  # noqa: E402


def golden_case() -> tuple[dict, dict]:
    """The pipeline's frozen output on the 60-doc corpus and its gold labels."""
    corpus = synth_corpus(n_docs=er_golden.N_DOCS, n_entities=er_golden.N_ENTITIES, seed=er_golden.SEED)
    gold = {(l["doc_id"], l["span_seq"]): l["cluster_id"] for l in corpus.labels}
    pred = {(doc_id, seq): cid for doc_id, seq, _, _, cid in er_golden.ROWS}
    return pred, gold


def test_pairwise_f1_equals_pair_enumeration_on_golden_corpus():
    pred, gold = golden_case()
    assert pairwise_f1(pred, gold) == pairwise_f1_by_pairs(pred, gold)


def test_pairwise_f1_equals_pair_enumeration_on_perturbed_clusterings():
    pred, gold = golden_case()
    rng = random.Random(7)
    labels = sorted(set(pred.values()))
    for rate in (0.0, 0.05, 0.2, 0.5, 1.0):
        noisy = {k: rng.choice(labels) if rng.random() < rate else v for k, v in pred.items()}
        assert pairwise_f1(noisy, gold) == pairwise_f1_by_pairs(noisy, gold)


def test_pairwise_f1_same_seed_same_value_across_processes():
    """The gold labels come from the generator, whose output depends in
    part on the string hash seed: the F1 must not."""
    code = "import test_quality as t, quality as q; print(repr(q.pairwise_f1(*t.golden_case())))"
    values = {
        subprocess.run(
            [sys.executable, "-c", code], cwd=HERE, env={**os.environ, "PYTHONHASHSEED": seed},
            capture_output=True, text=True, check=True,
        ).stdout.strip()
        for seed in ("0", "0", "1", "2")
    }
    assert len(values) == 1 and float(values.pop()) > 0.9


def test_mention_f1():
    gold = Counter({("d1", "C1", "a"): 2, ("d1", "C2", "b"): 1})
    assert mention_f1(gold, gold) == 1.0
    assert mention_f1(Counter({("d1", "C1", "a"): 1}), gold) == 2 * (1 / 3) / (1 + 1 / 3)
    assert mention_f1(Counter(), gold) == 0.0


def test_benchmark_json_lists_every_metric():
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.END_TO_END.items())
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(run.PER_LAYER.items())
    assert len(run.PER_LAYER) <= 128
