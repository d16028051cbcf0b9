"""Tests of the benchmark itself (no Spark): seeded inputs are
reproducible, every ground-truth checker rejects a wrong output, and the
metric names the runner prints are the ones BENCHMARK.json declares.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from perfbench import checks, inputs, run
from perfbench.trace import Span, layer_metrics
from perfbench.workloads import ANALYTICS_MIX, WORKLOADS, frame_hash

REPO = Path(__file__).resolve().parents[2]


def _tree_bytes(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


@pytest.mark.parametrize("make,size", [
    (inputs.make_corpus, 600), (inputs.make_curation, 400), (inputs.make_analytics, 3000),
])
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, make, size):
    make(3, size, str(tmp_path / "a"))
    make(3, size, str(tmp_path / "b"))
    make(4, size, str(tmp_path / "c"))
    a, b, c = (_tree_bytes(tmp_path / d) for d in "abc")
    assert a and a == b
    assert a != c


def test_corpus_inputs_plant_every_case(tmp_path):
    truth = inputs.make_corpus(5, 3000, str(tmp_path))
    assert truth["input"] >= 3000
    assert truth["invalid"] and truth["out_of_bounds"] and truth["malformed_lines"]
    assert truth["output"] == len(truth["keys"]) < truth["input"] - truth["invalid"] - truth["out_of_bounds"]
    assert sum(truth["splits"].values()) == truth["output"]
    raw = "".join(p.read_text(encoding="utf-8") for p in tmp_path.rglob("*.json*"))
    for marker in ("es_translation", "original_audio_text", '"sp"', "\\u0303", "ʔ"):
        assert marker in raw or marker.encode().decode("unicode_escape") in raw, marker


def test_split_counts_match_floor_cutoffs():
    assert inputs.split_counts(100) == {"train": 90, "validation": 5, "test": 5}
    assert inputs.split_counts(11966) == {"train": 10769, "validation": 598, "test": 599}
    assert inputs.split_counts(1) == {"test": 1}


# --- corpus checker -------------------------------------------------------


@pytest.fixture(scope="module")
def corpus_case(tmp_path_factory):
    truth = inputs.make_corpus(9, 1500, str(tmp_path_factory.mktemp("corpus")))
    rows, i = [], 0
    for split, n in truth["splits"].items():
        for key in sorted(truth["keys"])[i:i + n]:
            es, nah, myn = (v or None for v in key.split("|"))
            rows.append((es, nah, myn, split))
        i += n
    stats = {"input": truth["input"], "output": truth["output"], "splits": dict(truth["splits"])}
    return truth, stats, rows


def test_corpus_checker_accepts_the_truth(corpus_case):
    truth, stats, rows = corpus_case
    assert checks.check_corpus(truth, stats, rows) == []
    assert checks.check_corpus(truth, stats, None) == []


@pytest.mark.parametrize("mutate", [
    lambda s, r: (dict(s, input=s["input"] - 1), r),
    lambda s, r: (dict(s, output=s["output"] + 1), r),
    lambda s, r: (dict(s, splits={**s["splits"], "train": s["splits"]["train"] - 1}), r),
    lambda s, r: (s, r[1:]),  # a family lost
    lambda s, r: (s, r + [r[0][:3] + ("test",)]),  # leaked into a second split
    lambda s, r: (s, r + [r[0]]),  # duplicate survivor
    lambda s, r: (s, [(r[0][0] + " más",) + r[0][1:]] + r[1:]),  # text not planted
])
def test_corpus_checker_rejects_wrong_outputs(corpus_case, mutate):
    truth, stats, rows = corpus_case
    stats, rows = mutate(stats, list(rows))
    assert checks.check_corpus(truth, stats, rows)


# --- curation checker -----------------------------------------------------


@pytest.fixture(scope="module")
def curation_case(tmp_path_factory):
    truth = inputs.make_curation(9, 1500, str(tmp_path_factory.mktemp("curation")))
    keep = set(truth["must_keep"])
    keep |= {f[0] for f in truth["identical_families"] + truth["edited_families"]}
    rows = []
    for doc_id in sorted(keep):
        text = "clean text."
        if doc_id in truth["pii"]:
            text = f"before {truth['pii'][doc_id][1]} after."
        rows.append((doc_id, text))
    stats = {
        "input": truth["input"], "failed_c4": truth["failed_c4"],
        "failed_repetition": truth["failed_repetition"], "contaminated": truth["contaminated"],
        "near_dups": sum(len(f) - 1 for f in truth["identical_families"]), "output": len(rows),
    }
    return truth, stats, rows


def test_curation_checker_accepts_the_truth(curation_case):
    truth, stats, rows = curation_case
    assert checks.check_curation(truth, stats, rows) == []
    assert checks.check_curation(truth, stats, None) == []


def _second_of_identical(truth):
    return (truth["identical_families"][0][1], "copy.")


@pytest.mark.parametrize("mutate", [
    lambda t, s, r: (dict(s, failed_c4=s["failed_c4"] + 1), r),
    lambda t, s, r: (dict(s, failed_repetition=s["failed_repetition"] - 1), r),
    lambda t, s, r: (dict(s, contaminated=0), r),
    lambda t, s, r: (dict(s, near_dups=0), r),
    lambda t, s, r: (dict(s, output=len(r) + 1), r),
    lambda t, s, r: (dict(s, output=len(r) + 1), r + [_second_of_identical(t)]),
    lambda t, s, r: (dict(s, output=len(r) + 1), r + [(t["must_drop"][0], "bad.")]),
    lambda t, s, r: (dict(s, output=len(r) - 1), [x for x in r if x[0] != t["must_keep"][0]]),
    lambda t, s, r: (s, [(d, txt.replace(t["pii"][d][1], t["pii"][d][0]) if d in t["pii"] else txt)
                         for d, txt in r]),
])
def test_curation_checker_rejects_wrong_outputs(curation_case, mutate):
    truth, stats, rows = curation_case
    stats, rows = mutate(truth, stats, list(rows))
    assert checks.check_curation(truth, stats, rows)


# --- analytics checker ----------------------------------------------------


def test_analytics_checker_rejects_a_wrong_or_missing_result():
    want = {n: f"h{i}" for i, n in enumerate(ANALYTICS_MIX)}
    assert checks.check_analytics(want, dict(want)) == []
    assert checks.check_analytics(want, dict(want, q01_pricing_summary="other"))
    assert checks.check_analytics(want, {n: h for n, h in want.items() if n != "q03_latest_event_per_user"})


def test_frame_hash_ignores_row_and_column_order():
    import pandas as pd

    a = pd.DataFrame({"k": ["x", "y"], "n": [1, 2]})
    assert frame_hash(a) == frame_hash(a.iloc[::-1][["n", "k"]])
    assert frame_hash(a) != frame_hash(a.assign(n=[1, 3]))


# --- metric names ---------------------------------------------------------


def test_printed_metric_names_match_benchmark_json():
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    declared = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    assert declared == run.END_TO_END
    declared = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert declared == run.per_layer_specs()
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_layer_metrics_use_self_time():
    root = Span("pipeline", "r:1", None, "r", start=0.0, end=10.0)
    verify = Span("operators.fuzzy_dedup.verify", "r:2", "r:1", "r", start=1.0, end=7.0,
                  busy_ms=2000, jobs=2, tasks=8)
    cands = Span("operators.fuzzy_dedup.candidates", "r:3", "r:2", "r", start=2.0, end=6.0,
                 busy_ms=8000, jobs=3, tasks=20)
    m = layer_metrics([cands, verify, root], ["operators.fuzzy_dedup.verify",
                                              "operators.fuzzy_dedup.candidates"], cores=4)
    assert m["operators.fuzzy_dedup.verify.wall_s"] == pytest.approx(2.0)
    assert m["operators.fuzzy_dedup.candidates.wall_s"] == pytest.approx(4.0)
    assert m["operators.fuzzy_dedup.candidates.core_util"] == pytest.approx(0.5)
    assert m["operators.fuzzy_dedup.verify.jobs"] == 2
