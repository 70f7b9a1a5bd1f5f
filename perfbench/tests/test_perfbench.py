"""Tests of the benchmark itself: deterministic generation, reference
checks that reject perturbed outputs, and every workload completing at
the ``tiny`` size.

Run from the root of a checkout: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import copy
import json
import os
import subprocess
import sys

import numpy as np
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import reference as R  # noqa: E402


def _file_bytes(paths):
    out = []
    for p in paths:
        with open(p, "rb") as f:
            out.append(f.read())
    return out


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_generator_is_deterministic_per_seed(workload, tmp_path):
    a, _ = gen.generate(workload, 7, "tiny", str(tmp_path / "a"))
    b, _ = gen.generate(workload, 7, "tiny", str(tmp_path / "b"))
    c, _ = gen.generate(workload, 8, "tiny", str(tmp_path / "c"))
    assert _file_bytes(a) == _file_bytes(b)
    assert _file_bytes(a) != _file_bytes(c)
    assert gen.sha256_files(a) != gen.sha256_files(c)


def _exact(h: R.HistRef) -> dict:
    """The output a correct program gives for a reference with no
    near-edge entries."""
    assert h.n_ambiguous == 0
    return {"n": h.n.copy(), "sumw": h.sumw.copy()}


def _moved_one_bin(h: dict) -> dict:
    """One entry of the first populated in-range bin moved to the next bin."""
    h = copy.deepcopy(h)
    i = int(np.flatnonzero(h["n"][1:-1])[0]) + 1
    w = h["sumw"][i] / h["n"][i]
    h["n"][i] -= 1
    h["n"][i + 1] += 1
    h["sumw"][i] -= w
    h["sumw"][i + 1] += w
    return h


def _counts(cf: dict) -> dict:
    return {"initial": cf["initial"].value,
            "onecut": [c.value for c in cf["onecut"]],
            "cutflow": [c.value for c in cf["cutflow"]]}


def test_dimuon_checks_reject_perturbed_outputs(tmp_path):
    _, arrays = gen.generate("root_dimuon", 3, "tiny", str(tmp_path))
    ref = R.dimuon_reference(arrays, {})
    good = {"mass_hist": _exact(ref["mass_hist"]), "pt_hist": _exact(ref["pt_hist"]),
            "cutflow": _counts(ref["cutflow"])}
    assert R.check_dimuon(ref, good) == []
    for key in ("mass_hist", "pt_hist"):
        bad = dict(good, **{key: _moved_one_bin(good[key])})
        assert R.check_dimuon(ref, bad), key
    bad = copy.deepcopy(good)
    bad["cutflow"]["cutflow"][-1] += 1
    assert R.check_dimuon(ref, bad)


def test_near_edge_entry_may_take_either_bin():
    ref = R.HistRef([1.0 - 1e-9, 2.5], 4, 0.0, 4.0)
    assert ref.n_ambiguous == 1
    for n in ([0, 0, 1, 1, 0, 0], [0, 1, 0, 1, 0, 0]):
        assert ref.check("h", np.array(n), np.array(n, float)) == []
    assert ref.check("h", np.array([0, 0, 0, 2, 0, 0]), np.array([0, 0, 0, 2, 0, 0.0]))


def test_syst_checks_reject_perturbed_outputs(tmp_path):
    _, arrays = gen.generate("parquet_syst", 3, "tiny", str(tmp_path))
    ref = R.syst_reference(arrays, R.read_correction_texts(ROOT))
    assert all(h.n_ambiguous_events == 0 for h in ref["hists"].values())
    good = {
        "cutflow": _counts(ref["cutflow"]),
        "nminusone": {"initial": ref["nminusone"]["initial"].value,
                      "nev": [c.value for c in ref["nminusone"]["nev"]],
                      "all": ref["nminusone"]["all"].value},
        "hists": {v: _exact(h) for v, h in ref["hists"].items()},
        "stats": {n: {k: s[k] for k in ("sumw", "sumw2", "minw", "maxw", "n")}
                  for n, s in ref["stats"].items()},
        "sums": {k: v for k, v in ref["sums"].items() if k != "weight_abs"},
        "ntuple": {k: ref["ntuple"][k][::-1].copy() for k in R.NTUPLE_BRANCHES},
    }
    assert R.check_syst(ref, good) == []
    bad = copy.deepcopy(good)
    bad["hists"]["JES_up"] = _moved_one_bin(good["hists"]["JES_up"])
    assert R.check_syst(ref, bad)
    bad = copy.deepcopy(good)
    bad["cutflow"]["onecut"][0] -= 1
    assert R.check_syst(ref, bad)
    bad = copy.deepcopy(good)
    bad["sums"]["pt"] *= 1 + 1e-6
    assert R.check_syst(ref, bad)
    bad = copy.deepcopy(good)
    bad["ntuple"]["w_btag"][3] *= 1 + 1e-6
    assert R.check_syst(ref, bad)
    bad = copy.deepcopy(good)
    bad["ntuple"]["event"] = bad["ntuple"]["event"][1:]
    assert R.check_syst(ref, bad)


def test_correction_parser_matches_table_rows():
    texts = R.read_correction_texts(ROOT)
    jec = R.JmeTable(texts["jec"])
    # a point inside the first row of the table: eta in [-3,0), rho in [0,20), pt in [10,100)
    corr = jec.jec([np.array([-1.0]), np.array([5.0]), np.array([50.0])], [np.array([50.0])])
    assert corr[0] == pytest.approx(max(0.8, 1.05 + 0.02 * np.log10(50.0)))
    # clamping: far outside every range lands in the edge rows
    hi = jec.jec([np.array([9.0]), np.array([99.0]), np.array([1e5])], [np.array([1e5])])
    assert hi[0] == pytest.approx(max(0.8, 1.06 - 0.03 * np.log10(5000.0)))


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_workload_completes_at_tiny_size(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", "0", "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = {m["name"] for m in json.load(f)["end_to_end"]}
    assert set(result["metrics"]) == names
