"""The analysis pass of each workload, written against the program's
public API only, plus the prefix probes the traced run materialises.

A pass turns the generated files into driver-side numpy outputs that
``reference.py`` checks. ``tr`` is a ``spans.Tracer``; with tracing off
its spans only cost two clock reads.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import functions as F

import coffea_spark
from coffea_spark.correction_files import read_btag_csv, read_jec_txt, read_junc_txt
from coffea_spark.corrections import (
    CorrectedJetsFactory,
    FactorizedJetCorrector,
    corrected_polar_met,
)
from coffea_spark.hist import hist1d
from coffea_spark.nanoevents import NanoEvents
from coffea_spark.pipelines import dimuon_analysis
from coffea_spark.root_reader import open_tree, read_nanoevents, read_root
from coffea_spark.root_writer import write_events_root
from coffea_spark.runner import run as run_fileset
from coffea_spark.schema import NanoAODSchemaSpec
from coffea_spark.selection import PackedSelection
from coffea_spark.weights import Weights

import reference as R

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(coffea_spark.__file__)))
CORRECTION_FILES = {k: os.path.join(CHECKOUT, p) for k, p in R.CORRECTION_FILES.items()}
# the Muon members dimuon_analysis reads
DIMUON_BRANCHES = ("Muon_pt", "Muon_eta", "Muon_phi", "Muon_mass", "Muon_charge")


def noop(df, repeat: int = 2) -> float:
    """Materialise ``df`` into Spark's ``noop`` sink; returns the fastest
    of ``repeat`` runs in seconds, so that prefix differences are not
    swamped by the run-to-run spread of re-planning."""
    best = float("inf")
    for _ in range(repeat):
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t)
    return best


def dense_hist(hdf, nbins: int) -> dict:
    """(bin, sumw, sumw2, n) rows -> dense ``[underflow, bins..., overflow]``."""
    pdf = hdf.toPandas()
    idx = pdf["bin"].to_numpy(dtype=np.int64) + 1
    n = np.zeros(nbins + 2, dtype=np.int64)
    sumw = np.zeros(nbins + 2)
    np.add.at(n, idx, pdf["n"].to_numpy(dtype=np.int64))
    np.add.at(sumw, idx, pdf["sumw"].to_numpy(dtype=np.float64))
    return {"n": n, "sumw": sumw}


def cutflow_dict(cf) -> dict:
    return {"initial": cf.initial, "onecut": list(cf.nevonecut), "cutflow": list(cf.nevcutflow)}


# ---------------------------------------------------------------------------
# root_dimuon: ROOT decode -> NanoEvents -> dimuon_analysis
# ---------------------------------------------------------------------------

class RootDimuon:
    def __init__(self, paths: list[str]):
        self.paths = paths

    def prepare(self, spark, tr) -> None:
        pass

    def run_pass(self, spark, tr, pass_dir: str) -> dict:
        with tr.span("root_reader.read_nanoevents"):
            events = read_nanoevents(spark, self.paths)
        with tr.span("pipelines.dimuon_analysis"):
            out = dimuon_analysis(events)
        with tr.span("hist.collect_mass"):
            mass = dense_hist(out["mass_hist"], R.DIMUON_BINS["mass_hist"][0])
        with tr.span("hist.collect_pt"):
            pt = dense_hist(out["pt_hist"], R.DIMUON_BINS["pt_hist"][0])
        return {"mass_hist": mass, "pt_hist": pt, "cutflow": cutflow_dict(out["cutflow"])}

    def check(self, ref: dict, out: dict) -> list[str]:
        return R.check_dimuon(ref, out)

    def probe(self, spark, spans: dict) -> dict:
        """Self times by prefix differences: scan -> zip -> pairs."""
        t = time.perf_counter()
        flat = read_root(spark, self.paths)
        plan_s = time.perf_counter() - t
        t_scan = noop(flat)
        events = NanoAODSchemaSpec.apply(flat)
        t_zip = noop(events)
        ne = NanoEvents(events)
        pairs = ne.Muon.combinations(2).where(lambda p: p.f0.charge + p.f1.charge == 0)
        with_pairs = ne.with_column("_os_pairs", pairs).df
        t_pairs = noop(with_pairs)
        n_pairs = with_pairs.agg(F.sum(F.size("_os_pairs"))).collect()[0][0]
        nbytes = sum(os.path.getsize(p) for p in self.paths)
        fill = (spans.get("hist.collect_mass", 0.0) - t_pairs) + (
            spans.get("hist.collect_pt", 0.0) - t_zip
        )
        decoded = len(flat.columns)
        return {
            "root_reader.plan_s": plan_s,
            "root_reader.scan_s": t_scan,
            "root_reader.mb_per_s": nbytes / 1e6 / t_scan,
            "root_reader.branch_use_ratio": len(DIMUON_BRANCHES) / decoded,
            "schema.zip_s": t_zip - t_scan,
            "joins.pairs_s": t_pairs - t_zip,
            "joins.pairs": float(n_pairs or 0),
            "hist.fill_s": fill,
        }


# ---------------------------------------------------------------------------
# parquet_syst: corrections, weights, cutflow/N-1, one histogram per variation
# ---------------------------------------------------------------------------

def _good(var: str):
    return lambda j: (j[var] > R.JET_PT_CUT) & (F.abs(j["eta"]) < R.JET_ETA_CUT)


def _add_field(field: str):
    return lambda acc, j: acc + j[field]


def corrected_jets(jec, junc):
    """JEC and the binned JES uncertainty, both through the factory. The
    factory inlines the JEC expression into every use of the corrected pt,
    so one pass spends seconds on the corrected jets even for a few
    hundred events; that is why the input is small."""
    rho = F.col("rho")
    corrector = FactorizedJetCorrector([lambda eta, pt: jec(eta, rho, pt)])
    return CorrectedJetsFactory(corrector, junc=junc).build(F.col("Jet"))


def btag_weights(btag) -> dict:
    """Per-event products of the b-tag scale factors over good jets;
    the up variation falls back to central where the table has no row."""
    good = F.filter("CJet", _good("pt"))

    def sf(j, sys):
        return btag.sf(j["hadronFlavour"], F.abs(j["eta"]), j["pt"], systematic=sys)

    def prod(f):
        return F.aggregate(good, F.lit(1.0), lambda acc, j: acc * f(j))

    return {
        "w_btag": prod(lambda j: F.coalesce(sf(j, "central"), F.lit(1.0))),
        "w_btag_up": prod(lambda j: F.coalesce(sf(j, "up"), sf(j, "central"), F.lit(1.0))),
    }


class ParquetSyst:
    """The correction, weight and selection expressions are built once, in
    set-up, as a user defines them once per analysis; each pass applies them
    to a fresh scan."""

    JET_VARS = {"nominal": "pt", "JES_up": "JES_up_pt", "JES_down": "JES_down_pt"}

    def __init__(self, paths: list[str]):
        self.paths = paths

    def prepare(self, spark, tr) -> None:
        with tr.span("correction_files.parse"):
            jec = read_jec_txt(CORRECTION_FILES["jec"])
            junc = next(iter(read_junc_txt(CORRECTION_FILES["junc"]).values()))
            btag = read_btag_csv(CORRECTION_FILES["btag"])
        self.stages = {
            "jets": {"CJet": corrected_jets(jec, junc)},
            "btag": btag_weights(btag),
            "met": {"CMET": corrected_polar_met(
                F.col("MET.pt"), F.col("MET.phi"), F.col("CJet"))},
            "vars": self.event_vars(),
        }
        w = Weights()
        w.add("genWeight", F.col("genWeight"))
        w.add("pileup", F.col("puWeight"), F.col("puWeightUp"), F.col("puWeightDown"))
        w.add("btag", F.col("w_btag"), weightUp=F.col("w_btag_up"))
        sel = PackedSelection()
        sel.add("njet", F.col("ngood_nominal") >= 2)
        sel.add("nbjet", F.col("nbjet") >= 1)
        sel.add("met", F.col("CMET.pt") > R.MET_CUT)
        sel.add("lepveto", F.col("nveto") == 0)
        self.w, self.sel = w, sel
        self.hists = {}
        for v in R.SYST_VARIATIONS:
            jv = v if v in self.JET_VARS else "nominal"
            cut = sel.all("nbjet", "met", "lepveto") & (F.col(f"ngood_{jv}") >= 2)
            self.hists[v] = (cut, F.col(f"ht_{jv}"), w.weight(None if v in self.JET_VARS else v))

    def event_vars(self) -> dict:
        cols = {}
        for v, field in self.JET_VARS.items():
            good = F.filter("CJet", _good(field))
            cols[f"ngood_{v}"] = F.size(good)
            cols[f"ht_{v}"] = F.aggregate(good, F.lit(0.0), _add_field(field))
            cols[f"sum_{v}"] = F.aggregate("CJet", F.lit(0.0), _add_field(field))
        cols["nbjet"] = F.size(F.filter(
            "CJet", lambda j: _good("pt")(j) & (j["btagDeepB"] > R.BTAG_CUT)))
        cols["nveto"] = F.size(F.filter("Muon", lambda m: m["pt"] > R.MUON_VETO_PT))
        return cols

    def run_pass(self, spark, tr, pass_dir: str) -> dict:
        """The files are one dataset of a ``runner.run`` fileset; the
        per-dataset pipeline is ``analyse``."""
        marks = {}

        def pipeline(df):
            marks["in"] = time.perf_counter()
            out = self.analyse(df, tr, pass_dir)
            marks["out"] = time.perf_counter()
            return out

        t0 = time.perf_counter()
        with tr.span("runner.run"):
            res = run_fileset(spark, {"syst": self.paths}, pipeline)
        t_end = time.perf_counter()
        out = res["syst"]
        files = out["files"]
        out["timing"] = {
            "overhead": [marks["in"] - t0],
            "busy": [marks["out"] - marks["in"]], "merge": t_end - marks["out"],
            "files": len(files), "written_mb": sum(os.path.getsize(f) for f in files) / 1e6,
        }
        return out

    def analyse(self, df, tr, pass_dir: str) -> dict:
        # the corrected per-event frame is computed once, by one
        # localCheckpoint job; every output below reads its result
        with tr.span("corrections.build"):
            ev = df
            for cols in self.stages.values():
                ev = ev.withColumns(cols)
            ev = ev.drop("Jet", "CJet", "Muon").localCheckpoint(eager=True)
        sel, w = self.sel, self.w
        with tr.span("selection.cutflow"):
            cf = sel.cutflow(ev)
        with tr.span("selection.nminusone"):
            nm = sel.nminusone(ev)
        with tr.span("weights.statistics"):
            stats = w.statistics(ev)
        with tr.span("corrections.sums"):
            row = ev.agg(
                *[F.sum(f"sum_{v}").alias(v) for v in self.JET_VARS],
                F.sum("CMET.pt").alias("met"),
                F.sum(w.weight()).alias("weight"),
            ).collect()[0]
        hists = {}
        with tr.span("weights.hists"):
            for v, (cut, value, weight) in self.hists.items():
                hdf = hist1d(ev.filter(cut), value, *R.HT_BINS, weight=weight)
                hists[v] = dense_hist(hdf, R.HT_BINS[0])
        with tr.span("root_writer.write"):
            files = write_events_root(
                ev.select("event", "ngood_nominal", "ht_nominal", "w_btag", "CMET"),
                os.path.join(pass_dir, "ntuple"),
            )
        return {
            "cutflow": cutflow_dict(cf),
            "nminusone": {"initial": nm.initial, "nev": list(nm.nev), "all": nm.nev_all},
            "stats": stats,
            "sums": {"pt": row["nominal"], "JES_up_pt": row["JES_up"],
                     "JES_down_pt": row["JES_down"], "met": row["met"], "weight": row["weight"]},
            "hists": hists,
            "files": sorted(files),
        }

    def check(self, ref: dict, out: dict) -> list[str]:
        out = dict(out, ntuple=read_written(out["files"], R.NTUPLE_BRANCHES))
        return R.check_syst(ref, out)

    def probe(self, spark, spans: dict) -> dict:
        """Self times by prefix differences: scan -> corrected jets, then,
        on a checkpoint of the corrected jets (so they are evaluated once),
        -> b-tag weights -> MET."""
        scan = spark.read.parquet(*self.paths)
        t_scan = noop(scan)
        t = time.perf_counter()
        jets = scan.withColumns(self.stages["jets"]).localCheckpoint(eager=True)
        t_jets = time.perf_counter() - t
        btag = jets.withColumns(self.stages["btag"])
        met = btag.withColumns(self.stages["met"])
        t_cp, t_btag, t_met = noop(jets), noop(btag), noop(met)
        return {
            "corrections.jets_s": t_jets - t_scan,
            "corrections.btag_s": t_btag - t_cp,
            "corrections.met_s": t_met - t_btag,
            "selection.cutflow_s": spans.get("selection.cutflow", 0.0),
            "selection.nminusone_s": spans.get("selection.nminusone", 0.0),
            "weights.stats_s": spans.get("weights.statistics", 0.0),
            "weights.hist_s": spans.get("weights.hists", 0.0),
        }


def read_written(files: list[str], branches) -> dict:
    """Branches of the written ROOT part files, concatenated in file order."""
    parts = []
    for f in files:
        r = open_tree(f, cache=False)
        parts.append({b: r.array(b) for b in branches})
    if not parts:
        return {}
    return {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}


WORKLOADS = {"root_dimuon": RootDimuon, "parquet_syst": ParquetSyst}
