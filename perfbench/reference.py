"""Independent numpy references and the checks that compare against them.

Nothing here imports the program: the references are built from the
generated arrays only, and the correction tables are read with this
file's own parser (``JmeTable``, ``read_btag_rows``, ``eval_formula``).

Tolerances, stated once:

- ``EDGE_TOL``: a histogram value computed through transcendental
  functions (sin, cos, sinh, cosh, log10, sqrt) may differ from the JVM's
  result in the last bits. A value within ``EDGE_TOL`` (absolute) of a bin
  edge may therefore land on either side; every other entry must be in
  exactly the reference bin, and per-bin counts must match exactly once
  those ambiguous entries are accounted for.
- ``CUT_TOL``: the same slack for a cut on such a value; an event whose
  cut variable lies within ``CUT_TOL`` of its threshold may count either
  way. Cutflow counts are otherwise exact.
- ``SUM_RTOL``: relative tolerance for floating sums (corrected pt sums,
  weight statistics, weighted bin contents), which Spark accumulates in
  another order.
"""

from __future__ import annotations

import ast
import operator
import os

import numpy as np

EDGE_TOL = 1e-7
CUT_TOL = 1e-7
SUM_RTOL = 1e-9


# ---------------------------------------------------------------------------
# binning, as the program documents it: bin i covers [lo + i*w, lo + (i+1)*w),
# underflow -> -1, overflow -> nbins
# ---------------------------------------------------------------------------

def bucket(x: np.ndarray, nbins: int, lo: float, hi: float) -> np.ndarray:
    w = (hi - lo) / nbins
    with np.errstate(invalid="ignore"):
        b = np.floor((x - lo) / w)
    b = np.where(x < lo, -1, np.where(x >= hi, nbins, b))
    return b.astype(np.int64)


class HistRef:
    """Reference histogram: exact bins for entries far from an edge, and
    the candidate bins of each near-edge entry."""

    def __init__(self, values, nbins, lo, hi, weights=None, tol=EDGE_TOL):
        values = np.asarray(values, dtype=np.float64)
        w = np.ones_like(values) if weights is None else np.asarray(weights, np.float64)
        self.nbins, self.lo, self.hi = nbins, lo, hi
        b_lo = bucket(values - tol, nbins, lo, hi) if tol else bucket(values, nbins, lo, hi)
        b_hi = bucket(values + tol, nbins, lo, hi) if tol else b_lo
        sure = b_lo == b_hi
        size = nbins + 2
        self.n = np.bincount(b_lo[sure] + 1, minlength=size)
        self.sumw = np.bincount(b_lo[sure] + 1, weights=w[sure], minlength=size)
        self.sumabs = np.bincount(b_lo + 1, weights=np.abs(w), minlength=size)
        amb = ~sure
        self.n_ambiguous = int(amb.sum())
        cand = np.concatenate([b_lo[amb], b_hi[amb]]) + 1
        wa = np.abs(np.concatenate([w[amb], w[amb]]))
        self.amb_n = np.bincount(cand, minlength=size)
        self.amb_w = np.bincount(cand, weights=wa, minlength=size)

    def check(self, name: str, n: np.ndarray, sumw: np.ndarray | None = None) -> list[str]:
        """Compare dense per-bin counts (and sums of weights) laid out as
        ``[underflow, bins..., overflow]``."""
        errs = []
        diff = np.asarray(n, dtype=np.int64) - self.n
        bad = (diff < 0) | (diff > self.amb_n)
        if bad.any() or int(diff.sum()) != self.n_ambiguous:
            i = int(np.argmax(bad)) if bad.any() else -1
            errs.append(
                f"{name}: bin counts differ (total {int(np.sum(n))} vs "
                f"{int(self.n.sum()) + self.n_ambiguous}, first bad bin {i - 1})"
            )
        if sumw is not None:
            tol = SUM_RTOL * self.sumabs + self.amb_w + 1e-12
            over = np.abs(np.asarray(sumw) - self.sumw) > tol
            if over.any():
                i = int(np.argmax(over))
                errs.append(f"{name}: sumw differs in bin {i - 1}: {sumw[i]} vs {self.sumw[i]}")
        return errs


class CountRef:
    """A count with the number of events whose cut sits within the
    tolerance of its threshold."""

    def __init__(self, value: int, slack: int = 0):
        self.value, self.slack = int(value), int(slack)

    def check(self, name: str, got) -> list[str]:
        if got is None or abs(int(got) - self.value) > self.slack:
            return [f"{name}: {got} != {self.value} (slack {self.slack})"]
        return []


def check_close(name: str, got, want, scale=None) -> list[str]:
    scale = abs(want) if scale is None else scale
    if got is None or not abs(float(got) - float(want)) <= SUM_RTOL * scale + 1e-12:
        return [f"{name}: {got} != {want}"]
    return []


def jagged_index(counts: np.ndarray):
    """(event index per element, local index per element, offsets)."""
    off = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=off[1:])
    evt = np.repeat(np.arange(len(counts)), counts)
    local = np.arange(off[-1]) - off[evt]
    return evt, local, off


def near(x: np.ndarray, threshold: float, tol: float = CUT_TOL) -> np.ndarray:
    return np.abs(x - threshold) <= tol


# ---------------------------------------------------------------------------
# kinematics (the PtEtaPhiM formulas, in float64)
# ---------------------------------------------------------------------------

def pair_mass(pt1, eta1, phi1, m1, pt2, eta2, phi2, m2):
    def parts(pt, eta, phi, m):
        p = pt * np.cosh(eta)
        return pt * np.cos(phi), pt * np.sin(phi), pt * np.sinh(eta), np.sqrt(m * m + p * p)

    x1, y1, z1, e1 = parts(pt1, eta1, phi1, m1)
    x2, y2, z2, e2 = parts(pt2, eta2, phi2, m2)
    se, sx, sy, sz = e1 + e2, x1 + x2, y1 + y2, z1 + z2
    return np.sqrt(np.maximum(se * se - sx * sx - sy * sy - sz * sz, 0.0))


# ---------------------------------------------------------------------------
# root_dimuon
# ---------------------------------------------------------------------------

DIMUON_BINS = {"mass_hist": (30000, 0.25, 300.0), "pt_hist": (30000, 0.24, 300.0)}


def dimuon_reference(a: dict, tables: dict) -> dict:
    """``tables`` is unused: this workload applies no corrections."""
    n = a["nMuon"].astype(np.int64)
    f = {k: a[f"Muon_{k}"].astype(np.float64) for k in ("pt", "eta", "phi", "mass")}
    charge = a["Muon_charge"].astype(np.int64)
    _, _, off = jagged_index(n)
    masses, n_os = [], np.zeros(len(n), dtype=np.int64)
    cap = int(n.max()) if len(n) else 0
    for i in range(cap):
        for j in range(i + 1, cap):
            ev = np.flatnonzero(n > j)
            ii, jj = off[ev] + i, off[ev] + j
            os_ = charge[ii] + charge[jj] == 0
            ii, jj = ii[os_], jj[os_]
            n_os[ev[os_]] += 1
            masses.append(pair_mass(
                f["pt"][ii], f["eta"][ii], f["phi"][ii], f["mass"][ii],
                f["pt"][jj], f["eta"][jj], f["phi"][jj], f["mass"][jj],
            ))
    masses = np.concatenate(masses) if masses else np.zeros(0)
    two = n >= 2
    has_os = n_os >= 1
    return {
        "mass_hist": HistRef(masses, *DIMUON_BINS["mass_hist"]),
        "pt_hist": HistRef(f["pt"], *DIMUON_BINS["pt_hist"], tol=0.0),
        "cutflow": {
            "initial": CountRef(len(n)),
            "onecut": [CountRef(two.sum()), CountRef(has_os.sum())],
            "cutflow": [CountRef(two.sum()), CountRef((two & has_os).sum())],
        },
        "pairs": int(n_os.sum()),
    }


def check_cutflow(name: str, ref: dict, got: dict) -> list[str]:
    errs = ref["initial"].check(f"{name}.initial", got.get("initial"))
    for key in ("onecut", "cutflow"):
        vals = got.get(key) or []
        if len(vals) != len(ref[key]):
            errs.append(f"{name}.{key}: {len(vals)} cuts, expected {len(ref[key])}")
            continue
        for i, (r, g) in enumerate(zip(ref[key], vals)):
            errs += r.check(f"{name}.{key}[{i}]", g)
    return errs


def check_dimuon(ref: dict, out: dict) -> list[str]:
    errs = []
    for h in ("mass_hist", "pt_hist"):
        errs += ref[h].check(h, out[h]["n"], out[h]["sumw"])
    errs += check_cutflow("cutflow", ref["cutflow"], out["cutflow"])
    return errs


# ---------------------------------------------------------------------------
# correction tables: this benchmark's own parser
# ---------------------------------------------------------------------------

_FUNCS = {
    "log": np.log, "log10": np.log10, "exp": np.exp, "sqrt": np.sqrt,
    "abs": np.abs, "pow": np.power, "max": np.maximum, "min": np.minimum,
    "greatest": np.maximum, "least": np.minimum,
}
_BINOPS = {
    ast.Add: operator.add, ast.Sub: operator.sub, ast.Mult: operator.mul,
    ast.Div: operator.truediv, ast.Pow: np.power,
}


def eval_formula(text: str, env: dict) -> np.ndarray:
    """Evaluate a TFormula-style expression (``[k]`` parameters, ``x``,
    ``TMath::`` names, ``^`` powers) on numpy arrays."""
    import re

    text = text.strip().strip('"')
    text = re.sub(r"\[(\d+)\]", r"p\1", text).replace("TMath::", "").replace("^", "**")

    def ev(node):
        if isinstance(node, ast.Expression):
            return ev(node.body)
        if isinstance(node, ast.BinOp) and type(node.op) in _BINOPS:
            return _BINOPS[type(node.op)](ev(node.left), ev(node.right))
        if isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.USub):
            return -ev(node.operand)
        if isinstance(node, ast.Constant):
            return float(node.value)
        if isinstance(node, ast.Name) and node.id in env:
            return env[node.id]
        if isinstance(node, ast.Call) and node.func.id.lower() in _FUNCS:
            return _FUNCS[node.func.id.lower()](*[ev(a) for a in node.args])
        raise ValueError(f"unsupported formula syntax: {ast.dump(node)}")

    return ev(ast.parse(text, mode="eval"))


def _clamped_bin(edges: np.ndarray, x: np.ndarray) -> np.ndarray:
    return np.clip(np.searchsorted(edges, x, side="right") - 1, 0, len(edges) - 2)


class JmeTable:
    """A JME text table (``{nBinned names nEval names formula ...}`` then
    rows of bin bounds, a column count and parameters). Rows form a nested
    grid: for each bin of one binned variable, the next variable has its own
    edges. Values outside the grid clamp into the edge bins at every level."""

    def __init__(self, text: str):
        lines = [ln for ln in text.splitlines() if ln.strip() and not ln.lstrip().startswith("#")]
        toks = lines[0].strip().strip("{}").split()
        nb = int(toks[0])
        ne = int(toks[1 + nb])
        self.formula = toks[2 + nb + ne] if len(toks) > 2 + nb + ne else '""'
        self.nb, self.ne = nb, ne
        self.rows = np.array([[float(v) for v in ln.split()] for ln in lines[1:]])

    def row_index(self, binned: list[np.ndarray]) -> np.ndarray:
        """Row of each element: clamped bin search level by level among
        the rows that share the bins chosen so far."""
        n = len(binned[0])
        out = np.full(n, -1, dtype=np.int64)

        def descend(rows_idx: np.ndarray, sel: np.ndarray, level: int):
            los = self.rows[rows_idx, 2 * level]
            his = self.rows[rows_idx, 2 * level + 1]
            ulo = np.unique(los)
            edges = np.append(ulo, his[los == ulo[-1]].max())
            b = _clamped_bin(edges, binned[level][sel])
            for k, lo in enumerate(ulo):
                pick = sel[b == k]
                sub = rows_idx[los == lo]
                if level + 1 == self.nb:
                    out[pick] = sub[0]
                else:
                    descend(sub, pick, level + 1)

        descend(np.arange(len(self.rows)), np.arange(n), 0)
        return out

    def params(self, row: np.ndarray) -> tuple[list, list, list]:
        """(eval-variable lows, highs, formula parameters) per element."""
        c = 2 * self.nb + 1
        lo = [self.rows[row, c + 2 * i] for i in range(self.ne)]
        hi = [self.rows[row, c + 2 * i + 1] for i in range(self.ne)]
        npar = int(self.rows[0, 2 * self.nb]) - 2 * self.ne
        par = [self.rows[row, c + 2 * self.ne + k] for k in range(npar)]
        return lo, hi, par

    def jec(self, binned: list[np.ndarray], xs: list[np.ndarray]) -> np.ndarray:
        lo, hi, par = self.params(self.row_index(binned))
        env = {f"p{k}": p for k, p in enumerate(par)}
        for name, x, l, h in zip(("x", "y", "z", "t"), xs, lo, hi):
            env[name] = np.maximum(l, np.minimum(h, x))
        return eval_formula(self.formula, env)

    def junc(self, binned: list[np.ndarray], pt: np.ndarray):
        """(up, down) factors: linear interpolation in clamped pt between
        the (pt, down, up) knot triplets of the element's row."""
        row = self.row_index(binned)
        trip = self.rows[:, 2 * self.nb + 1:]
        knots = trip[0, 0::3]
        downs, ups = trip[:, 1::3], trip[:, 2::3]
        ptc = np.maximum(knots[0], np.minimum(knots[-1], pt))
        k = _clamped_bin(knots, ptc)
        t = (ptc - knots[k]) / (knots[k + 1] - knots[k])

        def lerp(tab):
            v0, v1 = tab[row, k], tab[row, k + 1]
            return v0 + t * (v1 - v0)

        return 1.0 + lerp(ups), 1.0 - lerp(downs)


def read_btag_rows(text: str) -> list[dict]:
    import csv
    import io

    rows = list(csv.reader(io.StringIO(text), skipinitialspace=True))
    header = [h.strip().split(";")[-1] for h in rows[0]]
    out = []
    for raw in rows[1:]:
        if not raw:
            continue
        r = dict(zip(header, (c.strip() for c in raw)))
        for k in ("etaMin", "etaMax", "ptMin", "ptMax"):
            r[k] = float(r[k])
        r["OperatingPoint"] = int(r["OperatingPoint"])
        r["jetFlavor"] = int(r["jetFlavor"])
        out.append(r)
    return out


def btag_sf(rows, flavour, abseta, pt, wp=1, sys="central", methods=("comb", "comb", "incl")):
    """Scale factor per jet, NaN where no row applies. Later rows win
    when several match (the CSV convention the program follows)."""
    local = np.where(flavour == 5, 0, np.where(flavour == 4, 1, 2))
    sf = np.full(len(pt), np.nan)
    for r in rows:
        if r["OperatingPoint"] != wp or r["sysType"] != sys:
            continue
        if r["measurementType"] != methods[r["jetFlavor"]]:
            continue
        m = (
            (local == r["jetFlavor"]) & (abseta >= r["etaMin"]) & (abseta < r["etaMax"])
            & (pt >= r["ptMin"]) & (pt < r["ptMax"])
        )
        x = np.maximum(r["ptMin"], np.minimum(r["ptMax"], pt[m]))
        sf[m] = eval_formula(r["formula"], {"x": x})
    return sf


# ---------------------------------------------------------------------------
# parquet_syst
# ---------------------------------------------------------------------------

# the correction tables the program packages, relative to a checkout root
CORRECTION_FILES = {
    "jec": "coffea_spark/data/demo3d.jec.txt",
    "junc": "coffea_spark/data/demo.junc.txt",
    "btag": "coffea_spark/data/demo.btag.csv",
}


def read_correction_texts(root: str) -> dict[str, str]:
    out = {}
    for key, rel in CORRECTION_FILES.items():
        with open(os.path.join(root, rel)) as f:
            out[key] = f.read()
    return out


SYST_CUTS = ("njet", "nbjet", "met", "lepveto")
SYST_VARIATIONS = ("nominal", "JES_up", "JES_down", "pileupUp", "pileupDown", "btagUp", "btagDown")
HT_BINS = (60, 0.0, 1500.0)
JET_PT_CUT, JET_ETA_CUT, BTAG_CUT, MET_CUT, MUON_VETO_PT = 30.0, 2.4, 0.6, 40.0, 15.0


def _segment_sum(vals: np.ndarray, off: np.ndarray) -> np.ndarray:
    out = np.zeros(len(off) - 1)
    np.add.at(out, np.repeat(np.arange(len(off) - 1), np.diff(off)), vals)
    return out


def _segment_prod(vals: np.ndarray, off: np.ndarray) -> np.ndarray:
    out = np.ones(len(off) - 1)
    np.multiply.at(out, np.repeat(np.arange(len(off) - 1), np.diff(off)), vals)
    return out


def syst_reference(a: dict, tables: dict) -> dict:
    """``tables``: {"jec": text, "junc": text, "btag": text}."""
    jec, junc = JmeTable(tables["jec"]), JmeTable(tables["junc"])
    btag_rows = read_btag_rows(tables["btag"])
    evt, _, off = jagged_index(a["nJet"])
    pt, eta, phi = a["Jet_pt"], a["Jet_eta"], a["Jet_phi"]
    rho = a["rho"][evt]
    pt_raw = pt * (1.0 - a["Jet_rawFactor"])
    corr = jec.jec([eta, rho, pt_raw], [pt_raw])
    pt_jec = pt_raw * corr
    up, down = junc.junc([eta], pt_jec)
    jet_pt = {"nominal": pt_jec, "JES_up": pt_jec * up, "JES_down": pt_jec * down}

    abseta = np.abs(eta)
    good = {v: (p > JET_PT_CUT) & (abseta < JET_ETA_CUT) for v, p in jet_pt.items()}
    near_good = {v: near(p, JET_PT_CUT) & (abseta < JET_ETA_CUT) for v, p in jet_pt.items()}
    ngood = {v: _segment_sum(g.astype(float), off) for v, g in good.items()}
    ht = {v: _segment_sum(np.where(good[v], jet_pt[v], 0.0), off) for v in jet_pt}
    bjet = good["nominal"] & (a["Jet_btagDeepB"] > BTAG_CUT)
    nb = _segment_sum(bjet.astype(float), off)

    flav = a["Jet_hadronFlavour"]
    sf_c = btag_sf(btag_rows, flav, abseta, pt_jec)
    sf_u = btag_sf(btag_rows, flav, abseta, pt_jec, sys="up")
    sf_c1 = np.where(np.isnan(sf_c), 1.0, sf_c)
    sf_u1 = np.where(np.isnan(sf_u), sf_c1, sf_u)
    gn = good["nominal"]
    w_btag = _segment_prod(np.where(gn, sf_c1, 1.0), off)
    w_btag_up = _segment_prod(np.where(gn, sf_u1, 1.0), off)

    dpt = pt_jec - pt
    dx = _segment_sum(dpt * np.cos(phi), off)
    dy = _segment_sum(dpt * np.sin(phi), off)
    mx = a["MET_pt"] * np.cos(a["MET_phi"]) - dx
    my = a["MET_pt"] * np.sin(a["MET_phi"]) - dy
    met = np.sqrt(mx * mx + my * my)

    mevt, _, moff = jagged_index(a["nMuon"])
    nveto = _segment_sum((a["Muon_pt"] > MUON_VETO_PT).astype(float), moff)

    cut = {
        "njet": ngood["nominal"] >= 2,
        "nbjet": nb >= 1,
        "met": met > MET_CUT,
        "lepveto": nveto == 0,
    }
    # events whose decision could flip on last-bit differences
    amb_jet = {v: _segment_sum(ng.astype(float), off) > 0 for v, ng in near_good.items()}
    amb = {
        "njet": amb_jet["nominal"],
        "nbjet": amb_jet["nominal"],
        "met": near(met, MET_CUT),
        "lepveto": np.zeros(len(met), bool),
    }

    w_gen, w_pu = a["genWeight"], a["puWeight"]
    w_nom = 1.0 * w_gen * w_pu * w_btag
    weights = {
        "nominal": w_nom,
        "pileupUp": w_nom * (a["puWeightUp"] / w_pu),
        "pileupDown": w_nom * (a["puWeightDown"] / w_pu),
        "btagUp": w_nom * (w_btag_up / w_btag),
        "btagDown": w_nom / (w_btag_up / w_btag),
    }

    cutflow = {"initial": CountRef(len(met)), "onecut": [], "cutflow": []}
    cum, cum_amb = np.ones(len(met), bool), np.zeros(len(met), bool)
    for c in SYST_CUTS:
        cum, cum_amb = cum & cut[c], cum_amb | amb[c]
        cutflow["onecut"].append(CountRef(cut[c].sum(), amb[c].sum()))
        cutflow["cutflow"].append(CountRef(cum.sum(), cum_amb.sum()))
    allc = np.logical_and.reduce([cut[c] for c in SYST_CUTS])
    any_amb = np.logical_or.reduce([amb[c] for c in SYST_CUTS])
    nminusone = {"initial": CountRef(len(met)), "nev": [], "all": CountRef(allc.sum(), any_amb.sum())}
    for leave in SYST_CUTS:
        rest = [c for c in SYST_CUTS if c != leave]
        m = np.logical_and.reduce([cut[c] for c in rest])
        ma = np.logical_or.reduce([amb[c] for c in rest])
        nminusone["nev"].append(CountRef(m.sum(), ma.sum()))

    hists = {}
    for v in SYST_VARIATIONS:
        jv = v if v in jet_pt else "nominal"
        sel = (ngood[jv] >= 2) & cut["nbjet"] & cut["met"] & cut["lepveto"]
        w = weights.get(v, w_nom)
        ref = HistRef(ht[jv][sel], *HT_BINS, weights=w[sel])
        # events whose selection is ambiguous may add or drop one entry
        sel_amb = amb_jet[jv] | amb["nbjet"] | amb["met"]
        ref.n_ambiguous_events = int(sel_amb.sum())
        hists[v] = ref

    wnames = {"genWeight": w_gen, "pileup": w_pu, "btag": w_btag}
    stats = {
        n: {"sumw": w.sum(), "sumw2": (w * w).sum(), "minw": w.min(), "maxw": w.max(),
            "n": len(w), "scale": np.abs(w).sum(), "scale2": (w * w).sum()}
        for n, w in wnames.items()
    }
    ntuple = {
        "event": a["event"], "ngood_nominal": ngood["nominal"].astype(np.int64),
        "ht_nominal": ht["nominal"], "w_btag": w_btag,
        "CMET_pt": met, "CMET_phi": np.arctan2(my, mx),
        "ambiguous": amb_jet["nominal"],
    }
    sums = {
        "pt": pt_jec.sum(), "JES_up_pt": jet_pt["JES_up"].sum(),
        "JES_down_pt": jet_pt["JES_down"].sum(), "met": met.sum(),
        "weight": w_nom.sum(), "weight_abs": np.abs(w_nom).sum(),
    }
    return {"cutflow": cutflow, "nminusone": nminusone, "hists": hists,
            "stats": stats, "sums": sums, "ntuple": ntuple}


NTUPLE_BRANCHES = ("event", "ngood_nominal", "ht_nominal", "w_btag", "CMET_pt", "CMET_phi")


def check_ntuple(ref: dict, got: dict) -> list[str]:
    """The written per-event ntuple, in any row order: event ids exactly,
    corrected values within ``SUM_RTOL``. Events with a jet within
    ``CUT_TOL`` of the good-jet threshold are compared on event id only."""
    missing = set(NTUPLE_BRANCHES) - set(got)
    if missing:
        return [f"ntuple: branches {sorted(missing)} not written"]
    order = np.argsort(got["event"], kind="stable")
    got = {k: np.asarray(got[k])[order] for k in NTUPLE_BRANCHES}
    if not np.array_equal(got["event"], ref["event"]):
        return [f"ntuple: {len(got['event'])} events written, ids differ from the input"]
    keep = ~ref["ambiguous"]
    errs = []
    if not np.array_equal(got["ngood_nominal"][keep], ref["ngood_nominal"][keep]):
        errs.append("ntuple: ngood_nominal differs")
    for k in ("ht_nominal", "w_btag", "CMET_pt", "CMET_phi"):
        if not np.allclose(got[k][keep], ref[k][keep], rtol=SUM_RTOL, atol=1e-12):
            errs.append(f"ntuple: {k} differs")
    return errs


def check_syst(ref: dict, out: dict) -> list[str]:
    errs = check_cutflow("cutflow", ref["cutflow"], out["cutflow"])
    errs += check_ntuple(ref["ntuple"], out["ntuple"])
    nm, got = ref["nminusone"], out["nminusone"]
    errs += nm["initial"].check("nminusone.initial", got.get("initial"))
    errs += nm["all"].check("nminusone.all", got.get("all"))
    if len(got.get("nev") or []) != len(nm["nev"]):
        errs.append("nminusone: wrong number of cuts")
    else:
        for i, (r, g) in enumerate(zip(nm["nev"], got["nev"])):
            errs += r.check(f"nminusone.nev[{i}]", g)
    for v, h in ref["hists"].items():
        g = out["hists"].get(v)
        if g is None:
            errs.append(f"hist {v} missing")
            continue
        if h.n_ambiguous_events:
            # a near-threshold event can move the whole histogram total
            if abs(int(np.sum(g["n"])) - int(h.n.sum()) - h.n_ambiguous) > h.n_ambiguous_events:
                errs.append(f"hist {v}: total {int(np.sum(g['n']))} vs {int(h.n.sum())}")
        else:
            errs += h.check(f"hist {v}", g["n"], g["sumw"])
    for n, s in ref["stats"].items():
        g = out["stats"].get(n, {})
        errs += check_close(f"stats.{n}.sumw", g.get("sumw"), s["sumw"], s["scale"])
        errs += check_close(f"stats.{n}.sumw2", g.get("sumw2"), s["sumw2"], s["scale2"])
        errs += check_close(f"stats.{n}.minw", g.get("minw"), s["minw"], abs(s["minw"]))
        errs += check_close(f"stats.{n}.maxw", g.get("maxw"), s["maxw"], abs(s["maxw"]))
        if g.get("n") != s["n"]:
            errs.append(f"stats.{n}.n: {g.get('n')} != {s['n']}")
    for k, want in ref["sums"].items():
        if k == "weight_abs":
            continue
        scale = ref["sums"]["weight_abs"] if k == "weight" else abs(want)
        errs += check_close(f"sums.{k}", out["sums"].get(k), want, scale)
    return errs


REFERENCES = {"root_dimuon": dimuon_reference, "parquet_syst": syst_reference}

