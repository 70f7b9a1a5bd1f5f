"""Deterministic input generation for the two benchmark workloads.

Every generator draws from ``numpy.random.default_rng([seed, k])`` only,
so one (workload, seed, size) gives the same arrays and the same file
bytes, and two seeds give different ones. The arrays the numpy
references need are returned alongside the written files; the program
under test only ever sees the files.

- ``root_dimuon``: NanoAOD-shaped ROOT files (Muon, Electron, Jet, MET,
  PV, event ids). ROOT bytes come from the program's public
  ``root_writer.serialize_root_file`` with the basket size and compression
  pinned here, so the layout the reader decodes is fixed by this file.
- ``parquet_syst``: ``array<struct>`` Parquet events (Jet, Muon, MET,
  rho, generator and pile-up weights), written with pyarrow.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

WORKLOADS = ("root_dimuon", "parquet_syst")

# name -> {workload: parameters}. "full" is what the benchmark measures;
# "tiny" keeps the benchmark's own tests fast.
SIZES = {
    "full": {
        "root_dimuon": {"files": 4, "events_per_file": 2_000},
        "parquet_syst": {"files": 4, "events_per_file": 50},
    },
    "tiny": {
        "root_dimuon": {"files": 2, "events_per_file": 500},
        "parquet_syst": {"files": 2, "events_per_file": 20},
    },
}

ROOT_BASKET_ROWS = 500
ROOT_COMPRESSION = 1  # zlib level 1, as ROOT's default algorithm


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), *stream])


def _jagged(rng, n_events: int, mean: float, cap: int) -> np.ndarray:
    return np.minimum(rng.poisson(mean, n_events), cap).astype(np.int32)


def _kinematics(rng, n: int, pt_scale: float, pt_min: float, eta_max: float):
    pt = (pt_min + rng.exponential(pt_scale, n)).astype(np.float64)
    eta = rng.uniform(-eta_max, eta_max, n)
    phi = rng.uniform(-np.pi, np.pi, n)
    return pt, eta, phi


def _offsets(counts: np.ndarray) -> np.ndarray:
    off = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=off[1:])
    return off


# ---------------------------------------------------------------------------
# root_dimuon
# ---------------------------------------------------------------------------

def nano_arrays(seed: int, file_index: int, n: int) -> dict[str, np.ndarray]:
    """One file's NanoAOD-shaped branches as flat numpy arrays (float32
    kinematics as in NanoAOD) plus ``nMuon``/``nElectron``/``nJet``."""
    rng = _rng(seed, 1, file_index)
    out: dict[str, np.ndarray] = {
        "run": np.full(n, 1, dtype=np.int32),
        "luminosityBlock": (1 + np.arange(n) // 1000).astype(np.int32),
        "event": (file_index * 10_000_000 + np.arange(n)).astype(np.int64),
    }
    for coll, mean, cap, pt_scale, mass in (
        ("Muon", 2.0, 8, 25.0, 0.10566),
        ("Electron", 1.0, 6, 20.0, 0.000511),
        ("Jet", 4.0, 14, 40.0, None),
    ):
        counts = _jagged(rng, n, mean, cap)
        m = int(counts.sum())
        pt, eta, phi = _kinematics(rng, m, pt_scale, 3.0, 2.5)
        out[f"n{coll}"] = counts
        out[f"{coll}_pt"] = pt.astype(np.float32)
        out[f"{coll}_eta"] = eta.astype(np.float32)
        out[f"{coll}_phi"] = phi.astype(np.float32)
        if mass is None:
            out[f"{coll}_mass"] = rng.uniform(2.0, 20.0, m).astype(np.float32)
        else:
            out[f"{coll}_mass"] = np.full(m, mass, dtype=np.float32)
        if coll == "Muon":
            out["Muon_charge"] = rng.choice(np.array([-1, 1], np.int32), m)
            out["Muon_pfRelIso04_all"] = rng.exponential(0.1, m).astype(np.float32)
            out["Muon_dxy"] = rng.normal(0, 0.01, m).astype(np.float32)
            out["Muon_dz"] = rng.normal(0, 0.02, m).astype(np.float32)
            out["Muon_tightId"] = rng.random(m) < 0.8
        elif coll == "Electron":
            out["Electron_charge"] = rng.choice(np.array([-1, 1], np.int32), m)
            out["Electron_cutBased"] = rng.integers(0, 5, m).astype(np.int32)
            out["Electron_pfRelIso03_all"] = rng.exponential(0.1, m).astype(np.float32)
        else:
            out["Jet_btagDeepFlavB"] = rng.random(m).astype(np.float32)
            out["Jet_jetId"] = rng.integers(0, 7, m).astype(np.int32)
            out["Jet_hadronFlavour"] = rng.choice(np.array([0, 4, 5], np.int32), m)
            out["Jet_rawFactor"] = rng.uniform(0.0, 0.3, m).astype(np.float32)
    out["MET_pt"] = rng.exponential(30.0, n).astype(np.float32)
    out["MET_phi"] = rng.uniform(-np.pi, np.pi, n).astype(np.float32)
    out["PV_npvs"] = rng.poisson(30, n).astype(np.int32)
    out["genWeight"] = rng.normal(1.0, 0.1, n).astype(np.float32)
    return out


def _write_root(path: str, arrays: dict[str, np.ndarray]) -> None:
    from coffea_spark.root_writer import serialize_root_file

    cols: dict = {}
    counts_map: dict[str, str] = {}
    for name, vals in arrays.items():
        if name.startswith("n") and name[1:] in ("Muon", "Electron", "Jet"):
            continue
        coll = name.split("_", 1)[0]
        if f"n{coll}" in arrays and "_" in name:
            off = _offsets(arrays[f"n{coll}"]).tolist()
            cols[name] = [vals[a:b] for a, b in zip(off[:-1], off[1:])]
            counts_map[name] = f"n{coll}"
        else:
            cols[name] = vals
    blob = serialize_root_file(
        cols, tree="Events", counts_map=counts_map,
        basket_rows=ROOT_BASKET_ROWS, compression=ROOT_COMPRESSION,
    )
    with open(path, "wb") as f:
        f.write(blob)


def gen_root_dimuon(seed: int, params: dict, outdir: str):
    paths, parts = [], []
    for i in range(params["files"]):
        arrays = nano_arrays(seed, i, params["events_per_file"])
        path = os.path.join(outdir, f"nano_{i:03d}.root")
        _write_root(path, arrays)
        paths.append(path)
        parts.append(arrays)
    return paths, _concat_events(parts)


# ---------------------------------------------------------------------------
# parquet_syst
# ---------------------------------------------------------------------------

JET_FIELDS = ("pt", "eta", "phi", "mass", "rawFactor", "btagDeepB", "hadronFlavour")


def syst_arrays(seed: int, file_index: int, n: int) -> dict[str, np.ndarray]:
    """Flat arrays of one ``parquet_syst`` file: ``nJet`` + ``Jet_<f>``,
    ``nMuon`` + ``Muon_<f>``, ``MET_pt``/``MET_phi``, ``rho`` and weights.
    Jet eta and rho reach past the correction tables' bin ranges so the
    clamping paths are exercised."""
    rng = _rng(seed, 2, file_index)
    out: dict[str, np.ndarray] = {
        "event": (file_index * 10_000_000 + np.arange(n)).astype(np.int64)
    }
    nj = _jagged(rng, n, 4.5, 14)
    m = int(nj.sum())
    pt, eta, phi = _kinematics(rng, m, 45.0, 12.0, 3.2)
    out["nJet"] = nj
    out["Jet_pt"] = pt
    out["Jet_eta"] = eta
    out["Jet_phi"] = phi
    out["Jet_mass"] = rng.uniform(2.0, 25.0, m)
    out["Jet_rawFactor"] = rng.uniform(0.0, 0.35, m)
    out["Jet_btagDeepB"] = rng.random(m)
    out["Jet_hadronFlavour"] = rng.choice(np.array([0, 4, 5], np.int32), m, p=[0.6, 0.15, 0.25])
    nm = _jagged(rng, n, 0.6, 5)
    mm = int(nm.sum())
    mpt, meta, mphi = _kinematics(rng, mm, 20.0, 5.0, 2.4)
    out["nMuon"] = nm
    out["Muon_pt"] = mpt
    out["Muon_eta"] = meta
    out["Muon_phi"] = mphi
    out["Muon_charge"] = rng.choice(np.array([-1, 1], np.int32), mm)
    out["MET_pt"] = rng.exponential(45.0, n)
    out["MET_phi"] = rng.uniform(-np.pi, np.pi, n)
    out["rho"] = rng.uniform(0.0, 48.0, n)
    out["genWeight"] = rng.normal(1.0, 0.2, n)
    pu = rng.uniform(0.5, 1.5, n)
    out["puWeight"] = pu
    out["puWeightUp"] = pu * rng.uniform(1.0, 1.1, n)
    out["puWeightDown"] = pu * rng.uniform(0.9, 1.0, n)
    return out


def _list_of_struct(counts, members: dict[str, np.ndarray]):
    import pyarrow as pa

    struct = pa.StructArray.from_arrays(
        [pa.array(v) for v in members.values()], names=list(members)
    )
    return pa.ListArray.from_arrays(pa.array(_offsets(counts).astype(np.int32)), struct)


def _write_syst_parquet(path: str, a: dict[str, np.ndarray]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    met = pa.StructArray.from_arrays(
        [pa.array(a["MET_pt"]), pa.array(a["MET_phi"])], names=["pt", "phi"]
    )
    table = pa.table({
        "event": a["event"],
        "Jet": _list_of_struct(a["nJet"], {f: a[f"Jet_{f}"] for f in JET_FIELDS}),
        "Muon": _list_of_struct(
            a["nMuon"], {f: a[f"Muon_{f}"] for f in ("pt", "eta", "phi", "charge")}
        ),
        "MET": met,
        "rho": a["rho"],
        "genWeight": a["genWeight"],
        "puWeight": a["puWeight"],
        "puWeightUp": a["puWeightUp"],
        "puWeightDown": a["puWeightDown"],
    })
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def gen_parquet_syst(seed: int, params: dict, outdir: str):
    paths, parts = [], []
    for i in range(params["files"]):
        a = syst_arrays(seed, i, params["events_per_file"])
        path = os.path.join(outdir, f"syst_{i:03d}.parquet")
        _write_syst_parquet(path, a)
        paths.append(path)
        parts.append(a)
    return paths, _concat_events(parts)


def _concat_events(parts: list[dict[str, np.ndarray]]) -> dict[str, np.ndarray]:
    return {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}


GENERATORS = {
    "root_dimuon": gen_root_dimuon,
    "parquet_syst": gen_parquet_syst,
}


def generate(workload: str, seed: int, size: str, outdir: str):
    """Write the workload's input files into ``outdir``; returns
    ``(paths, arrays)``."""
    os.makedirs(outdir, exist_ok=True)
    return GENERATORS[workload](seed, SIZES[size][workload], outdir)


def sha256_files(paths: list[str]) -> str:
    """One digest over the input files' names and bytes, in order."""
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()
