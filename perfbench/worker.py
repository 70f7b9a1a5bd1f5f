"""The timed process: one Spark session, one workload, a closed loop.

Started by ``run.py`` with the launch time on its command line, so
``setup_s`` runs from process start to: session ready, package shipped to
the Python workers, correction tables parsed, and one warm-up pass done.
Then one driver thread submits one analysis pass at a time until
``--seconds`` have passed (and at least ``MIN_PASSES`` passes). Every
pass's outputs are checked against the reference outside the timed
region; results are written as JSON.

With ``--trace`` passes alternate between plain and traced (spans, job
groups and Spark counters); after each traced pass the layer prefixes are
materialised into the ``noop`` sink to get per-layer self times.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import sys
import threading
import time
import traceback

MIN_PASSES = 2


def _stat_fields(pid) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (the JVM, the Python daemon and
    its workers), from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                children.setdefault(int(_stat_fields(d)[1]), []).append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    todo, seen = list(children.get(root, [])), []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(children.get(pid, []))
    return seen


class RssSampler:
    """Peak resident memory (VmHWM) of the JVM and of the Python workers
    under it, sampled from /proc every ``interval`` seconds. VmHWM is a
    per-process high-water mark, so the last value read for each pid is
    its peak even if the process later exits."""

    def __init__(self, root_pid: int, interval: float = 0.25):
        self.root = root_pid
        self.interval = interval
        self.peak_kb: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        self.sample()
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self):
        for pid in descendants(self.root):
            try:
                with open(f"/proc/{pid}/status") as f:
                    status = f.read()
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
            except OSError:
                continue
            for line in status.splitlines():
                if line.startswith("VmHWM:"):
                    self.peak_kb[pid] = (comm, int(line.split()[1]))

    def totals_mb(self) -> dict[str, float]:
        jvm = sum(kb for comm, kb in self.peak_kb.values() if comm == "java")
        py = sum(kb for comm, kb in self.peak_kb.values() if comm.startswith("python"))
        return {"jvm": jvm / 1024, "python": py / 1024, "python_procs": sum(
            1 for comm, _ in self.peak_kb.values() if comm.startswith("python"))}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True, help="input cache directory")
    ap.add_argument("--out", required=True, help="result JSON path")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--launched", type=float, required=True, help="time.time() at spawn")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import analysis
    from spans import Tracer

    from coffea_spark.session import ensure_worker_imports, get_spark

    with open(os.path.join(args.inputs, "meta.json")) as f:
        meta = json.load(f)
    paths = [os.path.join(args.inputs, p) for p in meta["files"]]
    wl = analysis.WORKLOADS[args.workload](paths)
    work = os.path.dirname(os.path.abspath(args.out))
    rss = RssSampler(os.getpid()).start()

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    t_started = time.time()
    ensure_worker_imports(spark)
    t_shipped = time.time()
    tr = Tracer(spark, os.path.basename(args.out), enabled=bool(args.trace))
    tr.new_pass(-1)
    t = time.time()
    wl.prepare(spark, tr)
    prepare_s = time.time() - t

    # the reference is loaded outside every timed region
    ref = None
    attempted = failed = 0
    errors: list[str] = []

    def run_one(index: int, traced: bool):
        """One timed pass; returns (outputs or None, wall seconds)."""
        nonlocal attempted, failed
        tr.enabled = traced
        tr.new_pass(index)
        attempted += 1
        t0 = time.perf_counter()
        try:
            out = wl.run_pass(spark, tr, os.path.join(work, "out", f"pass{index:03d}"))
        except Exception:  # noqa: BLE001 - a pass that raises counts as failed
            failed += 1
            errors.append(f"pass {index} raised:\n{traceback.format_exc()}")
            out = None
        return out, time.perf_counter() - t0

    def check_one(index: int, out) -> None:
        nonlocal ref, failed
        if out is None:
            return
        if ref is None:
            with open(os.path.join(args.inputs, "reference.pkl"), "rb") as f:
                ref = pickle.load(f)
        try:
            errs = wl.check(ref, out)
        except Exception:  # noqa: BLE001 - an unreadable output is a mismatch
            errs = [f"check raised:\n{traceback.format_exc()}"]
        shutil.rmtree(os.path.join(work, "out", f"pass{index:03d}"), ignore_errors=True)
        if errs:
            failed += 1
            errors.append(f"pass {index}: " + "; ".join(errs[:5]))

    t = time.time()
    warm_out, _ = run_one(0, traced=False)
    t_ready = time.time()
    check_one(0, warm_out)
    result = {
        "workload": args.workload,
        "setup": {
            "setup_s": t_ready - args.launched,
            "start_s": t_started - args.launched,
            "ship_s": t_shipped - t_started,
            "prepare_s": prepare_s,
            "parse_s": tr.durations(-1).get("correction_files.parse", 0.0),
            "warm_pass_s": t_ready - t,
        },
        "spark_version": spark.version,
    }

    passes: list[dict] = []
    deadline = time.perf_counter() + args.seconds
    index = 1
    while index <= MIN_PASSES or time.perf_counter() < deadline:
        traced = bool(args.trace) and index % 2 == 0
        out, wall = run_one(index, traced)
        rec = {"index": index, "traced": traced, "wall": wall, "ok": out is not None,
               "spans": tr.durations(index)}
        if out is not None and "timing" in out:
            rec["timing"] = out["timing"]
        if traced and out is not None:
            rec["counters"] = tr.spark_counters(index)
            tr.enabled = False
            try:
                rec["probe"] = wl.probe(spark, rec["spans"])
            except Exception:  # noqa: BLE001 - probes are diagnostics only
                errors.append(f"probe after pass {index} raised:\n{traceback.format_exc()}")
        check_one(index, out)
        passes.append(rec)
        index += 1
    if args.trace:
        tr.dump(os.path.join(work, "spans.json"))

    rss.stop()
    mem = rss.totals_mb()
    result.update({
        "passes": passes,
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "events": meta["events"],
        "input_bytes": meta["bytes"],
        "rss_mb": mem,
    })
    with open(args.out + ".tmp", "w") as f:
        json.dump(result, f)
    os.replace(args.out + ".tmp", args.out)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
