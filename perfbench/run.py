"""Benchmark launcher: ``python3 perfbench/run.py --workload W --seed N
--seconds S --trace 0|1`` from the root of a checkout.

1. Generates the workload's inputs from the seed (or reuses them from the
   cache, keyed by workload, seed and size) and builds the numpy reference,
   all before any timed process starts.
2. Pins the noise sources: driver heap (``SPARK_GRAFT_DRIVER_MEM``), cores
   (``SPARK_GRAFT_CPUS``), and every file a run writes (``TMPDIR``, Spark
   local dirs, the warehouse, the JVM temp dir) inside ``.perfbench/run``,
   which is cleared at the start of each run.
3. Starts the measuring process (``worker.py``) in its own process group
   and, whatever happens, kills that group and waits for it to end.
4. Prints a header, a per-run report, and as its last line one JSON object
   with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
   end-to-end metrics with ``--trace 0``, the per-layer ones with
   ``--trace 1``.

See README.md in this directory for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
HEAP = "2g"  # fits the JVM and the Python workers in a 15 GB box with room to spare
RUN_DEADLINE_S = 170.0
CACHE_KEEP = 6

END_TO_END_UNITS = {"events_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB"}


def fail(msg: str, code: int = 2) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def prepare_inputs(root: str, workload: str, seed: int, size: str, cache_root: str) -> str:
    """Input directory for (workload, seed, size), generated on a miss."""
    import gen
    import reference

    d = os.path.join(cache_root, f"{workload}-s{seed}-{size}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if gen.sha256_files([os.path.join(d, p) for p in meta["files"]]) == meta["sha256"]:
            os.utime(d)
            return d
    shutil.rmtree(d, ignore_errors=True)
    t = time.time()
    paths, arrays = gen.generate(workload, seed, size, d)
    ref = reference.REFERENCES[workload](arrays, reference.read_correction_texts(root))
    with open(os.path.join(d, "reference.pkl"), "wb") as f:
        pickle.dump(ref, f)
    meta = {
        "workload": workload, "seed": seed, "size": size,
        "files": [os.path.basename(p) for p in paths],
        "events": len(arrays["event"]),
        "bytes": sum(os.path.getsize(p) for p in paths),
        "sha256": gen.sha256_files(paths),
        "generate_s": time.time() - t,
    }
    with open(meta_path, "w") as f:
        json.dump(meta, f, indent=1)
    _evict(cache_root, keep=CACHE_KEEP)
    return d


def _evict(cache_root: str, keep: int) -> None:
    entries = sorted(
        (os.path.join(cache_root, e) for e in os.listdir(cache_root)),
        key=os.path.getmtime, reverse=True,
    )
    for e in entries[keep:]:
        shutil.rmtree(e, ignore_errors=True)


def spawn(args_list, env, log_path, timeout) -> int:
    """Run one worker in its own process group; kill the whole group
    (JVM and Python workers included) if it outlives ``timeout``."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(args_list, env=env, cwd=os.path.dirname(log_path),
                             stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(timeout, 1.0))
        except subprocess.TimeoutExpired:
            return -1
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
            _wait_group_gone(p.pid, timeout=10.0)


def _wait_group_gone(pgid: int, timeout: float) -> None:
    """Wait until no process of the group is left (the JVM and Python
    workers are grandchildren, so ``wait`` does not cover them)."""
    end = time.time() + timeout
    while time.time() < end:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def median(xs):
    return float(statistics.median(xs)) if xs else float("nan")


def end_to_end(main: dict) -> tuple[dict, dict]:
    plain = [p for p in main["passes"] if not p["traced"] and p["ok"]]
    walls = [p["wall"] for p in plain]
    metrics = {
        "events_per_s": main["events"] / median(walls),
        "setup_s": main["setup"]["setup_s"],
        "peak_rss_mb": main["rss_mb"]["jvm"] + main["rss_mb"]["python"],
    }
    samples = {"passes": len(walls), "setups": 1}
    return metrics, samples


def per_layer(main: dict, spec: list[dict]) -> tuple[dict, dict]:
    traced = [p for p in main["passes"] if p["traced"] and p["ok"]]
    plain = [p for p in main["passes"] if not p["traced"] and p["ok"]]

    def med(key_fn):
        vals = [v for v in (key_fn(p) for p in traced) if v is not None]
        return median(vals) if vals else 0.0

    def probe(name):
        return med(lambda p: p.get("probe", {}).get(name))

    def counter(name):
        return med(lambda p: p.get("counters", {}).get(name))

    timing = [p["timing"] for p in main["passes"] if p.get("timing") and p["ok"]]
    m = {
        "session.start_s": main["setup"]["start_s"],
        "session.ship_s": main["setup"]["ship_s"],
        "session.warm_pass_s": main["setup"]["warm_pass_s"],
        "session.jvm_peak_rss_mb": main["rss_mb"]["jvm"],
        "session.python_peak_rss_mb": main["rss_mb"]["python"],
        "correction_files.parse_s": main["setup"]["parse_s"],
        "spark.plan_s": med(lambda p: p["wall"] - p["counters"]["job_busy_s"]),
        "spark.jobs_per_pass": counter("jobs"),
        "spark.tasks_per_pass": counter("tasks"),
        "spark.tasks_failed": float(sum(p.get("counters", {}).get("failed", 0) for p in traced)),
        "spark.shuffle_bytes_per_pass": counter("shuffle_bytes"),
        "hist.shuffle_bytes": counter("hist_shuffle_bytes"),
        "runner.dataset_s": median([x for t in timing for x in t["busy"]]) if timing else 0.0,
        "runner.overhead_s": median([x for t in timing for x in t["overhead"]]) if timing else 0.0,
        "accumulator.merge_s": median([t["merge"] for t in timing]) if timing else 0.0,
        "trace.overhead_frac": (
            median([p["wall"] for p in traced]) / median([p["wall"] for p in plain]) - 1.0
            if traced and plain else 0.0
        ),
        "trace.passes": float(len(traced)),
    }
    if main["workload"] == "root_dimuon":
        m["root_reader.scans_per_pass"] = counter("scans")
    if main["workload"] == "parquet_syst":
        write = med(lambda p: p["spans"].get("root_writer.write"))
        m["root_writer.write_s"] = write
        m["root_writer.files"] = median([t["files"] for t in timing])
        m["root_writer.mb_per_s"] = median([t["written_mb"] for t in timing]) / write
    names = [x["name"] for x in spec]
    for n in names:
        if n not in m:
            m[n] = probe(n)
    units = {x["name"]: x["unit"] for x in spec}
    return {n: m[n] for n in names}, units


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full", help="input size preset (gen.SIZES)")
    args = ap.parse_args(argv)
    t_begin = time.time()
    # a terminated launcher still unwinds through spawn(), which kills the
    # worker's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "coffea_spark", "__init__.py")):
        return fail("no coffea_spark package in the current directory; "
                    "run from the root of a checkout")
    sys.path.insert(0, HERE)
    sys.path.insert(0, root)
    import gen

    if args.workload not in gen.WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; choose from {gen.WORKLOADS}")
    if args.size not in gen.SIZES:
        return fail(f"unknown size {args.size!r}")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    base = os.path.join(root, ".perfbench")
    run_dir = os.path.join(base, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "out"):
        os.makedirs(os.path.join(run_dir, sub))
    os.makedirs(os.path.join(base, "inputs"), exist_ok=True)
    load_at_start = os.getloadavg()[0]

    inputs = prepare_inputs(root, args.workload, args.seed, args.size, os.path.join(base, "inputs"))
    with open(os.path.join(inputs, "meta.json")) as f:
        meta = json.load(f)

    cores = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_GRAFT_CPUS": str(cores),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        # the driver JVM only: start the heap at its cap and touch all of it
        # at start, so the collector's sizing and the order in which it
        # touches heap pages do not decide the JVM's resident size
        "SPARK_SUBMIT_OPTS": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
        "PYTHONPATH": os.pathsep.join([root, env.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    env.pop("OMP_NUM_THREADS", None)
    from importlib.metadata import version

    header = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "cores": cores, "heap": HEAP, "spark": version("pyspark"),
        "input_bytes": meta["bytes"], "input_events": meta["events"],
        "input_sha256": meta["sha256"], "load_at_start": round(load_at_start, 2),
        "seconds": args.seconds, "trace": args.trace,
    }
    print("header " + json.dumps(header), flush=True)

    out = os.path.join(run_dir, "worker.json")
    log = os.path.join(run_dir, "worker.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--inputs", inputs, "--out", out,
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--launched", repr(time.time())]
    rc = spawn(cmd, env, log, RUN_DEADLINE_S - (time.time() - t_begin))
    if rc != 0 or not os.path.exists(out):
        return fail(f"worker exited with {rc}; see {log}", 1)
    with open(out) as f:
        main_res = json.load(f)
    for sub in ("tmp", "local", "out"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)

    attempted, failed = main_res["attempted"], main_res["failed"]
    for e in main_res["errors"]:
        print("error " + e.replace("\n", " | "), flush=True)
    if not any(p["ok"] and not p["traced"] for p in main_res["passes"]):
        return fail(f"no timed pass completed ({failed} of {attempted} failed)", 1)
    if args.trace:
        values, units = per_layer(main_res, spec["per_layer"])
        samples = {"traced_passes": int(values.get("trace.passes", 0))}
    else:
        values, samples = end_to_end(main_res)
        units = END_TO_END_UNITS
    print("samples " + json.dumps(samples), flush=True)
    print("detail " + json.dumps({
        "pass_walls": [round(p["wall"], 4) for p in main_res["passes"]],
        "pass_spans": [{k: round(v, 3) for k, v in p["spans"].items()} for p in main_res["passes"]],
        "setup": main_res["setup"], "rss_mb": main_res["rss_mb"],
    }), flush=True)
    report = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
    print(json.dumps(report), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
