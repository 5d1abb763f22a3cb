"""Benchmark of the production GC-log job, run from the repository root:

    python3 perfbench/run.py --workload crawl_dense --seed 1 --seconds 10 --trace 0

Closed loop, one driver: one job at a time at ``local[nproc]``, in a
measuring process pinned to this process's CPUs.  The corpus is generated
from ``--seed`` before any timing.  ``--trace 0`` times the real job for
``--seconds`` of job wall and prints the end-to-end metrics;
``--trace 1`` measures every layer from outside and prints the per-layer
metrics (``perfbench/METRICS.json`` says which end-to-end metric each
should move, on which workload).  Every job's output is checked; the last
stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.

Everything the run writes lives under ``perfbench/_out/`` (untracked);
each run leaves one artifact there with the host block, the corpus
description, every rep and, when traced, the spans.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_LIMIT_S = 170  # the whole run must end within 180 s


def _session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[3]) == sid:
            pids.append(int(pid))
    return pids


def _stop_session(sid: int):
    """Kill whatever the measuring process left running (the JVM exits on
    its own once its parent is gone, but not instantly) and wait for it."""
    deadline = time.monotonic() + 20
    while True:
        pids = _session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {pids} did not exit")
        time.sleep(0.1)


def run_child(root: str, work: str, spec: dict, name: str, deadline: float):
    """Run ``child.py`` pinned to ``spec['cpus']`` and return its result
    (None when it failed)."""
    spec = dict(spec, result=f"{work}/{name}-result.json", workdir=work)
    spec_path = f"{work}/{name}-spec.json"
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(spec["nproc"]),
        TMPDIR=f"{work}/tmp",
        # no /tmp/hsperfdata_* files from the launcher JVM
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    cmd = [sys.executable, os.path.join(HERE, "child.py"), spec_path]
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", ",".join(map(str, spec["cpus"]))] + cmd
    with open(f"{work}/{name}.log", "w") as log:
        spec["t_launch"] = time.time()
        with open(spec_path, "w") as fh:
            json.dump(spec, fh)
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=log,
                                stderr=log, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            _stop_session(proc.pid)
            proc.wait()
    try:
        with open(spec["result"]) as fh:
            return json.load(fh)
    except (OSError, json.JSONDecodeError):
        return None


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(corpus, reps, setup) -> dict:
    from perfbench.check import GC_LINE_EVENTS

    ok = [r for r in reps if r["ok"]]
    ok = [r for r in ok if r["clean"]] or ok  # all stolen: report them anyway
    wall = _median([r["wall_s"] for r in ok])
    events = sum(n * GC_LINE_EVENTS[c] for c, n in corpus.per_class.items())
    return {
        "docs_per_sec": corpus.pages / wall if wall else 0.0,
        "events_per_sec": events / wall if wall else 0.0,
        "commit_interval_s": _median([r["commit_interval_s"] for r in ok]),
        "setup_s": setup["setup_s"],
        "peak_rss_mb": _median([r["peak_rss_mb"] for r in ok]),
    }


def tracing_overhead(out_root: str, args, commit: str,
                     traced_wall: float) -> dict:
    """The traced run's real-job wall against the newest untraced run of
    the same workload, scale and sources (same seed when there is one)."""
    runs = []
    for name in os.listdir(out_root):
        if name.startswith(f"{args.workload}-s") and "-t0-" in name and name.endswith(".json"):
            path = os.path.join(out_root, name)
            with open(path) as fh:
                a = json.load(fh)
            walls = [r["wall_s"] for r in a["reps"] if r["ok"]]
            if walls and a["scale"] == args.scale and a["host"]["commit"] == commit:
                runs.append((a["seed"] == args.seed, os.path.getmtime(path), name,
                             statistics.median(walls)))
    if not runs:
        return {"against": None}
    _, _, name, wall = max(runs)
    return {"against": name, "untraced_wall_s": wall, "traced_wall_s": traced_wall,
            "overhead_s": traced_wall - wall}


def load_metric_table() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], required=True)
    p.add_argument("--scale", type=float, default=1.0,
                   help="corpus size factor (the benchmark's own tests use"
                        " a small one)")
    args = p.parse_args(argv)
    deadline = time.monotonic() + RUN_LIMIT_S

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "gclog_parser_spark", "__init__.py"))
            and os.path.isfile(os.path.join(root, "jobs", "gclog_pipeline.py"))):
        print(f"perfbench: no gclog_parser_spark checkout at {root}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench.corpus import RAWLOG_SAMPLE, WORKLOADS, generate
    from perfbench.observe import cpu_times, host_info, share

    if args.workload not in WORKLOADS:
        p.error(f"--workload must be one of {sorted(WORKLOADS)}")
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    units = load_metric_table()

    out_root = os.path.join(HERE, "_out")
    os.makedirs(out_root, exist_ok=True)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}"
    work = tempfile.mkdtemp(prefix=run_id + "-", dir=out_root)
    os.makedirs(f"{work}/tmp")
    try:
        host = host_info(root)
        stat0 = cpu_times(set(host["cpus"]))
        t_gen = time.perf_counter()
        wspec = WORKLOADS[args.workload]
        corpus = generate(args.workload, wspec, args.seed, f"{work}/corpus",
                          args.scale)
        spec = {
            "root": root, "run_id": run_id,
            "cpus": host["cpus"], "nproc": host["nproc"],
            "seconds": args.seconds, "trace": args.trace,
            "corpus": corpus.spec(), "spans": f"{out_root}/{run_id}-spans.jsonl",
        }
        if args.trace:
            spec["sample"] = generate(f"{args.workload}-sample", RAWLOG_SAMPLE,
                                      args.seed, f"{work}/sample").spec()
        gen_s = time.perf_counter() - t_gen

        result = run_child(root, work, spec, "run", deadline)
        stat1 = cpu_times(set(host["cpus"]))

        if result is None:
            reps, metrics = [], {}
            with open(f"{work}/run.log") as fh:
                print(fh.read()[-3000:], file=sys.stderr)
        else:
            reps = result["reps"]
            metrics = (result["metrics"] if args.trace
                       else end_to_end(corpus, reps, result["setup"]))
        failed = sum(not r["ok"] for r in reps) if reps else 1
        attempted = max(1, len(reps))
        artifact = {
            "run_id": run_id, "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "scale": args.scale,
            "loop": "closed, one driver, one job at a time",
            "host": host, "steal": share(stat0, stat1, 1),
            "corpus": corpus.summary(), "generate_s": gen_s,
            "setup": result and result["setup"],
            "warm_up_s": result and result["warm_up_s"], "reps": reps,
            "metrics": metrics,
            "error_rate": failed / attempted,
        }
        if result and args.trace:
            artifact["ladder_cumulative_s"] = result["ladder_cumulative_s"]
            artifact["spans"] = spec["spans"]
            artifact["tracing_overhead"] = tracing_overhead(
                out_root, args, host["commit"],
                result["ladder_cumulative_s"]["ledger.write_s"])
        with open(f"{out_root}/{run_id}.json", "w") as fh:
            json.dump(artifact, fh, indent=1)

        for name, value in metrics.items():
            print(f"{name:34s} {value:14.4f} {units.get(name, '')}")
        overhead = artifact.get("tracing_overhead", {})
        if overhead.get("against"):
            print(f"tracing overhead {overhead['overhead_s']:+.3f} s on the real"
                  f" job ({overhead['traced_wall_s']:.3f} s traced vs"
                  f" {overhead['untraced_wall_s']:.3f} s in {overhead['against']})")
        elif args.trace:
            print("tracing overhead: no untraced run of this workload and"
                  " these sources to compare")
        stolen = sum(not r.get("clean", True) for r in reps)
        print(f"error_rate {failed}/{attempted}  steal {artifact['steal']:.3f}"
              f" ({stolen} reps re-run for steal)"
              f"  nproc {host['nproc']}  corpus {corpus.pages} pages,"
              f" {corpus.bytes_per_page:.0f} B/page on disk,"
              f" log share {corpus.log_share:.3f}")
        print(json.dumps({
            "correct": result is not None and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items() if k in units},
        }))
        return 0 if result is not None else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
