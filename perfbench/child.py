"""Measurement process: one SparkSession at ``local[nproc]``, started by
``run.py`` pinned to the cores it measures on.

    python3 perfbench/child.py SPEC.json

It times set-up (process start → ready session → first Python-worker
task), warms the session up on the corpus, then either times the real job
in a closed loop (``trace=0``) or measures every layer from outside, by
calls into the package's public functions (``trace=1``).  The result is
written as JSON to ``spec["result"]``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from gclog_parser_spark import core
from gclog_parser_spark.datagen import CLOSE_MARK, OPEN_MARK
from gclog_parser_spark.operators import parse
from gclog_parser_spark.operators.aggregate import per_sink_hourly
from gclog_parser_spark.operators.export import tsv_export
from gclog_parser_spark.operators.parse import extract_gc_text, parse_events
from gclog_parser_spark.operators.rates import with_rates
from gclog_parser_spark.plans.ledger import with_chunk_id
from gclog_parser_spark.plans.pipeline import PipelineMetrics, build_events
from gclog_parser_spark.session import get_spark
from perfbench import check, jobs
from perfbench.observe import (
    RssSampler,
    Tracer,
    cpu_times,
    group_task_metrics,
    read_event_log,
    scan_bytes_by_group,
    share,
)


def _identity(batches):
    for b in batches:
        yield b


def open_session(spec: dict):
    work = spec["workdir"]
    conf = {
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.hadoop.hadoop.tmp.dir": f"{work}/tmp",
        "spark.ui.showConsoleProgress": "false",
    }
    if spec.get("trace"):
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = f"file://{work}/eventlog"
        conf["spark.eventLog.compress"] = "false"
    t0 = time.time()
    spark = get_spark(
        master=f"local[{spec['nproc']}]",
        app_name="perfbench",
        shuffle_partitions=spec["nproc"],
        extra_conf=conf,
    )
    t1 = time.time()
    spark.range(1, numPartitions=1).mapInArrow(_identity, "id long").collect()
    t2 = time.time()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {
        "get_spark_s": t1 - t0,
        "worker_warm_s": t2 - t1,
        "setup_s": t2 - spec["t_launch"],
    }


class Runner:
    """Runs and checks the workload's real job against one corpus."""

    def __init__(self, spark, spec: dict, corpus: dict):
        self.spark, self.spec, self.corpus = spark, spec, corpus
        if corpus["kind"] == "pages":
            self.expected = check.expected_pipeline(corpus, check.sink_split(spark))
        else:
            self.golden = check.golden_tsv()

    def job(self, corpus: dict, out: str) -> dict:
        if corpus["kind"] == "pages":
            return jobs.pipeline_job(self.spark, corpus, out, corpus["chunks"])
        return jobs.export_job(self.spark, corpus, out, self.spec["root"])

    def check(self, out: str) -> list[str]:
        if self.corpus["kind"] == "pages":
            return check.check_pipeline(out, self.expected, self.corpus["chunks"])
        return check.check_export(out, self.corpus["urls"], self.golden)

    def rep(self, out: str) -> dict:
        """One timed run of the real job, then its output check."""
        shutil.rmtree(out, ignore_errors=True)
        cpus = set(self.spec["cpus"])
        before = cpu_times(cpus)
        problems, commits = [], []
        with RssSampler() as rss:
            t0 = time.perf_counter()
            try:
                commits = self.job(self.corpus, out)["commits"]
            except Exception as e:  # a failed job is a failed rep, not a crash
                problems.append(f"job raised {e!r}"[:500])
            wall = time.perf_counter() - t0
        after = cpu_times(cpus)
        if not problems:
            problems = self.check(out)
        marks = [t0] + commits
        intervals = [b - a for a, b in zip(marks, marks[1:])]
        return {
            "wall_s": wall,
            "commit_interval_s": statistics.median(intervals) if intervals else wall,
            "commit_offsets_s": [c - t0 for c in commits],
            "peak_rss_mb": rss.peak_mb,
            "steal": share(before, after, 1),
            "cpu_busy": share(before, after, 0),
            "ok": not problems,
            "problems": problems[:5],
        }


def warm_up(runner: Runner, spec: dict):
    """One untimed single-chunk job over the whole corpus: the first job
    of a session pays Python-worker start-up and JIT and runs up to twice
    as long as later ones.  The next one is still ~20 % slow; a second
    warm-up job did not narrow the run-to-run spread, which host speed
    sets.  The median over at least ``MIN_REPS`` timed reps leaves the
    slow first rep out."""
    out = f"{spec['workdir']}/warm-out"
    runner.job(dict(runner.corpus, chunks=1), out)
    shutil.rmtree(out, ignore_errors=True)


#: A rep during which the hypervisor stole more than this share of the
#: pinned CPUs measured the neighbours, not the job: it is re-run.
STEAL_MAX = 0.05
#: End-to-end metrics are medians over at least this many clean reps.
MIN_REPS = 3


def timed_loop(runner: Runner, spec: dict) -> list[dict]:
    """Closed loop, one job at a time: at least ``MIN_REPS`` reps, then
    more until ``seconds`` of job wall and ``MIN_REPS`` reps with at most
    ``STEAL_MAX`` steal, or 1.5 x ``seconds`` of job wall in all."""
    reps, clean, total = [], [], 0.0
    while len(reps) < MIN_REPS or (
        (sum(clean) < spec["seconds"] or len(clean) < MIN_REPS)
        and total < 1.5 * spec["seconds"]
    ):
        rep = runner.rep(f"{spec['workdir']}/out")
        rep["clean"] = rep["steal"] <= STEAL_MAX
        reps.append(rep)
        total += rep["wall_s"]
        if rep["clean"]:
            clean.append(rep["wall_s"])
    shutil.rmtree(f"{spec['workdir']}/out", ignore_errors=True)
    return reps


# ---------------------------------------------------------------------------
# traced run
# ---------------------------------------------------------------------------

def extracted_logs(corpus: dict) -> list[tuple]:
    """(url, warc_ts micros, gc_text) of every log the parse worker sees
    in a pages corpus, extracted exactly as ``extract_gc_text`` does."""
    t = pq.read_table(corpus["path"], columns=["url", "warc_ts", "text"])
    out = []
    for url, ts, text in zip(
        t["url"].to_pylist(),
        t["warc_ts"].cast("int64").to_pylist(),
        t["text"].to_pylist(),
    ):
        if OPEN_MARK in text:
            body = text.split(OPEN_MARK + "\n")[-1].split(CLOSE_MARK, 1)[0]
            out.append((url, ts, body))
    return out


def worker_body(logs: list[tuple]) -> dict:
    """One pass of the narrow parse worker body, in this process on one
    core: block split, line parse, the whole worker function (record
    assembly is its remainder) and the Arrow encode of its output."""
    t0 = time.perf_counter()
    blocks = [b for _, _, text in logs for _, b in core.split_blocks_pos(text, False)]
    t1 = time.perf_counter()
    for b in blocks:
        try:
            core.parse_gc_line(b)
        except ValueError:
            pass
    t2 = time.perf_counter()
    batch = 16384  # spark.sql.execution.arrow.maxRecordsPerBatch in session.py
    frames_in = [
        pd.DataFrame(logs[i:i + batch], columns=["url", "warc_ts", "gc_text"])
        for i in range(0, len(logs), batch)
    ]
    t3 = time.perf_counter()
    frames = list(parse._parse_pages_fn(False)(iter(frames_in)))
    t4 = time.perf_counter()
    schema = to_arrow_schema(parse._UDF_SCHEMA)
    for f in frames:
        pa.RecordBatch.from_pandas(f, schema=schema, preserve_index=False)
    t5 = time.perf_counter()
    split_s, parse_s, worker_s = t1 - t0, t2 - t1, t4 - t3
    return {
        "core.split_blocks_s": split_s,
        "core.parse_gc_line_s": parse_s,
        "parse.record_assembly_s": worker_s - split_s - parse_s,
        "parse.arrow_encode_s": t5 - t4,
    }


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def job_ladder(spark, corpus: dict):
    """Cumulative rungs over the corpus, each into a noop sink; the real
    job follows as the last rung.  ``chunk_scans`` stands beside the
    ladder: the per-chunk extracts ``run_checkpointed`` makes, one noop
    write per chunk.  Returns [(name, run)] and the parse counters the
    narrow rung feeds."""
    pages, rm = jobs.read_input(spark, corpus)
    ext = extract_gc_text(pages, require_marker=rm)
    chunked = with_chunk_id(pages, corpus["chunks"])
    counters = {}

    def narrow():
        m = PipelineMetrics.create(spark)
        _noop(parse_events(pages, require_marker=rm, counters=m.as_counters()))
        counters.update(m.snapshot())

    def chunk_scans():
        for cid in range(corpus["chunks"]):
            one = chunked.where(F.col("chunk_id") == cid).drop("chunk_id")
            _noop(extract_gc_text(one, require_marker=rm))

    return [
        ("sources.scan_s", lambda: _noop(pages)),
        ("parse.extract_s", lambda: _noop(ext)),
        ("chunk_scans", chunk_scans),
        ("parse.arrow_roundtrip_s",
         lambda: _noop(ext.mapInArrow(_identity, ext.schema))),
        ("parse.narrow_s", narrow),
        ("rates.with_rates_s",
         lambda: _noop(with_rates(parse_events(pages, require_marker=rm)))),
        ("route.with_sink_s",
         lambda: _noop(build_events(pages, require_marker=rm))),
        ("aggregate.per_sink_hourly_s",
         lambda: _noop(per_sink_hourly(build_events(pages, require_marker=rm),
                                       exact=True))),
    ], counters


def export_ladder(spark, corpus: dict):
    pages, rm = jobs.read_input(spark, corpus)
    window = parse_events(pages, stitch="window", require_marker=rm)
    return [
        ("export.scan", lambda: _noop(pages)),
        ("export.extract", lambda: _noop(extract_gc_text(pages, require_marker=rm))),
        ("parse.window_s", lambda: _noop(window)),
        ("export.rates", lambda: _noop(with_rates(window))),
        ("export.tsv_s", lambda: _noop(tsv_export(with_rates(window)))),
    ]


def climb(spark, tracer, phase: str, rungs, runner: Runner, real_name: str,
          out: str, budget: float):
    """Run the noop rungs in rounds for half of ``budget`` seconds, then
    the real job until all of it is spent (at least one of each).
    Returns median cumulative seconds per rung and the real-job reps."""
    cum, reps = {}, []
    t_start = time.perf_counter()

    def spent(share):
        return time.perf_counter() - t_start >= budget * share

    r = 0
    while r == 0 or not spent(0.5):
        with tracer.span(f"{phase}.round"):
            for name, run in rungs:
                spark.sparkContext.setJobGroup(f"{phase}|{name}|{r}", name)
                with tracer.span(name) as s:
                    run()
                cum.setdefault(name, []).append(s["end"] - s["start"])
        r += 1
    r = 0
    while r == 0 or not spent(1.0):
        spark.sparkContext.setJobGroup(f"{phase}|{real_name}|{r}", real_name)
        with tracer.span(real_name):
            rep = runner.rep(out)
        rep["output_files"], rep["output_dirs"] = _count_outputs(out)
        rep["ledger"] = _ledger(out)
        reps.append(rep)
        cum.setdefault(real_name, []).append(rep["wall_s"])
        r += 1
    shutil.rmtree(out, ignore_errors=True)
    return {k: statistics.median(v) for k, v in cum.items()}, reps


def _count_outputs(out: str) -> tuple[int, int]:
    files = dirs = 0
    for dirpath, dnames, fnames in os.walk(out):
        dirs += sum(d.startswith("url=") for d in dnames)
        files += sum(not f.startswith((".", "_")) for f in fnames)
    return files, dirs


def _ledger(out: str) -> list[dict]:
    if not os.path.isdir(f"{out}/ledger"):
        return []
    t = pq.read_table(f"{out}/ledger", columns=["chunk_id", "wall_seconds"])
    return sorted(t.to_pylist(), key=lambda r: r["chunk_id"])


def _marginals(cum: dict, order: list[str]) -> dict:
    out, prev = {}, 0.0
    for name in order:
        out[name] = cum[name] - prev
        prev = cum[name]
    return out


def traced(spark, spec: dict, runner: Runner, setup: dict) -> dict:
    tracer = Tracer(spec["run_id"])
    budget = spec["seconds"]
    corpus, ecorpus = spec["corpus"], spec["sample"]
    work = spec["workdir"]

    with tracer.span("worker_body"):
        logs = extracted_logs(corpus)
        rounds, t0 = [], time.perf_counter()
        while not rounds or time.perf_counter() - t0 < budget / 4:
            rounds.append(worker_body(logs))
    body = {k: statistics.median(r[k] for r in rounds) for k in rounds[0]}

    with tracer.span("job_ladder"):
        rungs, counters = job_ladder(spark, corpus)
        cum, job_reps = climb(spark, tracer, "job", rungs, runner,
                              "ledger.write_s", f"{work}/ladder-out", budget)
    order = [n for n, _ in rungs if n != "chunk_scans"] + ["ledger.write_s"]
    layers = _marginals(cum, order)

    with tracer.span("export_ladder"):
        erungs = export_ladder(spark, ecorpus)
        ecum, export_reps = climb(spark, tracer, "export", erungs,
                                  Runner(spark, spec, ecorpus), "export.write_lines_s",
                                  f"{work}/export-out", budget / 2)
    emarg = _marginals(ecum, [n for n, _ in erungs] + ["export.write_lines_s"])

    spark.stop()  # flushes and closes the event log
    events_log = read_event_log(f"{work}/eventlog")
    groups = group_task_metrics(events_log)
    scanned = scan_bytes_by_group(events_log)

    def group_median(phase, name, key):
        vals = [g[key] for k, g in groups.items() if k.startswith(f"{phase}|{name}|")]
        return statistics.median(vals) if vals else 0.0

    real = [r for r in job_reps if r["ok"]] or job_reps
    chunk_walls = [row["wall_seconds"] for r in real for row in r["ledger"]]
    commit_costs = []
    for r in real:
        marks = [0.0] + r["commit_offsets_s"]
        for row, a, b in zip(r["ledger"], marks, marks[1:]):
            commit_costs.append(b - a - row["wall_seconds"])
    bytes_read = statistics.median(
        v for k, v in scanned.items() if k.startswith("job|ledger.write_s|"))
    events = counters.get("events", 0)
    skipped = counters.get("skipped_blocks", 0)
    metrics = {
        "session.get_spark_s": setup["get_spark_s"],
        "session.worker_warm_s": setup["worker_warm_s"],
        **body,
        **layers,
        "sources.bytes_read": bytes_read,
        "sources.scan_amplification": bytes_read / corpus["bytes_on_disk"],
        "sources.rescan_s": cum["chunk_scans"] - cum["parse.extract_s"],
        "ledger.chunk_median_s": statistics.median(chunk_walls) if chunk_walls else 0.0,
        "ledger.chunk_max_s": max(chunk_walls, default=0.0),
        "ledger.commit_s": statistics.median(commit_costs) if commit_costs else 0.0,
        "ledger.output_files": statistics.median(r["output_files"] for r in real),
        "spark.cpu_util": statistics.median(r["cpu_busy"] for r in real),
        "parse.window_s": emarg["parse.window_s"],
        "parse.window_shuffle_bytes": group_median(
            "export", "parse.window_s", "shuffle_bytes_written"),
        "export.tsv_s": emarg["export.tsv_s"],
        "export.write_lines_s": emarg["export.write_lines_s"],
        "export.output_dirs": statistics.median(r["output_dirs"] for r in export_reps),
        "parse.events_out": events,
        "parse.blocks_skipped": skipped,
        "parse.yield": events / (events + skipped) if events + skipped else 0.0,
        "spark.jvm_gc_s": group_median("job", "ledger.write_s", "jvm_gc_s"),
        "spark.spill_bytes": group_median("job", "ledger.write_s", "spill_bytes"),
        "spark.task_skew": group_median("job", "ledger.write_s", "task_skew"),
    }
    tracer.write(spec["spans"])
    return {
        "metrics": metrics,
        "reps": job_reps + export_reps,
        "ladder_cumulative_s": {**cum, **ecum},
        "worker_body_rounds": len(rounds),
    }


def main(spec_path: str) -> int:
    with open(spec_path) as fh:
        spec = json.load(fh)
    spark, setup = open_session(spec)
    result = {"setup": setup}
    runner = Runner(spark, spec, spec["corpus"])
    t0 = time.perf_counter()
    warm_up(runner, spec)
    result["warm_up_s"] = time.perf_counter() - t0
    if spec["trace"]:
        result.update(traced(spark, spec, runner, setup))
    else:
        result["reps"] = timed_loop(runner, spec)
        spark.stop()
    with open(spec["result"], "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
