"""The benchmark's own tests, at a tiny size.  Run from the repository
root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import check, jobs  # noqa: E402
from perfbench.corpus import RAWLOG_SAMPLE, WORKLOADS, generate  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def _files(path):
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), path)] = fh.read()
    return out


def test_same_seed_same_corpus(tmp_path):
    for name, spec in [*WORKLOADS.items(), ("rawlogs", RAWLOG_SAMPLE)]:
        a = generate(name, spec, 7, str(tmp_path / f"{name}-a"), 0.02)
        b = generate(name, spec, 7, str(tmp_path / f"{name}-b"), 0.02)
        c = generate(name, spec, 8, str(tmp_path / f"{name}-c"), 0.02)
        assert _files(a.path) == _files(b.path)
        assert a.summary() == b.summary()
        assert _files(a.path) != _files(c.path)


def test_page_corpus_shape(tmp_path):
    import pyarrow.parquet as pq

    dense = generate("crawl_dense", WORKLOADS["crawl_dense"], 3,
                     str(tmp_path / "d"), 0.2)
    sparse = generate("crawl_sparse", WORKLOADS["crawl_sparse"], 3,
                      str(tmp_path / "s"), 0.2)
    assert dense.log_share == 1.0
    assert 0.01 < sparse.log_share < 0.03
    texts = pq.read_table(dense.path, columns=["text"])["text"].to_pylist()
    assert len(set(texts)) == len(texts)  # no two pages share their text
    hot = sum(n for (_, hour), n in dense.per_class_hour.items() if hour == 4)
    assert 0.6 < hot / dense.log_pages < 0.8
    assert dense.bytes_per_page > 1000  # filler does not dictionary-collapse


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from gclog_parser_spark.session import get_spark

    tmp = tmp_path_factory.mktemp("spark")
    s = get_spark(master="local[2]", shuffle_partitions=2, extra_conf={
        "spark.local.dir": str(tmp), "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
    })
    yield s
    s.stop()


def _drop_one_event(out):
    import pyarrow.parquet as pq

    for d, _, files in os.walk(f"{out}/events"):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                t = pq.read_table(p)
                if t.num_rows:
                    pq.write_table(t.slice(1), p)
                    return
    raise AssertionError("no event file to corrupt")


def _alter_one_byte(out):
    for d, _, files in os.walk(out):
        for f in files:
            if f.startswith("part-"):
                p = os.path.join(d, f)
                with open(p, "rb") as fh:
                    data = bytearray(fh.read())
                data[len(data) // 2] ^= 1
                with open(p, "wb") as fh:
                    fh.write(bytes(data))
                return
    raise AssertionError("no text file to corrupt")


def test_pipeline_check_catches_a_dropped_event(spark, tmp_path):
    from perfbench.child import Runner

    shape = dict(WORKLOADS["crawl_sparse"], log_share=1.0, chunks=2)
    corpus = generate("crawl_sparse", shape, 5, str(tmp_path / "c"), 0.004).spec()
    spec = {"root": ROOT, "cpus": sorted(os.sched_getaffinity(0))}
    runner = Runner(spark, spec, corpus)
    out = str(tmp_path / "out")
    good = runner.rep(out)
    assert good["ok"], good["problems"]
    assert check.check_pipeline(out, runner.expected, corpus["chunks"]) == []
    _drop_one_event(out)
    assert check.check_pipeline(out, runner.expected, corpus["chunks"])

    class Corrupting(Runner):
        def job(self, c, o):
            res = super().job(c, o)
            _drop_one_event(o)
            return res

    bad = Corrupting(spark, spec, corpus).rep(out)
    reps = [good, bad]
    assert sum(not r["ok"] for r in reps) / len(reps) > 0  # error_rate


def test_export_check_catches_an_altered_byte(spark, tmp_path):
    corpus = generate("rawlogs", RAWLOG_SAMPLE, 5, str(tmp_path / "c"),
                      0.25).spec()
    golden = check.golden_tsv()
    out = str(tmp_path / "out")
    jobs.export_job(spark, corpus, out, ROOT)
    assert check.check_export(out, corpus["urls"], golden) == []
    _alter_one_byte(out)
    assert check.check_export(out, corpus["urls"], golden)


def _run(args, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py"] + args,
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines


def _result(args):
    code, lines = _run(args)
    assert code == 0, lines[-20:]
    return lines, json.loads(lines[-1])


def test_untraced_run_prints_every_end_to_end_metric():
    lines, res = _result(["--workload", "crawl_dense", "--seed", "4",
                          "--seconds", "1", "--trace", "0", "--scale", "0.03"])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for name, unit in want.items():  # also printed by name, with its unit
        assert any(ln.split()[:1] == [name] and ln.split()[-1] == unit
                   for ln in lines)
        assert res["metrics"][name]["value"] > 0


def test_traced_run_prints_every_layer_and_repeats_counts():
    args = ["--workload", "crawl_sparse", "--seed", "4", "--seconds", "1",
            "--trace", "1", "--scale", "0.03"]
    _, a = _result(args)
    _, b = _result(args)
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in a["metrics"].items()} == want
    assert a["correct"] and b["correct"]
    for name in ("parse.events_out", "parse.blocks_skipped", "parse.yield"):
        assert a["metrics"][name]["value"] == b["metrics"][name]["value"]
    # the chunked job scans the whole corpus once per chunk; the read-back
    # of events and ledger adds a little on top
    chunks = WORKLOADS["crawl_sparse"]["chunks"]
    amplification = a["metrics"]["sources.scan_amplification"]["value"]
    assert chunks <= amplification < chunks + 0.5


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_out", "__pycache__"))
    code, lines = _run(["--workload", "crawl_dense", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=str(tmp_path))
    assert code != 0
    assert not any(ln.startswith("{") for ln in lines)
