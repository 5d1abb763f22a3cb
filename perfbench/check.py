"""Output checks for the timed jobs.

A rep counts as failed when its job raised or when any check here
returns a problem.  Expected values come from the fixture table, not from
the run being checked:

* pipeline jobs: per-class event totals equal ``fixtures.CLASSES`` counts
  times the pages of that class, and every per-sink and per-(sink, hour)
  count equals the per-class sink split times the generator's page
  counts.  The per-class sink split comes from one golden run over one
  page per class, whose totals are themselves checked against CLASSES.
* export jobs: every log's TSV is byte-identical to the driver-side
  golden formatter (``functions.export.tsv_lines`` over
  ``core.calculate_rates``), computed once per fixture class.
"""

from __future__ import annotations

import os
from collections import Counter
from datetime import datetime
from urllib.parse import unquote

from gclog_parser_spark.fixtures import CLASSES, all_classes

GC_LINE_EVENTS = {name: n for _, name, _, n, _ in CLASSES}


def class_of_url(url: str) -> str:
    """Fixture class a generated url or raw-log path was built from."""
    if url.startswith("https://"):
        return url.split("/")[3]
    return os.path.basename(url).split("-")[0]


def sink_split(spark) -> dict:
    """class -> {sink: events per page}, from one page per class run
    through ``build_events`` (parse → rates → route)."""
    from gclog_parser_spark.datagen import CLOSE_MARK, OPEN_MARK
    from gclog_parser_spark.plans.pipeline import build_events
    from gclog_parser_spark.schema import PAGES_SCHEMA

    rows = [
        (f"https://crawl.example/{name}/golden/0", datetime(2016, 11, 10),
         None, f"golden\n{OPEN_MARK}\n{text}{CLOSE_MARK}\n", "en")
        for _, name, text, _, _ in all_classes()
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    split: dict = {}
    for r in build_events(pages).groupBy("url", "sink").count().collect():
        split.setdefault(class_of_url(r["url"]), {})[r["sink"]] = r["count"]
    for name, n in GC_LINE_EVENTS.items():
        got = sum(split.get(name, {}).values())
        if got != n:
            raise RuntimeError(
                f"golden run: class {name} gave {got} events, CLASSES says {n}"
            )
    return split


def expected_pipeline(corpus: dict, split: dict) -> dict:
    """Expected events per class, per sink and per (sink, hour)."""
    per_class = {c: n * GC_LINE_EVENTS[c] for c, n in corpus["per_class"].items()}
    per_sink, per_sink_hour = Counter(), Counter()
    for (cls, hour), pages in corpus["per_class_hour"]:
        for sink, k in split[cls].items():
            per_sink[sink] += pages * k
            per_sink_hour[(sink, hour)] += pages * k
    return {
        "events": sum(per_class.values()),
        "per_class": per_class,
        "per_sink": dict(per_sink),
        "per_sink_hour": dict(per_sink_hour),
    }


def check_pipeline(out: str, expected: dict, n_chunks: int) -> list[str]:
    """Problems found in a pipeline job's ``events/``, ``agg/`` and
    ``ledger/`` outputs (empty list = correct)."""
    import pyarrow.dataset as ds

    problems = []
    events = ds.dataset(
        f"{out}/events", format="parquet", partitioning="hive"
    ).to_table(columns=["url", "sink"])
    per_class, per_sink = Counter(), Counter()
    for url, sink in zip(events["url"].to_pylist(), events["sink"].to_pylist()):
        per_class[class_of_url(url)] += 1
        per_sink[sink] += 1
    if dict(per_class) != expected["per_class"]:
        problems.append(f"events per class {dict(per_class)} != {expected['per_class']}")
    if dict(per_sink) != expected["per_sink"]:
        problems.append(f"events per sink {dict(per_sink)} != {expected['per_sink']}")

    agg = ds.dataset(f"{out}/agg", format="parquet").to_table(
        columns=["sink", "hour", "events"]
    )
    got = Counter()
    for sink, hour, n in zip(*(agg[c].to_pylist() for c in ("sink", "hour", "events"))):
        got[(sink, hour.hour)] += n
    if dict(got) != expected["per_sink_hour"]:
        problems.append("agg per (sink, hour) differs from the expected counts")

    ledger = ds.dataset(f"{out}/ledger", format="parquet").to_table()
    chunks = set(ledger["chunk_id"].to_pylist())
    if chunks != set(range(n_chunks)):
        problems.append(f"ledger chunks {sorted(chunks)} != 0..{n_chunks - 1}")
    if sum(ledger["events"].to_pylist()) != expected["events"]:
        problems.append("ledger event total differs from the expected count")
    return problems


def golden_tsv() -> dict:
    """class -> the exact bytes the export must write for one log."""
    from gclog_parser_spark.core import calculate_rates, parse_log
    from gclog_parser_spark.functions.export import tsv_lines

    out = {}
    for _, name, text, _, _ in all_classes():
        evs = parse_log(text)
        lines = tsv_lines(evs, rates_list=calculate_rates(evs))
        out[name] = "".join(line + "\n" for line in lines).encode()
    return out


def check_export(out: str, urls: list[str], golden: dict) -> list[str]:
    """Problems found in a per-log text export (``url=<log>/part-*``)."""
    problems = []
    dirs = [d for d in os.listdir(out) if d.startswith("url=")]
    want = set(urls)
    seen = {unquote(d[len("url="):]) for d in dirs}
    if seen != want:
        problems.append(
            f"{len(want - seen)} logs missing, {len(seen - want)} unexpected"
        )
    for d in dirs:
        path = os.path.join(out, d)
        data = b""
        for f in sorted(os.listdir(path)):
            if not f.startswith((".", "_")):
                with open(os.path.join(path, f), "rb") as fh:
                    data += fh.read()
        cls = class_of_url(unquote(d[len("url="):]))
        if data != golden.get(cls):
            problems.append(f"TSV of {d} differs from the {cls} golden")
    return problems
