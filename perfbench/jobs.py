"""The production jobs the benchmark times, called through the
package's public functions exactly as ``jobs/gclog_pipeline.py`` calls
them.

``pipeline_job`` is the CLI's parquet path (``read_pages`` →
``run_checkpointed`` → ``per_sink_hourly(exact=True)`` write); the CLI's
``main`` cannot be called directly because it stops the session.
``export_job`` calls the CLI's own ``run_export`` with the flags of
``--input-format rawlogs --format tsv --stitch window --output``.
"""

from __future__ import annotations

import argparse
import functools
import importlib.util
import os
import time


@functools.cache
def cli_module(root: str):
    """``jobs/gclog_pipeline.py`` loaded from the checkout (``jobs/`` is
    not a package)."""
    spec = importlib.util.spec_from_file_location(
        "gclog_pipeline_cli", os.path.join(root, "jobs", "gclog_pipeline.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def read_input(spark, corpus: dict):
    """The CLI's input step for the corpus kind, and its require_marker."""
    from gclog_parser_spark.sources.pages import read_gc_logs, read_pages

    if corpus["kind"] == "rawlogs":
        return read_gc_logs(spark, corpus["path"]), False
    return read_pages(
        spark, corpus["path"], columns=["url", "warc_ts", "text"]
    ), True


def pipeline_job(spark, corpus: dict, out: str, n_chunks: int) -> dict:
    """The CLI's parquet pipeline.  Returns the run summary plus
    ``commits``, the ``time.perf_counter()`` of each ledger row append
    (``run_checkpointed`` logs right after it)."""
    from gclog_parser_spark.operators.aggregate import per_sink_hourly
    from gclog_parser_spark.plans.ledger import run_checkpointed

    commits = []
    pages, require_marker = read_input(spark, corpus)
    summary = run_checkpointed(
        spark,
        pages,
        out_path=f"{out}/events",
        ledger_path=f"{out}/ledger",
        n_chunks=n_chunks,
        mode="gc_line",
        stitch="narrow",
        require_marker=require_marker,
        log=lambda _msg: commits.append(time.perf_counter()),
    )
    events = spark.read.parquet(f"{out}/events")
    per_sink_hourly(events, exact=True).write.mode("overwrite").parquet(
        f"{out}/agg"
    )
    summary["commits"] = commits
    return summary


def export_args(out: str) -> argparse.Namespace:
    """The parsed CLI flags of ``--format tsv --stitch window --output``."""
    return argparse.Namespace(
        mode="gc_line", stitch="window", limit=None, format="tsv",
        delimiter="\t", prefix="gc", dest=None, output=out,
    )


def export_job(spark, corpus: dict, out: str, root: str) -> dict:
    """The CLI's export mode; its one durable commit is the text write."""
    pages, require_marker = read_input(spark, corpus)
    cli_module(root).run_export(spark, pages, export_args(out), require_marker)
    return {"commits": [time.perf_counter()]}
