"""Seeded input corpora for the benchmark workloads.

Everything here is a pure function of ``(workload, seed)``: the same seed
writes byte-identical files.  Inputs are materialized before any timing
starts.

* Page corpora (``crawl_dense`` / ``crawl_sparse``) are parquet pages
  tables in the layout of ``datagen.synth_pages``: web filler around one
  fixture log between ``OPEN_MARK`` / ``CLOSE_MARK``.  The filler is a
  per-page random slice of a seeded word pool, so parquet cannot
  dictionary-collapse ``text`` the way it does ``synth_pages``' five
  fixed sentences (~19 bytes/page on disk).
* The raw-log sample is a directory of verbatim fixture files, the
  reference CLI's multi-file input; traced runs time the export path on
  it.

Each seed draws its own fixture-class weights (+-5 % around uniform,
so seeds change the mix but not the workload's character) and
keeps the 70 % hot-hour skew of ``datagen``.
"""

from __future__ import annotations

import os
import random
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

from gclog_parser_spark.datagen import CLOSE_MARK, OPEN_MARK
from gclog_parser_spark.fixtures import all_classes

HOT_HOUR = 4
HOT_SHARE = 0.70
BASE_TS = datetime(2016, 11, 10, tzinfo=timezone.utc)

FILLER = (600, 1800)  # bytes of web text before and after the log

#: workload -> shape: ``pages`` page rows of which ``log_share`` embed a
#: log, and the ``run_checkpointed`` chunk count.  ``crawl_sparse`` runs 3
#: chunks, not the CLI default of 8: at 2.5-3 s of fixed cost per chunk
#: on a 4-CPU host, an 8-chunk job takes ~20 s, and a run must time three
#: jobs within a budget of about a minute.
WORKLOADS = {
    "crawl_dense": {"kind": "pages", "pages": 12000, "log_share": 1.0,
                    "chunks": 1},
    "crawl_sparse": {"kind": "pages", "pages": 8000, "log_share": 0.02,
                     "chunks": 3},
}

#: Raw log files a traced run exports, so it measures the export path
#: (``read_gc_logs``, window stitch, TSV export, per-log text write) that
#: the crawl jobs do not enter.
RAWLOG_SAMPLE = {"kind": "rawlogs", "logs": 48}


@dataclass
class Corpus:
    workload: str
    seed: int
    path: str
    kind: str
    pages: int
    log_pages: int
    chunks: int
    #: class name -> number of log-bearing pages (or raw files)
    per_class: dict = field(default_factory=dict)
    #: (class name, hour) -> number of log-bearing pages
    per_class_hour: dict = field(default_factory=dict)
    bytes_on_disk: int = 0
    #: url -> class name, for raw-log files
    url_class: dict = field(default_factory=dict)

    @property
    def bytes_per_page(self) -> float:
        return self.bytes_on_disk / max(1, self.pages)

    @property
    def log_share(self) -> float:
        return self.log_pages / max(1, self.pages)

    def spec(self) -> dict:
        """What the measuring process needs to run and check the job."""
        return {
            "kind": self.kind,
            "path": self.path,
            "pages": self.pages,
            "chunks": self.chunks,
            "bytes_on_disk": self.bytes_on_disk,
            "per_class": self.per_class,
            "per_class_hour": [[list(k), v] for k, v in self.per_class_hour.items()],
            "urls": sorted(self.url_class),
        }

    def summary(self) -> dict:
        return {
            "workload": self.workload,
            "seed": self.seed,
            "kind": self.kind,
            "pages": self.pages,
            "log_pages": self.log_pages,
            "log_share": round(self.log_share, 5),
            "bytes_on_disk": self.bytes_on_disk,
            "bytes_per_page": round(self.bytes_per_page, 1),
            "per_class": dict(sorted(self.per_class.items())),
        }


def _class_sequence(rng: random.Random, n: int) -> list[tuple]:
    """``n`` fixture classes in random order, in exact proportion to this
    seed's class weights (largest-remainder rounding), so the event count
    per log varies with the seed's mix and not with sampling noise."""
    classes = all_classes()
    weights = [rng.uniform(0.95, 1.05) for _ in classes]
    shares = [n * w / sum(weights) for w in weights]
    counts = [int(x) for x in shares]
    by_remainder = sorted(range(len(classes)), key=lambda i: counts[i] - shares[i])
    for i in by_remainder[: n - sum(counts)]:
        counts[i] += 1
    seq = [c for c, k in zip(classes, counts) for _ in range(k)]
    rng.shuffle(seq)
    return seq


def _word_pool(rng: random.Random, n_words: int = 60000) -> str:
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = [
        "".join(rng.choices(letters, k=rng.randint(2, 10)))
        for _ in range(4000)
    ]
    return " ".join(rng.choices(vocab, k=n_words))


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _pages(workload: str, seed: int, path: str, spec: dict, scale: float) -> Corpus:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"{workload}:{seed}")
    pool = _word_pool(rng)
    lo, hi = FILLER
    n = max(10, round(spec["pages"] * scale))
    n_logs = max(1, round(n * spec["log_share"]))
    logs = dict(zip(sorted(rng.sample(range(n), n_logs)),
                    _class_sequence(rng, n_logs)))
    urls, ts, texts = [], [], []
    per_class, per_class_hour = Counter(), Counter()
    for i in range(n):
        hour = HOT_HOUR if rng.random() < HOT_SHARE else rng.randrange(24)
        when = BASE_TS + timedelta(hours=hour, minutes=rng.randrange(60))
        a = rng.randrange(len(pool) - 2 * hi)
        la, lb = rng.randint(lo, hi), rng.randint(lo, hi)
        head = f"page {seed}-{i} " + pool[a:a + la]
        tail = pool[a + la:a + la + lb]
        if i in logs:
            _, name, fixture, _, _ = logs[i]
            url = f"https://crawl.example/{name}/{seed}/{i}"
            text = f"{head}\n{OPEN_MARK}\n{fixture}{CLOSE_MARK}\n{tail}"
            per_class[name] += 1
            per_class_hour[(name, hour)] += 1
        else:
            url = f"https://crawl.example/page/{seed}/{i}"
            text = f"{head}\n{tail}"
        urls.append(url)
        ts.append(when)
        texts.append(text)
    table = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "html": pa.nulls(n, pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n, pa.string()),
        }
    )
    os.makedirs(path, exist_ok=True)
    n_files = 8
    step = -(-n // n_files)
    for f in range(n_files):
        pq.write_table(
            table.slice(f * step, step),
            os.path.join(path, f"part-{f:05d}.parquet"),
        )
    return Corpus(
        workload, seed, path, "pages", n, sum(per_class.values()),
        spec["chunks"], dict(per_class), dict(per_class_hour),
        _dir_bytes(path),
    )


def _rawlogs(workload: str, seed: int, path: str, spec: dict, scale: float) -> Corpus:
    rng = random.Random(f"{workload}:{seed}")
    os.makedirs(path, exist_ok=True)
    per_class, url_class = Counter(), {}
    n = max(10, round(spec["logs"] * scale))
    for i, (_, name, fixture, _, _) in enumerate(_class_sequence(rng, n)):
        fp = os.path.join(path, f"{name}-{seed}-{i:05d}.log")
        with open(fp, "w") as fh:
            fh.write(fixture)
        per_class[name] += 1
        url_class[f"file:{os.path.abspath(fp)}"] = name
    return Corpus(
        workload, seed, path, "rawlogs", n, n, 1, dict(per_class), {},
        _dir_bytes(path), url_class,
    )


def generate(name: str, spec: dict, seed: int, path: str,
             scale: float = 1.0) -> Corpus:
    """Write the inputs of shape ``spec`` (a ``WORKLOADS`` entry or
    ``RAWLOG_SAMPLE``) under ``path`` and describe them.  ``scale`` shrinks the corpus
    for the benchmark's own tests."""
    make = _pages if spec["kind"] == "pages" else _rawlogs
    return make(name, seed, path, spec, scale)
