"""Per-layer observation: Python spans, Spark stage metrics, worker RSS.

Python layers are timed by wrappers installed on the names that
``extractor.py``, ``formatter.py`` and ``udf.py`` call (and on the
``dom`` select methods); the package source is not edited. Spark layers
come from the status REST API at ``sc.uiWebUrl``, attributed to a public
call by its wall-clock window.
"""

from __future__ import annotations

import datetime as dt
import functools
import gzip
import json
import os
import threading
import time
import urllib.request
from collections import Counter, defaultdict
from pathlib import Path


class Tracer:
    """Spans kept in memory as (trace_id, span_id, parent_id, name, start_ns,
    end_ns) and written out by ``dump``."""

    def __init__(self):
        self.spans: list[tuple] = []
        self.trace_id = 0
        self.missing: list[str] = []
        self._stack: list[int] = []
        self._next_id = 0
        self._undo: list[tuple] = []

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sid = self._next_id
            self._next_id += 1
            parent = self._stack[-1] if self._stack else -1
            self._stack.append(sid)
            t0 = time.perf_counter_ns()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter_ns()
                self._stack.pop()
                self.spans.append((self.trace_id, sid, parent, name, t0, t1))
        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        """Wrap ``owner.attr`` in a span; a name the code no longer has is
        listed in ``missing`` instead, so its time falls to the caller."""
        if not hasattr(owner, attr):
            self.missing.append(f"{owner.__name__}.{attr}")
            return
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        setattr(owner, attr, self.wrap(name, orig))
        self._undo.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def self_ns(self) -> dict[str, int]:
        """Total self time per span name: duration minus direct children."""
        child = defaultdict(int)
        for _t, _s, parent, _n, t0, t1 in self.spans:
            child[parent] += t1 - t0
        out: dict[str, int] = defaultdict(int)
        for _t, sid, _p, name, t0, t1 in self.spans:
            out[name] += t1 - t0 - child[sid]
        return out

    def counts(self) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for span in self.spans:
            out[span[3]] += 1
        return out

    def total_ns(self, name: str) -> int:
        return sum(s[5] - s[4] for s in self.spans if s[3] == name)

    def dump(self, path: Path) -> None:
        """JSON lines: a header naming the fields, then one array per span."""
        with gzip.open(path, "wt", compresslevel=1) as f:
            f.write(json.dumps(["trace", "span", "parent", "name", "start_ns",
                                "end_ns"]) + "\n")
            f.writelines(json.dumps(s) + "\n" for s in self.spans)


# names in extractor's namespace, by the layer they belong to
METADATA_NAMES = (
    "extract_title", "extract_description", "extract_canonical_url",
    "extract_domain", "extract_top_private_domain",
    "extract_domain_name_without_tld", "extract_type", "extract_sitename",
    "extract_language", "extract_author_name", "author_cleanup",
    "extract_author_description", "extract_date_from_document",
    "extract_image_url", "extract_rss_url", "extract_video_url",
    "extract_favicon_url", "extract_keywords")
WEIGHTS_NAMES = ("remove_scripts_and_styles", "strip_unlikely_candidates",
                 "remove_nodes_per_domain", "get_nodes",
                 "get_best_match_elements")


def install_python_spans(tracer: Tracer) -> None:
    from snacktory_spark import dom, extractor, formatter, udf

    tracer.patch(udf, "extract_row", "udf.extract_row")
    tracer.patch(udf, "extract", "extractor.extract")
    tracer.patch(extractor, "_extract_content", "extractor.pass")
    tracer.patch(extractor, "dom_parse", "dom.parse")
    tracer.patch(formatter, "dom_parse", "dom.parse")
    for owner in (dom.Element, dom.Elements):
        tracer.patch(owner, "select", "dom.select")
    tracer.patch(dom.Element, "select_first", "dom.select")
    for name in METADATA_NAMES:
        tracer.patch(extractor, name, "metadata")
    for name in WEIGHTS_NAMES:
        tracer.patch(extractor, name, "weights")
    tracer.patch(formatter.OutputFormatter, "get_formatted_text", "formatter")


def python_layers(tracer: Tracer, frames: list) -> dict:
    """Drive ``udf.extract_map_in_pandas`` over Arrow-sized batches with the
    spans installed; returns the per-layer metrics."""
    from snacktory_spark import udf

    install_python_spans(tracer)
    try:
        gen = udf.extract_map_in_pandas(iter(frames))
        for i in range(len(frames)):
            tracer.trace_id = i
            tracer.wrap("udf.batch", next)(gen)
    finally:
        tracer.restore()
    selfs, counts = tracer.self_ns(), tracer.counts()
    docs = counts["extractor.extract"]
    ms = 1e-6 / docs
    return {
        "dom.parse_calls_per_doc": counts["dom.parse"] / docs,
        "dom.parse_ms_per_doc": selfs["dom.parse"] * ms,
        "dom.select_calls_per_doc": counts["dom.select"] / docs,
        "dom.select_ms_per_doc": selfs["dom.select"] * ms,
        "metadata.ms_per_doc": selfs["metadata"] * ms,
        "weights.ms_per_doc": selfs["weights"] * ms,
        "formatter.ms_per_doc": selfs["formatter"] * ms,
        "extractor.self_ms_per_doc":
            (selfs["extractor.extract"] + selfs["extractor.pass"]) * ms,
        "extractor.retry_share": sum(
            n > 1 for n in Counter(s[2] for s in tracer.spans
                                   if s[3] == "extractor.pass").values()) / docs,
        "udf.frame_ms_per_krow": (tracer.total_ns("udf.batch")
                                  - tracer.total_ns("udf.extract_row"))
                                 * 1e-3 / docs,
    }


# ---- Spark status REST API -------------------------------------------------

def _get(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _epoch(stamp: str) -> float:
    # "2026-10-17T03:14:45.642GMT"
    return dt.datetime.strptime(stamp[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=dt.timezone.utc).timestamp()


def stages_in(spark, t0: float, t1: float) -> list[dict]:
    """Completed stages submitted and completed within [t0, t1] (epoch s)."""
    time.sleep(0.3)  # let the last stage reach the status store
    out = []
    for s in _get(spark, "stages?status=COMPLETE"):
        if "submissionTime" not in s or "completionTime" not in s:
            continue
        if (t0 - 0.001 <= _epoch(s["submissionTime"])
                and _epoch(s["completionTime"]) <= t1 + 0.001):
            out.append(s)
    return sorted(out, key=lambda s: s["stageId"])


def stage_metrics(spark, stages: list[dict], wall_s: float, cores: int,
                  turns: int) -> dict:
    """Rows read, shuffle, spill, task skew and idle cores over one call."""
    run_ms = sum(s["executorRunTime"] for s in stages)
    skews = []
    # the UDF stages: the ones that read the salted exchange and write rows
    for s in stages:
        if s["shuffleReadRecords"] > 0 and s["outputRecords"] > 0:
            tasks = _get(spark, f"stages/{s['stageId']}/{s['attemptId']}"
                                "/taskList?length=100000")
            times = sorted(t["taskMetrics"]["executorRunTime"] for t in tasks
                           if "taskMetrics" in t)
            med = times[len(times) // 2] if times else 0
            if med > 0:
                skews.append(times[-1] / med)
    return {
        "scan_amplification": sum(s["inputRecords"] for s in stages) / turns,
        "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 2**20,
        "spill_mb": sum(s["diskBytesSpilled"] for s in stages) / 2**20,
        "task_skew": sum(skews) / len(skews) if skews else 0.0,
        "idle_core_share": 1 - run_ms / 1000 / (wall_s * cores),
    }


# ---- Python worker memory --------------------------------------------------

def _children() -> dict[int, list[int]]:
    """Parent pid -> pids of its live (not zombie) children."""
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        state, ppid = stat[stat.rindex(")") + 2:].split()[:2]
        if state != "Z":
            kids[int(ppid)].append(int(name))
    return kids


def descendants() -> list[int]:
    kids = _children()
    todo, out = list(kids[os.getpid()]), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _python_worker_rss() -> int:
    """Summed RSS (bytes) of this process's descendant PySpark workers."""
    total = 0
    page = os.sysconf("SC_PAGE_SIZE")
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Peak summed worker RSS, sampled from /proc on one thread."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, _python_worker_rss())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
