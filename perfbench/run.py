#!/usr/bin/env python3
"""Benchmark of the extraction jobs users run, one workload per call.

    python3 perfbench/run.py --workload chat_turns --seed 1 --seconds 12 --trace 0

Run from the repository root. The workload is built from ``--seed`` and
handed to the program as a parquet file. One client drives a closed loop:
it submits one job at a time (``run_extract``, or ``run_corpus_prep`` for
``corpus_prep``), each to a fresh output directory, on a warm
``local[nproc]`` session: at least two jobs, and at least ``--seconds`` of
job time. Every job's output is checked against a single-node replay.
``--trace 1`` makes a separate traced run that reports the per-layer
metrics instead.

The last line of stdout is one JSON object: ``correct``, ``attempted`` and
``failed`` (turns) and ``metrics``. Lines before it are a readable report;
the full record, and the spans of a traced run, go to ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

import check
import layers
import workloads

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".perfbench"
WORKLOADS = ("chat_turns", "corpus_prep")
SETUPS = 3           # session set-ups per untraced run; setup_s is their median
MIN_JOBS = 2         # timed jobs per untraced run, at least; turns_per_s is their median
WARMUP_SHARE = 0.1   # the warm-up job runs on this leading share of the rows
ARROW_BATCH = 512    # build_session's spark.sql.execution.arrow.maxRecordsPerBatch
DRIVER_MEM = "3g"

E2E_UNITS = {"turns_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB",
             "stored_bytes_ratio": "ratio"}
LAYER_UNITS = {
    "dom.parse_calls_per_doc": "count", "dom.parse_ms_per_doc": "ms",
    "dom.select_calls_per_doc": "count", "dom.select_ms_per_doc": "ms",
    "metadata.ms_per_doc": "ms", "weights.ms_per_doc": "ms",
    "formatter.ms_per_doc": "ms", "extractor.self_ms_per_doc": "ms",
    "extractor.retry_share": "share", "extractor.empty_text_share": "share",
    "extractor.doc_ms_p50": "ms", "extractor.doc_ms_p99": "ms",
    "udf.frame_ms_per_krow": "ms",
    "extract_job.scan_s": "s", "extract_job.exchange_s": "s",
    "extract_job.arrow_s": "s", "extract_job.udf_s": "s",
    "extract_job.write_s": "s", "extract_job.scan_amplification": "ratio",
    "extract_job.waves": "count", "extract_job.shuffle_write_mb": "MB",
    "extract_job.spill_mb": "MB", "extract_job.task_skew": "ratio",
    "extract_job.idle_core_share": "share", "extract_job.output_files": "count",
    "corpus_prep_job.extract_s": "s", "corpus_prep_job.survivors_s": "s",
    "corpus_prep_job.packed_s": "s", "corpus_prep_job.shuffle_write_mb": "MB",
    "corpus_prep_job.scan_amplification": "ratio",
    "corpus_ops.pack_stages": "count", "corpus_ops.gate_pass_share": "share",
    "corpus_ops.dedup_keep_share": "share", "corpus_ops.clean_share": "share",
    "trace.overhead_ms_per_doc": "ms",
}
PREP_LAYERS = tuple(k for k in LAYER_UNITS
                    if k.startswith(("corpus_prep_job.", "corpus_ops.")))


def preflight() -> None:
    need = [ROOT / "snacktory_spark" / "__init__.py", ROOT / "__spark_entry__.py",
            ROOT / "data" / "synth" / "sf0.1" / "transcripts.parquet",
            ROOT / "data" / "synth" / "sf0.1" / "expected.parquet"]
    missing = [str(p.relative_to(ROOT)) for p in need if not p.exists()]
    if missing:
        print(f"perfbench: run from a repository checkout; missing {missing}",
              file=sys.stderr)
        sys.exit(2)


def configure(work: Path) -> None:
    """Keep every file Spark, the JVM and the py-files zip write inside
    ``work`` (no JVM perf-data file in the system temp dir either); keep
    the driver heap at 3g, not the package's 24g default; run the JVM's
    JIT at C1 only. With the default tiered JIT a job kept getting faster
    for 15 and more jobs in a session, as C2 compiled Spark's planner, so
    a run of a few jobs measured where on that curve it happened to be;
    with C1 only the job time is flat from the first job after the
    warm-up."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SNACKTORY_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's own JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'} "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-XX:TieredStopAtLevel=1' "
        "pyspark-shell")
    sys.path.insert(0, str(ROOT))


class Phases(dict):
    """Wall time of each phase of a run, for the record."""

    def __init__(self):
        super().__init__()
        self._t = time.perf_counter()

    def lap(self, name: str) -> None:
        now = time.perf_counter()
        self[name] = round(now - self._t, 3)
        self._t = now


# ---- single-node replay and output checks -------------------------------------

def replay(rows: list[tuple]) -> tuple[list[dict], list[float]]:
    """``udf.extract_row`` on every turn in-process: the reference results
    and each call's latency in ms (the library call users make)."""
    from snacktory_spark.udf import extract_row

    for r in rows[:20]:  # first calls fill selector and regex caches
        extract_row(r[3], "")
    results, ms = [], []
    for r in rows:
        t0 = time.perf_counter()
        results.append(extract_row(r[3], ""))
        ms.append((time.perf_counter() - t0) * 1e3)
    return results, ms


def batches(rows: list[tuple]) -> list:
    """The pandas frames the Arrow boundary hands ``extract_map_in_pandas``."""
    import pandas as pd

    frame = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text",
                                        "tool", "ts"])
    return [frame.iloc[i:i + ARROW_BATCH].reset_index(drop=True)
            for i in range(0, len(frame), ARROW_BATCH)]


class Checker:
    """Compares one job's output with the replay; counts failed turns."""

    def __init__(self, workload, rows, results, work):
        self.rows, self.results, self.work = rows, results, work
        self.turns = len(rows)
        self.not_ok = sum(not r["extract_ok"] for r in results)
        self.ref = check.reference_lines(rows, results)
        self.digest = check.digest(self.ref)
        self.prep = workload == "corpus_prep"
        self.oracle = None

    def start_oracle(self) -> None:
        """Start the corpus_prep DuckDB replay on a thread, so that it
        overlaps the untimed warm-up job."""
        if self.prep:
            pool = ThreadPoolExecutor(1)
            self.oracle = pool.submit(check.corpus_prep_oracle, self.rows,
                                      self.results, self.work)
            pool.shutdown(wait=False)

    def __call__(self, out: Path, metrics: dict) -> tuple[int, list[str]]:
        problems = []
        bad = check.mismatches(self.ref, check.output_lines(
            out / "extracted" if self.prep else out))
        if bad:
            problems.append(f"{bad} extracted rows differ from the replay")
        if self.prep:
            problems += [f"{k} differs from the DuckDB oracle" for k in
                         check.corpus_prep_mismatches(self.oracle.result(),
                                                      metrics, out)]
        return (self.turns if problems else self.not_ok), problems


def dir_stats(path: Path) -> tuple[int, int]:
    """(bytes, parquet data files) under ``path``."""
    files = [p for p in path.rglob("*") if p.is_file()]
    return (sum(p.stat().st_size for p in files),
            sum(p.suffix == ".parquet" for p in files))


# ---- Spark session and jobs -----------------------------------------------------

def _identity():
    """An identity ``mapInPandas`` function, built in a closure so that it
    pickles by value even when this file is imported as a module."""
    def identity(it):
        yield from it
    return identity


def setup(cores: int):
    """Session build + ``ensure_py_files`` + the first Python-worker stage."""
    from snacktory_spark.pipeline.extract_job import build_session, ensure_py_files

    t0 = time.perf_counter()
    spark = build_session(app="perfbench", master=f"local[{cores}]",
                          shuffle_partitions=max(cores, 8))
    spark.sparkContext.setLogLevel("ERROR")
    ensure_py_files(spark)
    (spark.range(2 * cores).repartition(2 * cores)
     .mapInPandas(_identity(), "id long")
     .write.format("noop").mode("overwrite").save())
    return spark, time.perf_counter() - t0


def run_job(spark, workload: str, inp: Path, out: Path, grams: Path | None) -> dict:
    if workload == "corpus_prep":
        from snacktory_spark.pipeline.corpus_prep_job import run_corpus_prep
        return run_corpus_prep(spark, str(inp), str(out),
                               bench_grams_path=str(grams))
    from snacktory_spark.pipeline.extract_job import run_extract
    return run_extract(spark, str(inp), str(out))


def write_grams(spark, inp: Path, path: Path) -> None:
    """The benchmark-gram table ``corpus_ops.seed_bench_grams`` builds, so
    that decontamination runs in ``corpus_prep``."""
    from snacktory_spark.pipeline.corpus_ops import seed_bench_grams
    from snacktory_spark.pipeline.extract_job import read_transcripts

    grams = seed_bench_grams(read_transcripts(spark, str(inp)))
    if not grams:
        raise RuntimeError("empty benchmark-gram table: decontamination "
                           "would not run")
    pq.write_table(pa.table({"gram": pa.array(grams, pa.string())}), path)


class Run:
    """One benchmark run: a workload, its replay, a session and its jobs."""

    def __init__(self, args, work: Path):
        self.args, self.work = args, work
        self.phases = Phases()
        self.spark = None
        self.cores = len(os.sched_getaffinity(0))
        self.rows = workloads.build(args.workload, args.seed, ROOT)
        self.props = workloads.properties(self.rows)
        self.inp, self.warm_inp = work / "input.parquet", work / "warmup.parquet"
        workloads.write_parquet(self.rows, self.inp)
        workloads.write_parquet(self.rows[:int(len(self.rows) * WARMUP_SHARE)],
                                self.warm_inp)
        self.grams = work / "grams.parquet" if args.workload == "corpus_prep" else None
        self.phases.lap("build")
        self.results, self.doc_ms = replay(self.rows)
        self.phases.lap("replay")
        self.checker = Checker(args.workload, self.rows, self.results, work)
        self.record = {"workload": args.workload, "seed": args.seed,
                       "trace": args.trace, "cores": self.cores,
                       "properties": self.props,
                       "replay_digest": self.checker.digest, "phases_s": self.phases}

    def job(self, inp: Path, out: Path) -> dict:
        return run_job(self.spark, self.args.workload, inp, out, self.grams)

    def warm_up(self) -> None:
        """Gram table, the oracle thread, then one unchecked job on the
        leading rows: the first job of a session runs much slower."""
        if self.grams:
            write_grams(self.spark, self.inp, self.grams)
        self.checker.start_oracle()
        self.job(self.warm_inp, self.work / "warmup")
        shutil.rmtree(self.work / "warmup")
        self.phases.lap("warmup")

    def untraced(self) -> tuple[dict, int, int, list[str]]:
        self.spark, t = setup(self.cores)
        setups = [t]
        for _ in range(SETUPS - 1):
            self.spark.stop()
            self.spark, t = setup(self.cores)
            setups.append(t)
        self.phases.lap("setup")
        self.warm_up()

        walls, outputs = [], []
        with layers.RssSampler() as rss:
            while len(walls) < MIN_JOBS or sum(walls) < self.args.seconds:
                out = self.work / f"job{len(walls)}"
                t0 = time.perf_counter()
                outputs.append((out, self.job(self.inp, out)))
                walls.append(time.perf_counter() - t0)
        self.phases.lap("jobs")

        # outputs are checked after the loop, so that no check runs between
        # two timed jobs
        stored, attempted, failed, problems = [], 0, 0, []
        for out, job_metrics in outputs:
            f, p = self.checker(out, job_metrics)
            attempted += len(self.rows)
            failed += f
            problems += p
            stored.append(dir_stats(out)[0])
            shutil.rmtree(out)
        self.phases.lap("checks")
        self.record.update(setups_s=setups, job_walls_s=walls,
                           peak_rss_bytes=rss.peak)
        metrics = {
            "turns_per_s": len(self.rows) / statistics.median(walls),
            "setup_s": statistics.median(setups),
            "peak_rss_mb": rss.peak / 2**20,
            "stored_bytes_ratio": statistics.median(stored) / self.props["bytes"],
        }
        return metrics, attempted, failed, problems

    def traced(self) -> tuple[dict, int, int, list[str]]:
        n = len(self.rows)
        tracer = layers.Tracer()
        m = layers.python_layers(tracer, batches(self.rows))
        m["extractor.empty_text_share"] = sum(not r["text"] for r in self.results) / n
        m["extractor.doc_ms_p50"] = statistics.median(self.doc_ms)
        m["extractor.doc_ms_p99"] = statistics.quantiles(
            self.doc_ms, n=100, method="inclusive")[98]
        m["trace.overhead_ms_per_doc"] = (tracer.total_ns("udf.extract_row") * 1e-6
                                          - sum(self.doc_ms)) / n
        spans_py = len(tracer.spans)
        self.phases.lap("python_layers")

        self.spark, t = setup(self.cores)
        self.record["setups_s"] = [t]
        self.phases.lap("setup")
        self.warm_up()
        rungs = self.ladder(tracer)
        self.phases.lap("ladder")
        failed, problems = self.job_layers(tracer, rungs, m)
        self.phases.lap("traced_job")

        OUT.mkdir(exist_ok=True)
        spans = OUT / f"spans-{self.args.workload}-seed{self.args.seed}.jsonl.gz"
        tracer.dump(spans)
        self.record.update(python_spans=spans_py,
                           spark_spans=len(tracer.spans) - spans_py,
                           spans_file=str(spans.relative_to(ROOT)),
                           names_not_found=tracer.missing)
        return m, n, failed, problems

    def ladder(self, tracer) -> dict:
        """Noop-sink ladder over one pass of the production extraction plan:
        scan → + salted exchange → + identity mapInPandas → + extraction.
        Returns each rung's cumulative wall time."""
        from pyspark.sql import functions as F
        from snacktory_spark.pipeline.extract_job import (DEFAULT_SALT_SPAN,
                                                          extracted_df,
                                                          read_transcripts)

        df = read_transcripts(self.spark, str(self.inp))
        gated = (df.select("conv_id", "turn_idx", "role", "tool", "ts", "text")
                 .filter(F.col("text").isNotNull() & (F.length("text") > 0))
                 .withColumn("input_file", F.input_file_name()))
        salt = F.xxhash64(F.col("conv_id"),
                          (F.col("turn_idx") / F.lit(DEFAULT_SALT_SPAN)).cast("long"))
        salted = gated.repartition(self.spark.sparkContext.defaultParallelism * 2,
                                   salt)
        plans = {"scan": gated, "exchange": salted,
                 "arrow": salted.mapInPandas(_identity(), salted.schema),
                 "udf": extracted_df(df)}
        tracer.trace_id = -1
        out = {}
        for name, plan in plans.items():
            t0 = time.perf_counter()
            tracer.wrap(f"ladder.{name}",
                        plan.write.format("noop").mode("overwrite").save)()
            out[name] = time.perf_counter() - t0
        return out

    def job_layers(self, tracer, rungs: dict, m: dict) -> tuple[int, list[str]]:
        """One job with spans on its public call and, for ``corpus_prep``, on
        the ``run_extract`` and ``pack_sequences`` names the chain calls; the
        Spark stages inside each span's window give the Spark-layer metrics."""
        from snacktory_spark.pipeline import corpus_prep_job

        prep, turns, cores = self.checker.prep, len(self.rows), self.cores
        tracer.trace_id = -2
        out = self.work / "traced"
        if prep:
            tracer.patch(corpus_prep_job, "run_extract", "corpus_prep_job.extract")
            tracer.patch(corpus_prep_job, "pack_sequences",
                         "corpus_ops.pack_sequences")
        to_epoch = time.time() - time.perf_counter_ns() * 1e-9
        n0 = len(tracer.spans)
        try:
            metrics = tracer.wrap("job", self.job)(self.inp, out)
        finally:
            tracer.restore()
        span = {s[3]: (s[4] * 1e-9 + to_epoch, s[5] * 1e-9 + to_epoch)
                for s in tracer.spans[n0:]}
        failed, problems = self.checker(out, metrics)
        _, files = dir_stats(out / "extracted" if prep else out)
        shutil.rmtree(out)

        t_call, t_end = span["job"]
        ex_win = span.get("corpus_prep_job.extract", span["job"])
        ex_wall = ex_win[1] - ex_win[0]
        sm = layers.stage_metrics(self.spark, layers.stages_in(self.spark, *ex_win),
                                  ex_wall, cores, turns)
        m.update({
            "extract_job.scan_s": rungs["scan"],
            "extract_job.exchange_s": rungs["exchange"] - rungs["scan"],
            "extract_job.arrow_s": rungs["arrow"] - rungs["exchange"],
            "extract_job.udf_s": rungs["udf"] - rungs["arrow"],
            "extract_job.write_s": ex_wall - rungs["udf"],
            "extract_job.waves": (metrics["extract"] if prep else metrics)["waves"],
            "extract_job.output_files": files,
            **{f"extract_job.{k}": v for k, v in sm.items()},
        })
        m.update(dict.fromkeys(PREP_LAYERS, 0.0))
        if prep:
            pack_t = span.get("corpus_ops.pack_sequences", (t_end,))[0]
            whole = layers.stage_metrics(
                self.spark, layers.stages_in(self.spark, t_call, t_end),
                t_end - t_call, cores, turns)
            m.update({
                "corpus_prep_job.extract_s": ex_wall,
                "corpus_prep_job.survivors_s": pack_t - ex_win[1],
                "corpus_prep_job.packed_s": t_end - pack_t,
                "corpus_prep_job.shuffle_write_mb": whole["shuffle_write_mb"],
                "corpus_prep_job.scan_amplification": whole["scan_amplification"],
                "corpus_ops.pack_stages":
                    len(layers.stages_in(self.spark, pack_t, t_end)),
                "corpus_ops.gate_pass_share": metrics["gate_rows"] / turns,
                "corpus_ops.dedup_keep_share":
                    metrics["dedup_rows"] / metrics["gate_rows"],
                "corpus_ops.clean_share":
                    metrics["clean_rows"] / metrics["dedup_rows"],
            })
        return failed, problems

    def stop(self) -> None:
        """Stop the session, the JVM the gateway launched and any process
        left under this one."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=60)
        deadline = time.time() + 30
        while (left := layers.descendants()) and time.time() < deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGTERM)
                except ProcessLookupError:
                    pass
            time.sleep(0.2)
        self.phases.lap("stop")


def report(run: Run, metrics: dict, attempted: int, failed: int,
           problems: list[str]) -> None:
    args = run.args
    units = LAYER_UNITS if args.trace else E2E_UNITS
    absent = set(PREP_LAYERS) if args.trace and not run.checker.prep else set()
    run.record.update(metrics=metrics, attempted=attempted, failed=failed,
                      problems=problems, not_run=sorted(absent))
    OUT.mkdir(exist_ok=True)
    (OUT / f"result-{args.workload}-seed{args.seed}-trace{args.trace}.json") \
        .write_text(json.dumps(run.record, indent=1))

    print(f"workload {args.workload} seed {args.seed}: "
          + " ".join(f"{k}={v}" for k, v in run.props.items()))
    for k, unit in units.items():
        shown = "n/a (layer does not run)" if k in absent else f"{metrics[k]:.6g} {unit}"
        print(f"  {k:36s} {shown}")
    print(f"  failed_share {failed / attempted:.6g} ({failed} of {attempted} turns)")
    print("  correct" if not problems else "  INCORRECT: " + "; ".join(problems))
    print(json.dumps({
        "correct": not problems, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()}}))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="job time to measure in the closed loop")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    preflight()

    work = OUT / f"work-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    configure(work)
    run = None
    try:
        run = Run(args, work)
        result = run.traced() if args.trace else run.untraced()
    finally:
        if run is not None:
            run.stop()
        shutil.rmtree(work, ignore_errors=True)
    report(run, *result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
