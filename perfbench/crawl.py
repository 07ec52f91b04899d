"""crawl: ``plans.job.run_pipeline`` at local[nproc] with
``html_mode="main"``, through a crash and a restart.

One pass starts from an empty output and runs three pipeline calls:

1. fresh: the 75% of urls that will be done - read, latest-per-url,
   magic filter, skew repartition, kernel, text write, then the derived
   spans / metrics / manifest writes;
2. crash: one torn batch of 10% whose run dies after the text write
   (a sink that raises on the first derived write), leaving text but no
   spans, metrics or manifest;
3. restart: the whole corpus again - ``heal_torn`` converges the torn
   batch, the manifest anti-join skips the done urls, and the remaining
   15% is extracted and appended.

Traced runs time the pipeline's stages through its public seams: a
``TableSink`` wrapper as ``sink=`` and as the checkpoint, and a traced
twin of ``plans.job.heal_torn``.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import sys
import time

import pyarrow.parquet as pq

from livre_spark.operators.skew import DEFAULT_LARGE_THRESHOLD
from livre_spark.pdf.api import is_pdf
from livre_spark.plans import job
from livre_spark.plans.sinks import ParquetSink

import check
from hostspeed import HostSpeed, at_reference
from inputs import ROOT, WORK, Corpus
from kernel import boundary_seconds, quantile
from spans import Tracer, cmdline, cpu_seconds, descendants, patched, vm_hwm_mb

N_DOCS = 4000
SPLIT = (0.75, 0.10)  # done, torn; the remaining 15% starts at the restart
HTML_MODE = "main"
TABLES = {job.TEXT_TABLE: "plans.sinks.text_write_s",
          job.SPANS_TABLE: "plans.sinks.spans_write_s",
          job.METRICS_TABLE: "plans.sinks.metrics_write_s",
          "done_urls": "operators.checkpoint.manifest_write_s"}


class Crash(RuntimeError):
    pass


class WrappedSink:
    """Delegates to a ``ParquetSink``; subclasses add ``append``."""

    def __init__(self, inner: ParquetSink):
        self.inner = inner

    def read_or_none(self, spark, table):
        return self.inner.read_or_none(spark, table)

    def location(self, table):
        return self.inner.location(table)


class CrashAfterText(WrappedSink):
    """Writes the text table, then dies before the derived writes: the
    torn batch of a crash between the text write and the manifest."""

    def append(self, df, table):
        if table != job.TEXT_TABLE:
            raise Crash(table)
        self.inner.append(df, table)


class TracedSink(WrappedSink):
    """Records one span per append."""

    def __init__(self, inner: ParquetSink, tracer: Tracer):
        super().__init__(inner)
        self.tracer = tracer

    def append(self, df, table):
        with self.tracer.span(f"sink.append.{table}"):
            self.inner.append(df, table)


# ---------------------------------------------------------------------------
# session lifetime
# ---------------------------------------------------------------------------


def start_session(run_dir: str, event_log: bool):
    """local[nproc] session whose Python workers import ``livre_spark``
    from this checkout and whose scratch stays inside it."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    conf = {"spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false"}
    if event_log:
        evdir = os.path.join(run_dir, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": "file://" + evdir})
    spark = job.build_session(app_name="perfbench",
                              cores=len(os.sched_getaffinity(0)),
                              extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for each."""
    from pyspark import SparkContext

    procs = descendants()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(map(_alive, procs)) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in filter(_alive, procs):
        os.kill(pid, signal.SIGKILL)
    while any(map(_alive, procs)):
        time.sleep(0.05)


def worker_pids() -> list[int]:
    return [p for p in descendants() if "pyspark.daemon" in cmdline(p)]


# ---------------------------------------------------------------------------
# pipeline calls
# ---------------------------------------------------------------------------


def pipeline(spark, source: str, out: str, ckpt: str, tracer: Tracer,
             sink=None) -> dict:
    if not tracer.enabled:
        return job.run_pipeline(spark, source, out, ckpt,
                                html_mode=HTML_MODE, sink=sink)
    with patched(job, "heal_torn",
                 tracer.wrap("plans.job.heal", job.heal_torn)), \
            tracer.span("plans.job.run_pipeline"):
        return job.run_pipeline(
            spark, source, out, TracedSink(ParquetSink(ckpt), tracer),
            html_mode=HTML_MODE,
            sink=TracedSink(sink or ParquetSink(out), tracer))


def crawl_pass(spark, sources: tuple[str, str, str], out: str, ckpt: str,
               tracer: Tracer, speed: HostSpeed | None = None
               ) -> tuple[dict, list[float], list[float]]:
    """Fresh run, crash, restart into an empty ``out``/``ckpt``.  Returns
    the restart's info, the seconds of the three calls, and the
    ``unit()`` samples taken before, between and after them (while Spark
    is idle; none without ``speed``)."""
    done_src, torn_src, all_src = sources
    reset(out)
    reset(ckpt)
    samples = speed.burst() if speed else []
    calls = []
    t0 = time.perf_counter()
    pipeline(spark, done_src, out, ckpt, tracer)
    calls.append(time.perf_counter() - t0)
    samples += speed.burst() if speed else []
    t0 = time.perf_counter()
    try:
        pipeline(spark, torn_src, out, ckpt, tracer,
                 sink=CrashAfterText(ParquetSink(out)))
        raise RuntimeError("the torn batch did not crash")
    except Crash:
        pass
    calls.append(time.perf_counter() - t0)
    samples += speed.burst() if speed else []
    t0 = time.perf_counter()
    info = pipeline(spark, all_src, out, ckpt, tracer)
    calls.append(time.perf_counter() - t0)
    samples += speed.burst() if speed else []
    return info, calls, samples


def reset(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _dirs, files in os.walk(path) for f in files)


# ---------------------------------------------------------------------------
# Spark's own accounting (event log of the traced session)
# ---------------------------------------------------------------------------


def event_metrics(evdir: str, windows: list[tuple[float, float]]) -> dict:
    """Per pass: task count, skew of the stage with the most task time
    (the extraction stage), shuffle bytes written and GC seconds;
    medians over the passes."""
    tasks = []
    for root, _dirs, files in os.walk(evdir):
        for f in files:
            with open(os.path.join(root, f), errors="replace") as fh:
                for line in fh:
                    if '"SparkListenerTaskEnd"' not in line:
                        continue
                    ev = json.loads(line)
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    tasks.append((info["Finish Time"] / 1000.0,
                                  ev["Stage ID"],
                                  (info["Finish Time"]
                                   - info["Launch Time"]) / 1000.0,
                                  m.get("JVM GC Time", 0) / 1000.0,
                                  (m.get("Shuffle Write Metrics") or {})
                                  .get("Shuffle Bytes Written", 0)))
    per_pass = []
    for t0, t1 in windows:
        mine = [t for t in tasks if t0 <= t[0] <= t1]
        stages: dict[int, list[float]] = {}
        for _, sid, dur, _, _ in mine:
            stages.setdefault(sid, []).append(dur)
        durs = max(stages.values(), key=sum, default=[0.0])
        per_pass.append({
            "spark.tasks": len(mine),
            "spark.task_skew": max(durs) / max(statistics.median(durs), 1e-9),
            "spark.gc_s": sum(t[3] for t in mine),
            "spark.shuffle_write_bytes": sum(t[4] for t in mine),
        })
    return {k: statistics.median(p[k] for p in per_pass)
            for k in per_pass[0]}


# ---------------------------------------------------------------------------
# the workloads
# ---------------------------------------------------------------------------


def run(seed: int, seconds: float, tracer: Tracer, clock) -> dict:
    with clock.inputs():
        corpus = Corpus(N_DOCS, seed)
        expected = corpus.expected()
        done, torn, rest = corpus.split(SPLIT)
        sources = (corpus.write_subset("pages_done", done),
                   corpus.write_subset("pages_torn", torn), corpus.pages_dir)
    clock.digest("crawl", seed, corpus)
    run_dir = os.path.join(WORK, "run", "crawl")
    reset(run_dir)
    out, ckpt = os.path.join(run_dir, "out"), os.path.join(run_dir, "ckpt")
    bytes_in = sum(e["n_bytes"] for e in expected.values())
    speed = clock.speed = HostSpeed()
    setup_samples = speed.burst()
    spark = start_session(run_dir, event_log=tracer.enabled)
    try:
        setup_samples += speed.burst()
        # one untimed cold pass: a small warm-up slice leaves Python
        # workers unforked and the JVM's JIT cold for the first pass
        crawl_pass(spark, sources, out, ckpt, Tracer("", False))
        setup_samples += speed.burst()
        clock.window_start()
        setup_raw = clock.setup_s

        passes, raw_passes, windows, layers = [], [], [], []
        attempted = failed = 0
        faults: list[str] = []
        while True:
            cpu0, wall0 = cpu_seconds(descendants()), time.time()
            t0 = time.perf_counter()
            info, calls, samples = crawl_pass(spark, sources, out, ckpt,
                                              tracer, speed)
            window = (t0, time.perf_counter())
            cpu1, wall1 = cpu_seconds(descendants()), time.time()
            dt, scale = sum(calls), speed.scale(samples)
            fresh_s, restart_s = calls[0] * scale, calls[2] * scale
            passes.append(dt * scale)
            raw_passes.append(dt)
            windows.append((wall0, wall1))
            print(f"pass {len(passes)}: {dt:.3f} s measured, "
                  f"{dt * scale:.3f} reference s (fresh {fresh_s:.3f}, "
                  f"restart {restart_s:.3f})", file=sys.stderr)

            n_failed, table_faults = check.check_tables(expected, out, ckpt)
            attempted += len(expected)
            failed += n_failed
            if (info["n_healed"], info["n_docs"]) != (len(torn), len(rest)):
                table_faults.append(
                    f"restart healed/extracted {info['n_healed']}/"
                    f"{info['n_docs']}, want {len(torn)}/{len(rest)}")
            faults += [f for f in table_faults if f not in faults]
            if tracer.enabled:
                per = pass_layers(tracer, window, out, bytes_in,
                                  dir_bytes(out) + dir_bytes(ckpt),
                                  cpu1 - cpu0)
                per.update({"plans.job.fresh_s": calls[0],
                            "plans.job.restart_s": calls[2],
                            "plans.job.healed_docs": info["n_healed"]})
                layers.append(at_reference(per, scale))
            if sum(raw_passes) >= seconds:
                break
        peak_rss = max(map(vm_hwm_mb, worker_pids()), default=0.0)
        if tracer.enabled:
            samples = speed.burst()
            boundary = boundary_seconds(
                [r for r in corpus.latest_rows() if is_pdf(r["html"])],
                tracer) * speed.scale(samples + speed.burst())
    finally:
        stop_session(spark)

    wall = statistics.median(passes)
    print(f"measured: wall_s {statistics.median(raw_passes):.3f}, "
          f"setup_s {setup_raw:.3f}", file=sys.stderr)
    result = {"attempted": attempted, "failed": failed, "faults": faults,
              "setup_s": setup_raw * speed.scale(setup_samples),
              "e2e": {"docs_per_s": len(expected) / wall, "wall_s": wall,
                      "peak_worker_rss_mb": peak_rss}}
    if tracer.enabled:
        per = {k: statistics.median(p[k] for p in layers) for k in layers[0]}
        events = event_metrics(os.path.join(run_dir, "eventlog"), windows)
        per.update(at_reference(events, speed.scale(setup_samples)))
        per["operators.extraction.boundary_s"] = boundary
        per["operators.skew.large_docs"] = sum(
            e["n_bytes"] >= DEFAULT_LARGE_THRESHOLD for e in expected.values())
        per["operators.checkpoint.skipped_docs"] = len(done) + len(torn)
        per["trace.wall_s"] = wall
        result["layers"] = per
    return result


def pass_layers(tracer: Tracer, window, out: str, bytes_in: int,
                bytes_out: int, spark_core_s: float) -> dict:
    """Per-layer numbers of one traced pass, from its spans and from the
    rows it wrote."""
    rows = pq.read_table(os.path.join(out, job.TEXT_TABLE), columns=[
        "text", "n_pages", "n_spans", "error", "parse_ms"]).to_pylist()
    pdfs = [r for r in rows if r["parse_ms"] > 0]  # html rows carry 0.0
    parse = [r["parse_ms"] for r in pdfs]
    kernel_core_s = sum(parse) / 1000.0
    self_t = tracer.self_times(within=window)
    per = {metric: tracer.totals(f"sink.append.{table}", within=window)
           for table, metric in TABLES.items()}
    per.update({
        "plans.job.heal_s": self_t.get("plans.job.heal", 0.0),
        "plans.job.other_s": self_t["plans.job.run_pipeline"],
        "pdf.api.doc_ms_p50": quantile(parse, 0.50),
        "pdf.api.doc_ms_p99": quantile(parse, 0.99),
        "pdf.pages": sum(r["n_pages"] for r in pdfs),
        "pdf.spans": sum(r["n_spans"] for r in pdfs),
        "pdf.text_chars": sum(len(r["text"] or "") for r in pdfs),
        "pdf.error_docs": sum(r["error"] is not None for r in pdfs),
        "kernel.core_s": kernel_core_s,
        "spark.core_s": spark_core_s,
        "spark.share": 1.0 - kernel_core_s / spark_core_s,
        "plans.sinks.bytes_written": bytes_out,
        "plans.sinks.bytes_out_per_byte_in": bytes_out / bytes_in,
    })
    return per
