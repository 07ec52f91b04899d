"""kernel_1core: ``pdf.api.extract_text`` over the corpus's pdf rows,
in-process on one thread (one core), no Spark."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time
from contextlib import ExitStack, nullcontext

import pyarrow as pa

from livre_spark.operators import extraction
from livre_spark.pdf import api, document

import check
from hostspeed import HostSpeed, at_reference
from inputs import ROOT, WARM_SEED, Corpus
from spans import Tracer, patched, vm_hwm_mb

N_DOCS = 3200
N_WARM = 128
CHUNKS_PER_CPU = 4
REF_PER_CHUNK = 3  # unit() samples after each chunk, on the chunk's core
SETUP_REPEATS = 5
BOUNDARY_DOCS = 1024  # one Arrow batch at the session's maxRecordsPerBatch

# The kernel's set-up in a fresh interpreter: import the package, then
# extract the fixed warm-up slice.  Reading the slice from disk is the
# benchmark's cost and is reported apart, so it can be subtracted.
SETUP_PROBE = """
import sys, time
from livre_spark.pdf import api
t0 = time.perf_counter()
with open(sys.argv[1], "rb") as fh:
    blob = fh.read()
docs, at = [], 0
while at < len(blob):
    n = int.from_bytes(blob[at:at + 8], "little")
    docs.append(blob[at + 8:at + 8 + n])
    at += 8 + n
load = time.perf_counter() - t0
for html in docs:
    api.extract_text(html)
print(load)
"""


def quantile(values: list[float], q: float) -> float:
    values = sorted(values)
    return values[min(len(values) - 1, int(q * len(values)))]


def pdf_rows(corpus: Corpus) -> list[dict]:
    return [r for r in corpus.latest_rows() if api.is_pdf(r["html"])]


def kernel_probes(tracer: Tracer):
    """Spans around the four kernel layers, from outside ``livre_spark``:
    the module attributes ``extract_text`` looks up are swapped for
    traced twins for the length of the ``with``."""
    stack = ExitStack()
    stack.enter_context(patched(api, "open_document", tracer.wrap(
        "pdf.document.open", api.open_document)))
    stack.enter_context(patched(document.Document, "pages", tracer.wrap(
        "pdf.document.pages", document.Document.pages)))
    stack.enter_context(patched(document.Document, "build_content",
                                tracer.wrap("pdf.document.content",
                                            document.Document.build_content,
                                            lambda b: {"bytes": len(b)})))
    stack.enter_context(patched(api, "extract_page", tracer.wrap(
        "pdf.content.text", api.extract_page)))
    return stack


def boundary_seconds(rows: list[dict], tracer: Tracer) -> float:
    """Time of the mapInArrow body beyond ``extract_text``, fed one Arrow
    batch of the workload's pdf rows in-process."""
    batch = pa.RecordBatch.from_pylist(rows[:BOUNDARY_DOCS], schema=pa.schema(
        [("url", pa.string()), ("html", pa.binary())]))
    inner = tracer.wrap("boundary.extract_text", extraction.extract_text)
    with patched(extraction, "extract_text", inner), \
            tracer.span("boundary.body") as rec:
        for _ in extraction._extract_batches(iter([batch])):
            pass
    if rec is None:
        return 0.0
    span = (rec["start"], rec["end"])
    return (tracer.totals("boundary.body", within=span)
            - tracer.totals("boundary.extract_text", within=span))


def layer_metrics(results: list[dict]) -> dict:
    parse = [r["parse_ms"] for r in results]
    return {
        "pdf.api.doc_ms_p50": quantile(parse, 0.50),
        "pdf.api.doc_ms_p99": quantile(parse, 0.99),
        "pdf.pages": sum(r["n_pages"] for r in results),
        "pdf.spans": sum(len(r["spans"]) for r in results),
        "pdf.text_chars": sum(len(r["text"]) for r in results),
        "pdf.error_docs": sum(r["error"] is not None for r in results),
    }


def setup_seconds(warm: list[dict], speed: HostSpeed) -> tuple[float, float]:
    """Median kernel set-up over ``SETUP_REPEATS`` fresh interpreters,
    in reference and in measured seconds.  Each is timed from launch to
    exit, less the time it spends reading its inputs; ``unit()`` is
    sampled on every core before each launch and after the last."""
    blob = os.path.join(os.path.dirname(Corpus(N_WARM, WARM_SEED).dir),
                        "warm.bin")
    with open(blob, "wb") as fh:
        for r in warm:
            fh.write(len(r["html"]).to_bytes(8, "little") + r["html"])
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    times, samples = [], speed.burst()
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        out = subprocess.run([sys.executable, "-c", SETUP_PROBE, blob],
                             cwd=ROOT, env=env, check=True,
                             capture_output=True, text=True).stdout
        times.append(time.perf_counter() - t0 - float(out))
        samples += speed.burst()
    raw = statistics.median(times)
    return raw * speed.scale(samples), raw


def run(seed: int, seconds: float, tracer: Tracer, clock) -> dict:
    with clock.inputs():
        corpus = Corpus(N_DOCS, seed)
        warm = pdf_rows(Corpus(N_WARM, WARM_SEED))
        rows = pdf_rows(corpus)
        golden = corpus.expected()
        expected = {r["url"]: golden[r["url"]] for r in rows}
    clock.digest("kernel_1core", seed, corpus)
    speed = HostSpeed()
    setup_s, setup_raw = setup_seconds(warm, speed)
    for r in warm:
        api.extract_text(r["html"])

    # One thread, moved to the next core every chunk.  On a shared host
    # the cores' speeds drift apart (the same 400 PDFs took 0.58 s on one
    # core and 0.88 s on another a second later) and the scheduler keeps
    # a busy thread where it is, so an unpinned pass measures the core it
    # landed on.  Rotating cut the run-to-run spread of wall_s from ~27%
    # to ~15% over ten runs; timing unit() after each chunk on the same
    # core (hostspeed.py) takes out the rest of the host's drift.
    cpus = sorted(os.sched_getaffinity(0))
    step = -(-len(rows) // (CHUNKS_PER_CPU * len(cpus)))
    chunks = [rows[i:i + step] for i in range(0, len(rows), step)]

    passes, raw_passes, attempted, failed = [], [], 0, 0
    per_pass_layers: list[dict] = []
    extract = api.extract_text
    if tracer.enabled:
        extract = tracer.wrap("pdf.api.extract_text", extract)
    with kernel_probes(tracer) if tracer.enabled else nullcontext():
        while True:
            results, samples, dt = {}, [], 0.0
            t_pass = time.perf_counter()
            for k, chunk in enumerate(chunks):
                os.sched_setaffinity(0, {cpus[k % len(cpus)]})
                t0 = time.perf_counter()
                for r in chunk:
                    results[r["url"]] = extract(r["html"])
                dt += time.perf_counter() - t0
                samples += speed.sample(REF_PER_CHUNK)
            window = (t_pass, time.perf_counter())
            scale = speed.scale(samples)
            passes.append(dt * scale)
            raw_passes.append(dt)
            print(f"pass {len(passes)}: {dt:.3f} s measured, "
                  f"{dt * scale:.3f} reference s", file=sys.stderr)
            attempted += len(rows)
            failed += check.check_kernel(expected, results)
            if tracer.enabled:
                self_t = tracer.self_times(within=window)
                layers = layer_metrics(list(results.values()))
                layers.update({
                    "pdf.document.open_s": self_t["pdf.document.open"],
                    "pdf.document.pages_s": self_t["pdf.document.pages"],
                    "pdf.document.content_s": self_t["pdf.document.content"],
                    "pdf.content.text_s": self_t["pdf.content.text"],
                    "pdf.api.self_s": self_t["pdf.api.extract_text"],
                    "pdf.content_bytes": tracer.totals(
                        "pdf.document.content", key="bytes", within=window),
                    "kernel.core_s": sum(
                        r["parse_ms"] for r in results.values()) / 1000.0,
                })
                per_pass_layers.append(at_reference(layers, scale))
            if sum(raw_passes) >= seconds:
                break
    os.sched_setaffinity(0, cpus)
    wall = statistics.median(passes)
    print(f"measured: wall_s {statistics.median(raw_passes):.3f}, "
          f"setup_s {setup_raw:.3f}", file=sys.stderr)
    out = {
        "attempted": attempted, "failed": failed, "faults": [],
        "setup_s": setup_s,
        "e2e": {"docs_per_s": len(rows) / wall, "wall_s": wall,
                "peak_worker_rss_mb": vm_hwm_mb()},
    }
    if tracer.enabled:
        layers = {k: statistics.median(p[k] for p in per_pass_layers)
                  for k in per_pass_layers[0]}
        samples = speed.burst()
        boundary = boundary_seconds(rows, tracer)
        layers["operators.extraction.boundary_s"] = boundary * speed.scale(
            samples + speed.burst())
        layers["trace.wall_s"] = wall
        out["layers"] = layers
    return out
