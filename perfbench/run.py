"""livre_spark benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` -
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  Workloads: kernel_1core and crawl (README.md says what
each one stresses and why).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("kernel_1core", "crawl")
END_TO_END = {"docs_per_s": "1/s", "wall_s": "s", "setup_s": "s",
              "peak_worker_rss_mb": "MB"}
# metric -> unit.  A layer a workload does not run reads 0 there: the
# kernel's span split is measured on kernel_1core, Spark's accounting
# and the pipeline's stages on crawl.
PER_LAYER = {
    "pdf.document.open_s": "s", "pdf.document.pages_s": "s",
    "pdf.document.content_s": "s", "pdf.content.text_s": "s",
    "pdf.api.self_s": "s",
    "pdf.api.doc_ms_p50": "ms", "pdf.api.doc_ms_p99": "ms",
    "pdf.pages": "count", "pdf.content_bytes": "bytes",
    "pdf.spans": "count", "pdf.text_chars": "count",
    "pdf.error_docs": "count",
    "operators.extraction.boundary_s": "s",
    "plans.sinks.text_write_s": "s", "plans.sinks.spans_write_s": "s",
    "plans.sinks.metrics_write_s": "s",
    "operators.checkpoint.manifest_write_s": "s",
    "plans.job.heal_s": "s", "plans.job.other_s": "s",
    "plans.job.fresh_s": "s", "plans.job.restart_s": "s",
    "kernel.core_s": "s", "spark.core_s": "s", "spark.share": "ratio",
    "spark.tasks": "count", "spark.task_skew": "ratio",
    "spark.shuffle_write_bytes": "bytes", "spark.gc_s": "s",
    "operators.skew.large_docs": "count",
    "operators.checkpoint.skipped_docs": "count",
    "plans.job.healed_docs": "count",
    "plans.sinks.bytes_written": "bytes",
    "plans.sinks.bytes_out_per_byte_in": "ratio",
    "trace.wall_s": "s",
}


class Clock:
    """Set-up accounting: from process start to the first timed
    operation, less the time spent making inputs and sampling the host's
    speed (both the benchmark's own cost)."""

    def __init__(self):
        self.input_s = 0.0
        self.setup_s = None
        self.speed = None  # a HostSpeed whose sampling time is excluded

    @contextlib.contextmanager
    def inputs(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.input_s += time.perf_counter() - t0

    def window_start(self) -> None:
        sampling_s = self.speed.spent_s if self.speed else 0.0
        self.setup_s = (time.perf_counter() - T_START - self.input_s
                        - sampling_s)
        print(f"setup {self.setup_s:.3f} s, inputs {self.input_s:.3f} s, "
              f"host sampling {sampling_s:.3f} s", file=sys.stderr)

    @staticmethod
    def digest(workload: str, seed: int, corpus) -> None:
        print(f"inputs {workload} seed={seed} urls={corpus.n} "
              f"rows={corpus.pages.num_rows} sha256={corpus.digest}",
              flush=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "livre_spark", "__init__.py")):
        print(f"no livre_spark package under {ROOT}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)

    import check
    from spans import Tracer

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    clock = Clock()
    if args.workload == "kernel_1core":
        import kernel
        res = kernel.run(args.seed, args.seconds, tracer, clock)
    else:
        import crawl
        res = crawl.run(args.seed, args.seconds, tracer, clock)

    from inputs import WORK, Corpus
    faults = res["faults"] + check.selftest(Corpus(400, seed=1).expected())
    for f in faults:
        print("FAULT", f, file=sys.stderr)
    if args.trace:
        tracer.dump(os.path.join(WORK, "trace", run_id + ".jsonl"))
        metrics = {k: {"value": float(res["layers"].get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        values = dict(res["e2e"], setup_s=res["setup_s"])
        metrics = {k: {"value": float(values[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({"correct": not faults, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
