"""Output checks, computed apart from the program.

Per document (an operation fails when any of its checks fails):

- a pdf url: ``text`` and ``n_pages`` equal what ``generate_row`` derived
  from the Display rules, ``error`` is null;
- a truncated pdf: ``error`` is not null (a contained error is the
  correct output);
- an html url: ``text`` equals its golden main content;
- spans: every ``off + len <= len(text)``, and ``n_spans`` equals the
  span count, both of the nested column and of ``documents_spans``;
- the url has exactly one row in ``documents_text`` and is in the
  manifest.

Per table (a failure makes the run incorrect): Σ ``n_docs`` and Σ
``n_ok`` of ``partition_metrics`` match the text table, and the manifest
holds no url the text table lacks.

``python3 perfbench/check.py`` plants wrong outputs into correct tables
and confirms each is counted as a failed operation.
"""

from __future__ import annotations

import collections
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq


def check_doc(exp: dict, text: str | None, n_pages: int | None,
              error: str | None, spans: list[tuple[int, int]]) -> bool:
    """One document's extraction result against its expectation.
    ``spans`` is [(off, len)]."""
    kind = exp["kind"]
    if kind == "corrupt":
        ok = error is not None
    elif kind == "html":
        ok = error is None and text == exp["expected_text"]
    else:
        ok = (error is None and text == exp["expected_text"]
              and n_pages == exp["n_pages"])
    n_chars = len(text or "")
    return ok and all(off >= 0 and ln >= 0 and off + ln <= n_chars
                      for off, ln in spans)


def check_kernel(expected: dict[str, dict], results: dict[str, dict]
                 ) -> int:
    """Failed documents among in-process ``extract_text`` results."""
    failed = 0
    for url, exp in expected.items():
        r = results.get(url)
        if r is None or not check_doc(
                exp, r["text"], r["n_pages"], r["error"],
                [(s["off"], s["len"]) for s in r["spans"]]):
            failed += 1
    return failed


def _read(path: str, columns: list[str]) -> pa.Table | None:
    if not os.path.isdir(path):
        return None
    return pq.read_table(path, columns=columns)


def check_tables(expected: dict[str, dict], out_dir: str, ckpt_dir: str
                 ) -> tuple[int, list[str]]:
    """(failed documents, table-level faults) for a pipeline output."""
    text = _read(os.path.join(out_dir, "documents_text"),
                 ["url", "text", "n_pages", "n_spans", "spans", "error"])
    spans = _read(os.path.join(out_dir, "documents_spans"),
                  ["url", "off", "len"])
    metrics = _read(os.path.join(out_dir, "partition_metrics"),
                    ["n_docs", "n_ok"])
    manifest = _read(os.path.join(ckpt_dir, "done_urls"), ["url"])
    return check_rows(expected, text, spans, metrics, manifest)


def check_rows(expected, text, spans, metrics, manifest):
    faults = []
    if text is None:
        return len(expected), ["documents_text missing"]
    rows = collections.defaultdict(list)
    for r in text.to_pylist():
        rows[r["url"]].append(r)
    span_rows = collections.defaultdict(list)
    for url, off, ln in zip(*(spans.column(c).to_pylist()
                              for c in ("url", "off", "len"))
                            ) if spans is not None else ():
        span_rows[url].append((off, ln))
    done = collections.Counter(manifest.column("url").to_pylist()
                               if manifest is not None else ())

    failed = 0
    for url, exp in expected.items():
        got = rows.get(url, [])
        if len(got) != 1 or done[url] < 1:
            failed += 1
            continue
        r = got[0]
        nested = [(s["off"], s["len"]) for s in r["spans"] or ()]
        flat = span_rows.get(url, [])
        if not (check_doc(exp, r["text"], r["n_pages"], r["error"], nested)
                and r["n_spans"] == len(nested) == len(flat)
                and sorted(flat) == sorted(nested)):
            failed += 1

    if set(rows) - set(expected):
        faults.append("documents_text has urls outside the corpus")
    if set(done) - set(rows):
        faults.append("manifest has urls the text table lacks")
    if metrics is None:
        faults.append("partition_metrics missing")
    else:
        n_rows = text.num_rows
        n_ok = sum(1 for e in text.column("error").to_pylist() if e is None)
        if (sum(metrics.column("n_docs").to_pylist()) != n_rows
                or sum(metrics.column("n_ok").to_pylist()) != n_ok):
            faults.append("partition_metrics sums differ from the text table")
    return failed, faults


# ---------------------------------------------------------------------------
# self-test: plant one wrong output, expect exactly one failed document
# ---------------------------------------------------------------------------


def _golden_tables(expected: dict[str, dict]):
    """Correct output tables built from the expectations alone."""
    text_rows, span_rows = [], []
    for url, exp in expected.items():
        t = exp["expected_text"] or ""
        bad = exp["kind"] == "corrupt"
        spans = [] if bad or not t else [{"off": 0, "len": len(t)}]
        text_rows.append({"url": url, "text": t,
                          "n_pages": exp["n_pages"], "n_spans": len(spans),
                          "spans": spans,
                          "error": "Truncated" if bad else None})
        span_rows += [{"url": url, **s} for s in spans]
    n_ok = sum(1 for r in text_rows if r["error"] is None)
    return (pa.Table.from_pylist(text_rows),
            pa.Table.from_pylist(span_rows),
            pa.Table.from_pylist([{"n_docs": len(text_rows), "n_ok": n_ok}]),
            pa.Table.from_pylist([{"url": u} for u in expected]))


def selftest(expected: dict[str, dict]) -> list[str]:
    """Faults of the checker itself; [] when every plant is caught."""
    problems = []
    text, spans, metrics, manifest = _golden_tables(expected)
    failed, faults = check_rows(expected, text, spans, metrics, manifest)
    if failed or faults:
        problems.append(f"correct tables flagged: {failed} {faults}")

    rows = text.to_pylist()
    victim = next(i for i, r in enumerate(rows) if r["text"])
    changed = [dict(r) for r in rows]
    t = changed[victim]["text"]
    changed[victim]["text"] = t[:-1] + ("x" if t[-1] != "x" else "y")
    failed, _ = check_rows(expected, pa.Table.from_pylist(changed), spans,
                           metrics, manifest)
    if failed != 1:
        problems.append(f"one changed character: {failed} failed, want 1")

    dup = pa.Table.from_pylist(rows + [rows[victim]])
    failed, _ = check_rows(expected, dup, spans, metrics,
                           pa.concat_tables([manifest, manifest.slice(0, 1)]))
    if failed != 1:
        problems.append(f"one duplicated url: {failed} failed, want 1")

    kernel = {r["url"]: {**r, "spans": r["spans"]} for r in rows}
    kernel[rows[victim]["url"]] = {**changed[victim]}
    if check_kernel(expected, kernel) != 1:
        problems.append("kernel check missed one changed character")
    return problems


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from inputs import Corpus  # noqa: E402  (perfbench/ is sys.path[0])

    corpus = Corpus(400, seed=1)
    problems = selftest(corpus.expected())
    for p in problems:
        print("FAIL", p)
    print("checker self-test:", "FAILED" if problems else "ok")
    sys.exit(1 if problems else 0)
