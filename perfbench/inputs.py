"""Seeded inputs for every workload, drawn from ``genpdf.generate_row``.

A corpus of ``n`` urls has a fixed layout: position j holds a document of
a fixed class (html, corrupt, or a pdf page-count tail), in quotas equal
to the generator's documented mix (5% html, 1% truncated, and 90/9/1%
short/mid/heavy page tails of the rest), and its url is numbered by j.
The seed moves only the documents: rows of ``generate_row(i, seed)``,
i = 0, 1, 2, ..., fill the positions of their class in turn.  So every
seed has the same number of documents of each class, the same urls, and
so the same hash placement of each class in the pipeline's shuffles.
Without this the heavy-tail count alone moves a 4k-doc pass by ~5%
between seeds, and which task the heavy documents land in moves the
pipeline's extraction stage by up to 30%.  Every 40th url also gets an
older, stale snapshot, as in ``plans.corpus.corpus_rows``.

Generated tables are cached under ``.perfbench/inputs`` keyed by seed,
size and the source of the generator, so a generator change can never
be served a stale cache.  The digest printed per run covers every byte
of the rows and of their expectations.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from livre_spark.pdf import genpdf

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

# fraction of the corpus per class; "short" takes the remainder
QUOTAS = {"html": 0.05, "corrupt": 0.01,
          "mid": 0.94 * 0.09, "heavy": 0.94 * 0.01}
DUPLICATE_EVERY = 40
ROWS_PER_GROUP = 2000  # as plans.corpus.write_corpus
WARM_SEED = 1_000_003  # the fixed warm-up slice does not move with --seed
LAYOUT_SEED = 0  # class per position and resume split: fixed for all seeds
URL = "https://example.org/crawl/{:08d}.pdf"
_BASE_TS = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("n_bytes", pa.int64()),
])
EXPECT_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("kind", pa.string()),
    ("expected_text", pa.string()),
    ("n_pages", pa.int32()),
    ("n_bytes", pa.int64()),
])


def row_class(row: dict) -> str:
    if row["kind"] in ("html", "corrupt"):
        return row["kind"]
    if row["kind"] != "pdf":
        raise ValueError(f"generate_row made an unknown kind {row['kind']!r};"
                         " give it a quota in perfbench/inputs.py")
    n = row["n_pages"]
    return "short" if n < 10 else "mid" if n < 60 else "heavy"


def quotas(n: int) -> dict[str, int]:
    q = {k: round(f * n) for k, f in QUOTAS.items()}
    q["short"] = n - sum(q.values())
    return q


def layout(n: int) -> list[str]:
    """The class of each position: the quotas in a fixed shuffled order."""
    classes = [c for c, k in quotas(n).items() for _ in range(k)]
    random.Random(LAYOUT_SEED).shuffle(classes)
    return classes


def draw(n: int, seed: int) -> tuple[list[dict], list[dict]]:
    """(pages rows incl. stale snapshots, expectation rows) of ``n`` urls."""
    want = layout(n)
    left = quotas(n)
    pools: dict[str, list[dict]] = {c: [] for c in left}
    i = 0
    while any(left.values()):
        row = genpdf.generate_row(i, seed)
        cls = row_class(row)
        if left[cls] > 0:
            left[cls] -= 1
            pools[cls].append(row)
        i += 1
    pages, expect = [], []
    for j, cls in enumerate(want):
        row = pools[cls].pop()
        url = URL.format(j)
        ts = _BASE_TS + datetime.timedelta(seconds=j)
        if j % DUPLICATE_EVERY == 7:
            stale = genpdf.generate_row(i + j, seed)["html"]
            pages.append(dict(url=url, warc_ts=ts - datetime.timedelta(days=1),
                              html=stale, text="", lang=row["lang"],
                              n_bytes=len(stale)))
        pages.append(dict(url=url, warc_ts=ts, html=row["html"], text="",
                          lang=row["lang"], n_bytes=len(row["html"])))
        expect.append(dict(url=url, kind=row["kind"],
                           expected_text=row["expected_text"],
                           n_pages=row["n_pages"], n_bytes=len(row["html"])))
    return pages, expect


def digest(pages: pa.Table, expect: pa.Table) -> str:
    h = hashlib.sha256()
    for tbl in (pages, expect):
        for col in tbl.column_names:
            for v in tbl.column(col).to_pylist():
                h.update(repr(v).encode() if not isinstance(v, bytes) else v)
                h.update(b"\0")
    return h.hexdigest()


def _source_key() -> str:
    h = hashlib.sha256()
    for path in (genpdf.__file__, __file__):
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


class Corpus:
    """One seeded corpus on disk: ``pages`` (the pipeline's input
    schema) and ``expect`` (the generator's golden text per url)."""

    def __init__(self, n: int, seed: int):
        self.n, self.seed = n, seed
        self.dir = os.path.join(WORK, "inputs",
                                f"n{n}-s{seed}-{_source_key()}")
        self.pages_dir = os.path.join(self.dir, "pages")
        pages_file = os.path.join(self.pages_dir, "part-00000.parquet")
        expect_file = os.path.join(self.dir, "expect.parquet")
        if not os.path.exists(expect_file):
            self._drop_other_seeds()
            pages, expect = draw(n, seed)
            os.makedirs(self.pages_dir, exist_ok=True)
            pq.write_table(pa.Table.from_pylist(pages, schema=PAGES_SCHEMA),
                           pages_file, row_group_size=ROWS_PER_GROUP)
            pq.write_table(pa.Table.from_pylist(expect, schema=EXPECT_SCHEMA),
                           expect_file + ".tmp")
            os.replace(expect_file + ".tmp", expect_file)
        self.pages = pq.read_table(pages_file)
        self.expect = pq.read_table(expect_file)
        self.digest = digest(self.pages, self.expect)

    def _drop_other_seeds(self) -> None:
        """Keep one cached corpus per size, so runs over many seeds do
        not fill the disk."""
        parent = os.path.dirname(self.dir)
        prefix = f"n{self.n}-"
        for name in os.listdir(parent) if os.path.isdir(parent) else ():
            if name.startswith(prefix):
                shutil.rmtree(os.path.join(parent, name), ignore_errors=True)

    def expected(self) -> dict[str, dict]:
        return {r["url"]: r for r in self.expect.to_pylist()}

    def latest_rows(self) -> list[dict]:
        """(url, html) of the newest snapshot per url, in corpus order."""
        latest = {}
        for url, html in zip(self.pages.column("url").to_pylist(),
                             self.pages.column("html").to_pylist()):
            latest[url] = html  # stale snapshots precede their newer twin
        return [{"url": u, "html": h} for u, h in latest.items()]

    def write_subset(self, name: str, urls: set[str]) -> str:
        """Pages of ``urls`` (all their snapshots) as their own table."""
        out = os.path.join(self.dir, name)
        path = os.path.join(out, "part-00000.parquet")
        if not os.path.exists(path):
            mask = pa.array([u in urls for u in
                             self.pages.column("url").to_pylist()])
            os.makedirs(out, exist_ok=True)
            pq.write_table(self.pages.filter(mask), path + ".tmp",
                           row_group_size=ROWS_PER_GROUP)
            os.replace(path + ".tmp", path)
        return out

    def split(self, fractions: tuple[float, ...]) -> list[set[str]]:
        """Partition the urls into fixed groups (the same for every seed)."""
        urls = self.expect.column("url").to_pylist()
        random.Random(LAYOUT_SEED).shuffle(urls)
        groups, start = [], 0
        for f in fractions:
            stop = start + round(f * len(urls))
            groups.append(set(urls[start:stop]))
            start = stop
        groups.append(set(urls[start:]))
        return groups
