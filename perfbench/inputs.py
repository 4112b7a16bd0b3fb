"""Seeded workload inputs, generated in one process and cached by key.

An input set is a pure function of (workload, seed, generator sources).
Its cache key carries a digest of the sources that produce the bytes
(this file, ``extract_kit_spark/fixtures.py`` and the WARC writer in
``extract_kit_spark/warc.py``), so editing a generator re-keys the cache
instead of silently reusing stale inputs.

Each cached set lives in ``<cache>/<key>/``:

- ``input/``       what the job reads (parquet part files or .warc.gz)
- ``docs.parquet`` (url, warc_ts, html) of every document, for the
                   reference and the in-process kernel pass
- ``meta.json``    docs, bytes, the hash of the input file list and
                   ``docs_sha256``, a hash of the documents themselves
                   (url and payload) that ``golden.json`` is keyed by
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
_GENERATOR_SOURCES = (
    Path(__file__).resolve(),
    ROOT / "extract_kit_spark" / "fixtures.py",
    ROOT / "extract_kit_spark" / "warc.py",
)
_KEEP_PER_WORKLOAD = 6
DEFAULT_SEED = 7


@dataclass(frozen=True)
class Workload:
    name: str
    docs: int
    files: int            # parquet part files, or .warc.gz archives
    layout: str           # "scan" | "bucketed"
    groups: int           # commit groups (scan: upper bound on groups)
    input_format: str     # "parquet" | "warc"
    buckets: int = 0      # bucketed layout only
    slots: int = 4        # Spark master local[slots]
    warmup: int = 0       # untimed warm jobs between the cold and timed ones


# Why each workload exists, and why crawl_mix runs at local[2] after three
# untimed warm jobs, is recorded in README.md. Sizes fit the run time
# budget; large_pages needs enough docs to fill all 8 buckets (an empty
# bucket never commits, see README.md).
WORKLOADS = {w.name: w for w in (
    Workload("crawl_mix", docs=1600, files=8, layout="scan", groups=1,
             input_format="parquet", slots=2, warmup=3),
    Workload("tiny_docs", docs=2000, files=16, layout="scan", groups=4,
             input_format="parquet"),
    Workload("large_pages", docs=60, files=4, layout="bucketed",
             groups=2, buckets=8, input_format="warc"),
)}


def generator_digest() -> str:
    h = hashlib.sha256()
    for p in _GENERATOR_SOURCES:
        h.update(p.name.encode() + b"\0" + p.read_bytes())
    return h.hexdigest()


def file_list_hash(input_dir: Path) -> str:
    """sha256 over (relative path, sha256 of contents) of every input
    file, so two runs can show they read byte-identical inputs."""
    h = hashlib.sha256()
    for p in sorted(q for q in input_dir.rglob("*") if q.is_file()):
        h.update(str(p.relative_to(input_dir)).encode() + b"\0")
        h.update(hashlib.sha256(p.read_bytes()).digest())
    return h.hexdigest()


def docs_digest(rows: list[dict]) -> str:
    """sha256 over (url, payload) of every document, in url order: the
    same documents give the same digest whatever files hold them."""
    h = hashlib.sha256()
    for r in sorted(rows, key=lambda r: r["url"]):
        h.update(r["url"].encode() + b"\0")
        h.update(hashlib.sha256(r["html"]).digest())
    return h.hexdigest()


def generate(name: str, seed: int) -> list[dict]:
    """The documents of workload ``name`` at ``seed``."""
    return _GENERATORS[name](WORKLOADS[name].docs, seed)


# -- generators ---------------------------------------------------------------

def _crawl_mix_docs(n: int, seed: int) -> list[dict]:
    from extract_kit_spark.fixtures import gen_page
    rows = []
    for i in range(n):
        r = gen_page(i, seed)
        rows.append({"url": r["url"], "warc_ts": r["warc_ts"],
                     "html": r["html"]})
    return rows


def _tiny_docs(n: int, seed: int) -> list[dict]:
    """Only text_doc pages, built with the fixture's own text builder
    (gen_page would need ~25 draws per text doc to hit the 4% kind)."""
    from extract_kit_spark import fixtures
    rows = []
    for i in range(n):
        rng = random.Random(f"tiny:{seed}:{i}")
        rows.append({
            "url": f"https://docs-{i % 50:02d}.example.net/note-{i:08d}",
            "warc_ts": fixtures.BASE_TS + _dt.timedelta(seconds=i),
            "html": fixtures._BUILDERS["text_doc"](rng)})
    return rows


_CONTENT_OPEN = '<div class="content">'
_CONTENT_CLOSE = '</div><div class="sidebar">'


def _body_core(html: str) -> str:
    start = html.index("</h1>", html.index(_CONTENT_OPEN)) + len("</h1>")
    return html[start:html.index(_CONTENT_CLOSE)]


def _large_docs(n: int, seed: int) -> list[dict]:
    """HTML pages of 50-300 KB: an article page whose content div is
    extended with article and table bodies drawn from a seeded pool of
    gen_page outputs."""
    from extract_kit_spark.fixtures import BASE_TS, gen_page
    pool, i = [], 0
    while len(pool) < 400:
        r = gen_page(i, seed)
        if r["_kind"] in ("article", "table_page"):
            pool.append(r["html"].decode("utf-8"))
        i += 1
    cores = [_body_core(h) for h in pool]
    # target sizes evenly spaced over the range, in one fixed order: the
    # url (so the bucket) of each size is the same for every seed, and
    # only content varies. A seeded order would change how evenly the
    # bytes spread over buckets, and with it the job's makespan.
    targets = [50_000 + 250_000 * j // max(1, n - 1) for j in range(n)]
    random.Random("large:sizes").shuffle(targets)
    rows = []
    for j in range(n):
        rng = random.Random(f"large:{seed}:{j}")
        host = pool[rng.randrange(len(pool))]
        target = targets[j]
        parts, size = [], len(host)
        while size < target:
            core = cores[rng.randrange(len(cores))]
            parts.append(core)
            size += len(core)
        cut = host.index(_CONTENT_CLOSE)
        html = host[:cut] + "".join(parts) + host[cut:]
        rows.append({"url": f"https://large-{j % 20:02d}.example.org/"
                            f"page-{j:06d}",
                     "warc_ts": BASE_TS + _dt.timedelta(seconds=j),
                     "html": html.encode("utf-8")})
    return rows


_GENERATORS = {"crawl_mix": _crawl_mix_docs, "tiny_docs": _tiny_docs,
               "large_pages": _large_docs}


def _write_parquet(rows: list[dict], path: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table({
        "url": [r["url"] for r in rows],
        "warc_ts": pa.array([r["warc_ts"] for r in rows],
                            type=pa.timestamp("us")),
        "html": pa.array([r["html"] for r in rows], type=pa.binary()),
    }), path)


def _write_input(w: Workload, rows: list[dict], input_dir: Path) -> None:
    input_dir.mkdir(parents=True)
    per = -(-len(rows) // w.files)
    if w.input_format == "warc":
        from extract_kit_spark.warc import write_warc_local
        epoch = _dt.datetime(1970, 1, 1)
        write_warc_local(
            [{"url": r["url"],
              "ts_micros": (r["warc_ts"] - epoch) // _dt.timedelta(
                  microseconds=1),
              "payload": r["html"],
              "content_type": "text/html; charset=utf-8"} for r in rows],
            str(input_dir), records_per_file=per)
        return
    for f in range(w.files):
        _write_parquet(rows[f * per:(f + 1) * per],
                       input_dir / f"part-{f:04d}.parquet")


@dataclass(frozen=True)
class InputSet:
    key: str
    dir: Path
    docs: int
    bytes: int
    files_sha256: str
    docs_sha256: str

    @property
    def input_dir(self) -> Path:
        return self.dir / "input"

    @property
    def docs_path(self) -> Path:
        return self.dir / "docs.parquet"

    def describe(self) -> dict:
        return {"key": self.key, "docs": self.docs, "bytes": self.bytes,
                "files_sha256": self.files_sha256,
                "docs_sha256": self.docs_sha256}


def ensure_inputs(w: Workload, seed: int, cache: Path) -> InputSet:
    key = f"{w.name}-s{seed}-{generator_digest()[:12]}"
    final = cache / key
    if not (final / "meta.json").exists():
        tmp = cache / f".{key}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        rows = generate(w.name, seed)
        _write_input(w, rows, tmp / "input")
        _write_parquet(rows, tmp / "docs.parquet")
        meta = {"key": key, "docs": len(rows),
                "bytes": sum(len(r["html"]) for r in rows),
                "files_sha256": file_list_hash(tmp / "input"),
                "docs_sha256": docs_digest(rows)}
        (tmp / "meta.json").write_text(json.dumps(meta))
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
        _prune(cache, w.name, keep=final)
    os.utime(final)
    meta = json.loads((final / "meta.json").read_text())
    return InputSet(key, final, meta["docs"], meta["bytes"],
                    meta["files_sha256"], meta["docs_sha256"])


def _prune(cache: Path, workload: str, keep: Path) -> None:
    sets = sorted((p for p in cache.glob(f"{workload}-s*")
                   if p != keep), key=lambda p: p.stat().st_mtime)
    for p in sets[:max(0, len(sets) - (_KEEP_PER_WORKLOAD - 1))]:
        shutil.rmtree(p, ignore_errors=True)


def read_rows(inputs: InputSet) -> list[tuple]:
    """(url, warc_ts, html) of every document."""
    import pyarrow.parquet as pq
    t = pq.read_table(inputs.docs_path)
    return list(zip(*(t.column(c).to_pylist()
                      for c in ("url", "warc_ts", "html"))))
