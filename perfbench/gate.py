"""Correctness gate: every output row against an in-process reference.

The reference is ``kernels.extract.extract_document`` applied to every
input document outside Spark. Per url it keeps (status, sha256 of
``extracted_text``, ``span_digest`` of the spans). A job's output is
read back with pyarrow, not Spark, and a document counts as bad when its
row is missing, duplicated or differs in any of the three; a row whose
url is not an input url also counts. A job whose manifest is incomplete
or whose committed ``n_rows`` differ from the input count, or which
raises, counts every document as bad.

The reference is computed by the checkout under test, so on its own it
only shows that Spark and the in-process kernel agree. ``golden.json``
pins it: per workload and seed it holds a digest of the input documents
and a digest of the reference that the extraction code produced when the
file was written (``make_golden.py``). A reference that differs from its
golden digest means the code under test changed its output.
"""

from __future__ import annotations

import hashlib
import json
import subprocess
import sys
from collections import Counter
from pathlib import Path

GOLDEN = Path(__file__).resolve().parent / "golden.json"
GOLDEN_HEX = 16  # digest prefix kept in golden.json: 64 bits

Reference = dict  # url -> (status, text_sha256, span_digest)


def row_key(status: str, text: str | None, spans: list) -> tuple:
    from extract_kit_spark.kernels.extract import span_digest
    return (status,
            hashlib.sha256((text or "").encode("utf-8")).hexdigest(),
            span_digest(spans or []))


def reference_of(docs) -> Reference:
    """Reference rows of (url, payload) pairs, in this process."""
    from extract_kit_spark.kernels.extract import extract_document
    out = {}
    for url, payload in docs:
        r = extract_document(url, payload)
        out[url] = row_key(r["status"], r["extracted_text"], r["spans"])
    return out


def reference_digest(ref: Reference) -> str:
    """sha256 of the whole reference, in url order."""
    body = json.dumps(sorted((u, list(v)) for u, v in ref.items()),
                      separators=(",", ":"))
    return hashlib.sha256(body.encode("utf-8")).hexdigest()


def _reference_part(docs_path: str, part: int, parts: int) -> dict:
    import pyarrow.parquet as pq
    t = pq.read_table(docs_path, columns=["url", "html"])
    return reference_of(zip(t.column("url").to_pylist()[part::parts],
                            t.column("html").to_pylist()[part::parts]))


def compute_reference(docs_path: Path, processes: int) -> Reference:
    """extract_document over every document, split over ``processes``
    child interpreters that each run this file on a slice."""
    procs = [subprocess.Popen([sys.executable, __file__, str(docs_path),
                               str(i), str(processes)],
                              stdout=subprocess.PIPE)
             for i in range(processes)]
    outs = [p.communicate()[0] for p in procs]
    codes = [p.returncode for p in procs]
    if any(codes):
        raise RuntimeError(f"reference workers exited with {codes}")
    return {u: tuple(v) for out in outs
            for u, v in json.loads(out).items()}


def load_or_compute_reference(path: Path, docs_path: Path,
                              processes: int) -> Reference:
    """The reference is computed once per input set and then reused, so
    a later change of the extraction code is compared with the output of
    the code that first ran on these inputs."""
    if path.exists():
        return {u: tuple(v) for u, v in json.loads(path.read_text()).items()}
    ref = compute_reference(docs_path, processes)
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(ref))
    tmp.replace(path)
    return ref


def golden_status(workload: str, seed: int, docs_sha256: str,
                  ref: Reference) -> str:
    """'match' or 'MISMATCH' against golden.json; 'absent' when the file
    has no entry for (workload, seed); 'inputs-changed' when the entry was
    made from other input documents (a generator changed), so it says
    nothing about this reference."""
    entry = json.loads(GOLDEN.read_text()).get(workload, {}).get(str(seed))
    if entry is None:
        return "absent"
    if entry["docs"] != docs_sha256[:GOLDEN_HEX]:
        return "inputs-changed"
    return ("match" if entry["ref"] == reference_digest(ref)[:GOLDEN_HEX]
            else "MISMATCH")


def read_output(data_dir: str) -> list[tuple]:
    """(url, status, extracted_text, spans) of every written row."""
    import pyarrow.dataset as ds
    t = ds.dataset(data_dir, format="parquet", partitioning="hive") \
        .to_table(columns=["url", "status", "extracted_text", "spans"])
    return list(zip(*(t.column(c).to_pylist() for c in
                      ("url", "status", "extracted_text", "spans"))))


def count_bad(ref: Reference, rows: list[tuple]) -> tuple[int, list[str]]:
    """Number of bad input docs (capped at len(ref)) and a few examples."""
    seen = Counter(r[0] for r in rows)
    bad, why = 0, []
    for url, status, text, spans in rows:
        want = ref.get(url)
        if want is None:
            bad += 1
            why.append(f"unexpected url {url}")
        elif seen[url] == 1 and row_key(status, text, spans) != want:
            bad += 1
            why.append(f"differs from reference: {url}")
    for url in ref:
        if seen[url] == 0:
            bad += 1
            why.append(f"missing: {url}")
        elif seen[url] > 1:
            bad += 1
            why.append(f"duplicated x{seen[url]}: {url}")
    return min(bad, len(ref)), why[:5]


def check_job(ref: Reference, summary: dict, data_dir: str
              ) -> tuple[int, list[str]]:
    """Bad docs of one finished job: row comparison plus manifest."""
    if not summary.get("complete") or summary.get("n_rows") != len(ref):
        return len(ref), [f"manifest: complete={summary.get('complete')} "
                          f"n_rows={summary.get('n_rows')} "
                          f"expected {len(ref)}"]
    return count_bad(ref, read_output(data_dir))


def self_test(ref: Reference, rows: list[tuple]) -> None:
    """The comparator must see a one-byte text change and a dropped row
    in an otherwise correct output, so a bad fraction of 0 cannot be
    vacuous. Raises if it does not."""
    base, _ = count_bad(ref, rows)
    if base != 0 or len(rows) < 2:
        raise RuntimeError("gate self-test needs a clean output of >= 2 "
                           f"rows (has {base} bad of {len(rows)})")
    target = next(i for i, r in enumerate(rows)
                  if r[2] and r[2][0].isascii())
    url, status, text, spans = rows[target]
    flipped = chr(ord(text[0]) ^ 1) + text[1:]
    mutated = list(rows)
    mutated[target] = (url, status, flipped, spans)
    del mutated[(target + 1) % len(rows)]
    bad, why = count_bad(ref, mutated)
    if bad != 2:
        raise RuntimeError(f"gate self-test: expected 2 bad docs after "
                           f"one corrupted and one dropped row, got {bad}: "
                           f"{why}")


if __name__ == "__main__":
    # python3 gate.py <docs.parquet> <part> <parts>: one reference slice
    json.dump(_reference_part(sys.argv[1], int(sys.argv[2]),
                              int(sys.argv[3])), sys.stdout)
