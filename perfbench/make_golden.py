#!/usr/bin/env python3
"""Write golden.json: the digest of the correct reference per workload
and seed, so the correctness gate can tell when extraction output
changes.

    python3 perfbench/make_golden.py

For every workload and every seed in ``SEEDS`` it generates the
documents, runs ``extract_document`` over them in this checkout and
records the digest of the documents and of the reference (see
gate.py). Rerun it only when a change of the extraction output is
intended, and say so in the change.
"""

from __future__ import annotations

import json
import sys
from multiprocessing import Pool
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import gate  # noqa: E402
from inputs import WORKLOADS, docs_digest, generate  # noqa: E402

# seeds with a golden entry; a run at any other seed checks the default
# seed's entry instead (run.py)
SEEDS = range(200)


def _entry(task: tuple[str, int]) -> tuple[str, int, dict]:
    name, seed = task
    rows = generate(name, seed)
    ref = gate.reference_of((r["url"], r["html"]) for r in rows)
    return name, seed, {
        "docs": docs_digest(rows)[:gate.GOLDEN_HEX],
        "ref": gate.reference_digest(ref)[:gate.GOLDEN_HEX]}


def dump(golden: dict) -> str:
    """JSON with one line per seed."""
    blocks = []
    for name, per in golden.items():
        rows = ",\n".join(f'  "{seed}": {json.dumps(e)}'
                          for seed, e in per.items())
        blocks.append(f' "{name}": {{\n{rows}\n }}')
    return "{\n" + ",\n".join(blocks) + "\n}\n"


def main() -> int:
    tasks = [(n, s) for n in WORKLOADS for s in SEEDS]
    golden: dict = {n: {} for n in WORKLOADS}
    with Pool(4) as pool:
        for name, seed, entry in pool.imap_unordered(_entry, tasks):
            golden[name][seed] = entry
    gate.GOLDEN.write_text(dump(
        {n: {str(s): per[s] for s in sorted(per)}
         for n, per in golden.items()}))
    print(f"{gate.GOLDEN}: {len(tasks)} entries")
    return 0


if __name__ == "__main__":
    sys.exit(main())
