"""Output compaction — the small-files pass every long-running
extraction table needs at scale.

A 10^12-page crawl processed in resumable commit groups accretes many
small parquet files per partition (one per task per group); small files
tax every downstream scan (driver listing, task scheduling overhead,
lost columnar compression). This module rewrites fragmented partitions
to ~``target_bytes`` files in ONE declarative Spark job — the moral
equivalent of Iceberg's ``rewriteDataFiles`` over the hand-rolled
manifest layout (manifest.py):

- partitions to rewrite are chosen from a filesystem listing (at real
  scale this listing comes from the table catalog; the selection logic
  is identical): a partition qualifies when it holds more files than
  ``ceil(bytes / target_bytes)`` — i.e. more files than its data needs;
- the job reads ONLY those partitions (partition pruning on the
  discovered partition column), salts rows into
  ``k_p = ceil(bytes_p / target_bytes)`` output files per partition,
  and writes back with DYNAMIC partition overwrite — the same
  either-old-or-new-never-missing per-partition commit the extraction
  writes themselves rely on, so a crashed compaction is simply re-run;
- rows are verified preserved (count + order-independent url/status
  checksum over the rewritten partitions) and the pass is recorded in
  an append-only ``_compactions.json`` log (atomic temp+rename, like
  the manifest).

Reruns are idempotent and the second pass is a no-op (every partition
already meets its file-count target).
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from itertools import accumulate

from pyspark.sql import DataFrame, SparkSession, functions as F


def _partition_stats(data_dir: str) -> "tuple[str, dict] | None":
    """(partition_column, {value_str: (n_files, bytes)}) from a
    filesystem listing of ``data_dir``, or None when the layout has no
    hive-style partition dirs."""
    col = None
    stats: dict[str, tuple[int, int]] = {}
    try:
        entries = sorted(os.listdir(data_dir))
    except FileNotFoundError:
        return None
    for entry in entries:
        full = os.path.join(data_dir, entry)
        if "=" not in entry or not os.path.isdir(full):
            continue
        c, _, val = entry.partition("=")
        if col is None:
            col = c
        elif c != col:      # mixed layouts: refuse to guess
            return None
        n_files = 0
        n_bytes = 0
        for name in os.listdir(full):
            if name.endswith(".parquet"):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(full, name))
        stats[val] = (n_files, n_bytes)
    if col is None or not stats:
        return None
    return col, stats


def _row_checksum(df: DataFrame):
    """Order-independent FULL-row fingerprint: count + bit_xor of
    per-row xxhash64 over every column (xor is commutative and can't
    overflow, unlike sum under ANSI arithmetic). Hashing only
    (url, status) would let payload corruption — a truncated
    extracted_text, a nulled struct — slip through the rewrite
    verification (ADVICE r3); xxhash64 natively folds nested
    struct/array columns, so the whole row participates. Columns are
    name-sorted so the fingerprint is schema-order-independent."""
    cols = [F.col(c) for c in sorted(df.columns)]
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*cols)).alias("h")).collect()[0]


def compact_output(spark: SparkSession, output_dir: str,
                   target_bytes: int = 128 * 1024 * 1024) -> dict:
    """Compact fragmented partitions of an extraction output table.
    Returns a summary dict (also appended to ``_compactions.json``)."""
    data_dir = os.path.join(output_dir, "data")
    ps = _partition_stats(data_dir)
    if ps is None:
        return {"compacted_partitions": 0, "files_before": 0,
                "files_after": 0, "skipped": "no partitioned layout"}
    pcol, stats = ps
    plan: dict[str, int] = {}      # partition value -> target file count
    files_before = 0
    for val, (n_files, n_bytes) in stats.items():
        k = max(1, -(-n_bytes // max(1, target_bytes)))  # ceil
        if n_files > k:
            plan[val] = int(k)
            files_before += n_files
    if not plan:
        return {"compacted_partitions": 0, "files_before": 0,
                "files_after": 0}

    table = spark.read.parquet(data_dir)
    # the discovered partition column may be int-typed; compare as string
    pstr = F.col(pcol).cast("string")
    sel = table.where(pstr.isin(*plan))
    before = _row_checksum(sel)

    # per-partition salt in [0, k_p); each (partition, salt) pair gets
    # its own task, numbered densely (partition's offset + salt), so a
    # partition gets k_p files, which a hash of (pcol, salt) would not
    # ensure; sortWithinPartitions keeps the files byte-comparable
    # across reruns (pipeline invariant P6)
    def lit_map(m: dict):
        return F.create_map(*[F.lit(x) for kv in m.items() for x in kv])

    offsets = dict(zip(plan, accumulate(plan.values(), initial=0)))
    task = (lit_map(offsets)[pstr]
            + F.pmod(F.xxhash64("url"), lit_map(plan)[pstr])).cast("int")
    (sel.repartitionById(sum(plan.values()), task)
        .sortWithinPartitions("url")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(pcol).parquet(data_dir))

    after = _row_checksum(
        spark.read.parquet(data_dir).where(pstr.isin(*plan)))
    if (before["n"], before["h"]) != (after["n"], after["h"]):
        raise RuntimeError(
            f"compaction row mismatch: before n={before['n']} "
            f"h={before['h']}, after n={after['n']} h={after['h']}")

    _, stats_after = _partition_stats(data_dir)
    files_after = sum(stats_after[v][0] for v in plan)
    summary = {"compacted_partitions": len(plan),
               "files_before": files_before,
               "files_after": files_after,
               "rows": int(before["n"]),
               "target_bytes": int(target_bytes)}
    _log_compaction(output_dir, summary)
    return summary


def _log_compaction(output_dir: str, summary: dict) -> None:
    path = os.path.join(output_dir, "_compactions.json")
    log = []
    if os.path.exists(path):
        with open(path) as f:
            log = json.load(f)
    log.append({**summary, "at": time.time()})
    fd, tmp = tempfile.mkstemp(dir=output_dir, prefix="_compactions.",
                               suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(log, f, indent=1)
    os.replace(tmp, path)
