"""The extraction job: read → gate → mapInPandas → write.

The Spark lifecycle of SURVEY.md §3.4, replacing the reference's two
orchestrators (`core/vision/processor.ts:68-146` and
`converters/docx-converter.ts:130-245`) with one declarative plan.

Two layouts, same kernels:

``run_extraction_scan`` (DEFAULT — the 100 TB path): NO shuffle. The
extraction is a pure map, so the plan is scan → mapInPandas → write;
task sizing comes from the parquet split (`maxPartitionBytes`), resume
granularity is input-FILE groups, and the payload bytes are never
shuffled. Measured on this box the shuffle variant costs ~2–5× wall
time at local[32]; at 100 TB a payload shuffle would be the single
dominant cost of the job. Skew from giant documents is bounded by the
per-doc byte cap, not by repartitioning.

``run_extraction_bucketed``: buckets rows by xxhash64(url) and shuffles
each row to the task numbered by its bucket's index in the commit group
(``repartitionById``), so each bucket has one task to itself and the
OUTPUT is bucketed by url hash, sorted within — pay the shuffle only
when downstream consumers need url-co-located / bucket-joinable output.
Resume granularity is bucket groups; a bucket no url hashes to is
committed empty.

Shared scale design
-------------------
- One fused vectorized stage: all kernels inside one mapInPandas (the
  single JVM→Python Arrow boundary, where the reference had worker
  postMessage). 128-row Arrow batches bound worker memory for MB docs.
- Incremental commit: one Spark action per group, atomic manifest
  commit after each; a rerun does only uncommitted groups. Writes are
  idempotent (per-group dir overwrite / dynamic partition overwrite),
  so a crash between write and commit never duplicates rows.
- Straggler cap: payloads over ``max_doc_bytes`` are quarantined
  without parsing (the analogue of the reference's pixel-budget input
  reduction, `image-optimization.ts:117-147`).
- Deterministic output: sortWithinPartitions(url) so reruns are
  byte-comparable (SURVEY.md §4.3).
- Lineage from a column-pruned re-scan of written output (never caches
  MB-size text columns).
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator
from typing import Callable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .kernels.extract import extract_document, MAX_DOC_BYTES
from .manifest import Manifest
from .schemas import EXTRACTION_SCHEMA

# extraction-stage output: the contract schema + input size (+ layout-
# specific passthrough column)
_STAGE_COMMON = EXTRACTION_SCHEMA.fields + [
    T.StructField("bytes_in", T.LongType(), nullable=False),
]
STAGE_SCHEMA = T.StructType(_STAGE_COMMON + [
    T.StructField("p_bucket", T.IntegerType(), nullable=False),
])
STAGE_SCHEMA_SCAN = T.StructType(_STAGE_COMMON + [
    T.StructField("src_file", T.StringType(), nullable=False),
])

DEFAULT_TARGET_PARTITION_BYTES = 64 * 1024 * 1024


def _group_checksum() -> F.Column:
    """Order-independent content checksum for a lineage group: XOR of
    per-row xxhash64("url:crc32(extracted_text)"). Commutative and
    associative → map-side partial aggregation, constant memory, any
    row order; equal row multisets ⇔ equal checksum (urls are unique
    within a group, so XOR self-cancellation cannot occur). Replaces a
    sort_array(collect_list(...)) formulation that materialized every
    row of the group in one reducer — fine at test scale, an OOM at
    10^12 rows."""
    return F.bit_xor(F.xxhash64(F.concat_ws(
        ":", F.col("url"), F.crc32("extracted_text")))).cast("string")


def _make_extract_batch(profile: str, max_doc_bytes: int,
                        passthrough: str) -> Callable:
    """Build the mapInPandas function; ``passthrough`` is the layout
    column echoed to the output (p_bucket / src_file). The closure holds
    only small config scalars, so it pickles with the task."""

    def extract_batch(batches: Iterator[pd.DataFrame]) \
            -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        for pdf in batches:
            out_rows = []
            urls = pdf["url"].tolist()
            payloads = pdf["html"].tolist()
            stamps = pdf["warc_ts"].tolist()
            extra = pdf[passthrough].tolist()
            for url, ts, payload, ex in zip(urls, stamps, payloads,
                                            extra):
                size = len(payload) if payload is not None else 0
                if size > max_doc_bytes:
                    # straggler cap: quarantine without parsing (I2
                    # analogue — one 100MB doc must not stall the task)
                    from .kernels import errors as E
                    res = extract_document(url, b"")
                    res["status"] = E.FILE_TOO_LARGE
                    res["validation"] = {
                        "success": False,
                        "errors": [f"payload {size}B > {max_doc_bytes}B"]}
                else:
                    res = extract_document(url, payload, profile)
                res["warc_ts"] = ts
                res["partition_id"] = pid
                res[passthrough] = ex
                res["bytes_in"] = size
                out_rows.append(res)
            yield pd.DataFrame(out_rows)

    return extract_batch


def plan_partition_count(df: DataFrame,
                         target_bytes: int) -> tuple[int, int]:
    """One column-pruned aggregate over the payload length sizes the
    shuffle: returns (n_partitions, total_bytes)."""
    row = df.select(
        F.coalesce(F.sum(F.length("html")), F.lit(0)).alias("b"),
        F.count(F.lit(1)).alias("n")).collect()[0]
    total = int(row["b"])
    n = max(1, -(-total // target_bytes))  # ceil
    return n, total


def read_pages(spark: SparkSession, input_path: str,
               input_format: str = "parquet") -> DataFrame:
    """Column-pruned scan of the pages table: the extractor needs only
    (url, warc_ts, html); Catalyst pushes the projection to parquet so
    `text`/`lang` are never read (SURVEY.md §4.2).

    input_format="warc" reads a Common-Crawl-style archive directory
    instead (warc.read_warc), mapping payload→html — the rest of the
    pipeline is format-agnostic."""
    if input_format == "warc":
        from .warc import read_warc
        return read_warc(spark, input_path, with_index=False).select(
            "url", "warc_ts", F.col("payload").alias("html"))
    return spark.read.parquet(input_path).select("url", "warc_ts", "html")


def run_extraction_bucketed(spark: SparkSession,
                            input_path: str,
                            output_dir: str,
                            profile: str = "auto",
                            job_id: str | None = None,
                            n_buckets: int | None = None,
                            commit_group_size: int = 8,
                            target_partition_bytes: int =
                            DEFAULT_TARGET_PARTITION_BYTES,
                            max_doc_bytes: int = MAX_DOC_BYTES,
                            resume: bool = True,
                            fail_after_groups: int | None = None,
                            fail_before_commit_group: int | None = None,
                            input_format: str = "parquet",
                            ) -> dict:
    """Run (or resume) the extraction job with url-hash-BUCKETED output
    (pays one payload shuffle; use run_extraction_scan unless downstream
    needs bucket-co-located output). Returns a summary dict.

    Test hooks: ``fail_after_groups`` raises after k committed groups;
    ``fail_before_commit_group`` raises after group k's DATA write but
    before its manifest commit (the crash window where idempotent
    re-writes matter).
    """
    job_id = job_id or f"extract-{uuid.uuid4().hex[:8]}"
    manifest = Manifest(output_dir, job_id)

    pages = read_pages(spark, input_path, input_format)
    if n_buckets is None:
        n_parts, total_bytes = plan_partition_count(
            pages, target_partition_bytes)
        n_buckets = n_parts
    else:
        total_bytes = -1

    # deterministic bucket: xxhash64(url) — plan-side expression, stays
    # in whole-stage codegen; pmod keeps it non-negative
    bucketed = pages.withColumn(
        "p_bucket",
        F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int"))

    done = manifest.committed_buckets() if resume else set()
    todo = sorted(set(range(n_buckets)) - done)
    groups = [todo[i:i + commit_group_size]
              for i in range(0, len(todo), commit_group_size)]

    extract_batch = _make_extract_batch(profile, max_doc_bytes,
                                        "p_bucket")
    data_dir = os.path.join(output_dir, "data")
    lineage_dir = os.path.join(output_dir, "lineage")
    n_done_groups = 0

    for gi, group in enumerate(groups):
        ids = [int(b) for b in group]
        # bucket predicate prunes the shuffle input; on a bucket-
        # partitioned Iceberg table this becomes partition pruning
        part = bucketed.where(F.col("p_bucket").isin(ids))
        # one task per bucket in the group: each row goes to the task
        # numbered by its bucket's index in the group. A hash of the
        # bucket id would put several buckets on one task and leave
        # others empty.
        slot = F.array_position(F.array(*map(F.lit, ids)),
                                F.col("p_bucket")) - 1
        shuffled = part.repartitionById(len(group), slot.cast("int"))
        extracted = shuffled.mapInPandas(extract_batch,
                                         schema=STAGE_SCHEMA)
        # deterministic output file contents: sort within partition.
        # dynamic partition OVERWRITE (not append) makes the group write
        # idempotent: a crash between write and manifest-commit leaves
        # orphan bucket data that the resume run simply replaces.
        (extracted.sortWithinPartitions("url")
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("p_bucket").parquet(data_dir))
        if fail_before_commit_group is not None \
                and gi == fail_before_commit_group:
            raise RuntimeError(
                f"test hook: killed before commit of group {gi}")

        # lineage from the written columns (cheap column-pruned re-scan,
        # avoids caching MB-size text); the schema is given because a
        # group of empty buckets may leave no file to infer it from
        lineage = (
            spark.read.schema(STAGE_SCHEMA).parquet(data_dir)
            .where(F.col("p_bucket").isin(ids))
            .groupBy("p_bucket")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(F.when(F.col("status") == "ok", 1)
                       .otherwise(0)).alias("n_ok"),
                 F.sum(F.when(F.col("status") != "ok", 1)
                       .otherwise(0)).alias("n_failed"),
                 F.sum("bytes_in").alias("bytes_in"),
                 _group_checksum().alias("checksum"))
            .withColumn("job_id", F.lit(job_id)))
        lineage_rows = lineage.collect()
        (lineage.write.mode("append")
         .parquet(os.path.join(lineage_dir, f"group-{gi}")))

        # a bucket no document hashed to has no lineage row; it is
        # committed empty, or the job would never complete
        entries = {b: {"n_rows": 0, "n_ok": 0, "n_failed": 0,
                       "bytes_in": 0, "checksum": None} for b in ids}
        for r in lineage_rows:
            entries[int(r["p_bucket"])] = {
                "n_rows": int(r["n_rows"]), "n_ok": int(r["n_ok"]),
                "n_failed": int(r["n_failed"]),
                "bytes_in": int(r["bytes_in"]),
                "checksum": r["checksum"]}
        manifest.commit(entries, n_buckets)
        n_done_groups += 1
        if fail_after_groups is not None \
                and n_done_groups >= fail_after_groups:
            raise RuntimeError(
                f"test hook: killed after {n_done_groups} groups")

    state = manifest.load()
    n_rows = sum(v["n_rows"] for v in state["committed"].values())
    n_ok = sum(v["n_ok"] for v in state["committed"].values())
    return {
        "job_id": job_id,
        "n_buckets": n_buckets,
        "n_groups_run": n_done_groups,
        "n_rows": n_rows,
        "n_ok": n_ok,
        "total_bytes_planned": total_bytes,
        "complete": manifest.is_complete(),
        "output": data_dir,
    }


def run_extraction_scan(spark: SparkSession,
                        input_path: str,
                        output_dir: str,
                        profile: str = "auto",
                        job_id: str | None = None,
                        n_groups: int = 8,
                        max_doc_bytes: int = MAX_DOC_BYTES,
                        resume: bool = True,
                        fail_after_groups: int | None = None,
                        fail_before_commit_group: int | None = None,
                        input_format: str = "parquet",
                        ) -> dict:
    """Run (or resume) the extraction job with NO shuffle (the 100 TB
    default): scan → mapInPandas → write, committed in input-FILE
    groups. Task sizing comes from the parquet split
    (spark.sql.files.maxPartitionBytes), so payload bytes cross the
    wire exactly once (scan) and once more on write.

    Resume: the manifest records committed group ids (each a fixed,
    deterministic slice of the sorted input-file list); each group's
    output lives in its own data/group=<gi>/ dir written with overwrite
    — idempotent under any crash point.

    input_format="warc" runs the same file-group protocol over a
    directory of .warc.gz archives (one scan task per archive file).
    """
    job_id = job_id or f"extract-{uuid.uuid4().hex[:8]}"
    manifest = Manifest(output_dir, job_id)

    if input_format == "warc":
        import glob as _glob
        # recursive: must agree with the CLI's input validation
        # (run.py accepts nested archives via **/*.warc.gz — a
        # top-level-only glob here would pass validation then run
        # with zero file groups). "**" also matches zero directories,
        # so top-level archives are included.
        all_files = sorted(set(_glob.glob(
            os.path.join(input_path, "**", "*.warc.gz"),
            recursive=True)))
    else:
        all_files = sorted(spark.read.parquet(input_path).inputFiles())
    n_groups = min(n_groups, len(all_files)) or 1
    per = -(-len(all_files) // n_groups)  # ceil
    groups = [all_files[i:i + per] for i in range(0, len(all_files), per)]

    done = manifest.committed_buckets() if resume else set()
    extract_batch = _make_extract_batch(profile, max_doc_bytes,
                                        "src_file")
    data_dir = os.path.join(output_dir, "data")
    lineage_dir = os.path.join(output_dir, "lineage")
    n_done_groups = 0

    for gi, files in enumerate(groups):
        if gi in done:
            continue
        if input_format == "warc":
            from .warc import read_warc
            pages = read_warc(spark, files).select(
                "url", "warc_ts", F.col("payload").alias("html"),
                F.col("warc_file").alias("src_file"))
        else:
            pages = (spark.read.parquet(*files)
                     .select("url", "warc_ts", "html")
                     .withColumn("src_file", F.input_file_name()))
        extracted = pages.mapInPandas(extract_batch,
                                      schema=STAGE_SCHEMA_SCAN)
        group_dir = os.path.join(data_dir, f"group={gi}")
        # per-group dir + overwrite ⇒ idempotent rerun of this group
        (extracted.sortWithinPartitions("url")
         .write.mode("overwrite").parquet(group_dir))
        if fail_before_commit_group is not None \
                and gi == fail_before_commit_group:
            raise RuntimeError(
                f"test hook: killed before commit of group {gi}")

        lineage = (
            spark.read.parquet(group_dir)
            .groupBy("src_file")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(F.when(F.col("status") == "ok", 1)
                       .otherwise(0)).alias("n_ok"),
                 F.sum(F.when(F.col("status") != "ok", 1)
                       .otherwise(0)).alias("n_failed"),
                 F.sum("bytes_in").alias("bytes_in"),
                 _group_checksum().alias("checksum"))
            .withColumn("job_id", F.lit(job_id))
            .withColumn("group_id", F.lit(gi)))
        rows = lineage.collect()
        (lineage.write.mode("overwrite")
         .parquet(os.path.join(lineage_dir, f"group-{gi}")))

        manifest.commit(
            {gi: {
                "n_rows": int(sum(r["n_rows"] for r in rows)),
                "n_ok": int(sum(r["n_ok"] for r in rows)),
                "n_failed": int(sum(r["n_failed"] for r in rows)),
                "bytes_in": int(sum(r["bytes_in"] for r in rows)),
                "n_files": len(files),
                "checksum": "|".join(sorted(r["checksum"]
                                            for r in rows))}},
            len(groups))
        n_done_groups += 1
        if fail_after_groups is not None \
                and n_done_groups >= fail_after_groups:
            raise RuntimeError(
                f"test hook: killed after {n_done_groups} groups")

    state = manifest.load()
    n_rows = sum(v["n_rows"] for v in state["committed"].values())
    n_ok = sum(v["n_ok"] for v in state["committed"].values())
    return {
        "job_id": job_id,
        "n_groups": len(groups),
        "n_groups_run": n_done_groups,
        "n_rows": n_rows,
        "n_ok": n_ok,
        "complete": manifest.is_complete(),
        "output": data_dir,
    }


# Back-compat alias for tests. NOTE: this binds the BUCKETED layout
# (hash-shuffle on url before extraction) — the flagship no-shuffle
# plan is run_extraction_scan, which the CLI defaults to (run.py).
run_extraction = run_extraction_bucketed


def read_extractions(spark: SparkSession, output_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(output_dir, "data"))


def _replay_pages(spark: SparkSession, input_path: str,
                  bad_keys: DataFrame, n_bad: int,
                  broadcast_max_keys: int) -> DataFrame:
    """The replay scan: filter the pages table to the quarantined urls
    via an EXPLICIT broadcast of the key-set (up to
    ``broadcast_max_keys`` keys — above that, shuffled join, AQE
    decides), so the 100 TB html payload never crosses an Exchange on
    its way into the extraction kernel (plan-asserted in tests).
    De-dup AFTER the broadcast filter — only the quarantined slice
    shuffles — picking the max warc_ts row per url so a url appearing
    in multiple input rows can't inflate the replay output. The key
    frame's extra skinny columns (partition carrier: group/p_bucket,
    src_file) ride along so the batch kernel sees them."""
    keys = (F.broadcast(bad_keys) if n_bad <= broadcast_max_keys
            else bad_keys)
    pages = (spark.read.parquet(input_path)
             .select("url", "warc_ts", "html")
             .join(keys, "url"))
    w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc())
    return (pages.withColumn("__rn", F.row_number().over(w))
            .where("__rn = 1").drop("__rn"))


def reprocess_quarantined(spark: SparkSession, input_path: str,
                          output_dir: str, profile: str = "auto",
                          max_doc_bytes: int = MAX_DOC_BYTES,
                          broadcast_max_keys: int = 2_000_000) -> dict:
    """Quarantine replay: after a kernel upgrade or config fix (larger
    byte cap, new format support), re-extract ONLY the quarantined rows
    and merge the results back into the output table in place.

    At 10^12 documents a 1-2% quarantine rate is tens of billions of
    rows — re-running the whole job to pick them up is the wrong shape.
    This reads the output's failed rows (status != 'ok'), joins their
    urls back to the pages table, re-runs the extraction stage on just
    that slice, and rewrites ONLY the affected partitions with dynamic
    partition overwrite (surviving ok rows + replacement rows, same
    either-old-or-new crash semantics as the original write). Works on
    both layouts — rows keep their original partition (group /
    p_bucket) so lineage dirs and resume state stay meaningful.

    Shuffle discipline: the quarantine key-set is tiny relative to the
    pages table (1-2% of urls, two skinny columns), so up to
    ``broadcast_max_keys`` keys it is explicitly ``F.broadcast``-hinted
    — the 100 TB html payload is filtered in place by a
    BroadcastHashJoin and never crosses an Exchange (plan-asserted in
    tests); above the bound we fall back to the shuffled join and let
    AQE decide. Row accounting: a quarantined url ABSENT from the
    input table (pages expired/deleted) gets no replacement row — its
    original quarantined row is carried forward unchanged and counted
    in ``missing`` rather than silently vanishing; a url appearing in
    multiple input rows is de-duplicated (max warc_ts wins,
    deterministic) so replay can't inflate the output.
    Returns {reprocessed, partitions, now_ok, missing}."""
    out = read_extractions(spark, output_dir)
    scan = "src_file" in out.columns
    pcol = "group" if scan else "p_bucket"
    sel = ["url", pcol] + (["src_file"] if scan else [])
    bad_rows = out.where(F.col("status") != "ok")
    bad_keys = bad_rows.select(*sel).localCheckpoint()
    n_bad = bad_keys.count()
    if n_bad == 0:
        return {"reprocessed": 0, "partitions": 0, "now_ok": 0,
                "missing": 0}
    parts = [r[0] for r in bad_keys.select(pcol).distinct().collect()]
    pages = _replay_pages(spark, input_path, bad_keys, n_bad,
                          broadcast_max_keys)
    batch = _make_extract_batch(profile, max_doc_bytes,
                                "src_file" if scan else "p_bucket")
    fixed = pages.mapInPandas(
        batch, schema=STAGE_SCHEMA_SCAN if scan else STAGE_SCHEMA)
    if scan:  # reattach the partition value from the old row
        fixed = fixed.join(F.broadcast(bad_keys.select("url", pcol)),
                           "url")
    fixed = fixed.localCheckpoint()  # used by write + counts + anti
    n_fixed = fixed.count()
    # quarantined urls with no input row: carry the original row
    # forward (and report), don't drop it from the table
    carried = bad_rows.join(F.broadcast(fixed.select("url")),
                            "url", "left_anti").localCheckpoint()
    n_missing = carried.count()
    keep = out.where(F.col(pcol).isin(parts)
                     & (F.col("status") == "ok"))
    merged = (keep.unionByName(fixed.select(*out.columns))
              .unionByName(carried.select(*out.columns)))
    (merged.sortWithinPartitions("url")
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(pcol)
     .parquet(os.path.join(output_dir, "data")))
    if n_fixed + n_missing != n_bad:
        raise RuntimeError(
            f"quarantine replay accounting mismatch: {n_bad} bad rows "
            f"but {n_fixed} replacements + {n_missing} carried")
    now_ok = fixed.where(F.col("status") == "ok").count()
    return {"reprocessed": int(n_bad), "partitions": len(parts),
            "now_ok": int(now_ok), "missing": int(n_missing)}


def write_bucketed_table(df: DataFrame, table_name: str, path: str,
                         n_buckets: int = 16, key: str = "url") -> None:
    """Persist a DataFrame as a Spark BUCKETED+SORTED table: rows are
    hash-partitioned into ``n_buckets`` files per write-partition and
    sorted by ``key`` inside each bucket. The catalog records the
    bucketing spec, so every later equi-join or aggregation on ``key``
    between same-bucketed tables plans with ZERO Exchange (and zero
    Sort) — the co-location amortizes one write-time shuffle across all
    downstream joins. This is the 100 TB recipe for repeated
    pages⋈extractions / pages⋈scores joins; on Iceberg the same spec is
    a bucket partition transform."""
    (df.write.format("parquet").mode("overwrite")
       .bucketBy(n_buckets, key).sortBy(key)
       .option("path", path)
       .saveAsTable(table_name))


def co_located_join(spark: SparkSession, left_table: str,
                    right_table: str, key: str = "url",
                    how: str = "inner") -> DataFrame:
    """Equi-join two same-bucketed catalog tables. With matching bucket
    specs Spark plans a SortMergeJoin whose children are bare bucketed
    scans — no Exchange, no Sort (asserted by
    test_bucketed_join_has_no_exchange). The merge hint only forbids
    broadcasting the smaller side, which would mask the demonstration
    (broadcast is the right plan when one side is tiny; bucketing is
    the right plan when both sides are huge)."""
    return (spark.table(left_table).hint("merge")
            .join(spark.table(right_table), key, how))


def filter_not_done(pages: DataFrame, done: DataFrame) -> DataFrame:
    """URL-level resume filter (SURVEY.md §2.11 joins row): left_anti
    join of the input against already-extracted urls. Used when the
    completed set is NOT aligned to manifest groups (e.g. merging
    outputs of a prior partial job from another layout). The done side
    is a single pruned column; Spark broadcasts it when small, and AQE
    picks SMJ when it isn't."""
    return pages.join(done.select("url"), on="url", how="left_anti")


def curate_extracted(spark: SparkSession, output_dir: str,
                     min_quality: float = 0.5,
                     langs: tuple[str, ...] = ("en",),
                     jaccard_max_df: int = 100,
                     strip_dup_spans: bool = False,
                     route: str = "jaccard") -> dict:
    """Maintenance pass: run the full corpus-curation pipeline
    (quality/lang gate → exact dedup → near-dup removal → deterministic
    split) over an existing extraction table's ok rows and write the
    curated corpus to ``<output>/curated`` — extraction and curation
    as two resumable spark-submit steps over the same table, the
    operational shape a 10^12-page pipeline actually runs.

    Ids: curation's min-id tie-breaks and the cluster collapse work on
    a numeric key, so urls are mapped through xxhash64 (deterministic;
    a 64-bit collision at web scale is ~n²/2^65 — negligible, and
    detected here by a distinct-count check that fails loudly rather
    than silently merging two urls)."""
    import os
    data = os.path.join(output_dir, "data")
    docs = (spark.read.parquet(data)
            .where(F.col("status") == "ok")
            .select(F.xxhash64("url").alias("doc_id"),
                    F.col("url"),
                    F.col("extracted_text").alias("text")))
    docs = docs.localCheckpoint(eager=False)
    n_docs, n_ids = docs.select(
        F.count(F.lit(1)), F.count_distinct("doc_id")).first()
    if n_docs != n_ids:
        raise RuntimeError(
            f"xxhash64(url) collision: {n_docs} rows, {n_ids} ids")
    from .ops import corpus
    cur = corpus.curate_near(docs.select("doc_id", "text"),
                             min_quality=min_quality, langs=langs,
                             max_df=jaccard_max_df,
                             strip_dup_spans=strip_dup_spans,
                             route=route)
    out = cur.join(docs.select("doc_id", "url"), "doc_id")
    dest = os.path.join(output_dir, "curated")
    out.write.mode("overwrite").parquet(dest)
    splits = {r["split"]: r["n"] for r in
              spark.read.parquet(dest).groupBy("split")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    return {"n_ok_docs": int(n_docs),
            "n_survivors": int(sum(splits.values())),
            "splits": splits, "curated": dest}


def manifest_extracted(spark: SparkSession, output_dir: str,
                       min_quality: float = 0.5) -> dict:
    """Maintenance pass: write the pretraining-mixture manifest
    (ops/corpus.assembly_manifest) for an existing extraction table's
    ok rows to ``<output>/manifest`` — the composition report
    (docs / tokens / chars / quality-pass / token share per
    (domain, predicted language, split)) a dataset release ships next
    to the data. Source = the page's domain: the grouping a crawl
    corpus is actually weighted by. Same two-step spark-submit shape
    as curate_extracted; the manifest output is constant-size in the
    corpus (|domains|x|langs|x3), so the write is a driver-light
    single-stage job at any scale."""
    import os
    data = os.path.join(output_dir, "data")
    docs = (spark.read.parquet(data)
            .where(F.col("status") == "ok")
            .select(F.xxhash64("url").alias("doc_id"),
                    F.regexp_extract(
                        "url", r"https://([a-z0-9.-]+)/", 1)
                    .alias("source"),
                    F.col("extracted_text").alias("text")))
    from .ops import corpus
    m = corpus.assembly_manifest(docs, min_quality=min_quality)
    dest = os.path.join(output_dir, "manifest")
    m.write.mode("overwrite").parquet(dest)
    done = spark.read.parquet(dest)
    row = done.agg(
        F.count(F.lit(1)).alias("cells"),
        F.sum("n_docs").alias("docs"),
        F.sum("n_tokens").alias("tokens"),
        F.sum("n_quality_ok").alias("quality_ok")).first()
    return {"n_cells": int(row["cells"]),
            "n_docs": int(row["docs"] or 0),
            "n_tokens": int(row["tokens"] or 0),
            "n_quality_ok": int(row["quality_ok"] or 0),
            "manifest": dest}
