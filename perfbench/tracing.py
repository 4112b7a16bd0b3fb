"""Layer spans recorded from outside the program.

``Tracer.wrap`` replaces a public function or method of a layer with one
that records a span (name, trace id, start, end, parent, self time)
around the call; ``restore`` puts the originals back. Nothing inside
``extract_kit_spark`` is edited. Wrappers run in this process only: the
kernel stages are timed by ``kernel_pass``, an in-process pass of the
production batch function over the same documents, because wrappers do
not reach Spark's Python workers.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self) -> None:
        self.trace_id = ""
        self.spans: list[tuple] = []   # name, trace, start, end, parent, self
        self._stack: list[list] = []   # [span index, child seconds]
        self._patches: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1][0] if self._stack else -1
        self.spans.append(None)
        self._stack.append([idx, 0.0])
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            _, child = self._stack.pop()
            if self._stack:
                self._stack[-1][1] += t1 - t0
            self.spans[idx] = (name, self.trace_id, t0, t1, parent,
                               t1 - t0 - child)

    def wrap(self, owner, attr: str, name) -> None:
        """``name`` is a span name or a function of the call's
        (args, kwargs) returning one."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            label = name(args, kwargs) if callable(name) else name
            with tracer.span(label):
                return orig(*args, **kwargs)

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def totals(self, prefix: str = "") -> dict[str, dict]:
        """Per span name: count, total and self seconds, over the traces
        whose id starts with ``prefix``."""
        out: dict[str, dict] = defaultdict(
            lambda: {"count": 0, "total_s": 0.0, "self_s": 0.0})
        for name, trace, t0, t1, _, self_s in self.spans:
            if trace.startswith(prefix):
                agg = out[name]
                agg["count"] += 1
                agg["total_s"] += t1 - t0
                agg["self_s"] += self_s
        return out

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        keys = ("name", "trace", "start", "end", "parent", "self_s")
        path.write_text(json.dumps(
            {"spans": [dict(zip(keys, s)) for s in self.spans],
             "totals": self.totals()}))


# kernel stages: (module attribute to wrap, span name). The extract
# module binds its imports as module globals, so they are wrapped there.
_KERNEL_STAGES = {
    "extract": [("parse_html", "kernels.html_dom"),
                ("extract_title", "kernels.boilerplate"),
                ("strip_boilerplate", "kernels.boilerplate"),
                ("serialize_blocks", "kernels.serialize_md"),
                ("assemble", "kernels.serialize_md"),
                ("_select_profile", "kernels.fields"),
                ("_select_profile_lines", "kernels.fields"),
                ("_extract_fields", "kernels.fields"),
                ("_extract_fields_lines", "kernels.fields"),
                ("extract_pdf_pages", "kernels.pdf_text"),
                ("page_count", "kernels.pdf_text"),
                ("docx_to_html", "kernels.docx"),
                ("extract_text", "kernels.text")],
    "detect": [("detect_kind", "kernels.detect"),
               ("sniff_charset", "kernels.detect")],
}
KERNEL_METRICS = ("html_dom", "boilerplate", "serialize_md", "fields",
                  "pdf_text", "docx", "text", "detect")


def kernel_pass(tracer: Tracer, rows: list[tuple]) -> dict[str, float]:
    """Run the production extract batch function, single core, over
    (url, warc_ts, html) rows in Arrow-sized pandas batches, then convert
    each output batch to Arrow with the scan stage schema.

    Returns per-doc milliseconds for every kernel stage (self time), for
    the whole ``extract_document`` call, and for batch building: the
    batch function's time outside ``extract_document`` plus the Arrow
    conversion."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from extract_kit_spark import pipeline
    from extract_kit_spark.kernels import detect, extract
    from extract_kit_spark.session import ARROW_BATCH_ROWS

    modules = {"extract": extract, "detect": detect}
    for mod, stages in _KERNEL_STAGES.items():
        for attr, name in stages:
            tracer.wrap(modules[mod], attr, name)
    tracer.wrap(pipeline, "extract_document", "kernels.extract_document")
    schema = to_arrow_schema(pipeline.STAGE_SCHEMA_SCAN)
    batches = [pd.DataFrame({
        "url": [r[0] for r in rows[i:i + ARROW_BATCH_ROWS]],
        "warc_ts": [r[1] for r in rows[i:i + ARROW_BATCH_ROWS]],
        "html": [r[2] for r in rows[i:i + ARROW_BATCH_ROWS]],
        "src_file": "docs.parquet"})
        for i in range(0, len(rows), ARROW_BATCH_ROWS)]
    fn = pipeline._make_extract_batch("auto", extract.MAX_DOC_BYTES,
                                      "src_file")
    tracer.trace_id = "kernel"
    try:
        out = fn(iter(batches))
        while True:
            with tracer.span("pipeline.batch_fn"):
                pdf = next(out, None)
            if pdf is None:
                break
            with tracer.span("pipeline.arrow_convert"):
                pa.Table.from_pandas(pdf, schema=schema,
                                     preserve_index=False)
    finally:
        tracer.restore()
    t = tracer.totals("kernel")
    per_doc = 1000.0 / len(rows)
    # a stage no document reached has no figure, rather than a 0
    metrics = {f"kernels.{k}_ms": t[f"kernels.{k}"]["self_s"] * per_doc
               for k in KERNEL_METRICS if t[f"kernels.{k}"]["count"]}
    metrics["kernels.ms_per_doc"] = \
        t["kernels.extract_document"]["total_s"] * per_doc
    metrics["pipeline.batch_build_ms_per_doc"] = (
        t["pipeline.batch_fn"]["self_s"]
        + t["pipeline.arrow_convert"]["total_s"]) * per_doc
    return metrics


def install_job_wrappers(tracer: Tracer) -> None:
    """Spans of one extraction job in this process: data writes, lineage
    (collect and lineage writes) and manifest commits."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from extract_kit_spark.manifest import Manifest

    def write_kind(args, kwargs):
        path = str(args[1] if len(args) > 1 else kwargs.get("path"))
        return ("pipeline.group_lineage" if "/lineage/" in path
                else "pipeline.group_write")

    tracer.wrap(DataFrameWriter, "parquet", write_kind)
    tracer.wrap(DataFrame, "collect", "pipeline.group_lineage")
    tracer.wrap(Manifest, "commit", "manifest.commit")
