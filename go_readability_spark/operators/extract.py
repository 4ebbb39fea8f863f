"""The extraction operator: Arrow-batched mapInArrow over span documents.

This is the Spark face of the per-document pure function (SURVEY.md §3
"Spark lifecycle"): scan (doc_id, spans) → native doc_bytes pre-pass →
salted repartition → mapInArrow(extract_batches) → extracted
rows (doc_id, spans_out, meta, metrics, doc_bytes, error, elapsed_ms).

Design notes for 100 TB scale:
- the only shuffle is the explicit skew repartition; extraction itself is
  map-only and the metrics rollup is a partial-agg hash aggregate;
- all per-doc work happens JVM→Arrow batch-wise, never per-row Python
  (input_hint requirement); spans are decoded straight from the Arrow
  child arrays, with no Python dict per input span;
- one per-document core (``_extract_doc``) serves the Spark batch
  function and the in-process reference ``extract_batch_rows``, so both
  emit the same rows, error rows included;
- failures never kill the job: per-doc try/except emits an error row and
  the error count is a first-class metric;
- docs above MAX_DOC_BYTES are refused before reassembly (skew.py).
"""

from __future__ import annotations

import sys
import time
from typing import Callable, Optional

from pyspark.sql import DataFrame, functions as F

from ..readability.extract import (
    ExtractionMetrics,
    ReadabilityOptions,
    extract_with_metrics,
)
from ..schemas import EXTRACTED_AND_RENDERED_SCHEMA, EXTRACTED_SCHEMA
from ..plans.skew import MAX_DOC_BYTES, skew_partitioned, with_doc_bytes

__all__ = ["extract_documents", "extract_batch_rows", "metrics_rollup"]

# deep DOM recursion (walkers + html.parser) needs headroom beyond the
# 1000-frame default; bumped once per executor worker
_RECURSION_LIMIT = 20000

_RENDER_COLUMNS = EXTRACTED_AND_RENDERED_SCHEMA.names[len(EXTRACTED_SCHEMA.names) :]


def _worker_options(options: Optional[ReadabilityOptions]) -> ReadabilityOptions:
    if sys.getrecursionlimit() < _RECURSION_LIMIT:
        sys.setrecursionlimit(_RECURSION_LIMIT)
    return options or ReadabilityOptions(forced_page_type="")


def _extract_doc(
    doc_id,
    doc_bytes: int,
    html_of: Callable[[], Optional[str]],
    opts: ReadabilityOptions,
    max_doc_bytes: int,
    render: bool,
) -> dict:
    """Extract one document into one output row.

    ``html_of()`` reassembles the document, or returns None when its spans
    are malformed (null array, null span or null offset). The size cap is
    checked first, so over-cap docs are never reassembled. Error rows carry
    empty output (and empty renderings) and the measured ``elapsed_ms``."""
    from ..spans import element_to_spans

    t0 = time.perf_counter()
    row = {
        "doc_id": doc_id,
        "spans_out": [],
        "meta": {"title": "", "byline": "", "page_type": "error", "node_count": 0},
        "metrics": vars(ExtractionMetrics()),
        "doc_bytes": doc_bytes,
        "error": None,
    }
    if render:
        row.update(dict.fromkeys(_RENDER_COLUMNS, ""))
    if doc_bytes > max_doc_bytes:
        row["error"] = f"doc_bytes {doc_bytes} > cap {max_doc_bytes}"
    else:
        try:
            html = html_of()
            if html is None:
                row["error"] = "null spans"
            else:
                article, m = extract_with_metrics(html, opts)
                out = {
                    "spans_out": element_to_spans(article.root),
                    "meta": {
                        "title": article.title,
                        "byline": article.byline,
                        "page_type": article.page_type,
                        "node_count": article.node_count,
                    },
                    "metrics": vars(m),
                }
                if render:
                    from .render import render_article

                    out.update(render_article(article))
                row.update(out)
        except Exception as exc:  # noqa: BLE001 — never kill the job
            row["error"] = f"{type(exc).__name__}: {exc}"
    row["elapsed_ms"] = round((time.perf_counter() - t0) * 1000, 3)
    return row


def extract_batch_rows(
    doc_ids,
    spans_lists,
    doc_bytes_list,
    options: Optional[ReadabilityOptions] = None,
    max_doc_bytes: int = MAX_DOC_BYTES,
    render: bool = False,
) -> list[dict]:
    """Extract one batch of (doc_id, spans as dicts, doc_bytes) in-process.

    The reference for the Spark path: it rebuilds each document with
    ``spans_to_html`` rather than the Arrow child-array decode, then runs
    the same per-document core. ``render=True`` adds the CLI sink formats
    (html / markdown / text / metadata_json) from the same parsed article."""
    from ..spans import spans_to_html

    def html_of(spans):
        if spans is None or any(s is None or s.get("offset") is None for s in spans):
            return None
        return spans_to_html(spans)

    opts = _worker_options(options)
    return [
        _extract_doc(
            doc_id,
            int(doc_bytes) if doc_bytes is not None else 0,
            lambda spans=spans: html_of(spans),
            opts,
            max_doc_bytes,
            render,
        )
        for doc_id, spans, doc_bytes in zip(doc_ids, spans_lists, doc_bytes_list)
    ]


def _make_arrow_fn(
    options: Optional[ReadabilityOptions], max_doc_bytes: int, render: bool = False
):
    """The mapInArrow batch function: (doc_id, spans, doc_bytes) batches →
    EXTRACTED_SCHEMA batches (EXTRACTED_AND_RENDERED_SCHEMA if ``render``).

    Spans are decoded from the flat Arrow child arrays: building one
    Python dict per input span cost three times this wall time on giant
    docs (BENCH.md)."""
    schema = EXTRACTED_AND_RENDERED_SCHEMA if render else EXTRACTED_SCHEMA

    def extract_batches(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        from ..spans import media_placeholder

        opts = _worker_options(options)
        out_schema = to_arrow_schema(schema)

        for batch in batches:
            lst = batch.column("spans")
            if lst.offset != 0:  # defensive: sliced arrays, rare
                lst = pa.concat_arrays([lst])
            offsets = lst.offsets.to_pylist()
            valids = lst.is_valid().to_pylist()
            vals = lst.values
            kinds = vals.field("kind").to_pylist()
            texts = vals.field("text").to_pylist()
            refs = vals.field("media_ref").to_pylist()
            offs = vals.field("offset").to_pylist()
            # struct-level validity: field() ignores it, so a null span
            # struct whose child offset slot happens to hold a non-null
            # value (possible in parquet from non-Spark writers) would
            # otherwise bypass the null-spans check
            struct_valids = vals.is_valid().to_pylist()

            def html_of(i):
                s, e = offsets[i], offsets[i + 1]
                if not valids[i] or any(
                    offs[j] is None or not struct_valids[j] for j in range(s, e)
                ):
                    return None
                return "".join(
                    media_placeholder(refs[j] or "", texts[j] or "")
                    if kinds[j] == "media"
                    else (texts[j] or "")
                    for j in sorted(range(s, e), key=lambda j: offs[j])
                )

            doc_ids = batch.column("doc_id").to_pylist()
            byte_sizes = batch.column("doc_bytes").to_pylist()
            rows = [
                _extract_doc(
                    doc_ids[i],
                    int(byte_sizes[i] or 0),
                    lambda i=i: html_of(i),
                    opts,
                    max_doc_bytes,
                    render,
                )
                for i in range(batch.num_rows)
            ]
            yield pa.RecordBatch.from_pylist(rows, schema=out_schema)

    return extract_batches


def _extract(
    df: DataFrame,
    options: Optional[ReadabilityOptions],
    num_partitions: Optional[int],
    max_doc_bytes: int,
    render: bool,
) -> DataFrame:
    df = with_doc_bytes(df)
    # a streaming micro-batch is already bounded and is not repartitioned
    if not df.isStreaming:
        num = num_partitions or df.sparkSession.sparkContext.defaultParallelism
        df = skew_partitioned(df, num)
    return df.select("doc_id", "spans", "doc_bytes").mapInArrow(
        _make_arrow_fn(options, max_doc_bytes, render),
        EXTRACTED_AND_RENDERED_SCHEMA if render else EXTRACTED_SCHEMA,
    )


def extract_documents(
    df: DataFrame,
    options: Optional[ReadabilityOptions] = None,
    num_partitions: Optional[int] = None,
    max_doc_bytes: int = MAX_DOC_BYTES,
) -> DataFrame:
    """documents(doc_id, spans) → extracted(doc_id, spans_out, meta, metrics,
    doc_bytes, error, elapsed_ms).

    A batch DataFrame is skew-repartitioned into ``num_partitions``
    (default: the cluster's parallelism) first; a streaming DataFrame
    keeps its micro-batch partitioning."""
    return _extract(df, options, num_partitions, max_doc_bytes, render=False)


def metrics_rollup(extracted: DataFrame, *group_cols: str) -> DataFrame:
    """Aggregate extraction metrics (SURVEY.md §4.2: plain hash-agg with
    map-side partials — Catalyst handles partial aggregation for free)."""
    keys = [F.col(c) for c in group_cols] or [F.col("meta.page_type").alias("page_type")]
    return extracted.groupBy(*keys).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_errors"),
        F.sum("doc_bytes").alias("total_bytes"),
        F.avg("metrics.candidate_count").alias("avg_candidates"),
        F.avg("metrics.prune_ratio").alias("avg_prune_ratio"),
        F.avg("metrics.link_density").alias("avg_link_density"),
        F.avg(F.size("spans_out")).alias("avg_spans_out"),
        F.sum(
            F.when(F.col("metrics.is_probably_content"), 1).otherwise(0)
        ).alias("n_probably_content"),
        F.max("elapsed_ms").alias("max_elapsed_ms"),
        F.avg("elapsed_ms").alias("avg_elapsed_ms"),
    )
