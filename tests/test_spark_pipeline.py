"""Spark-level tests: mapInArrow extraction ≡ pure function per doc,
skew pre-pass correctness, checkpoint/resume idempotency.

SURVEY.md §5: "one Spark-level test that the extraction UDF over the
fixture table equals the pure function per doc" — plus plan-shape
assertions that the scale-critical properties hold (native pre-pass,
broadcast anti-join).
"""

from __future__ import annotations

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F  # noqa: E402

from go_readability_spark.corpus import generate_corpus, generate_doc  # noqa: E402
from go_readability_spark.operators.extract import (  # noqa: E402
    extract_batch_rows,
    extract_documents,
    metrics_rollup,
)
from go_readability_spark.plans.checkpoint import (  # noqa: E402
    read_manifest,
    resume_filter,
    run_checkpointed,
    with_part,
)
from go_readability_spark.plans.skew import (  # noqa: E402
    MAX_DOC_BYTES,
    skew_partitioned,
    with_doc_bytes,
    with_size_bucket,
)
from go_readability_spark.readability import (  # noqa: E402
    ReadabilityOptions,
    extract_with_metrics,
)
from go_readability_spark.sources.tables import (  # noqa: E402
    corpus_df,
    documents_as_spans_df,
)
from go_readability_spark.spans import element_to_spans, spans_to_html  # noqa: E402

N_DOCS = 24


@pytest.fixture(scope="module")
def extracted(spark):
    df = corpus_df(spark, N_DOCS)
    out = extract_documents(df, num_partitions=4).cache()
    out.count()
    return out


def _golden(doc_id: str):
    art, _ = extract_with_metrics(
        spans_to_html(generate_doc(doc_id)), ReadabilityOptions(forced_page_type="")
    )
    return element_to_spans(art.root)


class TestExtractionParity:
    def test_row_count_and_no_errors(self, extracted):
        assert extracted.count() == N_DOCS
        assert extracted.filter("error is not null").count() == 0

    def test_spans_equal_pure_function_for_every_doc(self, extracted):
        rows = extracted.select("doc_id", "spans_out").collect()
        assert len(rows) == N_DOCS
        for row in rows:
            got = [r.asDict() for r in row["spans_out"]]
            assert got == _golden(row["doc_id"]), row["doc_id"]

    def test_meta_matches(self, extracted):
        row = extracted.filter("doc_id = 'fixture-001'").collect()[0]
        assert row["meta"]["title"] == (
            "Get your Frontend JavaScript Code Covered | Code"
        )
        assert row["meta"]["page_type"] == "article"

    def test_doc_bytes_native_prepass_matches_python(self, spark, extracted):
        rows = extracted.select("doc_id", "doc_bytes").collect()
        for row in rows:
            expected = sum(
                len((s["text"] or "").encode("utf-8"))
                + len((s["media_ref"] or "").encode("utf-8"))
                for s in generate_doc(row["doc_id"])
            )
            assert row["doc_bytes"] == expected, row["doc_id"]

    def test_metrics_rollup(self, extracted):
        roll = {r["page_type"]: r for r in metrics_rollup(extracted).collect()}
        assert sum(r["n_docs"] for r in roll.values()) == N_DOCS
        assert roll["article"]["n_probably_content"] > 0


class TestErrorRows:
    def test_oversized_doc_becomes_error_row(self, spark):
        df = corpus_df(spark, 4)
        out = extract_documents(df, max_doc_bytes=100, num_partitions=2)
        rows = out.collect()
        assert all(r["error"] is not None for r in rows if r["doc_bytes"] > 100)
        assert all(r["meta"]["page_type"] == "error" for r in rows)

    def test_null_and_broken_spans(self):
        rows = extract_batch_rows(
            ["a", "b"],
            [None, [{"kind": "text", "text": "<p>ok " * 50 + "</p>", "media_ref": "", "offset": 0}]],
            [0, 10],
        )
        assert rows[0]["error"] == "null spans"
        assert rows[1]["error"] is None

    def test_arrow_path_null_struct_with_nonnull_children(self):
        """A null span STRUCT whose child slots hold non-null garbage
        (possible in Arrow batches from non-Spark writers) must become a
        'null spans' error row, with and without renderings, matching the
        in-process reference — struct-level validity is separate from
        child validity and field() ignores it."""
        import pyarrow as pa

        from go_readability_spark.operators.extract import _make_arrow_fn

        span_t = pa.struct(
            [
                ("kind", pa.string()),
                ("text", pa.string()),
                ("media_ref", pa.string()),
                ("offset", pa.int32()),
            ]
        )
        # children all non-null; struct validity masks entry 1 as null
        structs = pa.StructArray.from_arrays(
            [
                pa.array(["text", "text"]),
                pa.array(["<p>one</p>", "<p>garbage</p>"]),
                pa.array(["", ""]),
                pa.array([0, 1], type=pa.int32()),
            ],
            fields=list(span_t),
            mask=pa.array([False, True]),
        )
        spans = pa.ListArray.from_arrays(pa.array([0, 2], type=pa.int32()), structs)
        assert structs.field("offset")[1].as_py() is not None  # the trap
        batch = pa.RecordBatch.from_arrays(
            [pa.array(["doc-x"]), spans, pa.array([10], type=pa.int64())],
            names=["doc_id", "spans", "doc_bytes"],
        )
        for render in (False, True):
            fn = _make_arrow_fn(None, 1 << 30, render)
            out = list(fn(iter([batch])))[0]
            assert out.column("error").to_pylist() == ["null spans"]
            assert out.column("spans_out").to_pylist() == [[]]
        assert out.column("markdown").to_pylist() == [""]

    def test_render_failure_after_encode_empties_the_row(self, monkeypatch):
        """An exception after the spans were encoded (here in
        render_article) yields a whole error row: no partial spans_out,
        meta or metrics next to the error."""
        from go_readability_spark.operators import render
        from go_readability_spark.readability import ExtractionMetrics

        spans = generate_doc("fixture-001")
        args = (["fixture-001"], [spans], [_ref_doc_bytes(spans)])
        ok = extract_batch_rows(*args, render=True)[0]
        assert ok["error"] is None and ok["spans_out"] and ok["markdown"]

        def boom(article):
            raise RuntimeError("render failed")

        monkeypatch.setattr(render, "render_article", boom)
        row = extract_batch_rows(*args, render=True)[0]
        assert row["error"] == "RuntimeError: render failed"
        assert row["spans_out"] == []
        assert row["meta"] == {
            "title": "", "byline": "", "page_type": "error", "node_count": 0
        }
        assert row["metrics"] == vars(ExtractionMetrics())
        assert all(row[c] == "" for c in ("html", "markdown", "text", "metadata_json"))


class TestRecordShape:
    """The per-document record has one definition: ExtractionMetrics
    matches METRICS_TYPE, and every row of the in-process reference has
    exactly the output schema's keys (pa.RecordBatch.from_pylist would
    drop extra keys and null-fill missing ones without a word)."""

    def test_metrics_dataclass_matches_spark_type(self):
        from dataclasses import fields

        from go_readability_spark.readability import ExtractionMetrics
        from go_readability_spark.schemas import METRICS_TYPE

        assert [f.name for f in fields(ExtractionMetrics)] == METRICS_TYPE.names

    @pytest.mark.parametrize("render", [False, True])
    def test_row_keys_match_schema(self, render):
        from go_readability_spark.schemas import (
            EXTRACTED_AND_RENDERED_SCHEMA,
            EXTRACTED_SCHEMA,
            META_TYPE,
            METRICS_TYPE,
        )

        spans = generate_doc("fixture-001")
        size = _ref_doc_bytes(spans)
        rows = extract_batch_rows(
            ["ok", "over-cap", "null-spans"],
            [spans, spans, None],
            [size, size + 1, 0],
            max_doc_bytes=size,
            render=render,
        )
        assert [r["error"] for r in rows] == [
            None, f"doc_bytes {size + 1} > cap {size}", "null spans"
        ]
        schema = EXTRACTED_AND_RENDERED_SCHEMA if render else EXTRACTED_SCHEMA
        for row in rows:
            assert set(row) == set(schema.names), row["doc_id"]
            assert set(row["meta"]) == set(META_TYPE.names), row["doc_id"]
            assert set(row["metrics"]) == set(METRICS_TYPE.names), row["doc_id"]


class TestSkewPlan:
    def test_size_buckets(self, spark):
        df = with_size_bucket(corpus_df(spark, 8))
        got = {r["size_bucket"] for r in df.select("size_bucket").collect()}
        assert got <= {0, 1, 2}

    def test_doc_bytes_is_native_expression(self, spark):
        """The pre-pass must not invoke Python (input_hint: no per-row
        Python; SURVEY.md §4.2)."""
        df = with_doc_bytes(corpus_df(spark, 4).select("doc_id", "spans"))
        plan = df.select("doc_id", "doc_bytes")._jdf.queryExecution().analyzed().toString()
        assert "aggregate(" in plan and "pythonUDF" not in plan.lower()

    def test_skew_partitioning_spreads_rows(self, spark):
        df = skew_partitioned(corpus_df(spark, 16), num_partitions=4)
        sizes = (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .count()
            .collect()
        )
        assert sum(r["count"] for r in sizes) == 16
        assert len(sizes) > 1  # actually spread


class TestCheckpointResume:
    def test_run_and_resume(self, spark, tmp_path):
        out_dir = str(tmp_path / "out")
        man_dir = str(tmp_path / "manifest")
        docs = corpus_df(spark, 12)

        result = run_checkpointed(
            spark, docs, out_dir, man_dir, n_parts=3, num_partitions=2
        )
        assert result.count() == 12
        manifest = read_manifest(spark, man_dir)
        done = manifest.filter("status = 'done'").collect()
        assert {r["part"] for r in done} == set(
            r["part"]
            for r in with_part(docs, 3).select("part").distinct().collect()
        )
        assert sum(r["n_docs"] for r in done) == 12

        # resume: everything done → no pending partitions, output unchanged
        pending = resume_filter(with_part(docs, 3), manifest)
        assert pending.count() == 0
        result2 = run_checkpointed(
            spark, docs, out_dir, man_dir, n_parts=3, num_partitions=2
        )
        assert result2.count() == 12

    def test_concurrent_parts_overlap_and_match_sequential(
        self, spark, tmp_path, monkeypatch
    ):
        """concurrency=4: same output + complete manifest as sequential,
        with partitions actually processed from multiple driver threads
        (concurrent Spark jobs), and a rerun resuming to zero pending."""
        import threading

        from go_readability_spark.plans import checkpoint as cp

        out_dir = str(tmp_path / "out_c")
        man_dir = str(tmp_path / "man_c")
        docs = corpus_df(spark, 16)

        threads_seen: set[int] = set()
        orig_mark = cp.mark_partition_done

        def spy_mark(*args, **kwargs):
            threads_seen.add(threading.get_ident())
            return orig_mark(*args, **kwargs)

        monkeypatch.setattr(cp, "mark_partition_done", spy_mark)
        result = cp.run_checkpointed(
            spark, docs, out_dir, man_dir, n_parts=8, num_partitions=2,
            concurrency=4,
        )
        assert result.count() == 16
        manifest = read_manifest(spark, man_dir)
        done = manifest.filter("status = 'done'").collect()
        assert sum(r["n_docs"] for r in done) == 16
        assert len(threads_seen) > 1  # jobs overlapped across pool threads
        # rerun: all parts in manifest -> nothing pending, output stable
        pending = resume_filter(with_part(docs, 8), manifest)
        assert pending.count() == 0
        result2 = cp.run_checkpointed(
            spark, docs, out_dir, man_dir, n_parts=8, num_partitions=2,
            concurrency=4,
        )
        assert result2.count() == 16

    def test_resume_antijoin_is_broadcast(self, spark):
        docs = with_part(corpus_df(spark, 8), 4)
        manifest = read_manifest(spark, "/nonexistent-manifest")
        plan = resume_filter(docs, manifest)._jdf.queryExecution().toString()
        assert "LeftAnti" in plan


class TestDriverDocsSource:
    def test_documents_as_spans_native_and_extractable(self, spark):
        df = documents_as_spans_df(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "pythonUDF" not in plan.lower()
        out = extract_documents(df.limit(20), num_partitions=2)
        rows = out.collect()
        assert len(rows) == 20
        assert all(r["error"] is None for r in rows)
        assert all(r["meta"]["title"].startswith("Doc ") for r in rows)


if __name__ == "__main__":
    pytest.main([__file__, "-q"])


class TestNativeReassembly:
    """JVM-side span reassembly (streaming dedup's fingerprint input):
    value-identical to the Python codec."""

    def test_native_equals_codec(self, spark):
        import hashlib

        from pyspark.sql import functions as F

        from go_readability_spark.plans.skew import with_reassembled_html

        docs = corpus_df(spark, 12)
        rows = with_reassembled_html(docs).select(
            "doc_id", F.md5("html").alias("h")
        ).collect()
        from go_readability_spark.spans import spans_to_html

        for r in rows:
            expected = spans_to_html(generate_doc(r["doc_id"]))
            assert (
                hashlib.md5(expected.encode()).hexdigest() == r["h"]
            ), r["doc_id"]


def _ref_doc_bytes(spans) -> int:
    """doc_bytes as the native pre-pass computes it."""
    return sum(
        len((s["text"] or "").encode("utf-8"))
        + len((s["media_ref"] or "").encode("utf-8"))
        for s in spans or []
        if s is not None
    )


def _comparable(row: dict) -> dict:
    """An output row without its wall-clock column."""
    return {k: v for k, v in row.items() if k != "elapsed_ms"}


class TestMalformedSpans:
    """Spark and the in-process reference (extract_batch_rows) emit
    identical rows for malformed inputs, the size cap winning over the
    malformed check — and the partitioner must not drop rows whose
    doc_bytes would be NULL (regression: null spans arrays vanished)."""

    CASES = [
        ("ok", [{"kind": "text", "text": "<p>" + "hello world, " * 60 + "</p>",
                 "media_ref": "", "offset": 0}]),
        ("null-span-entry", [None, {"kind": "text", "text": "<p>hi</p>",
                                    "media_ref": "", "offset": 1}]),
        ("null-offset", [{"kind": "text", "text": "X", "media_ref": "",
                          "offset": None}]),
        ("null-array", None),
        # malformed AND over a 10-byte cap (doc_bytes 15): the cap wins,
        # so the doc is never reassembled
        ("malformed-over-cap", [None, {"kind": "text",
                                       "text": "<p>hi there</p>",
                                       "media_ref": "", "offset": 1}]),
    ]

    def test_identical_error_rows_all_paths(self, spark):
        from go_readability_spark.schemas import DOCUMENTS_SCHEMA

        df = spark.createDataFrame(self.CASES, DOCUMENTS_SCHEMA)
        ids = [c[0] for c in self.CASES]
        spans = [c[1] for c in self.CASES]
        sizes = [_ref_doc_bytes(sp) for sp in spans]
        expected_errors = {
            MAX_DOC_BYTES: {
                "ok": None,
                "null-span-entry": "null spans",
                "null-offset": "null spans",
                "null-array": "null spans",
                "malformed-over-cap": "null spans",
            },
            10: {
                "ok": f"doc_bytes {sizes[0]} > cap 10",
                "null-span-entry": "null spans",
                "null-offset": "null spans",
                "null-array": "null spans",
                "malformed-over-cap": "doc_bytes 15 > cap 10",
            },
        }
        for cap, errors in expected_errors.items():
            got = {
                r["doc_id"]: _comparable(r.asDict(recursive=True))
                for r in extract_documents(
                    df, num_partitions=2, max_doc_bytes=cap
                ).collect()
            }
            assert len(got) == len(self.CASES), f"cap {cap}: rows dropped"
            ref = {
                r["doc_id"]: _comparable(r)
                for r in extract_batch_rows(
                    ids, spans, sizes, max_doc_bytes=cap
                )
            }
            assert got == ref, f"cap {cap}"
            assert {k: r["error"] for k, r in got.items()} == errors


class TestCheckpointStagingEdgeCases:
    def test_empty_input_returns_empty_and_cleans_staging(self, spark, tmp_path):
        """A zero-row input stages to a _SUCCESS-only directory that
        schema inference cannot read — the explicit-schema staged read
        must return the documented empty result instead of crashing
        (round-5 review finding), and staging must not linger."""
        import os

        from go_readability_spark.plans.checkpoint import run_checkpointed
        from go_readability_spark.schemas import DOCUMENTS_SCHEMA

        out = str(tmp_path / "out")
        empty = spark.createDataFrame([], DOCUMENTS_SCHEMA)
        res = run_checkpointed(
            spark, empty, out, str(tmp_path / "man"), n_parts=4
        )
        assert res.count() == 0
        assert not os.path.exists(out + "__staging")

    def test_fully_done_rerun_sweeps_leftover_staging(self, spark, tmp_path):
        """A kill between the last part commit and the staging cleanup
        leaks the staged corpus copy; the next (fully-done) rerun must
        sweep it rather than leave it forever."""
        import os

        from go_readability_spark.plans.checkpoint import run_checkpointed
        from go_readability_spark.sources.tables import corpus_df

        out = str(tmp_path / "out")
        man = str(tmp_path / "man")
        docs = corpus_df(spark, 12, num_partitions=2)
        run_checkpointed(spark, docs, out, man, n_parts=2)
        # simulate the kill-after-last-commit leak
        leftover = out + "__staging/n2"
        os.makedirs(leftover, exist_ok=True)
        open(os.path.join(leftover, "_SUCCESS"), "w").close()
        res = run_checkpointed(spark, docs, out, man, n_parts=2)
        assert res.count() == 12
        assert not os.path.exists(out + "__staging")
