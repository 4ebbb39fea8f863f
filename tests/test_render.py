"""Render operator + CLI parity tests."""

from __future__ import annotations

import json

import pytest

from go_readability_spark.corpus import generate_doc
from go_readability_spark.operators.render import render_article
from go_readability_spark.readability import extract
from go_readability_spark.spans import spans_to_html


class TestRenderArticle:
    def test_formats_match_pure_sinks(self):
        art = extract(spans_to_html(generate_doc("syn-article-000000")))
        out = render_article(art)
        assert out["html"].startswith("<")
        assert "# Deep Dive 0" in out["markdown"]
        assert "Deep Dive 0" in out["text"]
        meta = json.loads(out["metadata_json"])
        assert meta["pageType"] == "article"
        assert meta["nodeCount"] == art.node_count

    def test_empty_article(self):
        art = extract("<html><body></body></html>")
        out = render_article(art)
        assert out["html"] == "" and out["markdown"] == ""


class TestCli:
    def test_metadata_and_formats(self, capsys, tmp_path):
        from go_readability_spark.cli import main

        path = tmp_path / "doc.html"
        path.write_text(spans_to_html(generate_doc("syn-article-000003")))

        assert main(["--metadata", str(path)]) == 0
        meta = json.loads(capsys.readouterr().out)
        assert meta["title"].startswith("Deep Dive 3")

        assert main(["--format", "markdown", str(path)]) == 0
        assert "# Deep Dive 3" in capsys.readouterr().out

        assert main([str(path)]) == 0
        assert "<h1>" in capsys.readouterr().out

    def test_stdin_source(self, capsys, monkeypatch):
        import io

        from go_readability_spark.cli import main

        html = spans_to_html(generate_doc("syn-article-000003"))

        class FakeStdin:
            buffer = io.BytesIO(html.encode("utf-8"))

        monkeypatch.setattr("sys.stdin", FakeStdin)
        assert main(["--metadata", "-"]) == 0
        meta = json.loads(capsys.readouterr().out)
        assert meta["title"].startswith("Deep Dive 3")

    def test_http_source_via_injected_opener(self, capsys, monkeypatch):
        """HTTP source (main.go:101-123) with the opener injected — the
        sandbox has no network, but the fetch path itself is real."""
        import contextlib
        import io

        from go_readability_spark import cli

        html = spans_to_html(generate_doc("syn-article-000003"))

        class FakeResp(io.BytesIO):
            status = 200

        @contextlib.contextmanager
        def fake_opener(url):
            assert url == "http://example.com/a"
            yield FakeResp(html.encode("utf-8"))

        monkeypatch.setattr(cli, "URL_OPENER", fake_opener)
        assert cli.main(["--metadata", "http://example.com/a"]) == 0
        meta = json.loads(capsys.readouterr().out)
        assert meta["title"].startswith("Deep Dive 3")

    def test_http_non_200_and_fetch_failure(self, capsys, monkeypatch):
        import contextlib
        import io

        from go_readability_spark import cli

        class Resp404(io.BytesIO):
            status = 404

        @contextlib.contextmanager
        def opener_404(url):
            yield Resp404(b"")

        monkeypatch.setattr(cli, "URL_OPENER", opener_404)
        assert cli.main(["http://example.com/x"]) == 2
        assert "404" in capsys.readouterr().err

        def opener_down(url):
            raise OSError("network unreachable")

        monkeypatch.setattr(cli, "URL_OPENER", opener_down)
        assert cli.main(["http://example.com/x"]) == 2
        assert "failed to fetch" in capsys.readouterr().err


@pytest.mark.usefixtures("spark")
class TestRenderSpark:
    def test_extract_and_render_single_pass_parity(self, spark):
        """Combined op == extract_documents ⨝ render_article of the pure
        pipeline, in one UDF."""
        from go_readability_spark.operators.extract import extract_documents
        from go_readability_spark.operators.render import extract_and_render
        from go_readability_spark.readability import (
            ReadabilityOptions,
            extract_with_metrics,
        )
        from go_readability_spark.sources.tables import corpus_df

        docs = corpus_df(spark, 12)
        combined = {r["doc_id"]: r for r in extract_and_render(docs, num_partitions=2).collect()}
        extracted = {r["doc_id"]: r for r in extract_documents(docs, num_partitions=2).collect()}
        assert set(combined) == set(extracted) and len(combined) == 12
        for doc_id, row in combined.items():
            e = extracted[doc_id]
            assert row["spans_out"] == e["spans_out"]
            assert row["meta"] == e["meta"]
            assert row["error"] == e["error"] is None
            art, _ = extract_with_metrics(
                spans_to_html(generate_doc(doc_id)),
                ReadabilityOptions(forced_page_type=""),
            )
            for col, want in render_article(art).items():
                assert row[col] == want, (doc_id, col)

    def test_extract_and_render_error_rows(self, spark):
        """Malformed and over-cap docs become the same error rows as
        extraction's, with empty renderings. (The null-struct trap cannot
        be built from Spark rows; test_arrow_path_null_struct_with_nonnull_
        children feeds it to the render batch function directly.)"""
        from go_readability_spark.operators.extract import extract_documents
        from go_readability_spark.operators.render import extract_and_render
        from go_readability_spark.plans.skew import MAX_DOC_BYTES
        from go_readability_spark.schemas import DOCUMENTS_SCHEMA

        from test_spark_pipeline import TestMalformedSpans

        cases = TestMalformedSpans.CASES
        df = spark.createDataFrame(cases, DOCUMENTS_SCHEMA)
        for cap in (MAX_DOC_BYTES, 10):
            rendered = {
                r["doc_id"]: r
                for r in extract_and_render(df, num_partitions=1, max_doc_bytes=cap).collect()
            }
            extracted = {
                r["doc_id"]: r
                for r in extract_documents(df, num_partitions=1, max_doc_bytes=cap).collect()
            }
            assert set(rendered) == {c[0] for c in cases}
            for doc_id, row in rendered.items():
                e = extracted[doc_id]
                assert row["error"] == e["error"], (cap, doc_id)
                assert row["spans_out"] == e["spans_out"]
                assert row["meta"] == e["meta"]
                if row["error"] is not None:
                    assert row["spans_out"] == []
                    for col in ("html", "markdown", "text", "metadata_json"):
                        assert row[col] == "", (cap, doc_id, col)
            assert rendered["null-array"]["error"] == "null spans"
            assert rendered["null-span-entry"]["error"] == "null spans"
