"""Property-based robustness + invariance tests (hypothesis).

The extractor must be total over arbitrary input (hostile HTML becomes a
best-effort article or an empty one — never an exception out of
``extract``), and the span codec must make output independent of input
chunking (the core pipeline invariant: only the concatenation is
semantic, FIXTURES.md §1).
"""

from __future__ import annotations

import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402

from go_readability_spark.readability import ReadabilityOptions, extract  # noqa: E402
from go_readability_spark.readability.markdown import to_markdown  # noqa: E402
from go_readability_spark.readability.fmt import stringify, to_html  # noqa: E402
from go_readability_spark.spans import (  # noqa: E402
    KIND_MEDIA,
    KIND_TEXT,
    element_to_spans,
    spans_to_html,
)

_SETTINGS = settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

# text that may contain markup-significant characters
raw_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=200
)

tag_soup = st.lists(
    st.one_of(
        raw_text,
        st.sampled_from(
            [
                "<div>", "</div>", "<p>", "</p>", "<li>", "<ul>", "</ul>",
                "<a href='#x'>", "</a>", "<span class='ad-'>", "</span>",
                "<script>", "</script>", "<!-- c -->", "<br>", "<img src=x>",
                "<x-media ref='media://t/1' alt='a'/>", "<table><tr><td>",
                "</td></tr></table>", "<h2>", "</h2>", "<pre><code>",
                "</code></pre>", "<blockquote>", "</blockquote>",
                "<input type=checkbox checked>", "<", ">", "&amp;", "&#x41;",
                "&bogus;", "\x00",
            ]
        ),
    ),
    max_size=40,
).map("".join)


class TestTotality:
    @_SETTINGS
    @given(tag_soup)
    def test_extract_never_raises(self, html):
        article = extract(html, ReadabilityOptions())
        # downstream sinks must be total over whatever tree came out
        element_to_spans(article.root)
        to_html(article.root)
        to_markdown(article.root)
        stringify(article.root)

    @_SETTINGS
    @given(raw_text)
    def test_plain_text_documents(self, text):
        article = extract(f"<html><body><p>{text}</p></body></html>")
        assert article.page_type in ("article", "other")


def _chunk(html: str, media, sizes) -> list[dict]:
    """Chunk html into text spans with the given size cycle, then append
    media spans; offsets enumerate the sequence."""
    spans, pos, i = [], 0, 0
    while pos < len(html):
        size = sizes[i % len(sizes)]
        spans.append(
            {
                "kind": KIND_TEXT,
                "text": html[pos : pos + size],
                "media_ref": "",
                "offset": len(spans),
            }
        )
        pos += size
        i += 1
    for alt, ref in media:
        spans.append(
            {"kind": KIND_MEDIA, "text": alt, "media_ref": ref,
             "offset": len(spans)}
        )
    return spans


class TestChunkingInvariance:
    @_SETTINGS
    @given(
        st.lists(raw_text, min_size=1, max_size=8),
        st.lists(st.integers(min_value=1, max_value=977), min_size=1, max_size=5),
        st.lists(st.integers(min_value=1, max_value=977), min_size=1, max_size=5),
    )
    def test_extraction_independent_of_chunking(self, paras, sizes_a, sizes_b):
        html = (
            "<html><head><title>T</title></head><body><article>"
            + "".join(f"<p>{p}</p>" for p in paras)
            + "</article></body></html>"
        )
        a = _chunk(html, [], sizes_a)
        b = _chunk(html, [], sizes_b)
        assert spans_to_html(a) == spans_to_html(b) == html
        out_a = element_to_spans(extract(spans_to_html(a)).root)
        out_b = element_to_spans(extract(spans_to_html(b)).root)
        assert out_a == out_b

    @_SETTINGS
    @given(st.permutations(list(range(8))))
    def test_reassembly_is_offset_order(self, perm):
        html = "".join(f"<p>part {i}</p>" for i in range(8))
        spans = [
            {"kind": KIND_TEXT, "text": f"<p>part {i}</p>", "media_ref": "",
             "offset": i}
            for i in perm
        ]
        assert spans_to_html(spans) == html


class TestCodecProperties:
    @_SETTINGS
    @given(st.lists(st.tuples(raw_text, st.text(max_size=30)), max_size=6))
    def test_media_refs_round_trip(self, media):
        segs = ["<html><body><article><p>lead text for the gate</p>"]
        spans = []
        for i, (alt, ref_suffix) in enumerate(media):
            ref = f"media://t/{i}-{ref_suffix.replace(chr(34), '')}"
            spans.append(
                {"kind": KIND_MEDIA, "text": alt, "media_ref": ref,
                 "offset": i + 1}
            )
        spans.append(
            {"kind": KIND_TEXT, "text": "".join(segs), "media_ref": "",
             "offset": 0}
        )
        spans.append(
            {
                "kind": KIND_TEXT,
                "text": "</article></body></html>",
                "media_ref": "",
                "offset": len(media) + 1,
            }
        )
        html = spans_to_html(spans)
        article = extract(html, ReadabilityOptions(char_threshold=1))
        out = element_to_spans(article.root)
        out_refs = [s["media_ref"] for s in out if s["kind"] == "media"]
        in_refs = [s["media_ref"] for s in spans if s["kind"] == "media"]
        assert out_refs == [r for r in in_refs if r in out_refs]
        # order fields are a dense 0..n-1 enumeration
        assert [s["order"] for s in out] == list(range(len(out)))


class TestWalkerEquivalence:
    """The specialized tag walker (single/star/multi paths, text nodes
    on the stack) and the grouped walk must agree with a naive
    recursive reference on arbitrary trees."""

    tags = st.sampled_from(["div", "p", "a", "span", "section", "li"])

    @st.composite
    def trees(draw, depth=3):  # noqa: N805 — hypothesis composite style
        from go_readability_spark.readability import VElement, VText

        el = VElement(draw(TestWalkerEquivalence.tags))
        for _ in range(draw(st.integers(0, 3))):
            if depth > 0 and draw(st.booleans()):
                el.append_child(
                    draw(TestWalkerEquivalence.trees(depth=depth - 1))
                )
            else:
                el.append_child(VText(draw(st.text(max_size=5))))
        return el

    @given(trees(), st.lists(tags, min_size=1, max_size=4))
    @settings(max_examples=60, deadline=None)
    def test_matches_naive_recursive_walk(self, root, tag_list):
        from go_readability_spark.readability import VElement
        from go_readability_spark.readability.dom import (
            get_elements_by_tag_names,
            get_elements_in_tag_order,
        )

        def naive(el, tagset):
            out = [el] if ("*" in tagset or el.tag_name in tagset) else []
            for c in el.children:
                if isinstance(c, VElement):
                    out.extend(naive(c, tagset))
            return out

        for tags in (tag_list, ["*"], tag_list + ["*"]):
            got = get_elements_by_tag_names(root, tags)
            assert [id(e) for e in got] == [
                id(e) for e in naive(root, set(tags))
            ]
        # tag-order concat == naive per-tag concat
        want = []
        for t in tag_list:
            want.extend(naive(root, {t}))
        got = get_elements_in_tag_order(root, tag_list)
        assert [id(e) for e in got] == [id(e) for e in want]


class TestDensityParity:
    """Normalized lengths and densities equal the formulas they
    replaced on arbitrary trees: GOWS runs (``\\r\\n`` too), whitespace
    that strip() trims but NORMALIZE keeps (``\\v``, NBSP), multibyte
    text, lone surrogates, nested ``<a>`` and ``href="#..."``."""

    text = st.lists(
        st.sampled_from(
            ["a", "z", ",", " ", "\t", "\n", "\r\n", "\f", "\r", "\v",
             "\xa0", "é", "日", "\U0001F600", "\ud800", "\udfff", "#"]
        ),
        max_size=10,
    ).map("".join)
    hrefs = st.sampled_from([None, "", "#", "#frag", " #x", "/page", "http://x"])

    @st.composite
    def trees(draw, depth=3):  # noqa: N805 — hypothesis composite style
        from go_readability_spark.readability import VElement, VText

        cls = TestDensityParity
        el = VElement(draw(st.sampled_from(["div", "p", "a", "span", "section"])))
        href = draw(cls.hrefs)
        if href is not None:
            el.set_attribute("href", href)
        for _ in range(draw(st.integers(0, 4))):
            if depth > 0 and draw(st.booleans()):
                el.append_child(draw(cls.trees(depth=depth - 1)))
            else:
                el.append_child(VText(draw(cls.text)))
        return el

    @given(trees())
    @settings(max_examples=150, deadline=None)
    def test_matches_old_formulas(self, root):
        from tests.test_dom import assert_density_parity

        assert_density_parity(root)
