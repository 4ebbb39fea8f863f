"""DOM scalar tests, ported from
/root/reference/internal/dom/dom_utils_test.go (table-driven cases)."""

from go_readability_spark.readability import (
    VElement,
    VText,
    get_elements_by_tag_name,
    get_inner_text,
    get_link_density,
    get_node_ancestors,
    get_text_density,
    has_ancestor_tag,
    is_probably_visible,
    parse_html,
)
from go_readability_spark.readability.dom import (
    begin_inner_text_cache,
    end_inner_text_cache,
    normalized_byte_len,
)
from go_readability_spark.readability.regexps import byte_len


def el(tag, attrs=None, children=()):
    e = VElement(tag)
    if attrs:
        e.attributes.update(attrs)
    for c in children:
        e.append_child(c)
    return e


def test_get_elements_by_tag_name_and_wildcard():
    root = el("div", children=[
        el("p", children=[el("span")]),
        el("p"),
        VText("x"),
    ])
    assert len(get_elements_by_tag_name(root, "p")) == 2
    assert len(get_elements_by_tag_name(root, "*")) == 4  # div, p, span, p
    assert len(get_elements_by_tag_name(root, "P")) == 2  # case-insensitive


def test_tag_walk_accepts_any_iterable_and_orders_groups():
    """The public walker accepts sets/generators (pre-fast-path API),
    and the grouped/tag-order forms reproduce the per-tag walks
    exactly — same per-tag document order, concatenated in tag order."""
    from go_readability_spark.readability.dom import (
        get_elements_by_tag_names,
        get_elements_grouped_by_tag,
        get_elements_in_tag_order,
    )

    root = el("div", children=[
        el("p", children=[el("span"), el("a")]),
        el("section", children=[el("p")]),
        el("a"),
    ])
    # set and generator inputs still work
    assert len(get_elements_by_tag_names(root, {"p"})) == 2
    assert len(get_elements_by_tag_names(root, (t for t in ("p", "a")))) == 4
    # tag-order concat == one walk per tag, concatenated
    tags = ("a", "p", "SECTION")
    expected = []
    for t in tags:
        expected.extend(get_elements_by_tag_names(root, [t]))
    got = get_elements_in_tag_order(root, tags)
    assert [id(e) for e in got] == [id(e) for e in expected]
    grouped = get_elements_grouped_by_tag(root, tags)
    assert [e.tag_name for e in grouped["a"]] == ["a", "a"]
    assert len(grouped["section"]) == 1
    # one-shot iterables work for the tag-order helper too (it iterates
    # tag_names twice internally)
    gen = get_elements_in_tag_order(root, (t for t in ("p", "a")))
    # expected = a-matches (2) + p-matches (2) + section-match (1)
    assert [id(e) for e in gen] == [
        id(e) for e in expected[2:4] + expected[0:2]
    ]
    # '*' has no per-tag group: refused loudly, not an empty list
    import pytest

    with pytest.raises(ValueError, match=r"\*"):
        get_elements_in_tag_order(root, ("p", "*"))


def test_is_probably_visible():
    assert is_probably_visible(el("div"))
    assert not is_probably_visible(el("div", {"style": "display: none;"}))
    assert not is_probably_visible(el("div", {"style": "visibility: hidden"}))
    assert not is_probably_visible(el("div", {"hidden": ""}))
    assert not is_probably_visible(el("div", {"aria-hidden": "true"}))
    assert is_probably_visible(el("div", {"aria-hidden": "false"}))


def test_get_node_ancestors_depth():
    a = el("article")
    d = el("div")
    p = el("p")
    a.append_child(d)
    d.append_child(p)
    assert [x.tag_name for x in get_node_ancestors(p, 1)] == ["div"]
    assert [x.tag_name for x in get_node_ancestors(p, 0)] == ["div", "article"]
    assert [x.tag_name for x in get_node_ancestors(p, 3)] == ["div", "article"]


def test_has_ancestor_tag():
    # structure from dom_utils_test.go:255-274:
    # html > body > div > section > article > p > text
    html = el("html")
    body = el("body")
    html.append_child(body)
    div = el("div")
    body.append_child(div)
    section = el("section")
    div.append_child(section)
    article = el("article")
    section.append_child(article)
    p = el("p")
    article.append_child(p)
    text = VText("Hello, world!")
    p.append_child(text)

    assert has_ancestor_tag(p, "article", 1)
    assert has_ancestor_tag(p, "div", 3)
    assert not has_ancestor_tag(p, "div", 2)
    assert not has_ancestor_tag(p, "header", 0)
    assert has_ancestor_tag(p, "ARTICLE", 1)  # case-insensitive
    assert has_ancestor_tag(text, "p", 1)
    assert has_ancestor_tag(text, "section", 0)


def _inner_text_fixture():
    div = el("div")
    p1 = el("p")
    div.append_child(p1)
    p1.append_child(VText("Paragraph 1"))
    p2 = el("p")
    div.append_child(p2)
    p2.append_child(VText("  Paragraph  2  "))
    span = el("span")
    p2.append_child(span)
    span.append_child(VText("  Nested  text  "))
    return div, p1, p2


def test_get_inner_text():
    """dom_utils_test.go:303-348 expectations, verbatim."""
    div, p1, p2 = _inner_text_fixture()
    assert get_inner_text(p1, True) == "Paragraph 1"
    assert get_inner_text(p2, True) == "Paragraph 2 Nested text"
    assert get_inner_text(p2, False) == "Paragraph  2   Nested  text"
    assert get_inner_text(div, True) == "Paragraph 1 Paragraph 2 Nested text"
    assert get_inner_text(el("div"), True) == ""
    assert get_inner_text(VText("  Direct  text  node  "), True) == "Direct text node"
    assert get_inner_text(VText("  Direct  text  node  "), False) == "Direct  text  node"


def test_get_link_density():
    """dom_utils_test.go:351-405; the 0.15 value exercises the
    hash-anchor 0.3 coefficient with int() truncation."""
    div = el("div")
    div.append_child(VText("This is a paragraph with "))
    a1 = el("a", {"href": "https://example.com"})
    a1.append_child(VText("a link"))
    div.append_child(a1)
    div.append_child(VText(" and more text. "))
    a2 = el("a", {"href": "#section"})
    a2.append_child(VText("internal link"))
    div.append_child(a2)
    assert abs(get_link_density(div) - 0.15) <= 0.01

    links_only = el("div")
    a3 = el("a", {"href": "https://example.org"})
    a3.append_child(VText("only link"))
    links_only.append_child(a3)
    assert abs(get_link_density(links_only) - 1.0) <= 0.01

    assert get_link_density(el("div")) == 0.0


def test_link_density_byte_semantics():
    """Multibyte text: byte lengths, not characters (SURVEY.md §1.2(1))."""
    div = el("div")
    div.append_child(VText("日本語のテキスト"))  # 8 chars, 24 bytes
    a = el("a", {"href": "x"})
    a.append_child(VText("リンク"))  # 3 chars, 9 bytes
    div.append_child(a)
    # total text = "日本語のテキスト リンク" -> 24+1+9 = 34 bytes; link 9
    assert abs(get_link_density(div) - 9 / 34) < 1e-12


def test_get_text_density():
    div = el("div")
    p = el("p")
    p.append_child(VText("0123456789"))
    div.append_child(p)
    div.append_child(VText("0123456789"))
    # inner text "0123456789 0123456789" = 21 bytes; 1 child element
    assert abs(get_text_density(div) - 21.0) < 1e-12
    assert get_text_density(el("div")) == 0.0
    # no child elements -> divide by 1
    d2 = el("div")
    d2.append_child(VText("abcd"))
    assert get_text_density(d2) == 4.0


# -- density measures vs. the formulas they replaced -------------------------
#
# get_link_density/get_text_density now measure the normalized text's
# byte length without building it and memoize per element. The helpers
# below are the previous formulas verbatim: byte_len of the rewritten
# normalized text, and a fresh link walk per call.


def _old_link_density(element):
    text_length = byte_len(get_inner_text(element, True))
    if text_length == 0:
        return 0.0
    link_length = 0
    for link in get_elements_by_tag_name(element, "a"):
        href = link.get_attribute("href")
        coefficient = 0.3 if href.startswith("#") else 1.0
        link_length += int(byte_len(get_inner_text(link, True)) * coefficient)
    return link_length / text_length


def _old_text_density(element):
    text_length = byte_len(get_inner_text(element, True))
    if text_length == 0:
        return 0.0
    child_element_count = sum(
        1 for c in element.children if isinstance(c, VElement)
    )
    return text_length / max(child_element_count, 1)


def assert_density_parity(root):
    """Every element's normalized length and densities equal the old
    formulas, outside and inside the phase cache (twice inside: the
    second pass in reverse order reads the memo)."""
    elements = get_elements_by_tag_name(root, "*")
    want = [(_old_link_density(e), _old_text_density(e)) for e in elements]
    lengths = [byte_len(get_inner_text(e, True)) for e in elements]
    assert [normalized_byte_len(get_inner_text(e)) for e in elements] == lengths
    assert [(get_link_density(e), get_text_density(e)) for e in elements] == want
    begin_inner_text_cache()
    try:
        for order in (elements, elements[::-1]):
            got = {id(e): (get_link_density(e), get_text_density(e)) for e in order}
            assert [got[id(e)] for e in elements] == want
    finally:
        end_inner_text_cache()


# GOWS runs (\r\n included), non-GOWS whitespace that Python's strip()
# still trims (\v, NBSP), multibyte text and lone surrogates
_TRICKY_HTML = (
    "<html><head><title> t </title></head><body>"
    "<div>\r\n\r\n  café 日本 \v\v x \xa0\xa0 y\t\f z"
    "<a href='#top'>  back\r\n to   top </a>"
    "<a href=' #no'>lead space</a><a>no href</a>"
    "<a href='/x'>outer <a href='#in'>inner \ud800 \udfff</a> tail</a>"
    "<p>\v para \v</p><p>\xa0\xa0</p><p>\U0001F600  \U0001F600</p>"
    "<section><a href='#'>#</a>\n\n\n<span> \r \n </span></section>"
    "</div></body></html>"
)


def test_density_parity_tricky_text():
    assert_density_parity(parse_html(_TRICKY_HTML).document_element)


def test_density_parity_over_fuzz_and_corpus_populations():
    import random

    from go_readability_spark.corpus import POPULATIONS, generate_doc
    from go_readability_spark.spans import spans_to_html
    from tools.parse_fuzz import gen_doc

    rng = random.Random(42)
    for _ in range(200):
        assert_density_parity(parse_html(gen_doc(rng)).document_element)
    for population in POPULATIONS:
        for i in range(2):
            html = spans_to_html(generate_doc(f"{population}-{i:06d}"))
            assert_density_parity(parse_html(html).document_element)


def test_normalized_byte_len_counts_runs():
    assert normalized_byte_len("") == 0
    assert normalized_byte_len(" ") == 1
    assert normalized_byte_len("a \t\n\f\r b") == 3  # one run -> one byte
    assert normalized_byte_len("a\r\nb\r\n\r\nc") == 5
    assert normalized_byte_len("\v\v \xa0\xa0") == 7  # \v, NBSP are not GOWS
    assert normalized_byte_len("日  \ud800") == 7  # 3 + 1 + 3 bytes


def test_one_extraction_measures_without_rewriting(monkeypatch):
    """Inside one extraction no density query rewrites text with
    NORMALIZE, and each element's subtree is walked for links at most
    once, however often the scorer, the accept gate, the readerable
    check and the classifier ask for its link density."""
    import collections

    from go_readability_spark.corpus import generate_doc
    from go_readability_spark.readability import ReadabilityOptions, dom
    from go_readability_spark.readability.extract import extract_with_metrics
    from go_readability_spark.spans import spans_to_html

    class CountingPattern:
        def __init__(self, pattern):
            self.pattern = pattern
            self.subs = 0

        def sub(self, *args, **kwargs):
            self.subs += 1
            return self.pattern.sub(*args, **kwargs)

    normalize = CountingPattern(dom.NORMALIZE)
    monkeypatch.setattr(dom, "NORMALIZE", normalize)
    link_walks = collections.Counter()
    walk = dom.get_elements_by_tag_name

    def counting_walk(element, tag_name):
        if tag_name == "a":
            link_walks[id(element)] += 1
        return walk(element, tag_name)

    monkeypatch.setattr(dom, "get_elements_by_tag_name", counting_walk)
    for doc_id in ("fixture-001", "syn-article-000000", "syn-links-000004",
                   "syn-index-000001", "syn-structural-000006"):
        link_walks.clear()
        extract_with_metrics(
            spans_to_html(generate_doc(doc_id)),
            ReadabilityOptions(forced_page_type=""),
        )
        assert link_walks, doc_id
        assert max(link_walks.values()) == 1, doc_id
    assert normalize.subs == 0
