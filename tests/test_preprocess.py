"""Preprocess tests ported from /root/reference/preprocess_test.go."""

import pytest

from go_readability_spark.readability import (
    get_elements_by_tag_name,
    is_likely_ad,
    parse_html,
    preprocess_document,
)
from go_readability_spark.readability.fmt import count_nodes
from go_readability_spark.readability.vdom import VElement


def el(tag, attrs=None):
    e = VElement(tag)
    if attrs:
        e.attributes.update(attrs)
    return e


def test_unwanted_tags_removed():
    html = (
        "<html><body>"
        "<nav>navigation</nav>"
        "<header>site header</header>"
        "<p>keep me</p>"
        "<aside>sidebar</aside>"
        "<footer>footer</footer>"
        "<script>evil()</script>"
        "<style>.x{}</style>"
        "<noscript>ns</noscript>"
        "<iframe src='x'></iframe>"
        "<form><input></form>"
        "<button>b</button>"
        "<dialog>d</dialog>"
        "</body></html>"
    )
    d = parse_html(html)
    preprocess_document(d)
    for tag in ("nav", "header", "aside", "footer", "script", "style",
                "noscript", "iframe", "form", "button", "dialog"):
        assert get_elements_by_tag_name(d.document_element, tag) == [], tag
    assert len(get_elements_by_tag_name(d.body, "p")) == 1


def test_media_tags_kept():
    """audio/video/figure/canvas/details deliberately kept
    (preprocess.go:29-34)."""
    html = (
        "<html><body><article>"
        "<audio src='a'></audio><video src='v'></video>"
        "<figure><img src='i'></figure><canvas></canvas>"
        "<details>d</details>"
        "</article></body></html>"
    )
    d = parse_html(html)
    preprocess_document(d)
    for tag in ("audio", "video", "figure", "canvas", "details"):
        assert len(get_elements_by_tag_name(d.body, tag)) == 1, tag


def test_ads_removed():
    html = (
        "<html><body>"
        '<div class="adsense">ad one</div>'
        '<div id="banner-top">ad two</div>'
        '<div data-ad-slot="123">ad three</div>'
        '<div role="advertisement">ad four</div>'
        '<div class="story">real content</div>'
        "</body></html>"
    )
    d = parse_html(html)
    preprocess_document(d)
    divs = get_elements_by_tag_name(d.body, "div")
    assert len(divs) == 1
    assert divs[0].class_name == "story"


def test_is_likely_ad_patterns():
    assert is_likely_ad(el("div", {"class": "ad-container"}))
    # reference quirk: the predicate matches on class+" "+id, so the
    # anchored ^ad$ / ^ads$ patterns can NEVER match (the combined string
    # always contains the separator space) — preprocess.go:40-41,137
    assert not is_likely_ad(el("div", {"class": "ad"}))
    assert not is_likely_ad(el("div", {"id": "ads"}))
    assert is_likely_ad(el("div", {"class": "Sponsored-link"}))  # (?i)
    assert is_likely_ad(el("div", {"class": "doubleclick-tag"}))
    assert is_likely_ad(el("div", {"data-ad": ""}))
    assert is_likely_ad(el("div", {"data-ad-client": "c"}))
    assert not is_likely_ad(el("div", {"class": "article-content"}))
    # "^ad$" must not match inside words ("read", "adjacent"...)
    assert not is_likely_ad(el("div", {"class": "read"}))
    # note: "adjacent" contains no pattern; "advert..." does
    assert is_likely_ad(el("div", {"class": "advertorial"}))


def test_nested_removal_is_safe():
    """Nested matching tags: snapshot-then-splice never corrupts the tree
    (preprocess.go:88-96 semantics)."""
    html = "<html><body><nav><form><button>x</button></form></nav><p>k</p></body></html>"
    d = parse_html(html)
    preprocess_document(d)
    assert get_elements_by_tag_name(d.body, "nav") == []
    assert len(get_elements_by_tag_name(d.body, "p")) == 1


def _two_walk_pruned(html):
    """The previous prune count: nodes before preprocessing less nodes
    after."""
    d = parse_html(html)
    before = count_nodes(d.document_element)
    preprocess_document(d)
    return before, before - count_nodes(d.document_element)


@pytest.mark.parametrize(
    "html, pruned, nodes",
    [
        # unwanted tag inside an unwanted tag: nav, script, its text
        ("<nav><script>x()</script></nav><p>keep</p>", 3, 8),
        # ad inside an ad: div, div, p, text
        ("<div class='ad-box'><div id='sponsor-1'><p>buy</p></div></div>"
         "<p>keep</p>", 4, 9),
        # ad and unwanted tag inside an unwanted tag: the ad pass never
        # sees them
        ("<aside><div class='ad-x'>a</div><nav>n</nav></aside><p>keep</p>",
         5, 10),
        # unwanted tags nested three deep, then data-ad/role ads nested
        ("<form><button><script>s</script></button></form>"
         "<div data-ad>x<div role=advertisement>y</div></div>", 8, 11),
        # body itself is an ad: the whole body leaves the document
        ("<html><body class='ad-wrapper'><div class='promo'>x</div>"
         "<p>text</p></body></html>", 5, 7),
    ],
)
def test_pruned_nodes_count_each_detached_subtree_once(html, pruned, nodes):
    """preprocess_document counts the nodes it detached from the
    document, once per outermost removed subtree; nested matches it
    also detaches (from parents already detached) add nothing. The
    count equals the two-walk difference, and extract_with_metrics
    reports it."""
    from go_readability_spark.readability import extract_with_metrics

    assert _two_walk_pruned(html) == (nodes, pruned)
    assert preprocess_document(parse_html(html)) == pruned
    _, metrics = extract_with_metrics(html)
    assert metrics.pruned_nodes == pruned
    assert metrics.prune_ratio == pruned / nodes


def test_nested_ad_is_removed_from_a_removed_body():
    """doc.body stays readable after the ad pass detaches it, so the
    nested ads inside it are still removed, as in the reference."""
    d = parse_html(
        "<html><body class='ad-wrapper'><div class='promo'>x</div>"
        "<p>text</p></body></html>"
    )
    preprocess_document(d)
    assert d.body not in d.document_element.children
    assert [c.tag_name for c in d.body.children] == ["p"]


def test_pruned_count_matches_two_walks_over_populations():
    import random

    from go_readability_spark.corpus import POPULATIONS, generate_doc
    from go_readability_spark.spans import spans_to_html
    from tools.parse_fuzz import gen_doc

    rng = random.Random(7)
    docs = [gen_doc(rng) for _ in range(300)]
    docs += [
        spans_to_html(generate_doc(f"{population}-{i:06d}"))
        for population in POPULATIONS
        for i in range(3)
    ]
    for html in docs:
        assert preprocess_document(parse_html(html)) == _two_walk_pruned(html)[1]
