"""Document preprocessing: unwanted-tag removal and ad removal.

Ports /root/reference/preprocess.go:66-155. Runs before scoring; both passes
splice matches out of their parents in pre-order, so nested matches are
removed from already-detached parents harmlessly (order-insensitive result,
SURVEY.md §4.1).
"""

from __future__ import annotations

import re

from .regexps import AD_PATTERNS, TAGS_TO_REMOVE
from .vdom import VDocument, VElement

__all__ = ["preprocess_document", "is_likely_ad"]

# single alternation of AD_PATTERNS — existence-equivalent to testing each
# pattern in turn, one scan instead of sixteen
_AD_COMBINED = re.compile(
    "|".join(f"(?:{p.pattern})" for p in AD_PATTERNS), re.IGNORECASE
)

_UNWANTED = frozenset(TAGS_TO_REMOVE)
_LEAVE = object()  # stack marker: the walk leaves a detached subtree


def _detach(element: VElement) -> None:
    parent = element.parent
    if parent is None:
        return
    for i, child in enumerate(parent.children):
        if child is element:
            del parent.children[i]
            break


def preprocess_document(doc: VDocument) -> int:
    """preprocess.go:66-74. Returns how many nodes (elements and text)
    left the document: the subtrees of removed elements that were still
    attached to it when removed."""
    return _remove_unwanted_tags(doc) + _remove_ads(doc)


def _remove_unwanted_tags(doc: VDocument) -> int:
    """Delete aside/nav/header/footer/script/style/... (preprocess.go:82-98).

    audio/video/figure/canvas/details are deliberately kept
    (preprocess.go:29-34).
    """
    # one pass for all tags instead of the reference's walk per tag
    # (preprocess.go:85-96): the final tree is the same (SURVEY.md §4.1)
    return _detach_matching(
        doc.document_element, lambda el: el.tag_name in _UNWANTED
    )


def _remove_ads(doc: VDocument) -> int:
    """Delete likely-ad elements under body (preprocess.go:106-122)."""
    return _detach_matching(doc.body, is_likely_ad)


def _detach_matching(root: VElement | None, doomed) -> int:
    """Detach every element under ``root`` (inclusive, unless parentless)
    that ``doomed`` accepts, in pre-order, and return how many nodes left
    the tree (``root`` is attached: the parser makes body a child of the
    root element).

    As in the reference, which snapshots all matches first, a match
    inside a detached one is detached from it too: a removed
    ``doc.body`` is still read. A parent's children are stacked before
    any of them is detached, so detaching while walking is the same.
    Only the outermost match counts its subtree; a ``_LEAVE`` marker
    ends each detached subtree on the stack."""
    pruned = 0
    inside = 0  # detached subtrees the walk is in
    stack = [root]
    pop = stack.pop
    push = stack.append
    extend = stack.extend
    while stack:
        node = pop()
        if node is _LEAVE:
            inside -= 1
            continue
        if inside:
            pruned += 1
        if node.__class__ is not VElement:
            continue
        if node.parent is not None and doomed(node):
            _detach(node)
            if not inside:
                pruned += 1
            inside += 1
            push(_LEAVE)
        cs = node.children
        if cs:
            extend(cs[::-1])
    return pruned


def is_likely_ad(element: VElement) -> bool:
    """16 case-insensitive class/id regexes + ad attributes
    (preprocess.go:133-155)."""
    attrs = element.attributes
    if not attrs:
        # no attributes → no class/id to match, no role/data-* flags
        # (every AD pattern needs at least one letter, so the combined
        # " " string below could never match either)
        return False
    combined = attrs.get("class", "") + " " + attrs.get("id", "")
    if _AD_COMBINED.search(combined):
        return True
    return (
        attrs.get("role") == "advertisement"
        or "data-ad" in attrs
        or "data-ad-client" in attrs
        or "data-ad-slot" in attrs
    )
