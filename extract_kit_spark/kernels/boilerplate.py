"""Boilerplate / main-content classification (SURVEY.md §2.7).

The reference delegates this judgment to a vision LLM prompt
(`pdf-processor/src/core/vision/ai-generator.ts:190-198`); the north rule
replaces it with deterministic text-density + link-density heuristics in
the published Readability / Boilerpipe (Kohlschütter et al., WSDM 2010)
family. This kernel prunes the DOM in place before serialization:

1. structural strip: <nav> <header> <footer> <aside> and elements whose
   id/class naming marks them as chrome (sidebar, menu, banner, ad, ...);
   script/style are already dropped at parse time (O7).
2. link-density strip: a block container whose anchor-text chars exceed
   LINK_DENSITY_MAX of its total text chars is navigation, unless it is
   (or contains) the main content (long text, tables, or the only <h1>).
3. text-density keep: long text blocks always survive.

Deterministic: pure functions of the tree, no randomness, no locale ops.
"""

from __future__ import annotations

import re

from .html_dom import Node

LINK_DENSITY_MAX = 0.45
SHORT_TEXT_CHARS = 80
LONG_TEXT_CHARS = 200

_STRIP_TAGS = frozenset({"nav", "aside"})
_CHROME_RE = re.compile(
    r"\b(sidebar|side-bar|menu|nav|navbar|breadcrumb|banner|advert|ads?|"
    r"promo|footer|header|social|share|cookie|subscribe|related|widget)\b",
    re.IGNORECASE)
_KEEP_TAGS = frozenset({"table", "pre", "h1"})
_WS_ANY_RE = re.compile(r"\s+")


_MEDIA_TAGS = frozenset({"img", "hr", "table"})


def compute_stats(root: Node) -> dict:
    """One post-order pass over the subtree computing, per element node:
    ``(tlen, lead, trail, anchor, has_keep, has_media)`` where

    - ``tlen``  = len of the concatenated descendant text,
    - ``lead``/``trail`` = leading/trailing whitespace-run lengths of
      that concatenation (so stripped length = tlen - lead - trail,
      clamped at 0 for all-whitespace subtrees),
    - ``anchor`` = Σ stripped text length over every descendant <a>
      (self included; nested anchors double-count, matching
      ``find_all("a")`` + per-anchor ``text_content().strip()``),
    - ``has_keep``/``has_media`` = _KEEP_TAGS / img-hr-table anywhere
      in the subtree, self included.

    Makes classify_block O(1) per candidate: without it, nested
    candidate blocks re-walk shared subtrees (quadratic in depth on
    chrome-heavy pages — this was the classifier's dominant cost)."""
    order: list[Node] = []
    stack = [root]
    while stack:
        n = stack.pop()
        if n.tag != "#text":
            order.append(n)
            stack.extend(n.children)
    stats: dict[int, tuple] = {}
    for node in reversed(order):
        tlen = lead = trail = anchor = 0
        has_keep = node.tag in _KEEP_TAGS
        has_media = node.tag in _MEDIA_TAGS
        for c in node.children:
            if c.tag == "#text":
                s = c.text
                ctlen = len(s)
                clead = ctlen - len(s.lstrip())
                ctrail = ctlen if clead == ctlen \
                    else ctlen - len(s.rstrip())
                canchor = 0
                ckeep = cmedia = False
            else:
                (ctlen, clead, ctrail, canchor,
                 ckeep, cmedia) = stats[id(c)]
            if tlen == lead:          # everything so far is whitespace
                lead = tlen + clead
            if ctlen == clead:        # child is all-whitespace/empty
                trail += ctlen
            else:
                trail = ctrail
            tlen += ctlen
            anchor += canchor
            has_keep = has_keep or ckeep
            has_media = has_media or cmedia
        if node.tag == "a":
            stripped = tlen - lead - trail
            if stripped > 0:
                anchor += stripped
        stats[id(node)] = (tlen, lead, trail, anchor, has_keep, has_media)
    return stats


def _stripped_len(st: tuple) -> int:
    s = st[0] - st[1] - st[2]
    return s if s > 0 else 0


def _is_chrome_named(node: Node) -> bool:
    blob = f"{node.get('id')} {node.get('class')} {node.get('role')}"
    return bool(_CHROME_RE.search(blob))


def classify_block(node: Node, stats: dict) -> bool:
    """True if the block is boilerplate (should be removed).

    Density/protection signals come from the tree's precomputed stats
    table (``compute_stats``), so shared subtrees are measured exactly
    once."""
    if node.tag in _STRIP_TAGS:
        return True
    if node.tag in ("header", "footer") and node.parent is not None \
            and node.parent.tag in ("body", "html", "#document", "div"):
        return True
    st = stats[id(node)]
    total = _stripped_len(st)
    protected = st[4] or total >= LONG_TEXT_CHARS
    if _is_chrome_named(node) and not protected:
        return True
    if total == 0:
        # keep empty containers holding structural content (img, hr)
        return not st[5]
    ld = min(1.0, st[3] / total)
    if ld > LINK_DENSITY_MAX and not protected:
        return True
    if total < SHORT_TEXT_CHARS and ld > 0.25 and not protected:
        return True
    return False


_CANDIDATE_TAGS = frozenset({
    "nav", "aside", "header", "footer", "div", "section", "ul", "ol",
    "form", "table",
})


def strip_boilerplate(root: Node) -> Node:
    """Prune boilerplate blocks from the tree in place; returns root.

    Walks top-down; a removed subtree is never re-visited. Children of a
    kept container are still candidates (nested sidebars inside content
    wrappers are caught). Stats are computed once up-front: a node is
    always classified before anything below it is pruned, so the
    pre-pruning stats equal what an on-the-spot walk would measure."""
    stats = compute_stats(root)

    def prune(node: Node) -> None:
        kept: list[Node] = []
        for child in node.children:
            if child.tag == "#text":
                kept.append(child)
                continue
            if child.tag in _CANDIDATE_TAGS and \
                    classify_block(child, stats):
                continue
            prune(child)
            kept.append(child)
        node.children = kept

    prune(root)
    return root


def extract_title(root: Node, url: str = "") -> str | None:
    """Title rule O6 (`docx-converter.ts:205-219`): first <h1> innerText,
    else url basename minus extension; None when neither yields text."""
    h1 = root.find("h1")
    if h1 is not None:
        text = _WS_ANY_RE.sub(" ", h1.text_content()).strip()
        if text:
            return text
    if url:
        base = url.rstrip("/").rsplit("/", 1)[-1]
        base = base.split("?", 1)[0].split("#", 1)[0]
        if "." in base:
            base = base.rsplit(".", 1)[0]
        if base:
            return base
    return None
