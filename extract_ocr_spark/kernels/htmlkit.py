"""HTML tokenizer, boilerplate stripper, and markdown/text emitters.

From-scratch on stdlib ``html.parser`` (no bs4/lxml/markdownify). Semantics
reproduce the reference extractor:

- drop ``script``/``style``/``noscript`` subtrees before any text op
  (reference: src/extract_ocr/convert/html_to_md.py:7-10)
- main-content selection: selector priority list ``main, article,
  #topic-content, #topic, #rh-topic, div[role=main], div[role=document]``,
  first with non-empty text wins; fallback = largest ``<div>`` by text
  length (first-encountered wins on ties), else ``body``, else whole doc
  (reference: convert/html_to_md.py:13-34). An optional density-scored
  fallback (Readability/Boilerpipe-style text-density × (1 − link-density))
  is available via ``mode="density"``.
- title: first non-empty ``h1`` → ``<title>`` → "Untitled"
  (reference: convert/html_to_md.py:37-44)
- markdown: ATX headings, ``Source: <url>`` header, strip + trailing newline
  (reference: convert/html_to_md.py:47-53)
- plain text: text nodes joined by newline, per-line strip, blank runs
  collapsed to ≤1 (reference: crawl.py:42-58)
- link extraction: resolve ``<base href>``, absolutize + normalize every
  ``a[href]``, skipping empty/#fragment/mailto
  (reference: crawl.py:588-620)
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser
from urllib.parse import urljoin

from .urlkit import normalize_url

_VOID_TAGS = frozenset(
    {
        "area", "base", "br", "col", "embed", "hr", "img", "input",
        "link", "meta", "param", "source", "track", "wbr",
    }
)

# Tags whose subtrees are never content.
_DROP_TAGS = frozenset({"script", "style", "noscript"})

# Tags that imply a sibling of the same tag closes (loose HTML handling).
_AUTOCLOSE_SIBLING = frozenset({"li", "p", "tr", "td", "th", "option"})

_TEXT = "#text"

_WS_RE = re.compile(r"\s+")


class Node:
    """One DOM node; text nodes use tag ``#text`` with payload in ``text``."""

    __slots__ = ("tag", "attrs", "children", "text")

    def __init__(self, tag: str, attrs: dict[str, str] | None = None, text: str = ""):
        self.tag = tag
        self.attrs = attrs or {}
        self.children: list[Node] = []
        self.text = text

    def is_text(self) -> bool:
        return self.tag == _TEXT

    def iter(self):
        """Document-order DFS including self (skips text nodes' children)."""
        stack = [self]
        while stack:
            node = stack.pop()
            yield node
            stack.extend(reversed(node.children))

    def find_all(self, tag: str) -> list["Node"]:
        return [n for n in self.iter() if n.tag == tag]

    def find_first(self, pred) -> "Node | None":
        for n in self.iter():
            if not n.is_text() and pred(n):
                return n
        return None


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Node("#document")
        self.stack: list[Node] = [self.root]

    # html.parser already lowercases tag and attribute names before the
    # callbacks fire (parse_starttag/parse_endtag), so no .lower() here.
    def handle_starttag(self, tag, attrs):
        if tag in _AUTOCLOSE_SIBLING and self.stack[-1].tag == tag:
            self.stack.pop()
        node = Node(tag, {k: (v or "") for k, v in attrs} if attrs else None)
        self.stack[-1].children.append(node)
        if tag not in _VOID_TAGS:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        node = Node(tag, {k: (v or "") for k, v in attrs} if attrs else None)
        self.stack[-1].children.append(node)

    def handle_endtag(self, tag):
        if tag in _VOID_TAGS:
            return
        # Pop up to the nearest matching open tag; ignore stray end tags.
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return

    def handle_data(self, data):
        if data:
            self.stack[-1].children.append(Node(_TEXT, text=data))


# ---------------------------------------------------------------------------
# Fast-path tokenizer
# ---------------------------------------------------------------------------
# ``html.parser`` spends most of its time in ``goahead``'s generic
# machinery (per-construct regex dispatch, position bookkeeping for error
# reporting we never use). The tokenizer below handles a restricted,
# well-formed grammar — plain start/end tags with conservative name and
# attribute charsets, quoted/unquoted attribute values, charrefs in text
# and attribute values, script/style CDATA content with a clean closing
# tag — and returns None ("bail") the moment it sees anything else
# (comments, doctypes, PIs, bogus '<', junk in tags, unterminated
# constructs). On a bail the document is re-parsed by the stdlib
# ``_TreeBuilder``, so behaviour on arbitrary input is *defined* by
# html.parser; the fast path is only taken where its output is
# structurally identical (verified by a differential fuzzer in
# tests/test_kernels_html.py and full-corpus byte parity).
#
# Parity notes (mirrors html.parser with convert_charrefs=True):
# - text between constructs is emitted as ONE chunk, html.unescape'd
# - attribute values are unescape'd; bare attributes become ""
# - tag/attr names are lowercased
# - '<x .../>'' fires handle_startendtag (no push); CDATA mode is only
#   entered for non-self-closing script/style
# - CDATA content is emitted raw (no charref conversion) as one chunk

_SIMPLE_TAG_RE = re.compile(
    r"<([a-zA-Z][a-zA-Z0-9]*)"
    r"((?:\s+[a-zA-Z_:][-a-zA-Z0-9_:.]*"
    r"(?:\s*=\s*(?:\"[^\"]*\"|'[^']*'|[^\s>='\"][^\s>]*))?)*)"
    r"\s*(/?)>")
_SIMPLE_ATTR_RE = re.compile(
    r"\s+([a-zA-Z_:][-a-zA-Z0-9_:.]*)"
    r"(?:\s*=\s*(\"[^\"]*\"|'[^']*'|[^\s>='\"][^\s>]*))?")
_SIMPLE_END_RE = re.compile(r"</\s*([a-zA-Z][a-zA-Z0-9]*)\s*>")
_CDATA_FIND = {t: re.compile(r"</\s*%s" % t, re.IGNORECASE)
               for t in ("script", "style")}
_CDATA_CLOSE = {t: re.compile(r"</\s*%s\s*>" % t, re.IGNORECASE)
                for t in ("script", "style")}


def _fast_parse(html: str) -> Node | None:
    root = Node("#document")
    stack = [root]
    n = len(html)
    i = 0
    find = html.find
    while i < n:
        j = find("<", i)
        if j < 0:
            text = html[i:]
            stack[-1].children.append(
                Node(_TEXT, text=unescape(text) if "&" in text else text))
            break
        if j > i:
            text = html[i:j]
            stack[-1].children.append(
                Node(_TEXT, text=unescape(text) if "&" in text else text))
        if html[j + 1:j + 2] == "/":
            m = _SIMPLE_END_RE.match(html, j)
            if m is None:
                return None
            tag = m.group(1).lower()
            if tag not in _VOID_TAGS:
                # pop to nearest matching open tag; stray end tags ignored
                for k in range(len(stack) - 1, 0, -1):
                    if stack[k].tag == tag:
                        del stack[k:]
                        break
            i = m.end()
            continue
        m = _SIMPLE_TAG_RE.match(html, j)
        if m is None:
            return None
        tag = m.group(1).lower()
        attr_src = m.group(2)
        if attr_src:
            attrs: dict[str, str] = {}
            for am in _SIMPLE_ATTR_RE.finditer(attr_src):
                v = am.group(2)
                if v is None:
                    v = ""
                else:
                    c0 = v[0]
                    if c0 == '"' or c0 == "'":
                        v = v[1:-1]
                    if "&" in v:
                        v = unescape(v)
                attrs[am.group(1).lower()] = v
            node = Node(tag, attrs)
        else:
            node = Node(tag)
        i = m.end()
        if m.group(3):  # self-closing: handle_startendtag (no push)
            stack[-1].children.append(node)
            continue
        if tag in _AUTOCLOSE_SIBLING and stack[-1].tag == tag:
            stack.pop()
        stack[-1].children.append(node)
        if tag not in _VOID_TAGS:
            stack.append(node)
        if tag == "script" or tag == "style":
            fm = _CDATA_FIND[tag].search(html, i)
            if fm is None:
                return None  # unterminated CDATA: stdlib semantics apply
            cm = _CDATA_CLOSE[tag].match(html, fm.start())
            if cm is None:
                return None  # '</script junk>' inside CDATA: bail
            if fm.start() > i:
                stack[-1].children.append(
                    Node(_TEXT, text=html[i:fm.start()]))  # raw, no charrefs
            for k in range(len(stack) - 1, 0, -1):
                if stack[k].tag == tag:
                    del stack[k:]
                    break
            i = cm.end()
    return root


def parse_html(html: str) -> Node:
    """Parse (possibly malformed) HTML into a Node tree."""
    html = html or ""
    try:
        root = _fast_parse(html)
        if root is not None:
            return root
    except Exception:
        pass  # any fast-path surprise falls through to the stdlib parser
    builder = _TreeBuilder()
    try:
        builder.feed(html)
        builder.close()
    except Exception:
        # html.parser is tolerant, but guard anyway: return what we built.
        pass
    return builder.root


def clean_tree(root: Node) -> Node:
    """Drop script/style/noscript subtrees in place; return root."""
    stack = [root]
    while stack:
        node = stack.pop()
        cs = node.children
        if cs:
            node.children = cs = [c for c in cs if c.tag not in _DROP_TAGS]
            stack.extend(cs)
    return root


def get_text(node: Node, sep: str = " ", strip: bool = False) -> str:
    parts: list[str] = []
    for n in node.iter():
        if n.is_text():
            t = n.text
            if strip:
                t = t.strip()
                if not t:
                    continue
            parts.append(t)
    return sep.join(parts)


def link_density(node: Node) -> float:
    """chars of text under <a> descendants / total chars of text."""
    total = len(get_text(node, " ", strip=True))
    if total == 0:
        return 0.0
    linked = 0
    for n in node.iter():
        if n.tag == "a":
            linked += len(get_text(n, " ", strip=True))
    return min(1.0, linked / total)


def _stripped_text_lengths(root: Node) -> dict[int, int]:
    """One bottom-up pass computing, per node, the length of its
    ``get_text(" ", strip=True)`` equivalent (sum of stripped fragment
    lengths + single-space separators). Avoids the O(divs × subtree)
    recomputation in the largest-div fallback."""
    lengths: dict[int, int] = {}
    counts: dict[int, int] = {}  # number of non-empty fragments
    # iterative post-order
    stack: list[tuple[Node, bool]] = [(root, False)]
    while stack:
        node, done = stack.pop()
        if not done:
            stack.append((node, True))
            for c in node.children:
                stack.append((c, False))
            continue
        if node.is_text():
            t = node.text.strip()
            raw = len(t)
            frags = 1 if t else 0
        else:
            raw = 0
            frags = 0
            for c in node.children:
                raw += lengths[id(c)]
                frags += counts[id(c)]
        lengths[id(node)] = raw
        counts[id(node)] = frags
    # joined-with-" " length = raw + (frags - 1) separators
    return {k: (lengths[k] + counts[k] - 1 if counts[k] else 0)
            for k in lengths}


def _has_stripped_text(node: Node) -> bool:
    """Truthiness of ``get_text(node, '', strip=True)`` without building
    the string: short-circuits on the first non-whitespace text node."""
    stack = [node]
    while stack:
        n = stack.pop()
        if n.tag == _TEXT:
            if n.text.strip():
                return True
            continue
        stack.extend(n.children)
    return False


def pick_main_content(root: Node, mode: str = "reference") -> Node:
    """Boilerplate-stripping main-content selection.

    ``mode="reference"``: exact reference semantics (selector priority,
    then largest-div-by-text-length, first-encountered wins on ties).
    ``mode="density"``: fallback scores divs by
    ``text_len * (1 - link_density)`` (Boilerpipe-style), same tie-break.
    """
    # Single DFS pass records the first doc-order match per selector of
    # the module docstring's priority list (equivalent to 7 sequential
    # find_first traversals); selector predicates are inlined — attrs are
    # only consulted for div/the two id-bearing selectors, so the common
    # node costs two tag compares.
    first_match: list[Node | None] = [None] * 7
    remaining = 7
    for n in root.iter():
        tag = n.tag
        if tag == _TEXT:
            continue
        if first_match[0] is None and tag == "main":
            first_match[0] = n
            remaining -= 1
        if first_match[1] is None and tag == "article":
            first_match[1] = n
            remaining -= 1
        if first_match[2] is None or first_match[3] is None \
                or first_match[4] is None:
            # the three id selectors match ANY tag, not just div
            id_ = n.attrs.get("id")
            if id_ is not None:
                if first_match[2] is None and id_ == "topic-content":
                    first_match[2] = n
                    remaining -= 1
                if first_match[3] is None and id_ == "topic":
                    first_match[3] = n
                    remaining -= 1
                if first_match[4] is None and id_ == "rh-topic":
                    first_match[4] = n
                    remaining -= 1
        if tag == "div" and (first_match[5] is None
                             or first_match[6] is None):
            role = n.attrs.get("role")
            if role is not None:
                if first_match[5] is None and role == "main":
                    first_match[5] = n
                    remaining -= 1
                if first_match[6] is None and role == "document":
                    first_match[6] = n
                    remaining -= 1
        if not remaining:
            break
    for node in first_match:
        if node is not None and _has_stripped_text(node):
            return node

    # Fallback only: one bottom-up pass instead of O(divs × subtree).
    text_lens = _stripped_text_lengths(root)
    best: Node | None = None
    best_score = 0.0
    for div in root.find_all("div"):
        text_len = text_lens[id(div)]
        score = float(text_len)
        if mode == "density":
            score = text_len * (1.0 - link_density(div))
        if score > best_score:
            best = div
            best_score = score
    if best is not None:
        return best
    body = root.find_first(lambda n: n.tag == "body")
    return body if body is not None else root


def extract_title(html_or_root: "str | Node") -> str:
    root = parse_html(html_or_root) if isinstance(html_or_root, str) else html_or_root
    h1 = root.find_first(lambda n: n.tag == "h1")
    if h1 is not None:
        t = _WS_RE.sub(" ", get_text(h1, " ", strip=True)).strip()
        if t:
            return t
    title = root.find_first(lambda n: n.tag == "title")
    if title is not None:
        t = _WS_RE.sub(" ", get_text(title, " ", strip=True)).strip()
        if t:
            return t
    return "Untitled"


# ---------------------------------------------------------------------------
# Markdown emitter (ATX headings)
# ---------------------------------------------------------------------------

_HEADINGS = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}
_BLOCK_TAGS = frozenset(
    {
        "p", "div", "section", "article", "main", "body", "html", "#document",
        "header", "footer", "nav", "aside", "figure", "figcaption", "form",
        "fieldset", "address", "details", "summary", "dl", "dt", "dd",
    }
)
# Tags the mixed-content walker recurses into (everything else renders
# inline): blocks ∪ headings ∪ the structured constructs walk() handles.
_WALKED_TAGS = frozenset(_BLOCK_TAGS | set(_HEADINGS) | {
    "ul", "ol", "table", "pre", "blockquote", "hr", "p"})


class _MarkdownEmitter:
    def __init__(self) -> None:
        self.blocks: list[str] = []

    # -- inline rendering ---------------------------------------------------
    def inline(self, node: Node) -> str:
        if node.is_text():
            return _WS_RE.sub(" ", node.text)
        tag = node.tag
        inner = "".join(self.inline(c) for c in node.children)
        if tag == "br":
            return "\n"
        if tag in ("strong", "b"):
            body = inner.strip()
            return f"**{body}**" if body else ""
        if tag in ("em", "i"):
            body = inner.strip()
            return f"*{body}*" if body else ""
        if tag == "code":
            body = inner.strip()
            return f"`{body}`" if body else ""
        if tag == "a":
            href = node.attrs.get("href", "")
            body = inner.strip()
            if not body:
                return ""
            return f"[{body}]({href})" if href else body
        if tag == "img":
            alt = node.attrs.get("alt", "")
            src = node.attrs.get("src", "")
            return f"![{alt}]({src})"
        return inner

    # -- block rendering ----------------------------------------------------
    def emit_block(self, text: str) -> None:
        text = text.strip("\n")
        if text.strip():
            self.blocks.append(text)

    def walk(self, node: Node, list_depth: int = 0) -> None:
        """Render block-level structure into self.blocks."""
        tag = node.tag
        if tag in _HEADINGS:
            body = self.inline(node).strip()
            if body:
                self.emit_block("#" * _HEADINGS[tag] + " " + body)
            return
        if tag == "pre":
            raw = get_text(node, "")
            self.emit_block("```\n" + raw.strip("\n") + "\n```")
            return
        if tag == "blockquote":
            sub = _MarkdownEmitter()
            for c in node.children:
                sub.walk(c, list_depth)
            quoted = "\n".join("> " + ln if ln else ">" for ln in sub.render().splitlines())
            self.emit_block(quoted)
            return
        if tag in ("ul", "ol"):
            items: list[str] = []
            idx = 0
            for c in node.children:
                if c.tag == "li":
                    idx += 1
                    items.append(self._render_li(c, tag, idx, list_depth))
            if items:
                self.emit_block("\n".join(items))
            return
        if tag == "table":
            self._render_table(node)
            return
        if tag == "hr":
            self.emit_block("---")
            return
        if tag == "p":
            body = self.inline(node).strip()
            if body:
                self.emit_block(body)
            return
        if tag in _BLOCK_TAGS or tag in ("li", "tr", "td", "th"):
            # Mixed content container: group inline runs into paragraphs,
            # recurse into block children.
            run: list[str] = []
            for c in node.children:
                if c.tag == _TEXT or c.tag not in _WALKED_TAGS:
                    run.append(self.inline(c))
                else:
                    if run:
                        self.emit_block("".join(run).strip())
                        run = []
                    self.walk(c, list_depth)
            if run:
                self.emit_block("".join(run).strip())
            return
        # Unknown tag: treat as transparent inline-ish container.
        body = self.inline(node).strip()
        if body:
            self.emit_block(body)

    def _render_li(self, li: Node, list_tag: str, idx: int, depth: int) -> str:
        sub = _MarkdownEmitter()
        sub.walk(li, depth + 1)
        body = sub.render().strip()
        marker = "*" if list_tag == "ul" else f"{idx}."
        indent = "  " * depth
        lines = body.splitlines() or [""]
        first = f"{indent}{marker} {lines[0]}"
        cont_indent = indent + " " * (len(marker) + 1)
        rest = [cont_indent + ln if ln else "" for ln in lines[1:]]
        return "\n".join([first, *rest])

    def _render_table(self, table: Node) -> None:
        rows: list[list[str]] = []
        header_row: list[str] | None = None
        for tr in table.find_all("tr"):
            cells = [c for c in tr.children if c.tag in ("td", "th")]
            if not cells:
                continue
            rendered = [_WS_RE.sub(" ", self.inline(c)).strip() for c in cells]
            if header_row is None and all(c.tag == "th" for c in cells):
                header_row = rendered
            else:
                rows.append(rendered)
        out: list[str] = []
        if header_row is not None:
            out.append("| " + " | ".join(header_row) + " |")
            out.append("| " + " | ".join("---" for _ in header_row) + " |")
        for r in rows:
            out.append("| " + " | ".join(r) + " |")
        if out:
            self.emit_block("\n".join(out))

    def render(self) -> str:
        return "\n\n".join(self.blocks)


def html_to_markdown(html: str, *, source_url: str | None = None,
                     mode: str = "reference") -> str:
    """Clean → pick main content → emit ATX markdown.

    Matches reference convert/html_to_md.py:47-53: stripped markdown plus a
    trailing newline, prefixed with a ``Source:`` header when a source URL
    (or doc ref) is given.
    """
    root = clean_tree(parse_html(html))
    main = pick_main_content(root, mode=mode)
    emitter = _MarkdownEmitter()
    emitter.walk(main)
    markdown = re.sub(r"\n{3,}", "\n\n", emitter.render()).strip() + "\n"
    if source_url:
        return f"Source: {source_url}\n\n" + markdown
    return markdown


def html_to_text(html: str) -> str:
    """Reference crawl.py:42-58: text nodes joined by newline, per-line
    strip, blank runs collapsed to ≤1, final strip + trailing newline."""
    root = clean_tree(parse_html(html))
    text = get_text(root, "\n")
    lines = [ln.strip() for ln in text.splitlines()]
    out: list[str] = []
    blank_run = 0
    for ln in lines:
        if not ln:
            blank_run += 1
            if blank_run <= 1:
                out.append("")
            continue
        blank_run = 0
        out.append(ln)
    return "\n".join(out).strip() + "\n"


def extract_links(html: str, *, page_url: str) -> list[str]:
    """Reference crawl.py:588-620: resolve <base href>, absolutize +
    normalize every a[href]; skip empty, #fragment, mailto."""
    root = parse_html(html)
    base = root.find_first(lambda n: n.tag == "base")
    effective_base = page_url
    if base is not None:
        href = (base.attrs.get("href") or "").strip()
        if href:
            effective_base = urljoin(page_url, href)
    out: list[str] = []
    for a in root.find_all("a"):
        href = (a.attrs.get("href") or "").strip()
        if not href or href.startswith("#") or href.lower().startswith("mailto:"):
            continue
        out.append(normalize_url(urljoin(effective_base, href)))
    return out


def extract_anchors(html: str, *, page_url: str) -> list[tuple[str, str]]:
    """(url, anchor_text) pairs for every a[href], with the same base-href
    resolution and link hygiene as :func:`extract_links` (reference
    crawl.py:588-620); anchor text is the flattened, whitespace-normalized
    text content of the <a> subtree. Links whose anchor text is empty
    after normalization (image-only anchors) are skipped — the training
    use (anchor -> target pairing) has no signal without text."""
    root = parse_html(html)
    base = root.find_first(lambda n: n.tag == "base")
    effective_base = page_url
    if base is not None:
        href = (base.attrs.get("href") or "").strip()
        if href:
            effective_base = urljoin(page_url, href)
    out: list[tuple[str, str]] = []
    for a in root.find_all("a"):
        href = (a.attrs.get("href") or "").strip()
        if not href or href.startswith("#") or href.lower().startswith("mailto:"):
            continue
        text = " ".join(get_text(a, " ").split())
        if not text:
            continue
        out.append((normalize_url(urljoin(effective_base, href)), text))
    return out


_TOC_HREF_RE = re.compile(r"\.(?:htm|html)(?:\?|$)", re.IGNORECASE)


def extract_toc_hrefs(html: str) -> list[str]:
    """Left-panel TOC extraction (E12). Reference parity with
    exporters/endnote25_windows.py:27-42
    (``extract_hrefs_from_leftpanel_html``): every a[href] in document
    order, stripped, empties skipped, kept only when the href ends in
    .htm/.html (optionally followed by a query string) — returned RAW
    (not absolutized or normalized; ``urlkit.build_absolute_url_list``
    is the second stage, reference :46-55)."""
    root = parse_html(html)
    out: list[str] = []
    for a in root.find_all("a"):
        if "href" not in a.attrs:
            continue
        href = (a.attrs.get("href") or "").strip()
        if not href:
            continue
        if not _TOC_HREF_RE.search(href):
            continue
        out.append(href)
    return out


def extract_links_multi(html: str, *, page_url: str) -> list[str]:
    """Reference ingest_data_uspto_gov.py:536-585: multi-attribute link
    extraction (a/link[href], img/script/iframe/source/video/audio/embed
    [src], object[data], form[action]) plus meta-refresh ``url=``."""
    root = parse_html(html)
    out: list[str] = []

    def add(href: str | None) -> None:
        href = (href or "").strip()
        if not href or href.startswith("#"):
            return
        low = href.lower()
        if low.startswith(("mailto:", "javascript:")):
            return
        out.append(normalize_url(urljoin(page_url, href)))

    for n in root.iter():
        if n.is_text():
            continue
        tag = n.tag
        if tag in ("a", "link"):
            add(n.attrs.get("href"))
        elif tag in ("img", "script", "iframe", "source", "video", "audio", "embed"):
            add(n.attrs.get("src"))
        elif tag == "object":
            add(n.attrs.get("data"))
        elif tag == "form":
            add(n.attrs.get("action"))
        elif tag == "meta" and (n.attrs.get("http-equiv") or "").lower() == "refresh":
            m = re.search(r"url\s*=\s*([^;]+)", n.attrs.get("content") or "", re.I)
            if m:
                add(unescape(m.group(1)))
    return out
