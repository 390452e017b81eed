"""HTML field extraction — the crawl-side scalar functions
(OP-EXT-01..06), implemented on a stdlib ``html.parser`` mini-DOM
(BeautifulSoup is not available in this environment, and the cascade
semantics are small enough to express directly).

Reference behaviors reproduced (by observation, not by code copy):
- block selector cascade: ``article``, ``div.post``, ``div.blog-post``,
  ``div.article`` — first selector with any matches wins
  (``crawl.py:42-54``); fallback: any element whose class attribute
  contains post/article/blog/entry (``crawl.py:56-59``).
- link: first ``<a href>`` in the block, resolved against the base URL
  (``crawl.py:65-70``); blocks without links are skipped.
- title: first ``<h1>`` text, else ``<title>``, else the literal
  ``"No Title Found"`` (``crawl.py:81-82``).
- body: non-empty stripped ``<p>`` texts joined with newlines
  (``crawl.py:85-86``).
- published date: ``<time datetime=…>`` attr → ``<time>`` inner text →
  ``meta[property=article:published_time]`` → ``meta[name=pubdate]`` →
  ``meta[name=date]`` → None (``crawl.py:88-100``).

These are plain-Python helpers; the Spark boundary (``arrow_udf``
column kernels) lives in ``udfs.py``.
"""

from __future__ import annotations

from html.parser import HTMLParser
from urllib.parse import urljoin

_VOID = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)


class Node:
    """One element in the mini-DOM."""

    __slots__ = ("tag", "attrs", "children", "text_parts")

    def __init__(self, tag: str, attrs: dict[str, str | None]):
        self.tag = tag
        self.attrs = attrs
        self.children: list[Node] = []
        self.text_parts: list[str] = []

    # -- traversal helpers -------------------------------------------------
    def iter(self):
        yield self
        for c in self.children:
            yield from c.iter()

    def find_all(self, tag: str | None = None, pred=None) -> list["Node"]:
        out = []
        for n in self.iter():
            if n is self:
                continue
            if tag is not None and n.tag != tag:
                continue
            if pred is not None and not pred(n):
                continue
            out.append(n)
        return out

    def find(self, tag: str | None = None, pred=None) -> "Node | None":
        found = self.find_all(tag, pred)
        return found[0] if found else None

    def text(self) -> str:
        """All descendant text, document order."""
        parts = list(self.text_parts)
        for c in self.children:
            parts.append(c.text())
        return "".join(parts)

    def classes(self) -> list[str]:
        cls = self.attrs.get("class") or ""
        return cls.split()


class _TreeBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Node("[document]", {})
        self.stack = [self.root]

    def handle_starttag(self, tag, attrs):
        node = Node(tag, dict(attrs))
        self.stack[-1].children.append(node)
        if tag not in _VOID:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        self.stack[-1].children.append(Node(tag, dict(attrs)))

    def handle_endtag(self, tag):
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                break

    def handle_data(self, data):
        # attach text to the most recent child if it is still open,
        # else to the current container
        self.stack[-1].text_parts.append(data)


def parse(html: str) -> Node:
    b = _TreeBuilder()
    b.feed(html or "")
    return b.root


# ---------------------------------------------------------------------------
# Cascades (OP-EXT-01..06)
# ---------------------------------------------------------------------------
_FUZZY_KEYWORDS = ("post", "article", "blog", "entry")


def select_blocks(root: Node) -> list[Node]:
    """Article-block cascade: exact selectors first, fuzzy class match as
    fallback; first non-empty selector wins (OP-EXT-01/02)."""
    blocks = root.find_all("article")
    if blocks:
        return blocks
    for cls in ("post", "blog-post", "article"):
        blocks = root.find_all("div", lambda n, c=cls: c in n.classes())
        if blocks:
            return blocks
    return root.find_all(
        None,
        lambda n: any(
            any(k in c.lower() for k in _FUZZY_KEYWORDS) for c in n.classes()
        ),
    )


def first_href(block: Node, base_url: str) -> str | None:
    """First ``<a href>`` in the block, absolutized (OP-EXT-03)."""
    a = block.find("a", lambda n: n.attrs.get("href") is not None)
    if a is None:
        return None
    return urljoin(base_url, a.attrs["href"])


def title_of(root: Node) -> str:
    """h1 → <title> → "No Title Found" (OP-EXT-04)."""
    h1 = root.find("h1")
    if h1 is not None and h1.text().strip():
        return h1.text().strip()
    t = root.find("title")
    if t is not None and t.text().strip():
        return t.text().strip()
    return "No Title Found"


def body_text(root: Node) -> str:
    """Non-empty stripped <p> texts joined with newlines (OP-EXT-05)."""
    parts = [p.text().strip() for p in root.find_all("p")]
    return "\n".join(x for x in parts if x)


def published_of(root: Node) -> str | None:
    """5-level publish-date cascade (OP-EXT-06)."""
    t = root.find("time")
    if t is not None:
        if t.attrs.get("datetime"):
            return t.attrs["datetime"]
        if t.text().strip():
            return t.text().strip()
    for attr, val in (
        ("property", "article:published_time"),
        ("name", "pubdate"),
        ("name", "date"),
    ):
        m = root.find(
            "meta",
            lambda n, a=attr, v=val: n.attrs.get(a) == v
            and n.attrs.get("content"),
        )
        if m is not None:
            return m.attrs["content"]
    return None


def extract_article(html: str) -> dict:
    """Full article-page extraction (OP-EXT-04/05/06/07 record shape)."""
    root = parse(html)
    return {
        "title": title_of(root),
        "content": body_text(root),
        "published_at": published_of(root),
    }


def extract_links(html: str, base_url: str) -> list[str]:
    """Listing-page extraction: one absolutized link per block, blocks
    without links skipped (OP-EXT-01/02/03)."""
    root = parse(html)
    out = []
    for block in select_blocks(root):
        href = first_href(block, base_url)
        if href is not None:
            out.append(href)
    return out
