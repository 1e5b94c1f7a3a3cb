"""Real HTML parsing for the parse stages (P5), stdlib-only.

The reference parses arbitrary pages with BeautifulSoup
(reference common/response.py:48-53 ``html_tree``; selector use in
spiders/amazon/crawl_goods_list.py:53-96 — ``find_all(tag, {"class":
...})``, ``.find(...).get(attr)``, ``.string``, ``.parent`` chains, ''
defaults on missing fields). This module reproduces that surface on
``html.parser.HTMLParser`` (always available — no external wheel), and
exposes Arrow-BATCH-shaped helpers so the Spark side stays a
``mapInPandas`` over (url, body) — the one unavoidable Python spot in
the pipeline, amortized per batch, never per row.

Tolerant by construction: unmatched close tags are ignored, void
elements (img/br/…) never open scopes, an open <p>/<li> is implicitly
closed by the next block element — enough for the messy tag soup real
listings pages are (see tests/test_htmlparse.py).

The regex extractors in stages.py remain the fast path for the regular
synthetic corpus; ``CrawlEngine(html_parser=True)`` swaps this parser
into the SAME stage functions with byte-identical output on that
corpus.
"""

from __future__ import annotations

from html.parser import HTMLParser

import pandas as pd

def sniff_decode(data: bytes, content_type: str | None = None) -> str:
    """bytes → str for the HTML boundary, WHATWG-prescan style
    (r4 VERDICT item 7; reference analogue: BeautifulSoup's
    UnicodeDammit behind common/response.py:48-53 ``.text``):

    1. byte-order mark (UTF-8 / UTF-32 LE / BE / UTF-16 LE / BE) wins
       outright — UTF-32 first, since the UTF-32-LE mark begins with the
       UTF-16-LE one;
    2. ``charset=`` parameter of the Content-Type header;
    3. prescan of the first 1024 bytes for ``<meta charset=...>`` or
       ``<meta http-equiv="content-type" content="...charset=...">``;
    4. fall back to UTF-8.

    Every decode is errors='replace' — a page whose declared charset
    misdescribes its bytes yields U+FFFD runs, never an exception, and
    an unknown/garbage charset label falls through to UTF-8 (pinned by
    the mis-declared-charset fuzz in tests/test_htmlparse.py)."""
    import codecs
    import re as _re

    if data.startswith(codecs.BOM_UTF8):
        return data[3:].decode("utf-8", "replace")
    if data.startswith(codecs.BOM_UTF32_LE):
        return data[4:].decode("utf-32-le", "replace")
    if data.startswith(codecs.BOM_UTF32_BE):
        return data[4:].decode("utf-32-be", "replace")
    if data.startswith(codecs.BOM_UTF16_LE):
        return data[2:].decode("utf-16-le", "replace")
    if data.startswith(codecs.BOM_UTF16_BE):
        return data[2:].decode("utf-16-be", "replace")

    def _try(label: str | None) -> str | None:
        if not label:
            return None
        label = label.strip().strip("\"'").lower()
        # x-user-defined and friends aren't real codecs; lookup guards
        try:
            codecs.lookup(label)
        except LookupError:
            return None
        return label

    enc = None
    if content_type:
        m = _re.search(r"charset\s*=\s*([^;\s]+)", content_type, _re.I)
        if m:
            enc = _try(m.group(1))
    if enc is None:
        head = data[:1024].decode("ascii", "replace")
        m = _re.search(r"""<meta[^>]+charset\s*=\s*["']?([\w.:-]+)""", head, _re.I)
        if m:
            enc = _try(m.group(1))
    return data.decode(enc or "utf-8", "replace")


VOID_TAGS = {
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr",
}

# an open <p>/<li>/<td>… is implicitly closed when one of these starts
_AUTOCLOSE = {
    "p": {"p", "div", "ul", "ol", "table", "section", "article"},
    "li": {"li"},
    "td": {"td", "tr"},
    "tr": {"tr"},
    "option": {"option"},
}


class Node:
    """Minimal DOM node with the BeautifulSoup-ish surface the
    reference's parse callbacks use. ``content`` holds text runs and
    child elements INTERLEAVED in document order (so .text() matches
    the page, not a direct-text-first scramble); ``children`` is the
    element-only view for find/find_all."""

    __slots__ = ("tag", "attrs", "children", "parent", "content")

    def __init__(self, tag: str, attrs: dict[str, str], parent: "Node | None"):
        self.tag = tag
        self.attrs = attrs
        self.children: list[Node] = []
        self.parent = parent
        self.content: list["Node | str"] = []

    # ---- BS4-ish API ------------------------------------------------
    def get(self, attr: str, default=None):
        return self.attrs.get(attr, default)

    @property
    def _direct_text(self) -> str:
        return "".join(c for c in self.content if isinstance(c, str))

    @property
    def string(self) -> str | None:
        """BS4 ``.string`` semantics: the node's own text when it has no
        element children; descend through a lone element child; None on
        mixed/multi-child content (callers then fall back to .text()).
        An earlier revision returned the PARTIAL direct text of a mixed
        node ('<b>$5</b>.99' -> '.99'), silently corrupting fields.
        Iterative, like text(): a hostile page nesting thousands of
        lone-child tags must not overflow the recursion limit inside an
        Arrow task."""
        n = self
        while len(n.children) == 1 and not n._direct_text.strip():
            n = n.children[0]
        if not n.children:
            t = n._direct_text.strip()
            return t if t else None
        return None

    def text(self) -> str:
        """All descendant text in DOCUMENT ORDER (iterative — a hostile
        page nested thousands of tags deep must not overflow the
        recursion limit)."""
        parts: list[str] = []
        stack: list[Node | str] = [self]
        while stack:
            n = stack.pop()
            if isinstance(n, str):
                parts.append(n)
                continue
            stack.extend(reversed(n.content))
        return "".join(parts)

    def _matches(self, tag: str | None, attrs: dict | None) -> bool:
        if tag is not None and self.tag != tag:
            return False
        for k, v in (attrs or {}).items():
            mine = self.attrs.get(k)
            if mine is None:
                return False
            if k == "class":
                # BS4 semantics on multi-valued class: exact attr match
                # OR all requested classes present
                if mine != v and not set(v.split()) <= set(mine.split()):
                    return False
            elif mine != v:
                return False
        return True

    def find_all(self, tag: str | None = None, attrs: dict | None = None) -> list["Node"]:
        out = []
        stack = list(reversed(self.children))
        while stack:
            n = stack.pop()
            if n._matches(tag, attrs):
                out.append(n)
            stack.extend(reversed(n.children))
        return out

    def find(self, tag: str | None = None, attrs: dict | None = None) -> "Node | None":
        stack = list(reversed(self.children))
        while stack:
            n = stack.pop()
            if n._matches(tag, attrs):
                return n
            stack.extend(reversed(n.children))
        return None


class _TreeBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Node("[document]", {}, None)
        self.cur = self.root

    @staticmethod
    def _attr_dict(attrs) -> dict[str, str]:
        # FIRST occurrence wins on duplicate attributes — browser and
        # BS4 semantics (<a href="/real" href="/evil"> follows /real)
        out: dict[str, str] = {}
        for k, v in attrs:
            out.setdefault(k.lower(), v if v is not None else "")
        return out

    def _attach(self, node: Node) -> None:
        self.cur.children.append(node)
        self.cur.content.append(node)

    def handle_starttag(self, tag, attrs):
        tag = tag.lower()
        # implicit close (tag soup tolerance)
        while self.cur is not self.root and tag in _AUTOCLOSE.get(self.cur.tag, ()):
            self.cur = self.cur.parent
        node = Node(tag, self._attr_dict(attrs), self.cur)
        self._attach(node)
        if tag not in VOID_TAGS:
            self.cur = node

    def handle_startendtag(self, tag, attrs):
        node = Node(tag.lower(), self._attr_dict(attrs), self.cur)
        self._attach(node)

    def handle_endtag(self, tag):
        tag = tag.lower()
        # close the nearest matching open ancestor; ignore unmatched
        n = self.cur
        while n is not self.root:
            if n.tag == tag:
                self.cur = n.parent
                return
            n = n.parent

    def handle_data(self, data):
        self.cur.content.append(data)


def parse_html(text: str | None) -> Node:
    """Parse (possibly messy) HTML into a Node tree. Never raises on
    malformed input — worst case the tree is flat."""
    b = _TreeBuilder()
    try:
        b.feed(text or "")
        b.close()
    except Exception:
        pass  # keep whatever tree was built before the parser choked
    return b.root


# --------------------------------------------------------------- batch API
def links_batch(bodies: pd.Series, bases: pd.Series | None = None) -> pd.Series:
    """Per-document link harvest: every <a href> and <img src> value, in
    document order (the reference's link fan-out, Q9). Batch-shaped for
    mapInPandas.

    ``bases`` (the page URLs) resolves relative hrefs against the page
    — real pages link '/detail/5' and '../x', and an unresolved
    relative string would enter the frontier host-less and unfetchable
    while the true target is never enqueued. Absolute hrefs pass
    through urljoin unchanged (the synthetic-corpus byte-identity gate
    stays exact)."""
    from urllib.parse import urljoin

    out = []
    base_list = list(bases) if bases is not None else [None] * len(bodies)
    for body, base in zip(bodies, base_list):
        root = parse_html(body)
        links = [a.attrs["href"] for a in root.find_all("a") if "href" in a.attrs]
        links += [i.attrs["src"] for i in root.find_all("img") if "src" in i.attrs]
        if base:
            resolved = []
            for u in links:
                try:
                    resolved.append(urljoin(base, u))
                except ValueError:  # hostile href; keep raw, vetting drops it
                    resolved.append(u)
            links = resolved
        out.append(links)
    return pd.Series(out, index=bodies.index, dtype=object)


def fields_batch(bodies: pd.Series, spec: list[tuple]) -> pd.DataFrame:
    """Per-document field extraction with '' defaults (P6 — the
    reference's per-field try/except, crawl_goods_list.py:57-91).

    ``spec``: list of (name, tag, attrs, what) where ``what`` is
    ``"text"`` (node text) or ``"@attr"`` (attribute value)."""
    cols: dict[str, list[str]] = {name: [] for name, *_ in spec}
    for body in bodies:
        root = parse_html(body)
        for name, tag, attrs, what in spec:
            node = root.find(tag, attrs)
            val = ""
            if node is not None:
                if what == "text":
                    val = (node.string or node.text().strip() or "")
                elif what.startswith("@"):
                    val = node.get(what[1:], "") or ""
            cols[name].append(val)
    return pd.DataFrame(cols, index=bodies.index)
