"""P5: the real HTML parse stage. Messy, non-regular tag soup must
parse into correct links/fields ('' defaults), and on the regular
synthetic corpus the parser-backed stages must be byte-identical to the
regex fast path (the documented swap point)."""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest

from pyspider_spark import htmlparse as H
from pyspider_spark import stages
from pyspider_spark.loop import CrawlEngine
from pyspider_spark.schemas import IMAGES, ITEMS, METRICS, SEEN
from pyspider_spark.synth import GraphSpec

MESSY = """
<HTML><body>
  <P>unclosed paragraph
  <div class="a-section a-spacing-medium" data-x=1>
    <ul><li>one<li>two<li><A HREF='/rel/one'>link1</a>
    <img src=/img/a.png alt="first">
    <span class="a-icon-alt">4.5 stars</span>
  </div>
  <div class='a-section'>
    <a href="https://x.example/two?b=2&a=1">link2</a>
    <span class="a-offscreen">$9.99</span>
    <br><hr>
  </div>
  <!-- <a href="/in/comment">nope</a// -->
  <table><tr><td>c1<td>c2<tr><td>c3</table>
  <a name="anchor-no-href">text</a>
  <img src="/img/b.png">
</body>
"""


def test_messy_links_in_document_order():
    links = H.links_batch(pd.Series([MESSY]))[0]
    assert links == [
        "/rel/one",
        "https://x.example/two?b=2&a=1",
        "/img/a.png",
        "/img/b.png",
    ]


def test_class_attr_matching_bs4_semantics():
    root = H.parse_html(MESSY)
    # multi-class query matches the element carrying both classes
    both = root.find_all("div", {"class": "a-section a-spacing-medium"})
    assert len(both) == 1 and both[0].get("data-x") == "1"
    # single-class query matches every element containing it
    assert len(root.find_all("div", {"class": "a-section"})) == 2


def test_parent_chain_and_string():
    root = H.parse_html(MESSY)
    star = root.find("span", {"class": "a-icon-alt"})
    assert star.string == "4.5 stars"
    # the unclosed <ul>/<li> keep the span nested (HTML5 behavior);
    # the goods container is further up the parent chain
    chain = []
    n = star.parent
    while n is not None:
        chain.append(n)
        n = n.parent
    div = next(x for x in chain if x.tag == "div")
    assert "a-spacing-medium" in div.get("class")


def test_implicit_close_tag_soup():
    root = H.parse_html(MESSY)
    lis = root.find_all("li")
    assert len(lis) == 3  # <li> soup closed implicitly, not nested
    tds = root.find_all("td")
    assert [t.string for t in tds] == ["c1", "c2", "c3"]


def test_fields_batch_empty_defaults():
    spec = [
        ("price", "span", {"class": "a-offscreen"}, "text"),
        ("missing", "span", {"class": "nope"}, "text"),
        ("img", "img", None, "@src"),
        ("badattr", "img", None, "@data-nope"),
    ]
    out = H.fields_batch(pd.Series([MESSY, "<p>nothing here</p>", None]), spec)
    assert out.iloc[0].tolist() == ["$9.99", "", "/img/a.png", ""]
    assert out.iloc[1].tolist() == ["", "", "", ""]
    assert out.iloc[2].tolist() == ["", "", "", ""]


def test_never_raises_on_garbage():
    garbage = pd.Series(["<<<>>>", "<a href=", "\x00\x01", "", None, "<a "])
    out = H.links_batch(garbage)
    assert all(isinstance(v, list) for v in out)


def test_script_style_raw_text_not_harvested():
    """script/style content is CDATA (reference BeautifulSoup behavior,
    common/response.py:48-53): markup-looking strings inside it must not
    become links or nodes."""
    body = (
        "<body><script>var s = '<a href=\"/fake/1\">x</a>';\n"
        "if (a < b && c > d) { /* <img src=/fake/2> */ }</script>"
        "<style>a::before { content: '<a href=/fake/3>'; }</style>"
        "<a href='/real/1'>ok</a></body>"
    )
    (links,) = H.links_batch(pd.Series([body]))
    assert links == ["/real/1"]


def test_nesting_and_entity_bombs_no_crash():
    """Hostile depth/entity stress: a 5000-deep tag nest (recursion-free
    tree walk), unterminated entities, and a 50k-entity run all parse
    without raising, and field extraction still defaults to ''."""
    deep = "<div>" * 5000 + "x" + "</div>" * 5000
    entities = "&amp;" * 50_000 + "&bogus;&#x27;&#999999999;&#xZZ;&"
    assert H.parse_html(deep).text() == "x"  # survives + preserves text
    for body in (deep, entities, deep + entities):
        root = H.parse_html(body)
        assert root.tag == "[document]"
        out = H.fields_batch(
            pd.Series([body]), [("price", "span", {"class": "a-offscreen"}, "text")]
        )
        assert out["price"].tolist() == [""]


def test_deep_lone_child_string_no_recursion():
    """.string descends lone-child chains ITERATIVELY: a hostile page
    nesting 5000 single-child tags inside a selected node must yield
    the leaf text, not a RecursionError inside an Arrow task (the
    detail_items_html 'string' extraction path)."""
    deep = "<span>" * 5000 + "x" + "</span>" * 5000
    root = H.parse_html(f"<div id='f'>{deep}</div>")
    node = root.find("div", {"id": "f"})
    assert node.string == "x"
    # mixed/multi-child still yields None at the end of the chain
    root2 = H.parse_html("<div id='f'>" + "<span>" * 3000 + "<b>a</b><i>b</i>"
                         + "</span>" * 3000 + "</div>")
    assert root2.find("div", {"id": "f"}).string is None


def test_fuzz_malformed_pages_never_raise():
    """1k deterministic malformed samples (tag soup, truncated tags,
    stray brackets, comments/CDATA/PIs, mixed-encoding bytes, null
    bytes, unclosed tables): parse_html never raises, links_batch
    yields lists, fields_batch degrades to '' defaults (the reference's
    per-field try/except tolerance, crawl_goods_list.py:57-91)."""
    import random

    rng = random.Random(0)  # deterministic corpus, not run-to-run noise
    fragments = [
        "<a href='/x/", "<a href=/y>link", "</div>", "<table><tr><td>",
        "<script>if(a<b){", "</script>", "<!-- comment <a href=/c> ",
        "-->", "<![CDATA[ <a href=/d> ]]>", "<?php echo '<a>'; ?>",
        "<div class=", "'>", "\x00", "\xff\xfe", "&#", "&amp", ";",
        "<img src=", "<a ", "href", "=", "'", '"', "<", ">", "text ",
        "<p>para", "<li>item", "<b><i>bold", "</b>", "<svg><g>",
        "<input value='<a href=/e>'>", "<br/>", "<a href='/ok/1'>k</a>",
    ]
    spec = [
        ("name", "span", {"class": "t"}, "text"),
        ("img", "img", None, "@src"),
    ]
    for i in range(1000):
        body = "".join(rng.choice(fragments) for _ in range(rng.randint(1, 60)))
        root = H.parse_html(body)
        assert root.tag == "[document]"
        (links,) = H.links_batch(pd.Series([body]))
        assert isinstance(links, list)
        out = H.fields_batch(pd.Series([body]), spec)
        assert set(out.columns) == {"name", "img"}
        assert all(isinstance(v, str) for v in out.iloc[0])


# ---------------------------------------------------- engine equivalence

SPEC = GraphSpec(n_hosts=2, chains_per_host=2, seed_tag="html1")


def digest(eng, name, schema):
    df = eng.store.read_or_empty(name, schema)
    rows = sorted(repr(sorted(r.asDict().items())) for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def test_html_parser_engine_byte_identical(spark, tmp_path_factory):
    """Full crawl with the real HTML parser swapped in produces
    byte-identical outputs on the synthetic corpus."""
    wd_a = str(tmp_path_factory.mktemp("regex"))
    a = CrawlEngine(spark, wd_a, SPEC, n_seen_partitions=4)
    a.run(max_rounds=3)
    wd_b = str(tmp_path_factory.mktemp("htmlp"))
    b = CrawlEngine(spark, wd_b, SPEC, n_seen_partitions=4, html_parser=True)
    b.run(max_rounds=3)
    for t, s in [("seen", SEEN), ("items", ITEMS), ("images", IMAGES), ("metrics", METRICS)]:
        assert digest(a, t, s) == digest(b, t, s), t


def test_mixed_content_string_and_text_order():
    """BS4 .string semantics on mixed content (None, never partial
    direct text) and document-order .text() — '<b>$5</b>.99' must
    extract '$5.99', not '.99' or '.99$5'."""
    root = H.parse_html('<span id="p"><b>$5</b>.99</span>')
    span = root.find("span", {"id": "p"})
    assert span.string is None
    assert span.text() == "$5.99"
    # lone-child recursion like BS4
    lone = H.parse_html('<span id="q"><b>only</b></span>').find("span", {"id": "q"})
    assert lone.string == "only"


def test_duplicate_attribute_first_wins():
    root = H.parse_html('<a href="/real" href="/evil">x</a>')
    assert root.find("a").get("href") == "/real"


def test_links_resolve_relative_against_base():
    body = ('<a href="/detail/5">x</a><a href="https://other.example/abs">y</a>'
            '<img src="../img/i1">')
    (links,) = H.links_batch(
        pd.Series([body]), pd.Series(["https://host0.example/list/0/page/2"])
    )
    assert links == [
        "https://host0.example/detail/5",
        "https://other.example/abs",
        "https://host0.example/list/0/img/i1",
    ]


# ---- r5: entity/charset hardening (VERDICT r4 item 7) -------------------


def test_full_named_entity_table():
    """convert_charrefs rides stdlib html.entities' full html5 table:
    basics, exotic names, multi-codepoint entities, legacy
    no-semicolon forms, numeric (dec/hex) — in text AND attributes."""
    doc = (
        '<a href="/x?a=1&amp;b=2" title="&NotEqualTilde;&nbsp;&copy">'
        "&lt;tag&gt; &mdash; &Zopf; &#x1F600; &#169; &amp &nbspX</a>"
    )
    root = H.parse_html(doc)
    a = root.find("a")
    assert a.get("href") == "/x?a=1&b=2"
    assert a.get("title") == "≂̸\xa0\xa9"  # multi-codepoint + legacy &copy
    t = a.text()
    assert "<tag>" in t and "—" in t and "ℤ" in t
    assert "\U0001f600" in t and "\xa9" in t
    # legacy-without-semicolon: &amp -> '&', &nbspX -> NBSP + 'X'
    assert "& \xa0X" in t


def test_entity_dense_fuzz_never_raises():
    import html.entities
    import random

    rng = random.Random(77)
    names = list(html.entities.html5)
    for trial in range(200):
        body = "<div title='" + "".join(
            f"&{rng.choice(names)}" for _ in range(20)
        ) + "'>" + "".join(
            rng.choice([f"&{rng.choice(names)}", "&#x110000;", "&#0;", "&#xZZ;", "&bogusname;", "&"])
            for _ in range(30)
        ) + "</div>"
        root = H.parse_html(body)
        root.text()  # must not raise


def test_sniff_decode_bom_wins():
    assert H.sniff_decode("h\xe9llo".encode("utf-8-sig")) == "h\xe9llo"
    assert H.sniff_decode("﻿ab".encode("utf-16-le")[0:]) == "ab"
    assert H.sniff_decode("﻿ab".encode("utf-16-be")[0:]) == "ab"


def test_sniff_decode_utf32_bom_not_taken_for_utf16():
    """The UTF-32-LE mark (FF FE 00 00) starts with the UTF-16-LE one
    (FF FE): sniffed as UTF-16 it would decode to NUL-interleaved text,
    even with a header that declares another charset."""
    import codecs

    body = "h\xe9llo \U0001f600".encode("utf-32-le")
    assert H.sniff_decode(codecs.BOM_UTF32_LE + body) == "h\xe9llo \U0001f600"
    assert H.sniff_decode(codecs.BOM_UTF32_LE + body, "text/html; charset=utf-8") == (
        "h\xe9llo \U0001f600"
    )
    body_be = "h\xe9llo".encode("utf-32-be")
    assert H.sniff_decode(codecs.BOM_UTF32_BE + body_be) == "h\xe9llo"


def test_sniff_decode_header_charset():
    body = "caf\xe9".encode("latin-1")
    assert H.sniff_decode(body, "text/html; charset=ISO-8859-1") == "caf\xe9"
    # header beats meta
    b2 = '<meta charset="utf-8">caf\xe9'.encode("latin-1")
    assert H.sniff_decode(b2, "text/html; charset=latin-1").endswith("caf\xe9")


def test_sniff_decode_meta_prescan():
    for meta in (
        '<meta charset="windows-1252">',
        "<meta charset=windows-1252>",
        '<meta http-equiv="Content-Type" content="text/html; charset=windows-1252">',
    ):
        body = (meta + "smart\x97dash").encode("latin-1")
        out = H.sniff_decode(body)
        assert "smart—dash" in out, (meta, out)


def test_sniff_decode_misdeclared_and_garbage_charsets():
    """A lying or unknown charset label must degrade to replacement
    chars, never raise; parsing the result must also survive."""
    # declared utf-8 but actually utf-16 payload: U+FFFD runs, no raise
    lying = '<meta charset="utf-8"><p>x</p>'.encode("utf-16-le")
    out = H.sniff_decode(lying)
    H.parse_html(out).text()
    # unknown label falls back to utf-8
    body = '<meta charset="x-not-a-charset">ok\xc3\xa9'.encode("latin-1")
    assert "ok\xe9" in H.sniff_decode(body)
    # invalid bytes under the declared charset: replaced, not raised
    bad = b'<meta charset="utf-8">\xff\xfe\xfa tail'
    assert "�" in H.sniff_decode(bad) and "tail" in H.sniff_decode(bad)


def test_sniff_decode_empty_and_default():
    assert H.sniff_decode(b"") == ""
    assert H.sniff_decode("plain utf-8 ☃".encode()) == "plain utf-8 ☃"
