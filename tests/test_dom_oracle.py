"""Differential test of the DOM tokenizer against the ``HTMLParser``
builder it replaced, which lives on here as the oracle.

Trees are compared node for node: name, ``attrs.items()`` in order, and
children with the text-chunk boundaries.  Inputs: hypothesis text over
a markup alphabet, generated well-formed tags, every page of
``perfbench.gen.make_pages(seed, 300)`` and of the ``web_corpus``
generator, and the HTML fixtures of the other ``tests/test_dom*.py``.
The tag index is checked against a generator walk, and ``unwrap_all``
against sequential ``unwrap``.
"""

from __future__ import annotations

import ast
import glob
import os
import time
from html.parser import HTMLParser
from typing import List

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from engine import dom, parser
from engine.dom import _MULTI_VALUED, VOID_ELEMENTS, Node, parse_html
from engine.kernels import constants as C
from engine.kernels import general
from engine.query_parse import parse_query_hybrid

settings.register_profile("ci", max_examples=60, deadline=None)
settings.load_profile("ci")


# -- the oracle: the HTMLParser builder engine/dom.py used before ------------

class _TreeBuilder(HTMLParser):
    """Stack-based tree builder with end-tag recovery."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Node("[document]")
        self.stack: List[Node] = [self.root]

    # html.parser lowercases tag names already
    def handle_starttag(self, tag: str, attrs) -> None:
        node = self._make_node(tag, attrs)
        self.stack[-1].children.append(node)
        if tag not in VOID_ELEMENTS:
            self.stack.append(node)

    def handle_startendtag(self, tag: str, attrs) -> None:
        node = self._make_node(tag, attrs)
        self.stack[-1].children.append(node)

    def _make_node(self, tag: str, attrs) -> Node:
        attr_dict: dict = {}
        for key, value in attrs:
            # duplicate attributes: LAST occurrence wins — bs4's
            # html.parser builder default (on_duplicate_attribute=
            # 'replace') in the version the reference pins
            if value is None:
                value = ""
            if key in _MULTI_VALUED:
                attr_dict[key] = value.split()
            else:
                attr_dict[key] = value
        return Node(tag, attr_dict, parent=self.stack[-1])

    def handle_endtag(self, tag: str) -> None:
        if tag in VOID_ELEMENTS:
            return
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].name == tag:
                del self.stack[i:]
                return
        # stray end tag: ignore

    def handle_data(self, data: str) -> None:
        if data:
            self.stack[-1].children.append(data)

    # comments / declarations / PIs are not part of the text surface
    def handle_comment(self, data: str) -> None:
        pass

    def handle_decl(self, decl: str) -> None:
        pass

    def handle_pi(self, data: str) -> None:
        pass


def oracle_parse_html(html: str) -> Node:
    """Parse an HTML string into a :class:`Node` tree (the document root)."""
    builder = _TreeBuilder()
    try:
        builder.feed(html)
        builder.close()
    except Exception:
        # html.parser is forgiving; any residual failure yields the
        # partial tree built so far (parse failures are accounted for
        # at the pipeline level, engine/pipeline.py).
        pass
    return builder.root


# -- comparison ---------------------------------------------------------------

def tree_diff(got: Node, want: Node):
    """None when the trees match node for node, else a description of
    the first difference.  Iterative: fuzzed trees can be deep."""
    stack = [(got, want, "")]
    while stack:
        a, b, path = stack.pop()
        here = f"{path}/{b.name}"
        if a.name != b.name:
            return f"{here}: name {a.name!r} != {b.name!r}"
        if list(a.attrs.items()) != list(b.attrs.items()):
            return f"{here}: attrs {a.attrs!r} != {b.attrs!r}"
        if len(a.children) != len(b.children):
            return f"{here}: children {a.children!r} != {b.children!r}"
        for i, (x, y) in enumerate(zip(a.children, b.children)):
            if isinstance(y, str):
                if x != y:
                    return f"{here}[{i}]: text {x!r} != {y!r}"
            elif not isinstance(x, Node):
                return f"{here}[{i}]: {x!r} is not an element {y!r}"
            else:
                stack.append((x, y, f"{here}[{i}]"))
    return None


def assert_matches_oracle(html: str) -> None:
    diff = tree_diff(parse_html(html), oracle_parse_html(html))
    assert diff is None, f"{diff}\ninput: {html!r}"


def walk_find_all(root: Node, names) -> List[Node]:
    names = {names} if isinstance(names, str) else set(names)
    return [el for el in root.iter_elements(True) if el.name in names]


def assert_index_matches_walk(root: Node) -> None:
    names = {el.name for el in root.iter_elements(True)} | {"absent"}
    for name in sorted(names):
        assert root.find_all(name) == walk_find_all(root, name), name
    for group in (C.TEXT_PROPERTY_TAGS, ["th", "td"], ["ul", "ol"], ["div", "p"]):
        assert root.find_all(group) == walk_find_all(root, group), group
        first = walk_find_all(root, group)[:1]
        assert root.find_all(group, limit=1) == first
        assert root.find(group) == (first[0] if first else None)


# -- inputs -------------------------------------------------------------------

_MARKUP = [
    "<", ">", "/", "!", "--", "=", '"', "'", "&", ";", "&amp;", "&#x41",
    "&#163;", "&nbsp", "&lt;", "<!--", "-->", "<!DOCTYPE>", "<!doctype html>",
    "<?", "<?php x ?>", "]]>", "<![CDATA[", "<![if IE]>", "<![endif]>",
    "<![foo", "<!x>", "</>", "</", "\x00", "é", "ſ", " ", "\n", "\t", "\x0b",
    "<div", "<DIV", "<p>", "</p>", "</P >", "<b>", "</B>", "<i>", "</i>",
    "<span", "</span>", "<a", "</a>", "<ul>", "<li>", "</li>", "<table>",
    "<td>", "</td>", "<br>", "<br/>", "<br />", "<img src=x>", "<hr/>",
    "<input disabled>", "<div/>", "</br>", "<script>", "</script>",
    "<SCRIPT type='application/json'>", "</script >", "</ſcript>",
    "<style>", "</style>", "<STYLE>", " class=", " id=", 'id="a"',
    "'q'", "=x", " a b", "x", "Ab", "text",
]

_names = st.sampled_from(["div", "p", "span", "b", "a", "ul", "li", "td",
                          "table", "img", "br", "script", "style", "DIV",
                          "Em", "data-x", "h1", "x.y", "n:s"])
_attr_names = st.sampled_from(["class", "id", "href", "CLASS", "data-k",
                               "disabled", "_x", ":v", "a.b", "Title"])
_values = st.text(alphabet="ab &;<>/=\"' \n\x0b", max_size=6)


@st.composite
def _tags(draw) -> str:
    """Start and end tags, mostly well formed, with every quoting."""
    name = draw(_names)
    if draw(st.booleans()):
        return f"</{name}{draw(st.sampled_from(['', ' ', ' x', '/']))}>"
    parts = []
    for _ in range(draw(st.integers(0, 3))):
        key = draw(_attr_names)
        value = draw(_values)
        quote = draw(st.sampled_from(['"', "'", "", None]))
        if quote is None:
            parts.append(key)
        else:
            value = value.replace(quote, "") if quote else value
            sep = draw(st.sampled_from(["=", " = ", "=\n"]))
            parts.append(f"{key}{sep}{quote}{value}{quote}")
    space = draw(st.sampled_from([" ", "  ", "\n", "\t", ""]))
    tail = draw(st.sampled_from([">", "/>", " />", " >", ""]))
    return f"<{name}" + "".join(space + p for p in parts) + tail


_markup = st.lists(
    st.one_of(st.sampled_from(_MARKUP), _tags(),
              st.text(alphabet="ab<>/&;=!-?\"' ", max_size=4)),
    max_size=30).map("".join)


def _fixture_html() -> List[str]:
    """The HTML string constants of the other tests/test_dom*.py files."""
    here = os.path.dirname(os.path.abspath(__file__))
    out = []
    for path in sorted(glob.glob(os.path.join(here, "test_dom*.py"))):
        if os.path.basename(path) == os.path.basename(__file__):
            continue
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        out.extend(node.value for node in ast.walk(tree)
                   if isinstance(node, ast.Constant)
                   and isinstance(node.value, str) and "<" in node.value)
    return out


# -- tests --------------------------------------------------------------------

@given(_markup)
def test_markup_alphabet_matches_oracle(html):
    assert_matches_oracle(html)


@given(st.lists(st.one_of(_tags(), st.sampled_from(["x", " ", "&amp;", "a&b"])),
                max_size=40).map("".join))
def test_generated_tags_match_oracle(html):
    assert_matches_oracle(html)


@pytest.mark.parametrize("html", [
    "", "<", "a<", "&", "x &amp", "<div", "<div a='1", "</div", "<!--",
    "<!-- x", "<?pi", "<!doctype", "<![CDATA[x", "<![foo]>a<p>b",
    "<p>a</p><![bad x]><b>lost</b>", "<script>unclosed <b>x</b>",
    "<style>a</style><script>b</ſcript>c</script>d", "<a b=1 c='2' d=\"3\" e>",
    "<a x=\"1\"y='2'>", "<a  b  =  '1'  / >", "<div\x0bid=x>", "<p/ class=a>",
    "</p x y>", "< p>", "<<p>>", "<p a=\"&amp;&lt\">&#0;&#x110000;</p>",
])
def test_edge_inputs_match_oracle(html):
    assert_matches_oracle(html)


def test_fixtures_match_oracle():
    fixtures = _fixture_html()
    assert len(fixtures) > 20
    for html in fixtures:
        assert_matches_oracle(html)


@pytest.mark.parametrize("seed", [1, 2])
def test_perfbench_pages_match_oracle(seed):
    from perfbench import gen

    for page in gen.make_pages(seed, 300):
        assert_matches_oracle(page.html)


def test_web_corpus_pages_match_oracle():
    from perfbench import gen

    for page in gen.make_web_corpus(1, 120):
        assert_matches_oracle(page.html)


@given(_markup)
def test_index_equals_walk_before_and_after_unwrap(html):
    root = parse_html(html)
    assert_index_matches_walk(root)
    general.unwrap_text_property_tags(root)
    assert not walk_find_all(root, C.TEXT_PROPERTY_TAGS)
    assert_index_matches_walk(root)


def test_index_on_a_tree_shared_by_two_queries():
    """The extraction kernel parses a turn once and runs every query's
    ladder on the one tree; the second ladder sees the first's unwrap."""
    from perfbench import gen

    queries = [parse_query_hybrid(q) for q, _, _ in gen.QUERIES.values()]
    for page in gen.make_pages(3, 60):
        root = parse_html(page.html)
        for q in queries:
            got = parser.extract_from_root(root, q)
            want = parser.extract_turn(page.html, q)
            assert got == want
            assert_index_matches_walk(root)


# -- unwrap_all ---------------------------------------------------------------

_nested = st.recursive(
    st.sampled_from(["x", "y z", "&amp;", ""]),
    lambda inner: st.builds(
        lambda tag, attr, kids: f"<{tag}{attr}>{''.join(kids)}</{tag}>",
        st.sampled_from(["b", "i", "em", "strong", "div", "p", "span", "h2"]),
        st.sampled_from(["", ' class="c"']),
        st.lists(inner, max_size=4)),
    max_leaves=25)


@given(st.lists(_nested, max_size=4).map("".join))
def test_unwrap_all_equals_sequential_unwrap(html):
    for keep in (lambda el: True, lambda el: not el.attrs):
        seq, bulk = parse_html(html), parse_html(html)
        for el in walk_find_all(seq, C.TEXT_PROPERTY_TAGS):
            if keep(el):
                el.unwrap()
        dom.unwrap_all([el for el in bulk.find_all(C.TEXT_PROPERTY_TAGS)
                        if keep(el)])
        diff = tree_diff(bulk, seq)
        assert diff is None, f"{diff}\ninput: {html!r}"
        assert_index_matches_walk(bulk)


def test_unwrap_many_siblings_is_linear():
    html = "<html><body>" + "<b>x</b>" * 40_000 + "</body></html>"
    t0 = time.perf_counter()
    parser.parse(html, "Can you give me the book: name and price?")
    assert time.perf_counter() - t0 < 2.0


# -- stray end tags -----------------------------------------------------------

def test_stray_end_tags_are_dropped_in_constant_time():
    n = 50_000
    html = "<div>" * n + "</span>" * n
    t0 = time.perf_counter()
    root = parse_html(html)
    assert time.perf_counter() - t0 < 2.0
    # a chain of n divs; the oracle needs O(n²) here, so it checks n = 2k
    assert len(root.find_all("div")) == n and not root.find_all("span")
    node, depth = root, 0
    while node.children:
        (node,) = node.children
        depth += 1
    assert depth == n
    small = 2_000
    assert_matches_oracle("<div>" * small + "</span>" * small)
