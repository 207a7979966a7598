"""Lightweight DOM with its own tokenizer and a parse-time tag index.

The reference parses every page with BeautifulSoup's ``html.parser``
backend (e.g. ``/root/reference/src/intelligent_parser.py:73``,
``general_parser.py:96``, ``table_parser.py:71``,
``json_script_parser.py:117``).  bs4 is not a dependency of this
rebuild.  This module tokenizes with one loop written for this DOM and
builds a minimal tree that gives the same tree the stdlib
``html.parser`` tokenizer (Python 3.11.7, ``feed()`` then ``close()``)
would give, and reproduces the subset of the bs4 API the extraction
kernels need:

* ``find`` / ``find_all`` with tag-name, ``attrs``, ``class_`` and
  ``recursive`` filters, in document order;
* ``get_text()`` (concatenation of descendant text, entities decoded);
* ``unwrap()`` and ``unwrap_all()`` (TEXT_PROPERTY_TAGS cleanup,
  ``general_parser.py:98-100``);
* ``parents`` iteration (path-chain construction,
  ``general_parser.py:523-531``);
* ``.string`` for script/JSON payloads (``json_script_parser.py:128``).

Tokenizer.  At each ``<`` one compiled lexeme regex tries a well-formed
start or end tag: a name, attributes that are bare or quoted (never an
unquoted value), then ``>`` or ``/>``.  Only when it does not match does
the loop run ``html.parser``'s tolerant handling for that construct,
with ``html.parser``'s own regexes: comments, doctype, ``<?``, bogus
comments, stray ``<``, unterminated tags, and script/style CDATA.  Text
between tags is one chunk per run, as ``html.parser`` chunks it, and is
unescaped only when it contains ``&``.  ``tests/test_dom_oracle.py``
keeps the old ``html.parser``-based builder as the oracle and compares
trees node for node.

Semantics (the bs4/html.parser behaviour observable in the reference's
fixtures): tag and attribute names lowercased; a duplicate attribute's
last value wins at the first one's position; ``class`` is a token list;
a valueless attribute is ``""``; character references decoded in text
and attribute values but not inside script/style; comments dropped;
void and ``/>`` elements do not take children; a stray end tag pops to
the nearest open element of that name and is dropped when none is open
(a per-name open count makes that O(1)); an unclosed script/style
drops its content; a construct ``html.parser`` raises on (an unknown
``<![keyword``) ends the parse with the tree built so far.

Index.  The root is a :class:`Document`, which also holds
``tag → [nodes]`` in document order, filled in the same loop.  A
recursive name-only ``find_all`` on the root reads it in O(matches)
and never returns a node that ``unwrap`` detached.

This module is pure Python and runs *inside* Arrow-batched UDFs — the
per-row work is vectorized at the batch level per the north star (no
per-row Python round trips through Spark).
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import (attrfind_tolerant, endendtag, endtagfind,
                         locatestarttagend_tolerant, piclose, starttagopen,
                         tagfind_tolerant)
from operator import attrgetter
from typing import Dict, Iterator, List, Optional, Union

from _markupbase import (_commentclose, _declname_match,
                         _markedsectionclose, _msmarkedsectionclose)

VOID_ELEMENTS = {
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr",
}

# Attributes bs4 treats as whitespace-separated token lists for HTML.
_MULTI_VALUED = {"class"}

AttrFilter = Dict[str, Union[str, bool, List[str]]]


class Node:
    """One element.  Text nodes are plain ``str`` entries in ``children``.
    ``pos`` is the element's rank in document order at parse time."""

    __slots__ = ("name", "attrs", "children", "parent", "pos")

    index = None    # tag → [nodes]; only the Document root has one

    def __init__(self, name: str, attrs: Optional[dict] = None,
                 parent: Optional["Node"] = None, pos: int = 0):
        self.name = name
        self.attrs: dict = attrs if attrs is not None else {}
        self.children: list = []  # Node | str
        self.parent = parent
        self.pos = pos

    # -- attribute access -------------------------------------------------
    def get(self, key: str, default=None):
        return self.attrs.get(key, default)

    def __getitem__(self, key: str):
        return self.attrs[key]

    def __contains__(self, key: str) -> bool:
        return key in self.attrs

    # -- traversal --------------------------------------------------------
    @property
    def parents(self) -> Iterator["Node"]:
        node = self.parent
        while node is not None:
            yield node
            node = node.parent

    def iter_elements(self, recursive: bool = True) -> Iterator["Node"]:
        """Descendant elements in document order (self excluded).

        Iterative DFS — nested generators cost O(depth) per yield."""
        if not recursive:
            for child in self.children:
                if isinstance(child, Node):
                    yield child
            return
        stack = [(self.children, 0)]
        while stack:
            children, i = stack[-1]
            n = len(children)
            while i < n:
                child = children[i]
                i += 1
                if isinstance(child, Node):
                    stack[-1] = (children, i)
                    yield child
                    if child.children:
                        stack.append((child.children, 0))
                    break
            else:
                stack.pop()

    @property
    def descendants(self) -> Iterator["Node"]:
        return self.iter_elements(True)

    def has_child_elements(self) -> bool:
        """``bool(self.find_all(recursive=False))`` without the list."""
        for child in self.children:
            if isinstance(child, Node):
                return True
        return False

    # -- text -------------------------------------------------------------
    def get_text(self) -> str:
        # iterative: adversarially deep markup must not hit the Python
        # recursion limit inside the extraction kernel
        parts: List[str] = []
        stack: List[list] = [self.children[::-1]]
        while stack:
            top = stack[-1]
            if not top:
                stack.pop()
                continue
            child = top.pop()
            if isinstance(child, Node):
                if child.children:
                    stack.append(child.children[::-1])
            else:
                parts.append(child)
        return "".join(parts)

    @property
    def string(self) -> Optional[str]:
        """bs4 ``.string``: the single text child, else ``None``."""
        if len(self.children) == 1 and isinstance(self.children[0], str):
            return self.children[0]
        if len(self.children) == 1 and isinstance(self.children[0], Node):
            return self.children[0].string
        return None

    # -- mutation ---------------------------------------------------------
    def unwrap(self) -> None:
        """Replace this element by its children in the parent."""
        unwrap_all((self,))

    # -- search -----------------------------------------------------------
    def find_all(self, name=None, attrs: Optional[AttrFilter] = None,
                 recursive: bool = True, limit: Optional[int] = None,
                 **kwargs) -> List["Node"]:
        """The root's index for a recursive name-only search, else one
        scan that stops at ``limit``."""
        names = _normalize_name(name)
        merged = attrs
        if kwargs:
            merged = dict(attrs) if attrs else {}
            for key, val in kwargs.items():
                merged["class" if key == "class_" else key] = val
        if recursive and not merged and names is not None \
                and self.index is not None:
            out = self._indexed(names)
            return out[:limit] if limit else out
        out: List[Node] = []
        for el in self.iter_elements(True) if recursive else self.children:
            if (isinstance(el, Node) and (names is None or el.name in names)
                    and (not merged or _attrs_match(el, merged))):
                out.append(el)
                if len(out) == limit:
                    break
        return out

    findAll = find_all

    def find(self, name=None, attrs: Optional[AttrFilter] = None,
             recursive: bool = True, **kwargs) -> Optional["Node"]:
        found = self.find_all(name, attrs, recursive, limit=1, **kwargs)
        return found[0] if found else None

    def _indexed(self, names) -> List["Node"]:
        index = self.index
        found = [index[name] for name in names if name in index]
        if not found:
            return []
        if len(found) == 1:
            nodes = found[0]
        else:
            nodes = sorted((el for part in found for el in part),
                           key=attrgetter("pos"))
        # unwrap detaches a node by clearing its parent
        return [el for el in nodes if el.parent is not None]

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"<{self.name} {self.attrs}>"


class Document(Node):
    """The root: a node that also holds the tag index."""

    __slots__ = ("index",)

    def __init__(self) -> None:
        super().__init__("[document]")
        self.index: Dict[str, List[Node]] = {}


def unwrap_all(nodes) -> None:
    """Replace each node by its children in its parent.  The tree equals
    calling :meth:`Node.unwrap` on each node in document order (text
    chunks stay separate strings), but each parent that keeps its place
    has its ``children`` rebuilt once: unwrapping k siblings is O(k),
    not O(k × siblings)."""
    doomed = {id(n): n for n in nodes if n.parent is not None}
    if not doomed:
        return
    # a host is the nearest ancestor that stays in the tree
    host_of: Dict[int, Node] = {}
    hosts: Dict[int, Node] = {}
    for node in doomed.values():
        host = node.parent
        while id(host) in doomed:
            known = host_of.get(id(host))
            if known is not None:
                host = known
                break
            host = host.parent
        host_of[id(node)] = host
        hosts[id(host)] = host
    for host in hosts.values():
        out: list = []
        stack = [iter(host.children)]
        while stack:
            for child in stack[-1]:
                if isinstance(child, Node):
                    if id(child) in doomed:
                        stack.append(iter(child.children))
                        break
                    child.parent = host
                out.append(child)
            else:
                stack.pop()
        host.children = out
    for node in doomed.values():
        node.children = []
        node.parent = None


def _normalize_name(name):
    if name is None or name is True:
        return None
    if isinstance(name, str):
        return {name}
    return set(name)


def _attr_value_matches(actual, expected) -> bool:
    if expected is True:
        return actual is not None
    if actual is None:
        return False
    if isinstance(actual, list):
        if isinstance(expected, str):
            return expected in actual or expected == " ".join(actual)
        if isinstance(expected, list):
            # token-subset match: every requested token present
            for tok in expected:
                if tok not in actual:
                    return False
            return True
        return False
    if isinstance(expected, list):
        return actual in expected
    return actual == expected


def _attrs_match(el: Node, attrs: AttrFilter) -> bool:
    own = el.attrs
    for key, expected in attrs.items():
        actual = own.get(key)
        if actual == expected and actual is not None:
            continue    # the common case of path-chain replay
        if not _attr_value_matches(actual, expected):
            return False
    return True


# -- tokenizer ---------------------------------------------------------------

_WS = r"[ \t\n\r\f]"
_TAG_NAME = r"[a-zA-Z][-.:a-zA-Z0-9_]*"
_ATTR_NAME = r"[a-zA-Z_:][-.:a-zA-Z0-9_]*"
_QUOTED = r"(?:\"[^\"]*\"|'[^']*')"
# a well-formed end tag (group 1) or start tag (name, attribute string,
# "/" of "/>"): attributes are bare or quoted, never unquoted values;
# anything else goes through the tolerant handlers
_LEXEME = re.compile(
    rf"<(?:/({_TAG_NAME})|({_TAG_NAME})"
    rf"((?:{_WS}+{_ATTR_NAME}(?:{_WS}*={_WS}*{_QUOTED})?)*){_WS}*(/?))>")
# one attribute of a lexeme's attribute string: name, "value", 'value'
_ATTRS = re.compile(
    rf"({_ATTR_NAME})(?:{_WS}*={_WS}*(?:\"([^\"]*)\"|'([^']*)'))?")
_CDATA_END = {name: re.compile(r"</\s*%s\s*>" % name, re.I)
              for name in ("script", "style")}


class _Builder:
    """Tokenizer loop plus stack-based tree builder with end-tag
    recovery.  The tolerant handlers are ``html.parser``'s (3.11.7),
    ported to positions in one string."""

    __slots__ = ("raw", "root", "stack", "open", "cdata", "count")

    def __init__(self, raw: str) -> None:
        self.raw = raw
        self.root = Document()
        self.stack: List[Node] = [self.root]
        self.open: Dict[str, int] = {}    # name → open elements so named
        self.cdata: Optional[str] = None  # "script"/"style" while inside one
        self.count = 0                    # elements built so far

    # -- tree -------------------------------------------------------------
    def start(self, tag: str, attrs: dict, closed: bool) -> None:
        parent = self.stack[-1]
        node = Node(tag, attrs, parent, self.count)
        self.count += 1
        parent.children.append(node)
        same = self.root.index.get(tag)
        if same is None:
            self.root.index[tag] = [node]
        else:
            same.append(node)
        if not closed and tag not in VOID_ELEMENTS:
            self.stack.append(node)
            self.open[tag] = self.open.get(tag, 0) + 1

    def end(self, tag: str) -> None:
        if not self.open.get(tag):
            return   # void, or nothing of that name open: dropped
        stack, open_ = self.stack, self.open
        while True:
            name = stack.pop().name
            open_[name] -= 1
            if name == tag:
                return

    def data(self, text: str) -> None:
        if text:
            self.stack[-1].children.append(text)

    # -- tokenizer --------------------------------------------------------
    def run(self) -> None:
        """``html.parser``'s ``feed(raw)`` then ``close()`` in one pass: a
        construct left incomplete at the end of input becomes text, as
        ``close()`` makes it."""
        raw = self.raw
        n = len(raw)
        i = 0
        find = raw.find
        lexeme = _LEXEME.match
        start, end, data = self.start, self.end, self.data
        while i < n:
            if self.cdata is not None:
                m = _CDATA_END[self.cdata].search(raw, i)
                if m is None:
                    return   # unclosed script/style: its text is dropped
                j = m.start()
                if i < j:
                    data(raw[i:j])
                i = self._endtag(j)
                continue
            j = find("<", i)
            if j < 0:
                j = n
            if i < j:
                text = raw[i:j]
                data(unescape(text) if "&" in text else text)
                if j == n:
                    return
            i = j
            m = lexeme(raw, i)
            if m is not None:
                closing, tag, attrs, slash = m.groups()
                if closing is not None:
                    end(closing.lower())
                else:
                    tag = tag.lower()
                    start(tag, _lexeme_attrs(attrs) if attrs else {}, bool(slash))
                    if not slash and tag in _CDATA_END:
                        self.cdata = tag
                i = m.end()
                continue
            k = self._tolerant(i)
            if k < 0:
                # incomplete construct at end of input (close() rules)
                k = find(">", i + 1)
                if k < 0:
                    k = find("<", i + 1)
                    if k < 0:
                        k = i + 1
                else:
                    k += 1
                text = raw[i:k]
                data(unescape(text) if "&" in text else text)
            i = k

    def _tolerant(self, i: int) -> int:
        """``html.parser``'s ``goahead`` dispatch at a ``<``: the end of the
        construct, or -1 when it is incomplete."""
        raw = self.raw
        if starttagopen.match(raw, i):
            return self._starttag(i)
        if raw.startswith("</", i):
            return self._endtag(i)
        if raw.startswith("<!--", i):
            m = _commentclose.search(raw, i + 4)
            return m.end() if m else -1
        if raw.startswith("<?", i):
            m = piclose.search(raw, i + 2)
            return m.end() if m else -1
        if raw.startswith("<!", i):
            return self._declaration(i)
        self.data("<")
        return i + 1

    def _starttag(self, i: int) -> int:
        """``parse_starttag`` + ``check_for_whole_start_tag``."""
        raw = self.raw
        j = locatestarttagend_tolerant.match(raw, i).end()
        nxt = raw[j:j + 1]
        if nxt == ">":
            endpos = j + 1
        elif nxt == "/":
            if not raw.startswith("/>", j):
                return -1
            endpos = j + 2
        elif nxt == "" or nxt in ("abcdefghijklmnopqrstuvwxyz=/"
                                  "ABCDEFGHIJKLMNOPQRSTUVWXYZ"):
            return -1
        else:
            endpos = j if j > i else i + 1
        m = tagfind_tolerant.match(raw, i + 1)
        k = m.end()
        tag = m.group(1).lower()
        pairs = []
        while k < endpos:
            m = attrfind_tolerant.match(raw, k)
            if not m:
                break
            name, rest, value = m.group(1, 2, 3)
            if not rest:
                value = None
            elif value[:1] == "'" == value[-1:] or value[:1] == '"' == value[-1:]:
                value = value[1:-1]
            pairs.append((name.lower(), value))
            k = m.end()
        close = raw[k:endpos].strip()
        if close not in (">", "/>"):
            self.data(raw[i:endpos])
            return endpos
        closed = close.endswith("/>")
        self.start(tag, _attr_dict(pairs), closed)
        if not closed and tag in _CDATA_END:
            self.cdata = tag
        return endpos

    def _endtag(self, i: int) -> int:
        """``parse_endtag``."""
        raw = self.raw
        m = endendtag.search(raw, i + 1)
        if not m:
            return -1
        gtpos = m.end()
        m = endtagfind.match(raw, i)
        if not m:
            if self.cdata is not None:
                self.data(raw[i:gtpos])
                return gtpos
            m = tagfind_tolerant.match(raw, i + 2)
            if not m:
                if raw[i:i + 3] == "</>":
                    return i + 3
                return self._bogus_comment(i)
            self.end(m.group(1).lower())
            return raw.find(">", m.end()) + 1
        tag = m.group(1).lower()
        if self.cdata is not None and tag != self.cdata:
            self.data(raw[i:gtpos])
            return gtpos
        self.end(tag)
        self.cdata = None
        return gtpos

    def _bogus_comment(self, i: int) -> int:
        pos = self.raw.find(">", i + 2)
        return -1 if pos < 0 else pos + 1

    def _declaration(self, i: int) -> int:
        """``parse_html_declaration`` after ``<!`` (not ``<!--``)."""
        raw = self.raw
        if raw.startswith("<![", i):
            return self._marked_section(i)
        if raw[i:i + 9].lower() == "<!doctype":
            pos = raw.find(">", i + 9)
            return -1 if pos < 0 else pos + 1
        return self._bogus_comment(i)

    def _marked_section(self, i: int) -> int:
        """``_markupbase.ParserBase.parse_marked_section``; an unknown
        keyword raises there, and so here."""
        raw = self.raw
        j = i + 3
        if j == len(raw):
            return -1
        m = _declname_match(raw, j)
        if not m:
            raise ValueError(f"expected name token at {raw[i:i + 20]!r}")
        if m.end() == len(raw):
            return -1
        keyword = m.group().strip().lower()
        if keyword in {"temp", "cdata", "ignore", "include", "rcdata"}:
            m = _markedsectionclose.search(raw, j)
        elif keyword in {"if", "else", "endif"}:
            m = _msmarkedsectionclose.search(raw, j)
        else:
            raise ValueError(f"unknown status keyword {keyword!r} in marked section")
        return m.end() if m else -1


def _attr_dict(pairs) -> dict:
    """(lowercased name, raw value or None) pairs as a node's attrs."""
    attrs: dict = {}
    for key, value in pairs:
        # duplicate attributes: LAST occurrence wins — bs4's html.parser
        # builder default (on_duplicate_attribute='replace')
        if not value:
            value = ""
        elif "&" in value:
            value = unescape(value)
        attrs[key] = value.split() if key in _MULTI_VALUED else value
    return attrs


def _lexeme_attrs(text: str) -> dict:
    """The attributes of a start tag the lexeme matched: bare or quoted,
    so a value is the double-quoted, the single-quoted or no text."""
    return _attr_dict((key.lower(), dq or sq)
                      for key, dq, sq in _ATTRS.findall(text))


def parse_html(html: str) -> Document:
    """Parse an HTML string into a tree; the root is a :class:`Document`."""
    builder = _Builder(html)
    try:
        builder.run()
    except Exception:
        # html.parser raises on a few malformed declarations; the tree
        # built so far is the answer, as it was with html.parser (parse
        # failures are accounted for at the pipeline level,
        # engine/pipeline.py)
        pass
    return builder.root
