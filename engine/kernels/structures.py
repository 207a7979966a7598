"""Repeated-structure discovery & likely-container scan — SURVEY.md §2.5 G2/G4.

Replicates ``/root/reference/src/utils/html_utils.py``:

* ``find_repeated_structures`` (``:18-79``): group div/span/article/
  section elements by their full class string (iterating tag names in
  that fixed order, so all divs precede all spans in insertion order);
  ``li`` items are appended under their parent ``ul``/``ol``'s class
  key — including merging into an existing div/span group that shares
  the class string, verbatim; keep groups with >1 member; sort by
  group size descending (stable, so insertion order breaks ties).

  The structural-similarity filter (G3, ``html_utils.py:81-191``)
  populates a list the reference then discards — the returned groups
  ignore it entirely (SURVEY.md §2.5 G2/G3).  It is deliberately not
  rebuilt: it has no observable effect on output.

* ``find_likely_entity_container`` (``:193-214``): every element except
  head/script/style/meta/link with ≥ num_attributes descendants.
"""

from __future__ import annotations

from typing import Dict, List

from engine.dom import Node

_SKIP_TAGS = {"head", "script", "style", "meta", "link"}
_GROUPED_TAGS = ("div", "span", "article", "section")


def find_repeated_structures(root: Node) -> List[List[Node]]:
    """G2 — candidate container groups, largest group first.

    Reads the root's tag index once per tag name, as the reference
    walks the tree once per tag name plus once for lists.  Ordering
    semantics are preserved exactly: per-class member lists receive all
    divs (document order), then all spans, etc. — the insertion order
    the reference's per-tag-name loops produce, which matters because
    the final sort is stable and ties break on it."""
    elements_by_class: Dict[str, List[Node]] = {}
    for tag_name in _GROUPED_TAGS:
        for element in root.find_all(tag_name):
            if "class" in element.attrs:
                class_name = " ".join(element.attrs["class"])
                elements_by_class.setdefault(class_name, []).append(element)

    for list_element in root.find_all(("ul", "ol")):
        list_items = list_element.find_all("li")
        class_name = " ".join(list_element.get("class", []))
        elements_by_class.setdefault(class_name, []).extend(list_items)

    groups = [els for els in elements_by_class.values() if els and len(els) > 1]
    return sorted(groups, key=len, reverse=True)


def _descendant_counts(root: Node, counts: dict) -> int:
    """Iterative post-order — deep trees must not blow the recursion
    limit inside the kernel."""
    stack = [(root, False)]
    while stack:
        node, expanded = stack.pop()
        if expanded:
            total = 0
            for child in node.children:
                if isinstance(child, Node):
                    total += 1 + counts[id(child)]
            counts[id(node)] = total
        else:
            stack.append((node, True))
            for child in node.children:
                if isinstance(child, Node):
                    stack.append((child, False))
    return counts[id(root)]


def find_likely_entity_containers(root: Node, num_attributes: int = 2) -> List[Node]:
    """G4 — elements (document order) with ≥ num_attributes descendants.

    Descendant counts come from one post-order pass (the reference
    materializes ``find_all()`` per element — O(n²))."""
    counts: dict = {}
    _descendant_counts(root, counts)
    likely: List[Node] = []
    for el in root.iter_elements(recursive=True):
        if el.name in _SKIP_TAGS:
            continue
        if counts[id(el)] >= num_attributes:
            likely.append(el)
    return likely
