"""JSON-script extraction (priority 1) — SURVEY.md §2.3 J1-J8.

Replicates the deterministic surface of
``/root/reference/src/parsers/html_parser/json_script_parser.py``:

* J1 detection of ``application/ld+json`` / ``application/json`` /
  ``#__NEXT_DATA__`` scripts (``:59-103``);
* J2 flatten to dot-notation keys with ``[i]`` array indices (``:160-194``);
* J3 recursive common-prefix strip at the 50% threshold (``:196-264``
  — the comment says 70%, the code uses 0.5; the code wins);
* J4 six regex patterns grouped by array index (``:319-423``), including
  the naive ``+'s'`` pluralization quirk at ``:346``;
* J7 dedup by sorted attr-value signature (``:565-585``);
* J8 sufficiency gate ≥ 2/3 requested attrs
  (``/root/reference/src/intelligent_parser.py:81``).

J5 (semantic key matching) requires a sentence-transformer and is a
no-op in the deterministic configuration — the hook is kept.
J6 (flexible synonym matching) is dead code in the reference and is
not rebuilt (SURVEY.md §2.3).

Pure Python: runs inside the Arrow-batched extraction UDF.
"""

from __future__ import annotations

import json
import re
from typing import Any, Dict, List, Optional

from engine.dom import Node
from engine.matcher import Matcher


def find_json_scripts(root: Node) -> List[Node]:
    """J1 — collect JSON-bearing script tags, deduping __NEXT_DATA__ by
    id.  One read of the root's tag index (the reference scans three
    times); the three collection orders are preserved."""
    ld_json: List[Node] = []
    app_json: List[Node] = []
    next_data: List[Node] = []
    for el in root.find_all("script"):
        stype = el.attrs.get("type")
        if stype == "application/ld+json":
            ld_json.append(el)
        elif stype == "application/json":
            app_json.append(el)
        if el.attrs.get("id") == "__NEXT_DATA__":
            next_data.append(el)
    scripts = ld_json + app_json
    if next_data:
        existing_ids = {s.get("id") for s in scripts if s.get("id")}
        for script in next_data:
            if script.get("id") not in existing_ids:
                scripts.append(script)
    return scripts


def has_json_scripts(root: Node) -> bool:
    return len(find_json_scripts(root)) > 0


def flatten_json(data: Any, parent_key: str = "", separator: str = ".") -> Dict[str, Any]:
    """J2 — dicts → ``a.b.c``; lists → ``k[i]``; scalars kept."""
    items: List[tuple] = []
    if isinstance(data, dict):
        for key, value in data.items():
            new_key = f"{parent_key}{separator}{key}" if parent_key else key
            if isinstance(value, (dict, list)):
                items.extend(flatten_json(value, new_key, separator).items())
            else:
                items.append((new_key, value))
    elif isinstance(data, list):
        for i, value in enumerate(data):
            new_key = f"{parent_key}[{i}]" if parent_key else f"[{i}]"
            if isinstance(value, (dict, list)):
                items.extend(flatten_json(value, new_key, separator).items())
            else:
                items.append((new_key, value))
    else:
        items.append((parent_key, data))
    return dict(items)


def clean_flattened_json(flattened: Dict[str, Any]) -> Dict[str, Any]:
    """J3 — strip the most common dotted prefix covering ≥50% of keys; recurse."""
    if not flattened:
        return flattened
    keys = list(flattened.keys())
    if len(keys) <= 1:
        return flattened

    prefix_counts: Dict[str, int] = {}
    for key in keys:
        parts = key.split(".")
        for i in range(1, len(parts)):
            prefix = ".".join(parts[:i])
            prefix_counts[prefix] = prefix_counts.get(prefix, 0) + 1
    if not prefix_counts:
        return flattened

    threshold = len(keys) * 0.5
    most_common_prefix = None
    max_count = 0
    for prefix, count in prefix_counts.items():
        if count >= threshold and count > max_count:
            matching = [k for k in keys if k.startswith(prefix + ".")]
            if len(matching) >= threshold:
                most_common_prefix = prefix
                max_count = count

    if most_common_prefix:
        cleaned: Dict[str, Any] = {}
        prefix_with_dot = most_common_prefix + "."
        for key, value in flattened.items():
            if key.startswith(prefix_with_dot):
                cleaned[key[len(prefix_with_dot):]] = value
            else:
                cleaned[key] = value
        if max_count > 0:
            return clean_flattened_json(cleaned)
        return cleaned
    return flattened


def extract_using_regex(flattened: Dict[str, Any], entity: Optional[str],
                        attributes: List[str]) -> List[Dict[str, str]]:
    """J4 — the six key patterns, grouped by array index ('single' else)."""
    entity = entity or ""
    entity_instances: Dict[str, Dict[str, str]] = {}
    # naive plural quirk (ref json_script_parser.py:346)
    entity_plural = entity + "s" if not entity.endswith("s") else entity

    for attr in attributes:
        p1 = re.compile(rf"^{re.escape(attr)}$", re.IGNORECASE)
        p2 = re.compile(rf"^{re.escape(entity)}\.{re.escape(attr)}$", re.IGNORECASE)
        p3 = re.compile(rf"^{re.escape(entity)}\[(\d+)\]\.{re.escape(attr)}$", re.IGNORECASE)
        p4 = re.compile(rf"^{re.escape(entity_plural)}\[(\d+)\]\.{re.escape(attr)}$", re.IGNORECASE)
        p5 = re.compile(rf"\.{re.escape(entity)}\[(\d+)\]\.{re.escape(attr)}$", re.IGNORECASE)
        p6 = re.compile(rf"\.{re.escape(entity_plural)}\[(\d+)\]\.{re.escape(attr)}$", re.IGNORECASE)

        for key, value in flattened.items():
            if p1.match(key) or p2.match(key):
                entity_instances.setdefault("single", {})[attr] = str(value)
            for pat in (p3, p4, p5, p6):
                m = pat.match(key)
                if m:
                    entity_instances.setdefault(m.group(1), {})[attr] = str(value)

    return [attrs for attrs in entity_instances.values() if attrs]


def extract_using_semantic_matching(flattened: Dict[str, Any],
                                    attributes: List[str],
                                    matcher: Matcher,
                                    threshold: float) -> List[Dict[str, Any]]:
    """J5 — semantic key matching for attributes regex missed
    (ref json_script_parser.py:425-479).  Quirks carried: the running
    best uses ``>=`` so the LAST tied key wins; each found attr becomes
    its own single-attr dict; values stay raw (not stringified)."""
    keys = list(flattened.keys())
    if not keys:
        return []
    attr_similarities: Dict[str, float] = {}
    attr_values: Dict[str, Any] = {}
    for attr in attributes:
        for key in keys:
            similarity = matcher.similarity(attr, key)
            best = attr_similarities.get(attr, 0)
            if similarity >= threshold and similarity >= best:
                attr_similarities[attr] = similarity
                attr_values[attr] = flattened[key]
    results = []
    for attr in attributes:
        if attr in attr_values:
            results.append({attr: attr_values.get(attr, "")})
    return results


def extract_entities_from_flattened(flattened: Dict[str, Any],
                                    entity: Optional[str],
                                    attributes: List[str],
                                    matcher: Optional[Matcher] = None,
                                    threshold: float = 0.6) -> List[Dict[str, Any]]:
    """Regex first, then semantic fill-in for missing attributes,
    merged BY LIST POSITION (ref json_script_parser.py:266-317 — the
    i-th single-attr semantic dict lands on the i-th regex result,
    a quirky alignment replicated verbatim)."""
    results: List[Dict[str, Any]] = []
    regex_results = extract_using_regex(flattened, entity, attributes)
    if regex_results:
        results.extend(regex_results)

    if not results:
        empty_attributes = list(attributes)
    else:
        found: set = set()
        for result in regex_results:
            found.update(result.keys())
        empty_attributes = [a for a in attributes if a not in found]

    if empty_attributes and matcher is not None:
        semantic_results = extract_using_semantic_matching(
            flattened, empty_attributes, matcher, threshold)
        if semantic_results:
            if not results:
                results.extend(semantic_results)
            else:
                for idx, result in enumerate(semantic_results):
                    existing = results[idx] if idx < len(results) else None
                    if existing:
                        for attr, value in result.items():
                            existing[attr] = value
                        results[idx] = existing
                    else:
                        results.append(result)
    return results


def remove_duplicates(results: List[Dict[str, str]]) -> List[Dict[str, str]]:
    """J7 — dedup by full sorted (attr, value) signature, order-preserving."""
    seen = set()
    unique: List[Dict[str, str]] = []
    for result in results:
        signature = tuple(sorted(result.items()))
        if signature not in seen:
            seen.add(signature)
            unique.append(result)
    return unique


def sufficiency_gate(results: List[Dict[str, str]], attributes: List[str]) -> bool:
    """J8 — accept iff some result carries ≥ 2/3 of the requested attrs."""
    if not results:
        return False
    need = len(attributes) * 2 / 3
    return any(sum(1 for attr in attributes if attr in res) >= need for res in results)


def parse_json_scripts(root: Node, entity: Optional[str],
                       attributes: List[str],
                       scripts: Optional[List[Node]] = None,
                       matcher: Optional[Matcher] = None,
                       threshold: float = 0.6) -> List[Dict[str, str]]:
    """Full J-path over an already-parsed DOM.

    The reference re-parses the raw HTML here
    (``json_script_parser.py:117``); the rebuild parses each turn once
    per batch and shares the tree across strategies (SURVEY.md §4.1,
    "known inefficiencies to NOT replicate").  ``scripts`` may be
    passed in to avoid a second detection scan.
    """
    if scripts is None:
        scripts = find_json_scripts(root)
    if not scripts:
        return []

    all_results: List[Dict[str, str]] = []
    for script in scripts:
        content = script.string
        if not content:
            continue
        try:
            data = json.loads(content.strip())
        except (json.JSONDecodeError, ValueError):
            continue
        try:
            flattened = clean_flattened_json(flatten_json(data))
            all_results.extend(extract_entities_from_flattened(
                flattened, entity, attributes, matcher, threshold))
        except Exception:
            continue
    return remove_duplicates(all_results)
