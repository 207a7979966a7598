"""General DOM extraction (priority 3) — SURVEY.md §2.5 G1, G5-G12.

Replicates ``/root/reference/src/parsers/html_parser/general_parser.py``
in its deterministic configuration (no sentence-transformer: the
similarity tier G8 returns no match and common-attribute scores are
0.0, exactly as the reference degrades when the model is absent,
``general_parser.py:13-25,270,294,306``).

Carried quirks (observable in outputs — SURVEY.md §7.4.3):

* G1 text-property-tag unwrap before extraction (``:98-100``);
* G5 group scoring: evaluate only the FIRST container per group;
  keep groups finding ≥ max(1, n//2) attrs; early-break on an
  all-attrs-high-confidence group; winner selection where the running
  ``highest_count`` is NOT updated on the confidence branch
  (``:164-178`` — replicated verbatim); 0.4 confidence floor (``:182``);
* G6 path-chain replay on sibling containers with value-bearing
  attribute keys removed from matching, img fan-out with best
  attribute-match, and most-attrs-matched tie-break (``:363-458``);
  per-attr fallback to from-scratch search on replay miss (``:349-352``);
* per-container records on the replay path only carry the attrs that
  were found in the first container (``:187-205``) while the first
  record carries all requested attrs — dict-shape asymmetry kept;
* G7 strategy ladder: image keywords → first ``img[src]``; link
  keywords → first ``a[href]``; an image/link miss returns None
  WITHOUT trying the text strategies (``:491-493``); exact substring
  match on class/id/name/data-* with recursion into CONTAINER_TAGS
  children before the tag's own attributes are checked (``:558-611``);
* G9 false-positive suppression on the likely-container path
  (``:225-248``) — with no similarity model the ×0.6 empty-value
  penalty never fires (score source is exact-match only), but the
  navigation-keyword null-out does;
* G10 best-record selection: most attrs found, tie → higher mean
  confidence, emit exactly one record (``:255-265``);
* G11 confidence = mean over ALL requested attrs counting missing as
  0 (``:855-868``);
* G12 element text rules (``:824-844``) — the byte-equality surface.

Dead code NOT rebuilt: G13 label/sibling search (``:799-822``), the
unreachable tail after ``return`` (``:117-121``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

from engine.dom import Node, unwrap_all
from engine.kernels import constants as C
from engine.kernels import structures
from engine.matcher import Matcher

_WS_RE = re.compile(r"\s+")
_ALNUM_RE = re.compile(r"[a-zA-Z0-9]")
_COMMON_ATTR_LIST = sorted(C.COMMON_ATTRIBUTES)


@dataclass
class TagIdentifier:
    """One step of a provenance path (ref general_parser.py:27-40).

    Attributes are COPIED from the element (the reference shares the
    live dict and later mutates it while replaying; the mutation has no
    observable effect on output — see SURVEY.md §2.5 G6 — so the
    rebuild copies for safety)."""

    tag_name: str
    attributes: Dict[str, object] = field(default_factory=dict)

    @staticmethod
    def from_element(el: Node, first_class_only: bool = False) -> "TagIdentifier":
        attrs = {}
        for k, v in el.attrs.items():
            attrs[k] = list(v) if isinstance(v, list) else v
        if first_class_only:
            cls = attrs.get("class")
            if isinstance(cls, list) and len(cls) > 0:
                attrs["class"] = [cls[0]]
        return TagIdentifier(el.name, attrs)


@dataclass
class AttributeData:
    """Per-attribute extraction result (ref general_parser.py:42-52)."""

    attribute_name: Optional[str] = None
    value: Optional[str] = ""
    score: Optional[float] = None
    path_chain: Optional[List[TagIdentifier]] = None


def get_element_text(element: Optional[Node]) -> Optional[str]:
    """G12 — the byte-equality surface for extracted text."""
    if element is None:
        return None
    if element.name == "input":
        return element.get("value", "")
    text = element.get_text().strip()
    text = _WS_RE.sub(" ", text)
    text = text.replace("\xa0", " ")
    if len(text) < 1 or not _ALNUM_RE.search(text):
        return None
    return text


def unwrap_text_property_tags(root: Node) -> None:
    """G1 — flatten b/h1-6/strong/i/em/u/small/mark/abbr/cite."""
    unwrap_all(root.find_all(C.TEXT_PROPERTY_TAGS))


# ---------------------------------------------------------------------------
# G7 strategy ladder
# ---------------------------------------------------------------------------

def _build_parent_chain(leaf: Node, leaf_id: TagIdentifier,
                        container: Node) -> List[TagIdentifier]:
    """Walk parents up to the first whose attrs equal the container's,
    keeping only the first CSS class per step (ref :519-531)."""
    chain = [leaf_id]
    for parent in leaf.parents:
        if parent.attrs == container.attrs:
            break
        chain.insert(0, TagIdentifier.from_element(parent, first_class_only=True))
    return chain


def find_image_url(container: Node, attribute: str) -> Optional[AttributeData]:
    """G7(a) — first ``img[src]`` (ref :514-534)."""
    img = container.find("img")
    if img and img.get("src"):
        leaf = TagIdentifier.from_element(img)
        return AttributeData(attribute, img["src"], 1.0,
                             _build_parent_chain(img, leaf, container))
    return None


def find_url(container: Node, attribute: str) -> Optional[AttributeData]:
    """G7(b) — first ``a[href]`` (ref :536-556)."""
    a = container.find("a")
    if a and a.get("href"):
        leaf = TagIdentifier.from_element(a)
        return AttributeData(attribute, a["href"], 1.0,
                             _build_parent_chain(a, leaf, container))
    return None


def find_by_exact_match(container: Node, attribute: str) -> Optional[AttributeData]:
    """G7(c) — substring match on class/id/name/data-* (ref :558-611).

    Container-tag children with element children are recursed into
    BEFORE their own attributes are checked — replicated verbatim."""
    attr_lower = attribute.lower()
    for tag in container.find_all(recursive=False):
        if tag.name in C.CONTAINER_TAGS and tag.has_child_elements():
            result = find_by_exact_match(tag, attribute)
            if result:
                result.path_chain.insert(0, TagIdentifier.from_element(tag))
                return result

        for class_name in tag.get("class", []):
            if attr_lower in class_name.lower() or class_name.lower() in attr_lower:
                text = get_element_text(tag)
                if text:
                    return AttributeData(attribute, text, 1.0,
                                         [TagIdentifier.from_element(tag)])

        tag_id = tag.get("id", "")
        if tag_id and (attr_lower in tag_id.lower() or tag_id.lower() in attr_lower):
            text = get_element_text(tag)
            if text:
                return AttributeData(attribute, text, 1.0,
                                     [TagIdentifier.from_element(tag)])

        tag_name_attr = tag.get("name", "")
        if tag_name_attr and (attr_lower in tag_name_attr.lower()
                              or tag_name_attr.lower() in attr_lower):
            text = get_element_text(tag)
            if text:
                return AttributeData(attribute, text, 1.0,
                                     [TagIdentifier.from_element(tag)])

        for attr_key, attr_value in tag.attrs.items():
            if attr_key.startswith("data-") and attr_value:
                if isinstance(attr_value, str) and (
                        attr_lower in attr_value.lower()
                        or attr_value.lower() in attr_lower):
                    text = get_element_text(tag)
                    if text:
                        return AttributeData(attribute, text, 1.0,
                                             [TagIdentifier.from_element(tag)])
    return None


def find_attribute_value(container: Node, attribute: str,
                         matcher: Optional[Matcher] = None,
                         threshold: float = C.SIMILARITY_THRESHOLD) -> Optional[AttributeData]:
    """G7 ladder (ref :460-512).  The similarity tier (G8) runs only
    when a matcher is plugged in; with ``matcher=None`` this is the
    reference's deterministic degraded configuration."""
    attr_lower = attribute.lower()
    is_image_or_link = False

    if any(kw in attr_lower for kw in C.IMAGE_KEYWORDS):
        is_image_or_link = True
        value = find_image_url(container, attribute)
        if value:
            return value

    if not is_image_or_link and any(kw in attr_lower for kw in C.LINK_KEYWORDS):
        is_image_or_link = True
        value = find_url(container, attribute)
        if value:
            return value

    if is_image_or_link:
        return None

    exact = find_by_exact_match(container, attribute)
    if exact:
        return exact

    if matcher is not None:
        return find_by_similarity(container, attribute, matcher, threshold)
    return None


# ---------------------------------------------------------------------------
# G8 similarity tier (model-pluggable; ref :613-797)
# ---------------------------------------------------------------------------

def common_attributes_similarity_score(target: str, matcher: Matcher) -> float:
    """Max similarity of ``target`` against COMMON_ATTRIBUTES
    (ref :306-322)."""
    if not target:
        return 0.0
    _, score = matcher.best_match(target, _COMMON_ATTR_LIST)
    return score


def _element_similarity_to_common_attr(container: Node, matcher: Matcher) -> float:
    """Highest common-attribute similarity over the container's own
    class/id/name/data-* strings (ref :613-641; itemprop excluded,
    mirroring the reference)."""
    texts = []
    classes = " ".join(container.get("class", []))
    if classes.strip():
        texts.append(classes)
    tag_id = container.get("id", "")
    if tag_id.strip():
        texts.append(tag_id)
    tag_name = container.get("name", "")
    if tag_name.strip():
        texts.append(tag_name)
    for attr_key, attr_value in container.attrs.items():
        if attr_key.startswith("data-") and attr_value:
            if isinstance(attr_value, str):
                texts.append(attr_value)
    highest = 0.0
    for text in texts:
        score = common_attributes_similarity_score(text, matcher)
        if score > highest:
            highest = score
    return highest


def find_by_similarity(container: Node, attribute: str, matcher: Matcher,
                       threshold: float, depth: int = 4) -> Optional[AttributeData]:
    """G8 — recursive similarity search, replicated verbatim from
    ref :645-797 including its quirks:

    * depth limit 4;
    * candidates are each child's class-string / id / name / itemprop /
      data-* values (one candidate per non-empty string, same tag);
    * no candidates → fallback text at the common-attribute score;
    * best candidate is a container: ≥ threshold → recurse into it
      (keep only if strictly better), else recurse into ALL container
      candidates and take the global max — the returned path chain is
      prefixed with the BEST element's tag even when the winning
      recursion came from a different element (ref :759-761);
    * best candidate non-container below threshold → fallback text at
      the SIMILARITY score (not the common-attr score, ref :786-789).
    """
    if depth <= 0:
        return None
    common_attr_score = _element_similarity_to_common_attr(container, matcher)

    candidates: list = []
    elements: list = []
    fallback_text = ""
    fallback_tag: Optional[Node] = None

    for tag in container.find_all(recursive=False):
        if tag.name in C.TEXT_TAGS and not fallback_text:
            text = get_element_text(tag)
            fallback_text = text if text else ""
            fallback_tag = tag

        classes = " ".join(tag.get("class", []))
        tag_id = tag.get("id", "")
        tag_name = tag.get("name", "")
        itemprop = tag.get("itemprop", "")
        for text in (classes, tag_id, tag_name, itemprop):
            if text.strip():
                candidates.append(text)
                elements.append(tag)
        for attr_key, attr_value in tag.attrs.items():
            if attr_key.startswith("data-") and attr_value and isinstance(attr_value, str):
                candidates.append(attr_value)
                elements.append(tag)

    if not candidates:
        if common_attr_score > 0.0 and fallback_tag is not None:
            return AttributeData(attribute, fallback_text, common_attr_score,
                                 [TagIdentifier.from_element(fallback_tag)])
        return None

    best_idx, similarity_score = matcher.best_match(attribute, candidates)
    best_element_tag = elements[best_idx]

    if best_element_tag.name in C.CONTAINER_TAGS and best_element_tag.has_child_elements():
        if similarity_score >= threshold:
            result = find_by_similarity(best_element_tag, attribute, matcher,
                                        threshold, depth - 1)
            if result and result.score > similarity_score:
                return AttributeData(
                    attribute, result.value, result.score,
                    [TagIdentifier.from_element(best_element_tag)] + result.path_chain)
            if common_attr_score > similarity_score and fallback_tag is not None:
                return AttributeData(attribute, fallback_text, common_attr_score,
                                     [TagIdentifier.from_element(fallback_tag)])
            return None

        highest_score = 0.0
        result = None
        evaluated = set()
        for element in elements:
            if id(element) in evaluated:
                continue
            evaluated.add(id(element))
            if element.name in C.CONTAINER_TAGS and element.has_child_elements():
                res = find_by_similarity(element, attribute, matcher,
                                         threshold, depth - 1)
                if res and (res.score > highest_score or result is None):
                    highest_score = res.score
                    result = res
        if highest_score > similarity_score and result is not None:
            return AttributeData(
                attribute, result.value, result.score,
                [TagIdentifier.from_element(best_element_tag)] + result.path_chain)
        if common_attr_score > similarity_score and fallback_tag is not None:
            return AttributeData(attribute, fallback_text, common_attr_score,
                                 [TagIdentifier.from_element(fallback_tag)])
        return None

    if similarity_score >= threshold:
        return AttributeData(attribute, get_element_text(best_element_tag),
                             similarity_score,
                             [TagIdentifier.from_element(best_element_tag)])
    if fallback_tag is not None:
        return AttributeData(attribute, fallback_text, similarity_score,
                             [TagIdentifier.from_element(fallback_tag)])
    return None


# ---------------------------------------------------------------------------
# G6 path-chain replay
# ---------------------------------------------------------------------------

def _most_matched(candidates: List[Node], attrs: Dict[str, object]) -> Optional[Node]:
    """Pick the candidate matching the most (key, value) pairs exactly;
    returns None when nothing matches any pair (ref :391-401,417-427)."""
    best, best_count = None, 0
    for cand in candidates:
        count = sum(1 for k, v in attrs.items() if cand.get(k) == v)
        if count > best_count:
            best_count = count
            best = cand
    return best


def chain_steps(path_chain: List[TagIdentifier]) -> List[Tuple[str, Dict[str, object]]]:
    """G6 — a path chain as the (tag name, attributes to match) steps the
    replay uses: value-bearing attribute keys are removed from matching."""
    return [(tag_id.tag_name,
             {k: v for k, v in tag_id.attributes.items()
              if k not in C.ATTRIBUTES_MAY_CONTAIN_VALUES})
            for tag_id in path_chain]


def find_value_using_path_chain(attribute: str, container: Node,
                                path_chain: List[TagIdentifier],
                                steps: List[Tuple[str, Dict[str, object]]]
                                ) -> Optional[AttributeData]:
    """G6 — replay a compiled path on a sibling container (ref :363-458).
    ``steps`` is ``chain_steps(path_chain)``, built once per chain."""
    current: Optional[Node] = container
    for tag_name, match_attrs in steps:
        if current is None:
            return None
        if tag_name == "img":
            img_tags = current.find_all("img")
            if img_tags:
                if len(img_tags) == 1:
                    current = img_tags[0]
                else:
                    current = _most_matched(img_tags, match_attrs)
            else:
                current = None
            if current is None:
                return None
        else:
            if len(match_attrs) == 0:
                current = current.find(tag_name, recursive=False)
            else:
                found = current.find_all(tag_name, attrs=match_attrs,
                                         recursive=False)
                if found:
                    current = _most_matched(found, match_attrs) if len(found) > 1 else found[0]
                else:
                    current = None

    if current is None:
        return None

    attr_lower = attribute.lower()
    if any(kw in attr_lower for kw in C.IMAGE_KEYWORDS):
        src = current.get("src")
        if src:
            return AttributeData(value=src, path_chain=path_chain)
        srcset = current.get("srcset")
        if srcset:
            return AttributeData(value=srcset, path_chain=path_chain)
        return None

    if any(kw in attr_lower for kw in C.LINK_KEYWORDS):
        href = current.get("href")
        if href:
            return AttributeData(value=href, path_chain=path_chain)
        return None

    text = get_element_text(current)
    if text:
        return AttributeData(value=text, path_chain=path_chain)
    return None


# ---------------------------------------------------------------------------
# container-level extraction + scoring
# ---------------------------------------------------------------------------

def extract_attributes_from_container(
        container: Node, attributes: List[str],
        path_chains: Optional[Dict[str, tuple]] = None,
        matcher: Optional[Matcher] = None,
        threshold: float = C.SIMILARITY_THRESHOLD,
) -> Dict[str, Optional[AttributeData]]:
    """Ref :326-361 — replay mode only visits attrs present in the map,
    which holds ``(path_chain, chain_steps(path_chain))`` per attr."""
    result: Dict[str, Optional[AttributeData]] = {}
    if path_chains is not None:
        for attr, (chain, steps) in path_chains.items():
            value = find_value_using_path_chain(attr, container, chain, steps)
            if value is not None:
                value.attribute_name = attr
                result[attr] = value
            else:
                result[attr] = find_attribute_value(container, attr, matcher, threshold)
        return result

    for attribute in attributes:
        result[attribute] = find_attribute_value(container, attribute, matcher, threshold)
    return result


def overall_confidence(extracted: Dict[str, Optional[AttributeData]]) -> float:
    """G11 — mean score over all requested attrs, missing counts as 0."""
    if not extracted:
        return 0.0
    total, count = 0.0, 0
    for attr_data in extracted.values():
        if attr_data is not None and attr_data.score is not None:
            total += attr_data.score
        count += 1
    return total / count if count > 0 else 0.0


def all_high_confidence(extracted: Dict[str, Optional[AttributeData]],
                        threshold: float) -> bool:
    """Ref :846-853."""
    if not extracted:
        return False
    for attr_data in extracted.values():
        if attr_data is None or (attr_data.score or 0.0) < threshold:
            return False
    return True


def parse_from_repeated_structures(root: Node, attributes: List[str],
                                   similarity_threshold: float,
                                   matcher: Optional[Matcher] = None) -> List[Dict[str, Optional[str]]]:
    """G5 + G6 (ref :123-207)."""
    container_groups = structures.find_repeated_structures(root)
    if not container_groups:
        return []

    filled_counts: Dict[int, int] = {}
    first_extracts: Dict[int, Dict[str, Optional[AttributeData]]] = {}
    confidences: Dict[int, float] = {}

    for group_idx, containers in enumerate(container_groups):
        if not containers:
            continue
        extracted = extract_attributes_from_container(
            containers[0], attributes, matcher=matcher,
            threshold=similarity_threshold)
        first_extracts[group_idx] = extracted
        found = [a for a, v in extracted.items() if v is not None]
        if len(found) >= max(1, len(attributes) // 2):
            filled_counts[group_idx] = len(found)
            confidences[group_idx] = overall_confidence(extracted)
            if len(found) == len(attributes) and all_high_confidence(
                    extracted, similarity_threshold):
                break  # early stop (ref :154-156)

    # winner selection — replicated verbatim including the quirk that
    # highest_count is not refreshed on the confidence branch (ref :164-178)
    most_promising = 0
    highest_count = 0
    highest_confidence = 0.0
    for group_idx, count in filled_counts.items():
        confidence = confidences.get(group_idx, 0.0)
        if confidence > highest_confidence:
            highest_confidence = confidence
            most_promising = group_idx
        elif confidence == highest_confidence:
            n_containers = len(container_groups[group_idx])
            if count > highest_count:
                highest_count = count
                most_promising = group_idx
            elif count == highest_count and n_containers > len(container_groups[most_promising]):
                most_promising = group_idx

    if highest_confidence < C.GROUP_CONFIDENCE_FLOOR:
        return []

    containers = container_groups[most_promising]
    first_attrs = first_extracts.get(most_promising, {})
    chains = {attr: (value.path_chain, chain_steps(value.path_chain))
              for attr, value in first_attrs.items() if value is not None}

    results: List[Dict[str, Optional[str]]] = []
    for i, container in enumerate(containers):
        if i == 0:
            extracted = first_attrs
        else:
            extracted = extract_attributes_from_container(
                container, attributes, chains, matcher=matcher,
                threshold=similarity_threshold)
        if extracted and any(v for v in extracted.values()):
            results.append({attr: (v.value if v is not None else None)
                            for attr, v in extracted.items()})
    return results


def parse_from_likely_containers(root: Node, attributes: List[str],
                                 similarity_threshold: float,
                                 matcher: Optional[Matcher] = None) -> List[Dict[str, Optional[str]]]:
    """G4 + G9 + G10 (ref :209-266)."""
    containers = structures.find_likely_entity_containers(root, len(attributes))
    if not containers:
        return []

    extracts = [extract_attributes_from_container(
                    c, attributes, matcher=matcher,
                    threshold=similarity_threshold)
                for c in containers]

    best_result = None
    best_confidence = 0.0
    best_found = 0
    for extracted in extracts:
        found = [a for a, v in extracted.items() if v is not None]
        for attr in found:
            attr_data = extracted[attr]
            if attr_data is None:
                continue
            # G9(a): high common-attribute similarity with an empty
            # value → score ×0.6, value nulled (ref :232-239); only
            # fires when a matcher is plugged in (the reference's
            # model-present mode).
            if matcher is not None:
                common_attr_score = common_attributes_similarity_score(attr, matcher)
                value = attr_data.value
                if common_attr_score > 0.8 and (
                        value is None or (isinstance(value, str)
                                          and len(value.strip()) == 0)):
                    extracted[attr] = AttributeData(
                        attr, None, (attr_data.score or 0.0) * 0.6,
                        attr_data.path_chain)
                    attr_data = extracted[attr]
            # G9(b): navigation-keyword null-out is live in both modes.
            if attr in C.COMMON_ATTRIBUTES and isinstance(attr_data.value, str):
                if attr_data.value.strip().lower() in C.NAVIGATION_KEYWORDS:
                    extracted[attr] = AttributeData(attr, None, 0.0,
                                                    attr_data.path_chain)
        conf = overall_confidence(extracted)
        if len(found) > best_found or (len(found) == best_found and conf > best_confidence):
            best_found = len(found)
            best_confidence = conf
            best_result = extracted

    if best_result and best_found > 0:
        return [{attr: (v.value if v is not None else None)
                 for attr, v in best_result.items()}]
    return []


def parse_general(root: Node, entity, attributes: List[str],
                  similarity_threshold: float = 0.6,
                  matcher: Optional[Matcher] = None) -> List[Dict[str, Optional[str]]]:
    """Full general-parser path over an already-parsed DOM (ref :84-121).

    The reference re-parses the HTML here (``general_parser.py:96``);
    the rebuild shares one tree per turn across strategies.  The
    TEXT_PROPERTY_TAGS unwrap mutates the tree, so this must run LAST
    in the strategy ladder (it does: JSON and table checks precede it,
    mirroring the reference's priority order)."""
    unwrap_text_property_tags(root)
    try:
        results = parse_from_repeated_structures(root, attributes,
                                                 similarity_threshold, matcher)
        if results:
            return results
        results = parse_from_likely_containers(root, attributes,
                                               similarity_threshold, matcher)
        if results:
            return results
        return []
    except Exception:
        return []
