"""ML tier (SURVEY.md §2.2 Q10/Q11, §2.6 M1-M4) behind a pluggable
seq2seq interface.

The reference's ML path wraps a fine-tuned flan-t5-small whose 250 MB
weights do not ship with this rebuild; the semantics around the model
— prompt construction, response parsing, repeated-structure scoring,
top-k group selection, best-group-by-mean-confidence — are rebuilt
faithfully and exercised in tests with a deterministic fake generator.
A real model plugs in as a per-executor lazy singleton inside the
Arrow-batched kernel (the ``predict_batch_udf`` pattern); the
reference's ThreadPoolExecutor fan-out (``ml_html_parser/parser.py:120,
173``) disappears — Spark task parallelism replaces it (SURVEY.md §4.1).

Determinism notes: the reference's ML QUERY parse generates with
``do_sample=True, temperature=0.7`` (``ml_query_parser.py:93-99``) —
nondeterministic by construction; any plugged-in model here must pin
``do_sample=False`` for reproducibility (SURVEY.md §7.4.2).  The ML
HTML extraction generates deterministically in the reference
(``ml_html_parser/parser.py:381``).

The ML likely-containers path is NOT rebuilt: in the reference it
crashes on plain-string values and is swallowed into an empty result
(the M5 latent bug, ``parser.py:230-233`` with the catch at ``:93-95``)
— dead in practice.
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional, Protocol, Tuple

from engine.dom import Node, parse_html, unwrap_all
from engine.kernels import constants as C
from engine.kernels import structures


class Seq2SeqModel(Protocol):
    """``generate(prompt) -> (text, confidence)``; confidence is the
    mean per-token probability (ref parser.py:389-396)."""

    def generate(self, prompt: str) -> Tuple[str, float]: ...


# ---------------------------------------------------------------------------
# Q10 — ML query parsing
# ---------------------------------------------------------------------------

_ENTITY_RE = re.compile(r'"entity"\s*:\s*"([^"]+)"', re.IGNORECASE)
_ATTRS_RE = re.compile(r'"attributes"\s*:\s*"([^"]+)"', re.IGNORECASE)


def build_query_prompt(query: str) -> str:
    """Ref ml_query_parser.py:79-85 (verbatim shape)."""
    return ("\nExtract the main entity (noun) and attributes/properties "
            f"from the following query.\n{query}\n")


def parse_query_response(text: str) -> Tuple[str, List[str]]:
    """Ref ml_query_parser.py:105-126."""
    entity = ""
    attributes: List[str] = []
    entity_match = _ENTITY_RE.search(text)
    attrs_match = _ATTRS_RE.search(text)
    if entity_match:
        entity = entity_match.group(1).strip().lower()
    if attrs_match:
        attributes = [a.strip().lower()
                      for a in attrs_match.group(1).split(",") if a.strip()]
    return entity, attributes


def ml_parse_query(query: str, model: Optional[Seq2SeqModel]) -> Tuple[Optional[str], List[str]]:
    """Ref ml_query_parser.py:51-77; model absent → (None, [])."""
    if model is None:
        return None, []
    try:
        response, _ = model.generate(build_query_prompt(query))
        return parse_query_response(response.strip())
    except Exception:
        return None, []


# ---------------------------------------------------------------------------
# M3 — per-container extraction
# ---------------------------------------------------------------------------

def build_html_prompt(sub_html: str, query: str) -> str:
    """Ref ml_html_parser/parser.py:355-361 (verbatim shape)."""
    return f"\nFrom the following HTML, {sub_html}\n{query}\n"


def parse_extraction_response(response: str) -> Dict[str, str]:
    """Ref parser.py:399-415 — split on ``, "`` then on the first
    colon; quotes stripped.  Quirk carried: a value containing a comma
    before a quote stays glued to the previous pair."""
    splits = response.split(', "')
    result: Dict[str, str] = {}
    for item in splits:
        if ":" in item:
            key, value = item.split(":", 1)
            result[key.strip().strip('"').strip("'")] = \
                value.strip().strip('"').strip("'")
    return result


def _node_to_html(node: Node) -> str:
    """Serialize a subtree back to HTML for the model prompt (the
    reference passes ``str(container)``)."""
    parts: List[str] = []
    _serialize(node, parts)
    return "".join(parts)


def _serialize(node: Node, parts: List[str]) -> None:
    # re-escape like bs4 str(): text & < >, attribute quotes — the
    # parser decoded entities, so raw re-emission would be malformed
    attrs = []
    for k, v in node.attrs.items():
        sv = " ".join(v) if isinstance(v, list) else str(v)
        sv = sv.replace("&", "&amp;").replace('"', "&quot;")
        attrs.append(f' {k}="{sv}"')
    parts.append(f"<{node.name}{''.join(attrs)}>")
    for child in node.children:
        if isinstance(child, Node):
            _serialize(child, parts)
        else:
            parts.append(child.replace("&", "&amp;")
                         .replace("<", "&lt;").replace(">", "&gt;"))
    parts.append(f"</{node.name}>")


def extract_attributes_from_container(container: Node, query: str,
                                      model: Seq2SeqModel) -> Tuple[Dict[str, str], float]:
    """M3 (ref parser.py:327-353)."""
    try:
        prompt = build_html_prompt(_node_to_html(container), query)
        response, confidence = model.generate(prompt)
        return parse_extraction_response(response.strip()), confidence
    except Exception:
        return {}, 0.0


# ---------------------------------------------------------------------------
# M1/M2/M4 — group scoring, top-k selection, best group
# ---------------------------------------------------------------------------

def _process_group(containers: List[Node], query: str, attributes: List[str],
                   model: Seq2SeqModel) -> Tuple[int, float]:
    """M1 — score the first 2 containers of a group (ref parser.py:235-263)."""
    if not containers:
        return 0, 0.0
    total_score = 0.0
    total_found = 0
    n_eval = min(2, len(containers))
    for i in range(n_eval):
        extracted, confidence = extract_attributes_from_container(
            containers[i], query, model)
        found = [a for a, v in extracted.items() if v is not None]
        found = [a for a in found if a in attributes]
        if found:
            total_found += len(found)
            total_score += confidence
    return total_found, total_score / n_eval


def find_top_promising_groups(filled: Dict[int, int],
                              confidences: Dict[int, float],
                              top_k: int = 1) -> List[Tuple[int, float]]:
    """M2 — score = confidence × attrs_found, top-k (ref :265-303)."""
    scores = [(gi, confidences.get(gi, 0.0) * count)
              for gi, count in filled.items()]
    scores.sort(key=lambda x: x[1], reverse=True)
    return scores[:top_k]


def ml_parse_html(html: str, query: str, attributes: List[str],
                  model: Optional[Seq2SeqModel]) -> List[Dict[str, str]]:
    """Full ML extraction path (ref parser.py:57-202); model absent →
    ``[]`` exactly as the reference degrades (``:68-70``)."""
    if model is None:
        return []
    try:
        root = parse_html(html)
        # ML variant unwraps only attribute-less text-property tags
        # (ref :75-78) — different from the rule path's blanket unwrap
        unwrap_all([tag for tag in root.find_all(C.TEXT_PROPERTY_TAGS)
                    if len(tag.attrs) == 0])

        container_groups = structures.find_repeated_structures(root)
        filled: Dict[int, int] = {}
        confidences: Dict[int, float] = {}
        high_conf_count = 0
        for group_idx, containers in enumerate(container_groups):
            found_count, confidence = _process_group(containers, query,
                                                     attributes, model)
            if found_count > 0:
                filled[group_idx] = found_count
                confidences[group_idx] = confidence
                if confidence > 0.9:
                    high_conf_count += 1
                if high_conf_count >= 3:   # early stop (ref :134-139)
                    break
        if not filled:
            return []

        promising = find_top_promising_groups(filled, confidences, top_k=1)
        group_results: Dict[int, List[Dict[str, str]]] = {}
        group_avg_conf: Dict[int, float] = {}
        for group_idx, _ in promising:
            containers = container_groups[group_idx]
            extracted_results = []
            confs = []
            for container in containers:
                extracted, confidence = extract_attributes_from_container(
                    container, query, model)
                if extracted:
                    extracted_results.append(extracted)
                    confs.append(confidence)
            if extracted_results:
                group_results[group_idx] = extracted_results
                group_avg_conf[group_idx] = sum(confs) / len(confs)

        if group_avg_conf:
            best = max(group_avg_conf, key=group_avg_conf.get)
            return group_results[best]
        return []
    except Exception:
        return []


# ---------------------------------------------------------------------------
# deterministic fake for tests / environments without model weights
# ---------------------------------------------------------------------------

class FakeSeq2Seq:
    """A deterministic stand-in 'model': answers HTML-extraction prompts
    by reading class-named children out of the prompt's HTML (as a
    perfectly-tuned model would on the training distribution), and
    query prompts with the fixed-schema response shape."""

    def __init__(self, confidence: float = 0.95):
        self.confidence = confidence

    def generate(self, prompt: str) -> Tuple[str, float]:
        if prompt.startswith("\nExtract the main entity"):
            return ('"entity":"book", "attributes":"name, price"',
                    self.confidence)
        start = prompt.find("From the following HTML,")
        html = prompt[start + len("From the following HTML,"):]
        root = parse_html(html)
        pairs = []
        for p in root.find_all(class_=True):
            cls = " ".join(p.get("class", []))
            text = p.get_text().strip()
            if cls and text and not p.find_all():
                pairs.append(f'"{cls}":"{text}"')
        return ", ".join(pairs), self.confidence
