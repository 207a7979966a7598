"""Per-turn orchestration: strategy dispatch + response envelope.

Replicates the reference's pipeline (SURVEY.md §2.7 O1/O2,
``/root/reference/src/intelligent_parser.py:56-230``) in the
deterministic configuration (rule-based query parse; JSON-script →
table → general priority ladder; no ML path):

* Priority 1: JSON scripts; accept iff the 2/3 sufficiency gate passes
  (``intelligent_parser.py:74-102``), else fall through.
* Priority 2: table parser when any ``<table>`` exists
  (``intelligent_parser.py:157-160``).
* Priority 3: general parser (``intelligent_parser.py:165``).
* Envelope: pluralized entity key, "Found N <entity> on this page"
  message (``intelligent_parser.py:190-216``); error envelope
  (``:218-230``).

Unlike the reference — which re-parses the HTML with BeautifulSoup up
to three times per request — each turn's text is parsed into the
lightweight DOM exactly once and the tree is shared across strategies
(SURVEY.md §4.1).  This function is pure Python and is invoked from
the Arrow-batched extraction kernel (engine/extract.py), never per-row
from the JVM.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, List, Optional

from engine import dom, nouns
from engine.kernels import constants as C
from engine.kernels import general, jsonld, table
from engine.query_parse import ParsedQuery, parse_query_hybrid


@dataclass
class TurnExtraction:
    """Flat, Spark-friendly result for one turn."""

    entity: Optional[str]
    results: List[Dict[str, Optional[str]]]
    n_results: int
    message: str
    strategy: str            # json_script | table | general | none
    status: str              # ok | no_results | bad_query | parse_error
    error: Optional[str] = None


def _message(entity: Optional[str], results: list) -> str:
    """O2 — count message with pluralization (ref :190-197)."""
    entity_plural = nouns.pluralize(entity) if entity else entity
    if len(results) > 1:
        return f"Found {len(results)} {entity_plural} on this page"
    return f"Found {len(results)} {entity} on this page"


def extract_turn(text: str, parsed: ParsedQuery,
                 similarity_threshold: float = C.SIMILARITY_THRESHOLD,
                 matcher=None) -> TurnExtraction:
    """Run the strategy ladder for one turn's text against a parsed
    query.  ``matcher`` plugs in the semantic tiers (T3/G8/J5); None is
    the reference's deterministic degraded configuration."""
    entity, attributes = parsed.entity, parsed.attributes

    if not entity or not attributes:
        return TurnExtraction(entity, [], 0,
                              "Could not extract entity and attributes from query",
                              "none", "bad_query")

    try:
        root = dom.parse_html(text)
    except Exception as exc:  # pragma: no cover — parse_html swallows
        return failed(entity, exc)

    return extract_from_root(root, parsed, similarity_threshold, matcher)


def extract_from_root(root, parsed: ParsedQuery,
                      similarity_threshold: float = C.SIMILARITY_THRESHOLD,
                      matcher=None) -> TurnExtraction:
    """Strategy ladder over an already-parsed DOM — lets multi-query
    extraction share ONE parse per turn across all queries (the
    reference re-parses per request; SURVEY.md §4.1).  Note the general
    parser's TEXT_PROPERTY_TAGS unwrap mutates the tree; the mutation
    is idempotent and invisible to the JSON/table strategies, so tree
    sharing across queries is output-equivalent to fresh parses."""
    entity, attributes = parsed.entity, parsed.attributes
    try:
        # Priority 1: JSON scripts + sufficiency gate (ref :74-102).
        # Scripts are discovered once and reused (the reference scans
        # twice: has_json_scripts then parse_json_scripts).
        scripts = jsonld.find_json_scripts(root)
        if scripts:
            results = jsonld.parse_json_scripts(root, entity, attributes,
                                                scripts=scripts,
                                                matcher=matcher,
                                                threshold=similarity_threshold)
            if jsonld.sufficiency_gate(results, attributes):
                return TurnExtraction(entity, results, len(results),
                                      _message(entity, results),
                                      "json_script",
                                      "ok" if results else "no_results")

        # Priority 2: table (ref :157-160)
        if table.is_table(root):
            results = table.parse_tables(root, entity, attributes,
                                         similarity_threshold, matcher)
            return TurnExtraction(entity, results, len(results),
                                  _message(entity, results), "table",
                                  "ok" if results else "no_results")

        # Priority 3: general (ref :165)
        results = general.parse_general(root, entity, attributes,
                                        similarity_threshold, matcher)
        return TurnExtraction(entity, results, len(results),
                              _message(entity, results), "general",
                              "ok" if results else "no_results")
    except Exception as exc:
        return failed(entity, exc)


def failed(entity: Optional[str], exc: Exception) -> TurnExtraction:
    """The parse_error envelope of a turn whose DOM parse or strategy
    ladder raised (ref intelligent_parser.py:218-230)."""
    return TurnExtraction(entity, [], 0, f"Parsing error: {exc}",
                          "none", "parse_error", str(exc))


def parse(html: str, query: str, full_ml: bool = False,
          matcher=None, ml_model=None) -> dict:
    """Reference-shaped response envelope for one page (ref :56-230).

    ``full_ml=True`` routes through the ML tier when an ``ml_model``
    (engine.ml.Seq2SeqModel) is supplied; without one it degrades to
    the rule ladder exactly as the reference does when its weights are
    absent (``ml_html_parser/parser.py:68-70``)."""
    import time

    start = time.time()

    if full_ml and ml_model is not None:
        # the reference's ML path never runs the rule parser
        # (intelligent_parser.py:104-131), so entity-less queries do
        # NOT hit the bare-None unpack crash here
        from engine import ml as _ml

        parsed = ParsedQuery()
        entity, attributes = _ml.ml_parse_query(query, ml_model)
        if not entity and not attributes:
            extraction = TurnExtraction(
                None, [], 0,
                "Could not extract entity and attributes from query",
                "none", "bad_query")
        else:
            results = _ml.ml_parse_html(html, query, attributes, ml_model)
            extraction = TurnExtraction(entity, results, len(results),
                                        _message(entity, results), "ml",
                                        "ok" if results else "no_results")
            parsed = ParsedQuery(entity=entity, attributes=attributes,
                                 method="ml")
    else:
        try:
            parsed = parse_query_hybrid(query)
        except TypeError as exc:
            # reference quirk: entity-less queries crash the tuple
            # unpack inside the big try (intelligent_parser.py:70,
            # 139,182-188) and surface as the generic parsing-error
            # envelope
            return {
                "results": {},
                "message": f"Parsing error: {exc}",
                "metadata": {
                    "processing_time_ms": round(
                        (time.time() - start) * 1000),
                    "model_used": "custom-html-parser-v1",
                    "error": True,
                },
            }
        extraction = extract_turn(html, parsed, matcher=matcher)

    processing_ms = round((time.time() - start) * 1000)

    if extraction.status in ("bad_query", "parse_error"):
        # ref intelligent_parser.py:218-230 — both query failures and
        # ladder exceptions surface as the error envelope
        return {
            "results": {},
            "message": extraction.message,
            "metadata": {"processing_time_ms": processing_ms,
                         "model_used": "custom-html-parser-v1",
                         "error": True},
        }

    entity_plural = nouns.pluralize(extraction.entity)
    return {
        "results": {entity_plural: extraction.results},
        "message": extraction.message,
        "metadata": {
            "processing_time_ms": processing_ms,
            "model_used": {"llm_model": "", "similarity_model": ""},
            "entity": extraction.entity,
            "attributes_requested": parsed.attributes,
            "approaches_used": {
                "query_parsing": {
                    "method": parsed.method,
                    "entity_extraction_approach": parsed.entity_approach,
                    "attribute_extraction_approach": parsed.attribute_approach,
                },
                "html_parsing": extraction.strategy,
            },
        },
    }
