"""The extraction operator: Arrow-batched strategy-ladder UDF.

This is the rebuild's core custom operator (SURVEY.md §2.8 "UDF
surface"): one ``mapInPandas`` kernel that evaluates the reference's
whole strategy ladder per turn — JSON-script → table → general
(``/root/reference/src/intelligent_parser.py:56-188``) — so the
short-circuit priority logic lives INSIDE the kernel where it can skip
DOM work, which a per-strategy ``when()`` column could not
(SURVEY.md §4.1).

There is ONE operator, ``extract_turns_multi``, over a set of queries.
Each turn's text is tokenized and DOM-parsed once and every query's
ladder runs over the shared tree.  ``extract_turns`` is the same
operator with one query whose id is None: a None id emits no
``query_id`` column, so single-query output keeps the results schema.

Scale notes:

* Each NL query is parsed ONCE on the driver and captured by the UDF
  closure (a broadcast-sized struct; SURVEY.md §3.5).  A query that
  cannot extract (entity-less parse crash, or no entity/attributes)
  gets one constant envelope on every turn.
* Rows cross to Python as Arrow record batches
  (``spark.sql.execution.arrow.maxRecordsPerBatch``); all per-row work
  is plain CPU inside the batch — no per-row Python round trips.
* Turns with no markup at all (no ``<`` and no HTML entity) get the
  exact envelope the full ladder would produce for element-free text
  (the general parser finds no elements → zero results,
  ``general_parser.py:106-113``) without tokenization — at web scale
  most turns are prose.  ``text_nbytes`` is measured JVM-side, so no
  prose text crosses the Arrow boundary in either mode.
* Two modes, both one scan of the input:
  - ``jvm_prose_fast_path=True``: prose turns and non-extracting
    queries never cross the Arrow boundary.  Their envelopes are
    constant per query and are stamped JVM-side (a projection for one
    query, a literal struct array exploded for several); the kernel
    only sees (markup turn × extractable query).
  - ``jvm_prose_fast_path=False``: every turn and every query runs
    inside the one kernel, so the input is scanned exactly once even
    when the scan is not cached (the pipeline's mode).  Prose turns
    cross with their text nulled.
  In both modes the JVM handles the frame alone when no query can
  extract.
* The operator is a pure row→row map: no shuffle apart from the
  optional salted repartition of the kernel's input.  Partitioning/skew
  policy lives in engine/pipeline.py.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterator, Optional

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (StringType, StructField, StructType,
                               TimestampType)

from engine import dom
from engine.kernels import constants as C
from engine.parser import TurnExtraction, extract_from_root, failed
from engine.query_parse import ParsedQuery, parse_query_hybrid
from engine.schema import RESULTS_SCHEMA


def _stringify_results(results):
    """Map values must be strings for the static MapType schema; the J5
    semantic tier can surface raw JSON scalars (ref keeps them raw,
    json_script_parser.py:468)."""
    out = []
    for record in results:
        out.append({k: (v if v is None or isinstance(v, str) else str(v))
                    for k, v in record.items()})
    return out


def _parse(query: str):
    """(parsed query, the envelope it gets on EVERY turn when it cannot
    extract — else None)."""
    try:
        parsed = parse_query_hybrid(query)
    except TypeError as exc:
        # entity-less queries raise TypeError inside the reference's
        # big try and surface as the parsing-error envelope (quirk; see
        # engine/query_parse.extract_entity)
        message = f"Parsing error: {exc}"
        return ParsedQuery(), TurnExtraction(None, [], 0, message, "none",
                                             "parse_error", message)
    if not parsed.entity or not parsed.attributes:
        return parsed, TurnExtraction(
            parsed.entity, [], 0,
            "Could not extract entity and attributes from query",
            "none", "bad_query")
    return parsed, None


def _prose(entity: Optional[str]) -> TurnExtraction:
    return TurnExtraction(entity, [], 0, f"Found 0 {entity} on this page",
                          "general", "no_results")


def _kernel(entries, keyed: bool, passthrough,
            similarity_threshold: float, matcher_factory):
    """Arrow kernel over the (row × query) grid of ``entries`` —
    triples (query_id, parsed query, fixed envelope or None).  Input
    batches carry the pass-through columns, ``text`` (null for a turn
    without markup, which gets the prose envelope) and ``text_nbytes``.
    Output is query-major, so the pass-through columns and
    ``text_nbytes`` are whole input columns repeated once per query.

    ``matcher_factory`` (optional, executor-side ``() -> Matcher``)
    plugs in the semantic tiers; one matcher is built per task so its
    string-pair cache amortizes across the partition — never per row
    (SURVEY.md §4.1: do not re-encode inside the recursion)."""
    k = len(entries)
    prose = [_prose(parsed.entity) for _, parsed, _ in entries]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        matcher = matcher_factory() if matcher_factory is not None else None
        for batch in batches:
            n = len(batch)
            grid = [None] * (n * k)
            for i, text in enumerate(batch["text"].tolist()):
                root = crash = None
                if text is not None:    # the JVM nulls prose text
                    try:
                        root = dom.parse_html(text)
                    except Exception as exc:
                        crash = exc
                for j, (_, parsed, fixed) in enumerate(entries):
                    if fixed is not None:
                        t = fixed
                    elif crash is not None:
                        t = failed(parsed.entity, crash)
                    elif root is None:
                        t = prose[j]
                    else:
                        t = extract_from_root(root, parsed,
                                              similarity_threshold, matcher)
                    grid[j * n + i] = t

            out = {}
            if keyed:
                out["query_id"] = [qid for qid, _, _ in entries
                                   for _ in range(n)]
            for c in passthrough:
                out[c] = pd.concat([batch[c]] * k, ignore_index=True)
            out["entity"] = pd.Series([t.entity for t in grid], dtype=object)
            out["results"] = pd.Series(
                [_stringify_results(t.results) for t in grid], dtype=object)
            out["n_results"] = pd.Series([t.n_results for t in grid],
                                         dtype="int32")
            out["message"] = pd.Series([t.message for t in grid],
                                       dtype=object)
            out["strategy"] = pd.Series([t.strategy for t in grid],
                                        dtype=object)
            out["status"] = pd.Series([t.status for t in grid], dtype=object)
            out["error"] = pd.Series([t.error for t in grid], dtype=object)
            out["text_nbytes"] = pd.concat([batch["text_nbytes"]] * k,
                                           ignore_index=True)
            yield pd.DataFrame(out)
    return run


def _stamp(rows: DataFrame, consts, keyed: bool, passthrough,
           results_type) -> DataFrame:
    """Stamp one constant envelope per (row, entry) JVM-side — codegen'd
    projection, no Python, no shuffle.  ``consts`` holds
    (query_id, TurnExtraction) pairs; one entry is a plain projection,
    several explode a literal struct array over the row set (text is
    dropped before the explode; ``text_nbytes`` is already measured)."""
    names = ("query_id", "entity", "message", "strategy", "status", "error")

    def lits(qid, t):
        return [F.lit(v).cast("string").alias(name) for name, v in
                zip(names, (qid, t.entity, t.message, t.strategy, t.status,
                            t.error))]

    if len(consts) == 1:
        val = dict(zip(names, lits(*consts[0])))
    else:
        rows = rows.select(*passthrough, "text_nbytes", F.explode(F.array(
            *[F.struct(*lits(qid, t)) for qid, t in consts])).alias("q"))
        val = {name: F.col(f"q.{name}").alias(name) for name in names}
    return rows.select(
        *([val["query_id"]] if keyed else []),
        *passthrough,
        val["entity"],
        F.expr("array()").cast(results_type).alias("results"),
        F.lit(0).cast("int").alias("n_results"),
        val["message"], val["strategy"], val["status"], val["error"],
        "text_nbytes")


def extract_turns_multi(df: DataFrame, queries: dict,
                        similarity_threshold: float = C.SIMILARITY_THRESHOLD,
                        matcher_factory=None,
                        jvm_prose_fast_path: bool = True,
                        salt_partitions: Optional[int] = None,
                        salt_block: int = 256) -> DataFrame:
    """Run MANY queries over the corpus in ONE pass.

    ``queries`` maps query_id → NL query string.  Output: one row per
    (turn, query_id), schema = results schema + leading ``query_id``
    (plus ``ts`` after ``role`` when the input carries it — event-time
    passthrough keeps streaming aggregations downstream of the kernel).
    The one query id None means single-query mode: no ``query_id``
    column (see ``extract_turns``).

    Input must carry (conv_id, turn_idx, role, text); extra columns are
    dropped (column pruning reaches the scan because the select below
    is part of the declarative plan).

    ``jvm_prose_fast_path`` picks between the two modes in the module
    docstring: prose and non-extracting queries stamped JVM-side (a
    union of branches, each scanning the input), or every turn and
    query in the one kernel over one scan.

    ``salt_partitions`` (optional) applies the skew-salting
    repartition on ``(conv_id, turn_idx div salt_block)`` to the
    kernel's input only — on the fast path that is after the
    prose/markup split, so prose rows flow scan→output with no shuffle.
    Pre-repartitioning the input instead would replay the shuffle once
    per branch (the plan-check regression this parameter exists to
    avoid).
    """
    keyed = list(queries) != [None]
    has_ts = "ts" in df.columns
    passthrough = ["conv_id", "turn_idx", "role"] + (["ts"] if has_ts else [])
    fields = RESULTS_SCHEMA.fields
    if has_ts:
        fields = fields[:3] + [StructField("ts", TimestampType(), True)] \
            + fields[3:]
    if keyed:
        fields = [StructField("query_id", StringType(), False)] + fields
    schema = StructType(fields)
    is_markup = (F.col("text").isNotNull()
                 & (F.col("text").contains("<") | F.col("text").contains("&")))
    # text_nbytes is measured JVM-side, so no prose text has to cross
    # into Python in either mode
    pruned = df.select(*passthrough, "text", F.coalesce(
        F.octet_length("text"), F.lit(0)).cast("long").alias("text_nbytes"))

    entries = [(qid, *_parse(q)) for qid, q in sorted(queries.items())]
    if not entries:
        return df.sparkSession.createDataFrame([], schema)
    good = [e for e in entries if e[2] is None]
    bad = [(qid, fixed) for qid, _, fixed in entries if fixed is not None]

    def stamp(rows: DataFrame, consts) -> DataFrame:
        return _stamp(rows, consts, keyed, passthrough,
                      schema["results"].dataType)

    def kernel(rows: DataFrame, qlist) -> DataFrame:
        if salt_partitions:
            rows = rows.repartition(
                salt_partitions, "conv_id",
                (F.col("turn_idx") / F.lit(salt_block)).cast("int"))
        return rows.mapInPandas(
            _kernel(qlist, keyed, passthrough, similarity_threshold,
                    matcher_factory), schema=schema)

    if not good:
        # every output field is a constant or a JVM expression — never
        # ship the corpus through Python just to stamp failure envelopes
        return stamp(pruned, bad)
    if not jvm_prose_fast_path:
        # prose rows still pass through the kernel, but with text nulled
        text = F.when(is_markup, F.col("text"))
        return kernel(pruned.withColumn("text", text), entries)

    parts = [kernel(pruned.filter(is_markup), good),
             stamp(pruned.filter(~is_markup),
                   [(qid, _prose(parsed.entity)) for qid, parsed, _ in good])]
    if bad:
        parts.append(stamp(pruned, bad))
    return reduce(DataFrame.unionAll, parts)


def extract_turns(df: DataFrame, query: str,
                  similarity_threshold: float = C.SIMILARITY_THRESHOLD,
                  matcher_factory=None,
                  jvm_prose_fast_path: bool = True,
                  salt_partitions: Optional[int] = None,
                  salt_block: int = 256) -> DataFrame:
    """Map a transcripts DataFrame to the results schema for one query:
    ``extract_turns_multi`` with the single query id None, which emits
    no ``query_id`` column."""
    return extract_turns_multi(df, {None: query}, similarity_threshold,
                               matcher_factory, jvm_prose_fast_path,
                               salt_partitions, salt_block)
