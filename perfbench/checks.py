"""Correctness checks.  Each returns a :class:`Tally` of attempted and
failed outputs; ``ok_rate`` is ``1 - failed / attempted`` over a run.

An output counts as failed when it is wrong, missing or duplicated.
The expected values come from the generator (``perfbench.gen``).
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass
from typing import Dict, Iterable, List, Optional, Sequence

from perfbench.gen import Page, Turn, WebPage


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0

    def add(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def __iadd__(self, other: "Tally") -> "Tally":
        self.attempted += other.attempted
        self.failed += other.failed
        return self


def records(value) -> List[Dict[str, Optional[str]]]:
    """Result records as read back from parquet (maps arrive as lists
    of key/value pairs) or from a response envelope (dicts)."""
    out = []
    for rec in value or []:
        out.append(dict(rec) if not isinstance(rec, dict) else rec)
    return out


def check_page(response: dict, page: Page) -> bool:
    results = response.get("results") or {}
    if len(results) != 1:
        return False
    return records(next(iter(results.values()))) == page.truth()


def check_job_rows(rows: Iterable[dict], turns: Sequence[Turn]) -> Tally:
    """Output rows of a single-query extraction job against its input
    turns (the query is ``turn.page.query_id``).

    One attempt per turn: it fails when the turn's row is missing,
    duplicated or wrong — a markup turn must carry its truth records, a
    prose turn the ``no_results`` envelope.  One more attempt per
    conversation checks that ``turn_seq`` runs 1..n in ``turn_idx``
    order."""
    by_key: Dict[tuple, List[dict]] = defaultdict(list)
    for row in rows:
        by_key[(row["conv_id"], row["turn_idx"])].append(row)
    tally = Tally()
    seqs: Dict[str, list] = defaultdict(list)
    for turn in turns:
        got = by_key.pop((turn.conv_id, turn.turn_idx), [])
        if len(got) != 1:
            tally.add(False)
            continue
        row = got[0]
        seqs[turn.conv_id].append((turn.turn_idx, row.get("turn_seq")))
        if turn.page is not None:
            truth = turn.page.truth()
            ok = (row["status"] == ("ok" if truth else "no_results")
                  and records(row["results"]) == truth)
        else:
            ok = (row["status"] == "no_results" and row["n_results"] == 0
                  and not records(row["results"]))
        tally.add(ok)
    tally.attempted += len(by_key)          # rows no turn asked for
    tally.failed += len(by_key)
    for seq in seqs.values():
        seq.sort()
        tally.add([s for _, s in seq] == list(range(1, len(seq) + 1)))
    return tally


def check_lineage(lineage: Iterable[dict], n_turns: int) -> Tally:
    """Lineage ``rows_in`` must sum to the input count."""
    tally = Tally()
    tally.add(sum(row["rows_in"] for row in lineage) == n_turns)
    return tally


def check_web(stripped: Iterable[dict], cleaned: Iterable[dict],
              pages: Sequence[WebPage]) -> Tally:
    """Boilerplate output and cleaned corpus against the generator.

    Per page: its ``main_text`` holds its article and none of its nav
    links.  Per page: it survives cleaning iff it is an English
    original (exact copies, near copies and Spanish pages are dropped),
    exactly once, with any planted email scrubbed."""
    tally = Tally()
    main = {}
    for row in stripped:
        main.setdefault(row["doc_id"], []).append(row["text"])
    kept: Dict[int, List[str]] = defaultdict(list)
    for row in cleaned:
        kept[row["doc_id"]].append(row["text"])
    expected_ids = {p.doc_id for p in pages}
    for page in pages:
        texts = main.get(page.doc_id, [])
        tally.add(len(texts) == 1 and page.article in texts[0]
                  and not any(link in texts[0] for link in page.nav_links))
        out = kept.get(page.doc_id, [])
        if page.kind == "original":
            ok = (len(out) == 1 and (not page.email or (
                page.email not in out[0] and "[EMAIL]" in out[0])))
        else:
            ok = not out
        tally.add(ok)
    extra = [d for d in set(main) | set(kept) if d not in expected_ids]
    tally.attempted += len(extra)
    tally.failed += len(extra)
    return tally
