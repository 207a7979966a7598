"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import statistics
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import checks, gen, stats  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.trace import Tracer, read_event_log  # noqa: E402
from perfbench.workloads import WORKLOADS, write_input  # noqa: E402

DATA = Path(__file__).parent / "data"


def _digest(path: Path) -> str:
    h = hashlib.sha256()
    for f in sorted(path.iterdir()):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()


# -- generator ----------------------------------------------------------------

@pytest.mark.parametrize("make", [
    lambda s: [p.html for p in gen.make_pages(s, 60)],
    lambda s: [(t.conv_id, t.turn_idx, t.role, t.text)
               for t in gen.make_transcripts(s, 200, 0.5, 8, 0.05, ("q0", "q1"),
                                             20_000, (1, 3))],
    lambda s: [p.html for p in gen.make_web_corpus(s, 30)],
], ids=["pages", "transcripts", "web_corpus"])
def test_same_seed_same_inputs_other_seed_other_inputs(make):
    assert make(7) == make(7)
    assert make(7) != make(8)


def test_written_inputs_are_byte_identical_per_seed(tmp_path):
    def write(seed, name):
        turns = gen.make_transcripts(seed, 120, 0.7, 6, 0.05, ("q0",), 20_000, (1, 2))
        path = write_input(tmp_path / name, {"conv_id": [t.conv_id for t in turns],
                                             "text": [t.text for t in turns]})
        return _digest(path)

    assert write(3, "a") == write(3, "b")
    assert write(3, "a") != write(4, "c")


def test_page_mix_is_the_same_for_every_seed():
    def mix(seed):
        pages = gen.make_pages(seed, 400)
        return sorted((p.family, len(p.items)) for p in pages)

    a, b = mix(1), mix(2)
    assert [f for f, _ in a] == [f for f, _ in b]
    sizes_a = sorted(n for _, n in a)
    sizes_b = sorted(n for _, n in b)
    assert max(abs(x - y) for x, y in zip(sizes_a, sizes_b)) <= 0.1 * max(sizes_a)


def test_truth_projects_items_onto_query_attributes():
    page = next(p for p in gen.make_pages(5, 50) if p.family == "table")
    for qid, (_, _, attrs) in gen.QUERIES.items():
        truth = page.truth(qid)
        assert len(truth) == len(page.items)
        assert all(list(rec) == list(attrs) for rec in truth)


# -- correctness checks ---------------------------------------------------------

def _job_fixture():
    turns = gen.make_transcripts(11, 60, 0.5, 4, 0.05, ("q0",), 8_000, (1, 2))
    rows = []
    seq = {}
    for t in sorted(turns, key=lambda t: (t.conv_id, t.turn_idx)):
        seq[t.conv_id] = seq.get(t.conv_id, 0) + 1
        truth = t.page.truth() if t.page else []
        rows.append({"conv_id": t.conv_id, "turn_idx": t.turn_idx,
                     "results": [list(r.items()) for r in truth],
                     "n_results": len(truth),
                     "status": "ok" if truth else "no_results",
                     "turn_seq": seq[t.conv_id]})
    return turns, rows


def test_correct_job_output_passes():
    turns, rows = _job_fixture()
    tally = checks.check_job_rows(rows, turns)
    assert tally.failed == 0 and tally.attempted > len(turns)


def test_one_changed_price_lowers_ok_rate():
    turns, rows = _job_fixture()
    row = next(r for r in rows if r["results"])
    rec = dict(row["results"][0])
    rec["price"] = "£0.01"
    row["results"][0] = list(rec.items())
    assert checks.check_job_rows(rows, turns).failed == 1


def test_one_dropped_or_duplicated_row_lowers_ok_rate():
    turns, rows = _job_fixture()
    assert checks.check_job_rows(rows[1:], turns).failed >= 1
    assert checks.check_job_rows(rows + rows[:1], turns).failed >= 1


def test_one_changed_price_fails_a_page():
    page = next(p for p in gen.make_pages(2, 40) if p.items)
    good = {"results": {"books": page.truth()}}
    assert checks.check_page(good, page)
    bad = json.loads(json.dumps(good))
    bad["results"]["books"][0]["price"] = "£0.01"
    assert not checks.check_page(bad, page)


def test_lineage_must_reconcile_with_the_input():
    lineage = [{"rows_in": 40}, {"rows_in": 20}]
    assert checks.check_lineage(lineage, 60).failed == 0
    assert checks.check_lineage(lineage[:1] + [{"rows_in": 19}], 60).failed == 1


def test_web_check_catches_a_surviving_exact_copy_and_leaked_nav():
    pages = gen.make_web_corpus(4, 20)
    stripped = [{"doc_id": p.doc_id, "text": p.article} for p in pages]
    cleaned = [{"doc_id": p.doc_id, "text": p.article.replace(p.email, "[EMAIL]")
                if p.email else p.article} for p in pages if p.kind == "original"]
    assert checks.check_web(stripped, cleaned, pages).failed == 0
    copy = next(p for p in pages if p.kind == "exact_copy")
    assert checks.check_web(stripped, cleaned + [{"doc_id": copy.doc_id, "text": ""}],
                            pages).failed == 1
    leaked = [dict(r, text=r["text"] + " " + pages[0].nav_links[0])
              if r["doc_id"] == pages[0].doc_id else r for r in stripped]
    assert checks.check_web(leaked, cleaned, pages).failed == 1


# -- statistics -----------------------------------------------------------------

def test_percentile_needs_ten_samples_beyond():
    assert stats.percentile(list(range(1000)), 99) == 989
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(list(range(999)), 99)
    assert stats.percentile(list(range(20)), 50) == 9
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(list(range(19)), 50)


# -- tracing --------------------------------------------------------------------

def test_self_time_subtracts_children():
    tracer = Tracer()
    outer = tracer.begin("outer")
    inner = tracer.begin("inner")
    tracer.end(inner)
    tracer.end(outer)
    tracer.spans[outer][1:3] = [0.0, 1.0]
    tracer.spans[inner][1:3] = [0.25, 0.75]
    assert tracer.self_time("outer") == pytest.approx(0.5)
    assert tracer.busy("inner") == pytest.approx(0.5)


def test_wrappers_count_and_restore():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1, g=lambda n: iter(range(n)))
    tracer = Tracer()
    tracer.wrap(mod, "f", "f")
    tracer.count_generator(mod, "g", "g")
    assert mod.f(1) == 2 and list(mod.g(3)) == [0, 1, 2]
    assert tracer.calls("f") == 1
    assert tracer.counts["g.calls"] == 1 and tracer.counts["g.yielded"] == 3
    tracer.restore()
    assert mod.f(1) == 2 and tracer.calls("f") == 1


def test_event_log_parser_reads_a_captured_log():
    """A trimmed event log (local[2]) of a 60-turn ``run_extraction_job``
    under job group ``job`` and a noop scan under ``noop``; the expected
    totals were summed from the raw events."""
    with open(DATA / "eventlog.jsonl") as fh:
        groups = read_event_log(fh)
    expected = json.loads((DATA / "eventlog.expected.json").read_text())
    for group, metrics in expected.items():
        for name, value in metrics.items():
            assert groups[group][name] == pytest.approx(value), (group, name)


# -- the benchmark description ----------------------------------------------------

def test_benchmark_json_matches_the_runner():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


# -- host-speed scaling -------------------------------------------------------------

def test_scaled_time_follows_an_engine_slowdown():
    """An engine that is slower and keeps more objects alive must read
    slower after scaling too: the probe taken after each call must not
    slow down with it.  Slowed and plain calls alternate, so host drift
    hits both alike."""
    import itertools
    import types

    from engine import parser as real_parser
    from perfbench.workloads import Pages

    retained = []
    calls = itertools.count()

    def parse(html, query):
        if next(calls) % 2:
            retained.append([[] for _ in range(3000)])      # live, GC-tracked objects
            sum(i * i for i in range(30_000))                 # a fixed CPU burn
        return real_parser.parse(html, query)

    wl = Pages()
    wl.pool_size, wl.warm_pages = 41, 4       # odd: each page is slowed on every other pass
    run = types.SimpleNamespace(seed=3, mods={"parser": types.SimpleNamespace(parse=parse)})
    wl.prepare(run)
    ops = [wl.op(run, i) for i in range(4)]
    probes = [x for op in ops for x in op.probes]
    latencies = [x for op in ops for x in op.latencies_ms]
    assert len(retained) == len(probes) // 2
    slowed = statistics.median(latencies[1::2]) / statistics.median(latencies[0::2])
    probe_ratio = statistics.median(probes[1::2]) / statistics.median(probes[0::2])
    assert slowed > 1.3                      # the slowdown is real
    assert probe_ratio == pytest.approx(1.0, abs=0.1)


def test_run_share_counts_steal_against_the_host():
    from perfbench import hostspeed

    assert hostspeed.run_share((100, 7), (180, 27)) == pytest.approx(0.8)
    assert hostspeed.run_share((100, 7), (180, 7)) == 1.0
    busy, steal = hostspeed.cpu_ticks()
    assert busy > 0 and steal >= 0
