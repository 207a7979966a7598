"""Seeded input generators and their ground truth.

Every input the benchmark feeds the engine is built here from a seed,
before any timing starts, and every expected output is derived from
the generator's own parameters — never from a run of the engine.

Page families (the ``pages`` mix, and the markup turns of the job
workloads):

* ``cards``       — repeated ``div.item`` cards; the general strategy;
* ``table``       — one ``<table>`` with a header row; the table strategy;
* ``jsonld_hit``  — an ``application/ld+json`` script keyed by the
  plural of every query entity; the JSON-script strategy;
* ``jsonld_miss`` — an ld+json script with no requested key (it fails
  the 2/3 sufficiency gate) over cards; falls through to general;
* ``article``     — a nav-heavy article with no records.

Every item carries every field, so a page's truth under any query is
its items projected onto the query's attributes.

Sizes are heavy-tailed (about 1 KB to 110 KB) and fixed quantiles of
one distribution, and families are interleaved along the size order
the same way for every seed: the seed changes the content and the
order of the pages, not the shape of the mix, so the tail latency does
not move with the seed.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass
from pathlib import Path
from typing import Dict, List, Optional, Sequence, Tuple

# query id -> (natural-language query, entity, attributes)
QUERIES: Dict[str, Tuple[str, str, Tuple[str, ...]]] = {
    "q0": ("Can you give me the book: name and price?", "book",
           ("name", "price")),
    "q1": ("List the products with name, price and rating", "product",
           ("name", "price", "rating")),
    "q2": ("Extract the book: title, author and price", "book",
           ("title", "author", "price")),
}
FAMILIES = ("cards", "table", "jsonld_hit", "jsonld_miss", "article")
FAMILY_WEIGHTS = (0.30, 0.20, 0.20, 0.15, 0.15)
FIELDS = ("name", "title", "author", "price", "rating")

_ADJ = ("silent", "amber", "hidden", "northern", "velvet", "broken",
        "golden", "quiet", "distant", "crimson", "wild", "frozen",
        "hollow", "bright", "ancient", "lonely")
_NOUN = ("river", "garden", "harbor", "mountain", "lantern", "orchard",
         "compass", "meadow", "citadel", "voyage", "island", "forest",
         "signal", "engine", "archive", "bridge")
_FIRST = ("Ada", "Boris", "Chen", "Dara", "Emil", "Farah", "Goran",
          "Hana", "Ivo", "Jun", "Kemal", "Lena", "Mira", "Nils")
_LAST = ("Okafor", "Petrov", "Quinn", "Rossi", "Sato", "Tanaka",
         "Ueda", "Varga", "Weiss", "Xu", "Young", "Zeller")
# prose of the transcripts and of the ``article`` page family, and the
# sentence a near copy adds: English stopwords plus content words
WORDS = ("the", "a", "of", "and", "is", "to", "in", "that", "it", "was",
         "for", "on", "with", "as", "by", "river", "city", "market",
         "winter", "harvest", "council", "school", "railway", "museum",
         "festival", "bridge", "village", "engine", "library", "garden",
         "storm", "valley", "journey", "letter", "history", "season",
         "island", "workers", "record", "station", "morning", "people",
         "stone", "music", "north", "water", "family", "painter",
         "sailors", "harbor", "orchard", "mountain", "lantern", "voice",
         "bakery", "canal", "ferry", "glacier", "quarry", "tavern",
         "vineyard", "weaver", "cobbler", "monastery", "lighthouse",
         "observatory", "pilgrim", "shepherd", "blacksmith", "almanac")
# Spanish function words: pages written in them fail the language gate
WORDS_ES = ("el", "la", "de", "y", "es", "que", "los", "las", "un", "una",
            "rio", "ciudad", "mercado", "invierno", "escuela", "puente")
NAV_LINKS = ("Home", "World", "Business", "Culture", "Science", "Travel",
             "Sport", "Opinion", "Weather", "Archive", "Podcasts",
             "Newsletters", "Events", "Contact", "About us", "Careers")

# real document texts the web pages wrap (``data/slice_documents.py``)
ARTICLES = Path(__file__).resolve().parent / "data" / "articles.parquet"

MIN_ITEMS, MAX_ITEMS = 4, 640
BYTES_PER_ITEM = 210

Items = Tuple[Tuple[str, ...], ...]     # one tuple of FIELDS values per item


@dataclass(frozen=True)
class Page:
    family: str
    query_id: str
    html: str
    items: Items

    def truth(self, query_id: str = None) -> List[Dict[str, str]]:
        """Expected records under ``query_id`` (default: the page's own)."""
        attributes = QUERIES[query_id or self.query_id][2]
        idx = [FIELDS.index(a) for a in attributes]
        return [{a: it[i] for a, i in zip(attributes, idx)}
                for it in self.items]


def quantile_sizes(n: int, lo: int, hi: int, alpha: float = 1.1) -> List[int]:
    """``n`` integers in [lo, hi]: the mid-points of ``n`` equal-probability
    strata of a truncated Pareto, ascending.  The same for every seed, so
    the tail of the size distribution does not move with the seed."""
    a, b = lo ** -alpha, hi ** -alpha
    return [int(round((a - (i + 0.5) / n * (a - b)) ** (-1.0 / alpha)))
            for i in range(n)]


def stratified_choice(rng: random.Random, n: int, options: Sequence,
                      weights: Sequence[float]) -> list:
    """``n`` picks whose counts follow ``weights`` (up to rounding), in a
    seeded order."""
    out: list = []
    for opt, w in zip(options, weights):
        out.extend([opt] * int(round(w * n)))
    out = (out + [options[0]] * n)[:n]
    rng.shuffle(out)
    return out


def sentence(rng: random.Random, n_words: int, words=WORDS) -> str:
    return " ".join(rng.choice(words) for _ in range(n_words)).capitalize() + "."


def paragraph(rng: random.Random, n_sentences: int, words=WORDS) -> str:
    return " ".join(sentence(rng, rng.randint(8, 16), words)
                    for _ in range(n_sentences))


def _items(rng: random.Random, page_no: int, n: int) -> Items:
    return tuple((
        f"{rng.choice(_ADJ).title()} {rng.choice(_NOUN).title()} {page_no}-{i}",
        f"The {rng.choice(_ADJ).title()} {rng.choice(_NOUN).title()} "
        f"Vol {page_no}.{i}",
        f"{rng.choice(_FIRST)} {rng.choice(_LAST)}",
        f"£{rng.randint(1, 999)}.{rng.randint(0, 99):02d}",
        f"{rng.randint(1, 4)}.{rng.randint(0, 9)} stars",
    ) for i in range(n))


def nav(links: Sequence[str]) -> str:
    lis = "".join(f'<li class="menu-item"><a href="/s/{i}">{text}</a></li>'
                  for i, text in enumerate(links))
    return f'<nav class="site-nav"><ul class="menu">{lis}</ul></nav>'


def _cards(items: Items) -> str:
    cards = "".join('<div class="item">' + "".join(
        f'<p class="{f}">{v}</p>' for f, v in zip(FIELDS, it)) + "</div>"
        for it in items)
    return f'<div class="grid">{cards}</div>'


def _table(items: Items) -> str:
    head = "".join(f"<th>{f}</th>" for f in FIELDS)
    rows = "".join("<tr>" + "".join(f"<td>{v}</td>" for v in it) + "</tr>"
                   for it in items)
    return (f"<table><thead><tr>{head}</tr></thead>"
            f"<tbody>{rows}</tbody></table>")


def _html(body: str, head: str = "") -> str:
    return (f"<html><head><title>Catalogue</title>{head}</head><body>{body}"
            '<footer class="site-footer"><p>Copyright notice.</p></footer>'
            "</body></html>")


def _ldjson(data: dict) -> str:
    return ('<script type="application/ld+json">'
            + json.dumps(data, ensure_ascii=False) + "</script>")


def make_page(rng: random.Random, page_no: int, family: str, query_id: str,
              n_items: int) -> Page:
    menu = nav(NAV_LINKS[:5])
    if family == "article":
        paras = "".join(f"<p>{paragraph(rng, 4)}</p>"
                        for _ in range(max(1, n_items // 3)))
        body = (nav(NAV_LINKS[:12]) + '<div class="story"><p class="lede">'
                + sentence(rng, 12) + "</p>" + paras + "</div>")
        return Page(family, query_id, _html(body), ())
    items = _items(rng, page_no, n_items)
    if family == "cards":
        html = _html(menu + _cards(items))
    elif family == "table":
        html = _html(menu + _table(items))
    elif family == "jsonld_hit":
        records = [dict(zip(FIELDS, it)) for it in items]
        data = {"@context": "https://schema.org"}
        data.update({entity + "s": records
                     for entity in sorted({q[1] for q in QUERIES.values()})})
        html = _html("<p>" + sentence(rng, 10) + "</p>", head=_ldjson(data))
    elif family == "jsonld_miss":
        data = {"@context": "https://schema.org", "@type": "WebSite",
                "url": f"https://shop.example/{page_no}",
                "inLanguage": "en-GB",
                "potentialAction": {"@type": "SearchAction",
                                    "query-input": "required q"}}
        html = _html(menu + _cards(items), head=_ldjson(data))
    else:
        raise ValueError(f"unknown family {family!r}")
    return Page(family, query_id, html, items)


def _n_items(n_bytes: int) -> int:
    return max(MIN_ITEMS, min(MAX_ITEMS, round(n_bytes / BYTES_PER_ITEM)))


def interleave(n: int, options: Sequence, weights: Sequence[float]) -> list:
    """``n`` picks in proportion to ``weights``, spread evenly: slot ``i``
    takes the option furthest behind its share.  No randomness, so the
    picks along a sorted sequence are the same for every seed."""
    total = float(sum(weights))
    counts = [0] * len(options)
    out = []
    for i in range(n):
        k = max(range(len(options)),
                key=lambda j: (weights[j] / total * (i + 1) - counts[j], -j))
        counts[k] += 1
        out.append(options[k])
    return out


def make_pages(seed: int, n: int, query_ids: Sequence[str] = tuple(QUERIES),
               max_bytes: int = 110_000) -> List[Page]:
    """``n`` pages: families and queries in fixed proportions, sizes
    heavy-tailed from about 1 KB to ``max_bytes``.  Families and queries
    are interleaved along the size order the same way for every seed, so
    each family has the same size distribution under every seed; the
    seed changes the content, the exact sizes and the page order."""
    rng = random.Random(seed)
    sizes = quantile_sizes(n, 1_000, max_bytes)
    families = interleave(n, FAMILIES, FAMILY_WEIGHTS)
    qids = interleave(n, query_ids, [1.0] * len(query_ids))
    order = list(range(n))
    rng.shuffle(order)
    return [make_page(rng, i, families[j], qids[j], _n_items(sizes[j]))
            for i, j in enumerate(order)]


# -- transcripts ------------------------------------------------------------

@dataclass(frozen=True)
class Turn:
    conv_id: str
    turn_idx: int
    role: str
    text: str
    page: Optional[Page] = None    # set for markup turns


def make_transcripts(seed: int, n_turns: int, markup_share: float,
                     n_convs: int, whale_share: float,
                     query_ids: Sequence[str], max_bytes: int,
                     prose_sentences: Tuple[int, int]) -> List[Turn]:
    """Conversations whose tool turns are pages from :func:`make_pages`
    and whose other turns are prose with no markup at all.  One
    conversation (the whale) holds ``whale_share`` of all turns, so the
    pipeline's salting has a skewed key to spread."""
    rng = random.Random(seed * 7919 + 17)
    n_markup = round(n_turns * markup_share)
    pages = iter(make_pages(seed, n_markup, query_ids, max_bytes))
    is_markup = stratified_choice(rng, n_turns, (True, False),
                                  (markup_share, 1 - markup_share))
    n_whale = round(n_turns * whale_share)
    conv_of = [0] * n_whale + [1 + rng.randrange(n_convs - 1)
                               for _ in range(n_turns - n_whale)]
    next_idx = [0] * n_convs
    turns = []
    for markup, c in zip(is_markup, conv_of):
        idx = next_idx[c]
        next_idx[c] += 1
        conv_id = f"conv_{seed}_{c:05d}"
        if markup:
            page = next(pages)
            turns.append(Turn(conv_id, idx, "tool", page.html, page))
        else:
            role = "user" if idx % 2 == 0 else "assistant"
            text = paragraph(rng, rng.randint(*prose_sentences))
            turns.append(Turn(conv_id, idx, role, text))
    return turns


# -- web corpus -------------------------------------------------------------

@dataclass(frozen=True)
class WebPage:
    doc_id: int
    html: str
    article: str                 # whitespace-collapsed main text
    nav_links: Tuple[str, ...]
    kind: str                    # original | exact_copy | near_copy | spanish
    source: int                  # doc_id this page copies (itself if original)
    email: str = ""


def _web_html(paras: List[str], links: Tuple[str, ...]) -> str:
    side = "".join(f'<li><a href="/r/{i}">{t}</a></li>'
                   for i, t in enumerate(links[::-1]))
    article = "\n".join(f"<p>{p}</p>" for p in paras)
    return ("<html><head><title>Daily Gazette</title></head><body>"
            + nav(links)
            + f'<div class="content"><article class="post">{article}</article></div>'
            + f'<aside class="sidebar"><ul>{side}</ul></aside>'
            + '<footer class="site-footer"><p>All rights reserved.</p></footer>'
            + "</body></html>")


def load_articles() -> List[str]:
    """The article pool: real document texts (see ``data/slice_documents.py``)."""
    import pyarrow.parquet as pq

    return pq.read_table(ARTICLES, columns=["text"]).column("text").to_pylist()


def make_web_corpus(seed: int, n_originals: int, exact_share: float = 0.1,
                    near_share: float = 0.1, spanish_share: float = 0.05,
                    email_share: float = 0.1) -> List[WebPage]:
    """Article pages wrapped in nav, sidebar and footer boilerplate,
    plus seeded exact copies (same article, other boilerplate), near
    copies (one sentence added) and Spanish pages the language gate
    drops.  Each original's paragraphs are texts of the article pool,
    each used once, so originals are not copies of each other.  Copies
    get larger doc ids than their sources."""
    rng = random.Random(seed * 104729 + 3)
    texts = load_articles()
    rng.shuffle(texts)
    sizes = quantile_sizes(n_originals, 2, 16, alpha=1.3)
    if sum(sizes) > len(texts):
        raise ValueError(f"{n_originals} articles need {sum(sizes)} pool texts, "
                         f"the pool has {len(texts)}")
    rng.shuffle(sizes)
    paras_of: List[List[str]] = []
    out: List[WebPage] = []
    used = 0
    for doc_id, n_paras in enumerate(sizes):
        paras = texts[used:used + n_paras]
        used += n_paras
        email = ""
        if rng.random() < email_share:
            email = f"desk{doc_id}@gazette.example"
            paras[-1] += f" Write to {email} with corrections."
        paras_of.append(paras)
        links = tuple(rng.sample(NAV_LINKS, 8))
        out.append(WebPage(doc_id, _web_html(paras, links),
                           " ".join(paras), links, "original", doc_id, email))
    next_id = n_originals
    for kind, share in (("exact_copy", exact_share), ("near_copy", near_share)):
        for src in rng.sample(range(n_originals), round(share * n_originals)):
            paras = list(paras_of[src])
            if kind == "near_copy":
                paras[-1] = paras[-1] + " " + sentence(rng, 9)
            links = tuple(rng.sample(NAV_LINKS, 8))
            out.append(WebPage(next_id, _web_html(paras, links),
                               " ".join(paras), links, kind, src,
                               out[src].email))
            next_id += 1
    for _ in range(round(spanish_share * n_originals)):
        paras = [paragraph(rng, 3, WORDS_ES) for _ in range(4)]
        links = tuple(rng.sample(NAV_LINKS, 8))
        out.append(WebPage(next_id, _web_html(paras, links),
                           " ".join(paras), links, "spanish", next_id))
        next_id += 1
    return out
