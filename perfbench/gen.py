"""Seeded input generator and gold for the benchmark workloads.

Deliberately independent of the engine: nothing here imports
``quickner_spark``, so editing the engine's own synthetic corpus module can
never change what the benchmark feeds it. The page shape mirrors a
Common-Crawl capture of a small news/wiki page: a nav bar, two link-farm
lists whose anchor text is gazetteer ORG names (boilerplate an extractor must
drop), inline script/style, a content ``<article>`` and a footer.

Every generator is a pure function of its arguments; randomness comes from
``random.Random`` seeded with a string, which is stable across processes and
Python versions (string seeds hash through SHA-512).

Outputs, all plain files: ``pages.parquet`` (``url string, warc_ts
timestamp, html binary``, split over 8 files) and ``gold_triples.json``
(``[[url, subj, pred, obj], ...]``, every triple planted in the page text).
"""

from __future__ import annotations

import datetime as dt
import html as html_mod
import json
import os
import random

PREDICATES = ("was created by", "is made by", "works at", "acquired")

_ORG_A = ["acme", "orbit", "vertex", "quark", "zenith", "nimbus", "pylon",
          "cobalt", "ember", "flux", "gale", "helix"]
_ORG_B = ["systems", "labs", "software", "industries", "dynamics", "works",
          "computing", "networks", "analytics", "robotics"]
_FIRST = ["alda", "brin", "cora", "dane", "elya", "finn", "gera", "hale",
          "iris", "jude", "kira", "liam", "mira", "nash", "opal", "pell"]
_LAST = ["anders", "boyle", "chen", "diaz", "evans", "fuchs", "grant",
         "hopper", "ito", "jain", "kim", "lovett", "moss", "nolan"]
_FILLER = ("the quick overview explains how the platform handles scale and "
           "why teams adopt it for production workloads").split()
_DOMAINS = ["alpha.example.org", "beta.example.org", "gamma.example.org",
            "delta.example.org", "epsilon.example.org", "zeta.example.org",
            "eta.example.org", "theta.example.org"]
_EPOCH = dt.datetime(2024, 1, 1)

# The gazetteer is fixed (not seeded): the workloads vary the corpus, and a
# fixed dictionary keeps the matcher's automaton identical across seeds.
GAZ_SEED = "gazetteer-v1"


def gazetteer(n: int = 999) -> list[tuple[str, str]]:
    """``n`` distinct (name, label) rows, mostly ORG, with multi-word names
    and shared-prefix collisions ("acme labs" / "acme labs works")."""
    rng = random.Random(GAZ_SEED)
    out: set[tuple[str, str]] = set()
    while len(out) < n:
        kind = rng.randrange(10)
        if kind < 7:
            name = f"{rng.choice(_ORG_A)} {rng.choice(_ORG_B)}"
            if rng.randrange(3) == 0:
                name += f" {rng.choice(_ORG_B)}"
            label = "ORG"
        elif kind < 9:
            name = f"{rng.choice(_FIRST)} {rng.choice(_LAST)}"
            label = "PERSON"
        else:
            name = f"{rng.choice(_ORG_A)}{rng.randrange(1000)}"
            label = "PRODUCT"
        out.add((name, label))
    return sorted(out)


def _zipf(rng: random.Random, items: list):
    """Rank k picked with weight ~1/(k+1): a heavy head entity, long tail."""
    n = len(items)
    k = int(n ** rng.random()) - 1
    return items[max(0, min(n - 1, k))]


def page_text(rng: random.Random, names: list[str], n_sents: int
              ) -> tuple[str, list[tuple[str, str, str]]]:
    """``n_sents`` sentences ``<subj> <pred> <obj> [filler]`` and the
    planted (subj, pred, obj) triples, in text order."""
    sents, triples = [], []
    for _ in range(n_sents):
        subj = _zipf(rng, names)
        obj = _zipf(rng, names)
        while obj == subj:
            obj = rng.choice(names)
        pred = rng.choice(PREDICATES)
        filler = " ".join(rng.choice(_FILLER) for _ in range(rng.randrange(5)))
        sents.append(f"{subj} {pred} {obj}" + (f" {filler}" if filler else ""))
        triples.append((subj, pred, obj))
    return ". ".join(sents) + ".", triples


def page_html(text: str, title: str, rng: random.Random,
              org_names: list[str]) -> bytes:
    """Messy page: the content paragraph buried in link-dense chrome whose
    anchors are real gazetteer names."""
    esc = html_mod.escape
    nav = " ".join(f'<a href="/s/{rng.randrange(97)}">{rng.choice(_FILLER)}</a>'
                   for _ in range(6))
    farm = "".join(f'<li><a href="/t/{j}">{rng.choice(org_names)}</a></li>'
                   for j in range(8))
    return (
        f"<html><head><title>{esc(title)}</title>"
        "<style>body{margin:0;font:14px sans-serif}</style>"
        f"<script>var pageId={rng.randrange(100000)};trk();</script></head>"
        f"<body><nav>{nav}</nav>"
        f'<div class="sidebar"><ul>{farm}</ul></div>'
        f"<article><p>{esc(text)}</p></article>"
        f'<div class="related"><ul>{farm}</ul></div>'
        '<footer><a href="/about">about</a> | '
        '<a href="/contact">contact</a> | copyright</footer>'
        "</body></html>").encode("utf-8")


def page_url(i: int) -> str:
    rng = random.Random(f"url:{i}")
    return f"https://{_zipf(rng, _DOMAINS)}/doc/{i}"


def make_page(key: str, i: int, names: list[str], org_names: list[str],
              sents: tuple[int, int]):
    """One page version: (url, warc_ts, html, triples). ``key`` names the
    version, so the same (key, i) always yields the same bytes."""
    rng = random.Random(f"page:{key}:{i}")
    text, triples = page_text(rng, names, rng.randint(*sents))
    html = page_html(text, f"doc {i}", rng, org_names)
    return page_url(i), _EPOCH + dt.timedelta(seconds=i), html, triples


def write_pages(path: str, rows, files: int = 8) -> None:
    """rows: list of (url, warc_ts, html) -> ``files`` parquet files, so a
    scan splits into that many tasks as a crawl segment would."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(path, exist_ok=True)
    for f in range(files):
        part = rows[f::files]
        table = pa.table({
            "url": pa.array([r[0] for r in part], pa.string()),
            "warc_ts": pa.array([r[1] for r in part], pa.timestamp("us")),
            "html": pa.array([r[2] for r in part], pa.binary()),
        })
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))


def _write_json(path: str, obj) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(obj, fh, separators=(",", ":"))


def gen_snapshot(out: str, n: int, sents: tuple[int, int],
                 gaz: list[tuple[str, str]], key: str,
                 base_key: str | None = None, share: float = 0.0) -> int:
    """``n`` pages + their gold triples under ``out``. Without ``base_key``
    every page is version ``key``. With it, this is a later snapshot of the
    ``base_key`` pages: a seeded ``share`` of the urls get new text
    (``key``) and a later capture time, the rest are byte-identical
    recaptures. Returns the number of changed pages."""
    names = [g[0] for g in gaz]
    orgs = [g[0] for g in gaz if g[1] == "ORG"]
    changed: set[int] = set()
    if base_key is not None:
        rng = random.Random(f"changed:{key}")
        changed = set(rng.sample(range(n), max(1, round(n * share))))
    pages, gold = [], []
    for i in range(n):
        version = base_key if base_key is not None and i not in changed else key
        url, ts, html, triples = make_page(version, i, names, orgs, sents)
        if i in changed:
            ts += dt.timedelta(days=30)
        pages.append((url, ts, html))
        gold.extend([url, *t] for t in triples)
    write_pages(os.path.join(out, "pages.parquet"), pages)
    _write_json(os.path.join(out, "gold_triples.json"), gold)
    return len(changed)
