"""Self-check of the benchmark's own machinery, run at the start of every run
(pure Python, well under a second):

* ``reducer``  — the event-log reducer on a small captured log
  (``fixtures/events_small.jsonl``, a traced 48-page ``snapshot_update``)
  reproduces the pinned ledger in ``fixtures/ledger_small.json``;
* ``gold``     — gold scoring on a tiny input: every gold triple is
  literally planted in its page's content block, and the P/R scorer gives
  the hand-computed values on a known case;
* ``generator`` — the same seed gives the same bytes.

    python3 perfbench/selfcheck.py      # prints the check results
"""

from __future__ import annotations

import hashlib
import html
import json
import os
import re
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import driver  # noqa: E402
import gen  # noqa: E402
import ledger  # noqa: E402

FIXTURES = os.path.join(HERE, "fixtures")
# sha256 prefix of the gazetteer and five pages of gen.make_page("selfcheck",
# i); changes only if the generator does
PINNED_PAGES = "54fac648"


def _digest(parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p if isinstance(p, bytes) else repr(p).encode())
    return h.hexdigest()[:8]


def _pages(n: int):
    gaz = gen.gazetteer(999)
    names = [g[0] for g in gaz]
    orgs = [g[0] for g in gaz if g[1] == "ORG"]
    return gaz, [gen.make_page("selfcheck", i, names, orgs, (6, 10))
                 for i in range(n)]


def generator_digest() -> str:
    gaz, pages = _pages(5)
    return _digest(gaz + pages)


def check_gold() -> bool:
    """Every gold triple is literally planted in its page's content, and the
    P/R scorer gives hand-computed values on a known case."""
    _, pages = _pages(20)
    for url, _, page, triples in pages:
        m = re.search(rb"<article><p>(.*?)</p></article>", page)
        text = html.unescape(m.group(1).decode())
        for subj, pred, obj in triples:
            if f"{subj} {pred} {obj}" not in text:
                return False
    p, r = driver.score_triples([("u", "a", "p", "b"), ("u", "a", "p", "c")],
                                [("u", "a", "p", "b"), ("v", "a", "p", "b"),
                                 ("w", "a", "p", "b"), ("x", "a", "p", "b")])
    return (p, r) == (0.5, 0.25)


def check_reducer() -> bool:
    with open(os.path.join(FIXTURES, "ledger_small.json")) as fh:
        want = json.load(fh)
    events = ledger.read_events(os.path.join(FIXTURES, "events_small.jsonl"))
    got = ledger.reduce(events, [tuple(w) for w in want["windows"]],
                        want["workload"], want["counts"])
    return all(abs(got[k] - v) <= 1e-9 * max(1.0, abs(v))
               for k, v in want["ledger"].items())


def check_generator() -> bool:
    return generator_digest() == PINNED_PAGES


def run() -> dict[str, bool]:
    """{check: passed}; a check that raises fails, with its traceback on
    stderr."""
    out = {}
    for name, check in (("reducer", check_reducer), ("gold", check_gold),
                        ("generator", check_generator)):
        try:
            out[name] = bool(check())
        except Exception:  # noqa: BLE001 - a broken check is a failed check
            traceback.print_exc()
            out[name] = False
    return out


if __name__ == "__main__":
    print(json.dumps(run()))
    print(json.dumps(generator_digest()))
