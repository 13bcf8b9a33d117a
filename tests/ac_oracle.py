"""Pure-Python Aho-Corasick automaton: the test oracle for the matcher.

``quickner_spark.matcher`` scans only the boundary-anchored subset of the
raw matches (``_BoundaryScan``). This automaton reports the FULL
overlapping raw match set, the reference's M1 (quickner.rs:118-135), so the
property tests can feed it through the same M2/M3 filters
(``Matcher._filter_matches``) and compare with the production scan.
"""

from __future__ import annotations

from collections import deque
from typing import Iterator, Sequence


class AhoCorasick:
    """Dict-transition Aho-Corasick over *characters* with merged output
    sets, reporting all overlapping matches.

    The reference matches on bytes and converts offsets
    (quickner.rs:128-133); matching directly on characters yields the same
    match set for valid UTF-8 and skips the conversion entirely.
    """

    __slots__ = ("_goto", "_out", "_pat_len")

    def __init__(self, patterns: Sequence[str]):
        # goto[state] : dict[char, state]; out[state] : tuple[pattern ids]
        goto: list[dict[str, int]] = [{}]
        out: list[list[int]] = [[]]
        for pid, pat in enumerate(patterns):
            state = 0
            for ch in pat:
                nxt = goto[state].get(ch)
                if nxt is None:
                    nxt = len(goto)
                    goto[state][ch] = nxt
                    goto.append({})
                    out.append([])
                state = nxt
            out[state].append(pid)
        # BFS fail links; flatten into full transition maps so the scan loop
        # is a single dict lookup per character (no fail-chain walking).
        fail = [0] * len(goto)
        bfs_order: list[int] = []
        queue: deque[int] = deque(goto[0].values())
        while queue:
            s = queue.popleft()
            bfs_order.append(s)
            for ch, t in goto[s].items():
                queue.append(t)
                f = fail[s]
                while f and ch not in goto[f]:
                    f = fail[f]
                cand = goto[f].get(ch, 0)
                fail[t] = cand if cand != t else 0
                if fail[t]:
                    out[t].extend(out[fail[t]])
        # Flatten transitions in BFS order (fail[s] is always shallower, so
        # its map is already flattened): delta[state] then covers the whole
        # fail chain and the scan loop is one dict lookup per character.
        for s in bfs_order:
            merged = dict(goto[fail[s]])
            merged.update(goto[s])
            goto[s] = merged
        self._goto = goto
        self._out = [tuple(sorted(o)) for o in out]
        self._pat_len = [len(p) for p in patterns]

    def iter_matches(self, text: str) -> Iterator[tuple[int, int, int]]:
        """Yield (start_char, end_char, pattern_id) ordered by
        (end_char, pattern_id)."""
        goto = self._goto
        out = self._out
        pat_len = self._pat_len
        state = 0
        root = goto[0]
        for i, ch in enumerate(text):
            state = goto[state].get(ch, 0) if state else root.get(ch, 0)
            if out[state]:
                end = i + 1
                for pid in out[state]:
                    yield end - pat_len[pid], end, pid
