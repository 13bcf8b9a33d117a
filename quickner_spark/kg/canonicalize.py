"""Canonicalization: alias clustering -> canonical nodes (north-rule stage).

Pipeline: alias strings -> char-trigram sets -> exact Jaccard similarity
edges (>= ``threshold_pct``) -> connected components -> canonical id = min
alias per component.

Contract: the alias set is GAZETTEER-BOUNDED. Both callers (the batch
pipeline's ``aliases`` stage and ``SnapshotKg.update``) canonicalize the
surfaces of their committed ``linked_stats`` count table, and every
surface is a gazetteer name, so the set never grows with the corpus. It
is collected once and clustered on the driver in pure Python: an AllPairs
prefix filter bounds the candidate pairs (never O(n²)), candidates verify
exactly, and a min-alias union-find labels the components. The result is
a local relation. A Spark similarity join here was a multi-job plan whose
cost was all per-job floor at gazetteer size; it lives on in
``tests/canon_oracle.py`` as the differential oracle.

Lowercasing is Python ``str.lower`` (the Spark form used the JVM's, which
differs only on code points that gained case pairs in Unicode 14; pipeline
surfaces are already lowered by the matcher).
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame

__all__ = ["canonical_map", "canonicalize_aliases"]


def _shingles(alias: str, n: int) -> frozenset:
    """Distinct char n-grams of ``^alias$`` (lowered); empty when the
    padded string is shorter than ``n``."""
    padded = f"^{alias.lower()}$"
    return frozenset(padded[i:i + n] for i in range(len(padded) - n + 1))


def canonical_map(aliases: Iterable[str | None], n: int = 3,
                  threshold_pct: int = 60) -> dict:
    """alias -> canonical alias over a bounded alias set: connected
    components of the graph whose edges join aliases with char-n-gram
    Jaccard >= ``threshold_pct``%; canonical = the component's min alias
    (code-point order == Spark's UTF-8 byte order). Aliases too short to
    shingle (and None) map to themselves.

    Exact, via the AllPairs prefix filter: under one global shingle order
    (rarest first), two sets with Jaccard >= t share a shingle within
    their first ``|X| - ceil(t|X|) + 1``; only those prefixes are indexed,
    pairs are length-filtered, then verified with the integer test
    ``100 * shared >= t * |union|``."""
    names = set(aliases)
    sets = {a: _shingles(a, n) for a in names if a is not None}
    sets = {a: s for a, s in sets.items() if s}
    freq: dict[str, int] = {}
    for s in sets.values():
        for g in s:
            freq[g] = freq.get(g, 0) + 1
    index: dict[str, list[str]] = {}
    for a, s in sets.items():
        need = -(-len(s) * threshold_pct // 100)  # ceil(t|X|), integer
        for g in sorted(s, key=lambda g: (freq[g], g))[:len(s) - need + 1]:
            index.setdefault(g, []).append(a)

    parent = {a: a for a in names}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    seen = set()
    for bucket in index.values():
        for i, u in enumerate(bucket):
            for v in bucket[i + 1:]:
                pair = (u, v) if u < v else (v, u)
                if pair in seen:
                    continue
                seen.add(pair)
                su, sv = sets[u], sets[v]
                if (len(sv) * threshold_pct > len(su) * 100
                        or len(su) * threshold_pct > len(sv) * 100):
                    continue
                shared = len(su & sv)
                if 100 * shared < threshold_pct * (len(su) + len(sv) - shared):
                    continue
                ru, rv = find(u), find(v)
                if ru != rv:
                    # the smaller alias stays root: root == component min
                    parent[max(ru, rv)] = min(ru, rv)
    return {a: find(a) for a in names}


def canonicalize_aliases(aliases: DataFrame) -> DataFrame:
    """aliases -> (alias, canonical_id), one row per distinct alias:
    connected components over the trigram-Jaccard (>= 60%) similarity
    graph; canonical_id = lexicographic min alias of the component;
    singletons map to themselves.

    The ``alias`` column is collected to the driver (one job; none for a
    local relation), so ``aliases`` must be bounded — e.g. the surfaces
    of a ``linked_stats`` table, which the gazetteer bounds; a repeated
    alias yields one row. Clustering runs in pure Python
    (:func:`canonical_map`); the result is a local relation
    (``LocalTableScan``)."""
    import pyarrow as pa

    cmap = canonical_map(r[0] for r in aliases.select("alias").collect())
    keys = sorted(cmap, key=lambda a: (a is not None, a or ""))
    return aliases.sparkSession.createDataFrame(pa.Table.from_arrays(
        [pa.array(keys, pa.string()),
         pa.array([cmap[a] for a in keys], pa.string())],
        names=["alias", "canonical_id"]))
