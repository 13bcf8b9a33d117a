"""Graph primitives: connected components as an iterative DataFrame loop.

Connected components are min-label propagation over the edge list:

    comp(v) <- min(comp(v), min over neighbors u of comp(u))

which converges in O(graph diameter) rounds. Alias/canonicalization graphs
are shallow (stars around a canonical name), so few rounds suffice. Each
round is one shuffle (join on src + groupBy dst); ``localCheckpoint``
truncates lineage so plans don't grow across iterations.

Small graphs take a driver fast path (same rationale as a broadcast join:
don't launch N distributed rounds against broadcast-sized data). The edge
list is persisted (MEMORY_AND_DISK — recoverable, unlike localCheckpoint)
and counted once; below ``driver_threshold`` edges it is collected and
solved with union-find — identical min-label output, one job instead of
3-4 per round. At KG scale the alias graph is |distinct aliases| ≈ 10^7,
far above the threshold, and the distributed loop runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructField, StructType

__all__ = ["connected_components", "k_hop", "degree_stats", "pagerank",
           "hits", "match_patterns", "triangle_count", "cocitation",
           "label_propagation"]


def match_patterns(triples: DataFrame, patterns,
                   subj: str = "subj", pred: str = "pred",
                   obj: str = "obj") -> DataFrame:
    """Conjunctive basic-graph-pattern matching (the SPARQL-BGP core)
    over a (subj, pred, obj) triple table: ``patterns`` is a sequence of
    ``(s, p, o)`` tuples whose elements are either constants or
    ``"?var"`` variables; the result has one column per variable, one
    row per satisfying assignment (bag semantics — duplicate triples
    multiply, exactly like SPARQL without DISTINCT).

        match_patterns(t, [("?a", "acquired", "?b"),
                           ("?b", "acquired", "?c")])
        -> DataFrame[a, b, c]   # 2-chains of acquisitions

    Plan shape (the reason this is a composition, not a UDF): each
    pattern becomes a filtered PROJECTION of the triple table — constant
    positions are pushed to the scan as equality predicates (parquet
    PushedFilters), variable positions are column aliases, a variable
    repeated within one pattern becomes an in-scan self-equality — then
    patterns join on their shared variable columns. Join order is
    greedy: most-constants-first (most selective scan seeds the chain),
    then always a pattern sharing >=1 bound variable, so a connected BGP
    never degrades to a cartesian product; genuinely disconnected
    pattern groups crossJoin, which IS their semantics (documented,
    caller-visible). Fully-ground patterns act as existence filters via
    a broadcast ``limit(1)`` crossJoin (0 or 1 rows — the whole result
    empties when the ground triple is absent). At 10^12-triple scale
    every join is an equi-shuffle on variable bindings; AQE handles
    skewed bindings the same way it handles any hot join key."""
    pats = [tuple(p) for p in patterns]
    if not pats:
        raise ValueError("match_patterns: need at least one pattern")
    var_order: list[str] = []  # first-appearance output order
    scans: list[tuple[DataFrame, frozenset[str]]] = []
    n_consts: list[int] = []
    for idx, pat in enumerate(pats):
        if len(pat) != 3:
            raise ValueError(f"pattern {idx}: need (s, p, o), got {pat!r}")
        df = triples
        sel, bound = [], {}
        consts = 0
        for val, col in zip(pat, (subj, pred, obj)):
            if isinstance(val, str) and val.startswith("?"):
                var = val[1:]
                if not var:
                    raise ValueError(f"pattern {idx}: bare '?' variable")
                if var in bound:  # repeated var inside one pattern
                    df = df.filter(F.col(col) == F.col(bound[var]))
                else:
                    bound[var] = col
                    sel.append(F.col(col).alias(var))
                    if var not in var_order:
                        var_order.append(var)
            else:
                df = df.filter(F.col(col) == F.lit(val))
                consts += 1
        if sel:
            scans.append((df.select(*sel), frozenset(bound)))
        else:  # ground pattern: existence constraint
            scans.append((df.select(F.lit(1).alias(f"__exists_{idx}"))
                          .limit(1), frozenset()))
        n_consts.append(consts)
    order = sorted(range(len(scans)), key=lambda i: -n_consts[i])
    first, *rest = order
    out, seen = scans[first][0], set(scans[first][1])
    remaining = list(rest)
    while remaining:
        nxt = next((i for i in remaining if scans[i][1] & seen),
                   remaining[0])  # fallback: disconnected -> crossJoin
        remaining.remove(nxt)
        df, vs = scans[nxt]
        shared = sorted(vs & seen)
        if shared:
            out = out.join(df, on=shared)
        elif not vs:  # ground existence: 0-or-1 broadcast rows
            out = out.crossJoin(F.broadcast(df))
        else:
            out = out.crossJoin(df)
        seen |= vs
    keep = [v for v in var_order if v in seen]
    return out.select(*keep) if keep else out


def k_hop(edges: DataFrame, seeds, k: int, src: str = "src",
          dst: str = "dst", directed: bool = True) -> DataFrame:
    """(seed, node, dist): every node reachable from each seed within
    ``k`` hops, ``dist`` = MINIMUM hop count (1..k; the seed itself is
    excluded). ``seeds`` is a list of node ids or a single-column
    DataFrame.

    Frontier-expansion BFS: exactly ``k`` equi-joins of the CURRENT
    frontier (not the visited set) against the edge list, with a
    per-level anti-join so a node is emitted at its first (minimal)
    depth only — the standard distributed BFS shape: per-level work is
    |frontier ⋈ edges|, never |visited| × |edges|, and k is a small
    constant so the plan is k fixed stages, no unbounded iteration.
    Each level is ``localCheckpoint``-ed because it is reused twice
    (as the next frontier and inside the visited anti-join)."""
    spark = edges.sparkSession
    ednn = edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull())
    e = ednn.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if not directed:
        e = e.union(ednn.select(F.col(dst).alias("u"),
                                F.col(src).alias("v")))
    e = e.distinct()
    if isinstance(seeds, DataFrame):
        sdf = seeds.select(F.col(seeds.columns[0]).alias("seed")).distinct()
    else:
        node_type = edges.schema[src].dataType
        sdf = spark.createDataFrame(
            [(s,) for s in seeds],
            StructType([StructField("seed", node_type, False)]))
    visited = sdf.select("seed", F.col("seed").alias("node"),
                         F.lit(0).alias("dist"))
    frontier = visited
    for d in range(1, k + 1):
        nxt = (frontier.join(e, frontier["node"] == e["u"])
               .select("seed", F.col("v").alias("node"),
                       F.lit(d).alias("dist"))
               .distinct()
               .join(visited.select("seed", "node"), ["seed", "node"],
                     "left_anti")
               .localCheckpoint())
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited.where(F.col("dist") > 0)


def degree_stats(edges: DataFrame, src: str = "src", dst: str = "dst",
                 weight: str | None = None) -> DataFrame:
    """Per-node degree table (node, out_deg, in_deg, w_out, w_in) over
    the directed edge list; with ``weight=None`` the weighted columns
    equal the counts. Two map-side-combined aggregates + one outer join
    on the (node-sized, not edge-sized) results."""
    w = F.col(weight) if weight else F.lit(1)
    edges = edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull())
    out = (edges.groupBy(F.col(src).alias("node"))
           .agg(F.count("*").alias("out_deg"),
                F.sum(w).alias("w_out")))
    inn = (edges.groupBy(F.col(dst).alias("node"))
           .agg(F.count("*").alias("in_deg"),
                F.sum(w).alias("w_in")))
    return (out.join(inn, "node", "full_outer")
            .select("node",
                    F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
                    F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
                    F.coalesce("w_out", F.lit(0)).alias("w_out"),
                    F.coalesce("w_in", F.lit(0)).alias("w_in")))


def pagerank(edges: DataFrame, iters: int = 10, src: str = "src",
             dst: str = "dst", damping_pct: int = 85,
             arithmetic: str = "double", scale: int = 10 ** 9,
             weight: str | None = None,
             checkpoint: bool = True, seeds=None) -> DataFrame:
    """Fixed-iteration PageRank over the distinct directed edge list;
    returns (node, rank). Per iteration: ONE edge-sized join (ranks are
    node-keyed, the natural shuffle key) + one map-side-combined sum —
    no driver action, lineage cut per round with ``localCheckpoint``.

    Variant notes (both restated exactly by the q42 oracle):
    * dangling-node mass is NOT redistributed — the correction needs a
      global scalar sync per iteration and only rescales ranks;
      comparisons/top-k are unaffected.
    * ``arithmetic="integer"``: ranks are int64 at ``scale``;
      contributions use integer division (``rank * damping_pct DIV
      (100 * out_deg)``) — addition of int64 is associative, so the
      result is BIT-IDENTICAL on any engine regardless of sum order,
      which is what makes the cross-engine oracle exact (same trick as
      the quantized-cosine scoring in simsearch). Production default is
      double.
    * ``seeds``: a list of node ids (or a 1-column DataFrame) switches
      to PERSONALIZED PageRank — the teleport mass lands only on the
      seeds (base term zero elsewhere; initial rank likewise), so the
      fixpoint measures relatedness TO the seed set, the standard KG
      entity-relatedness query. Ranks of nodes unreachable from the
      seeds are exactly 0. Composes with ``weight`` and both
      arithmetics; the q65 oracle restates the seeded base term as a
      CASE over seed literals.
    * ``weight``: name of an edge-weight column (e.g. the host graph's
      anchor counts) — a node's rank mass splits over its out-edges
      proportionally to weight instead of uniformly; duplicate
      (src, dst) rows sum their weights first. Integer+weighted
      contributions evaluate ``((rank·d) div 100)·w div W`` — the
      multiply-before-divide order is part of the q64 oracle contract,
      and the caller must keep ``max_rank · damping_pct div 100 ·
      max_weight < 2^63`` (holds for scale=10^9 graphs with weights
      under ~10^6; lower ``scale`` otherwise)."""
    if arithmetic not in ("double", "integer"):
        raise ValueError(f"unknown arithmetic: {arithmetic!r}")

    def _cut(df: DataFrame) -> DataFrame:
        return df.localCheckpoint() if checkpoint else df

    # NULL endpoints (unparseable hrefs in real link tables) are not
    # nodes — drop the rows, don't rank a NULL
    ednn = edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull())
    if weight is None:
        e = _cut(ednn.select(src, dst).distinct())
    else:
        e = _cut(ednn.groupBy(src, dst)
                 .agg(F.sum(F.col(weight)).cast("long").alias("__w")))
    nodes = (e.select(F.col(src).alias("node"))
             .union(e.select(F.col(dst).alias("node"))).distinct())
    wexpr = F.lit(1).cast("long") if weight is None else F.col("__w")
    deg = e.groupBy(src).agg(F.sum(wexpr).alias("__d"))
    ej = e.join(deg, src)
    integer = arithmetic == "integer"
    if integer:
        init = F.lit(scale).cast("long")
        base = F.lit((scale * (100 - damping_pct)) // 100).cast("long")
        if weight is None:
            contrib = F.expr(f"(__r * {damping_pct}) div (100 * __d)")
        else:
            contrib = F.expr(
                f"((__r * {damping_pct}) div 100) * __w div __d")
    else:
        init = F.lit(1.0)
        base = F.lit((100 - damping_pct) / 100.0)
        contrib = (F.col("__r") * (damping_pct / 100.0)
                   * wexpr / F.col("__d"))
    if seeds is not None:
        if isinstance(seeds, DataFrame):
            sdf = seeds.select(
                F.col(seeds.columns[0]).alias("node")).distinct()
        else:
            node_type = e.schema[src].dataType
            sdf = e.sparkSession.createDataFrame(
                [(s,) for s in seeds],
                StructType([StructField("node", node_type, False)]))
        is_seed = F.col("__seed").isNotNull()
        nodes = (nodes.join(F.broadcast(sdf.withColumn("__seed", F.lit(1))),
                            "node", "left"))
        zero = F.lit(0).cast("long") if integer else F.lit(0.0)
        init = F.when(is_seed, init).otherwise(zero)
        base = F.when(is_seed, base).otherwise(zero)
        nodes = _cut(nodes)
    ranks = _cut(nodes.select("node", init.alias("rank")))
    for _ in range(iters):
        r = ranks.select(F.col("node").alias("__n"),
                         F.col("rank").alias("__r"))
        s = (ej.join(r, ej[src] == r["__n"])
             .select(F.col(dst).alias("node"), contrib.alias("__c"))
             .groupBy("node").agg(F.sum("__c").alias("__s")))
        ranks = _cut(nodes.join(s, "node", "left")
                     .select("node", (base + F.coalesce("__s", F.lit(0)))
                             .alias("rank")))
    return ranks.select("node", "rank")


def hits(edges: DataFrame, iters: int = 5, src: str = "src",
         dst: str = "dst", arithmetic: str = "double",
         scale: int = 10 ** 9) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg hubs/authorities) over the
    distinct directed edge list; returns (node, hub, authority).

    Per iteration: authority(u) = sum of hub scores over u's in-edges,
    then hub(v) = sum of authority scores over v's out-edges — two
    edge-sized equi-joins + two map-side-combined sums, no driver
    action, lineage cut per round. Scores are L1-normalized after each
    half-step (the classical algorithm's L2 norm only changes the
    vector's length, never the ranking; L1 keeps the arithmetic
    rational). The normalizing total is a 1-row aggregate joined back
    by broadcast — the one global sync HITS inherently needs.

    ``arithmetic="integer"`` (the q51 oracle form): scores are int64 at
    ``scale``; normalization divides by ``greatest(1, total div scale)``
    — a two-step integer division that never overflows (score * scale
    would at |V| > 9) and is bit-identical on any engine regardless of
    aggregation order, the same portability trick as integer
    ``pagerank``. Production default is double."""
    if arithmetic not in ("double", "integer"):
        raise ValueError(f"unknown arithmetic: {arithmetic!r}")
    e = (edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull())
         .select(src, dst).distinct().localCheckpoint())
    nodes = (e.select(F.col(src).alias("node"))
             .union(e.select(F.col(dst).alias("node"))).distinct()
             .localCheckpoint())
    integer = arithmetic == "integer"
    init = F.lit(scale).cast("long") if integer else F.lit(1.0)

    def half_step(scores: DataFrame, score_col: str, join_on: str,
                  group_on: str, out_col: str) -> DataFrame:
        s = scores.select(F.col("node").alias("__n"),
                          F.col(score_col).alias("__v"))
        raw = (e.join(s, e[join_on] == s["__n"])
               .select(F.col(group_on).alias("node"), "__v")
               .groupBy("node").agg(F.sum("__v").alias("__s")))
        tot = raw.agg(F.sum("__s").alias("__t"))
        if integer:
            norm = F.expr(f"__s div greatest(1, __t div {scale})")
        else:
            norm = F.col("__s") / F.col("__t")
        normed = (raw.join(F.broadcast(tot))
                  .select("node", norm.alias(out_col)))
        zero = F.lit(0).cast("long") if integer else F.lit(0.0)
        return (nodes.join(normed, "node", "left")
                .select("node", F.coalesce(out_col, zero).alias(out_col))
                .localCheckpoint())

    hub = nodes.select("node", init.alias("hub")).localCheckpoint()
    auth = hub.select("node", F.col("hub").alias("authority"))
    for _ in range(iters):
        # authorities gather hub mass along in-edges, then hubs gather
        # the fresh authority mass along out-edges
        auth = half_step(hub, "hub", src, dst, "authority")
        hub = half_step(auth, "authority", dst, src, "hub")
    return hub.join(auth, "node").select("node", "hub", "authority")


def _driver_components(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Union-find on a collected edge list; component = min node id —
    the same fixpoint the distributed loop converges to."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    pairs = edges.select(src, dst).collect()
    for r in pairs:
        for n in (r[0], r[1]):
            if n not in parent:
                parent[n] = n
        ru, rv = find(r[0]), find(r[1])
        if ru != rv:
            # union by label order so every root is its component's min
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    node_type = edges.schema[src].dataType
    schema = StructType([StructField("node", node_type, False),
                         StructField("component", node_type, False)])
    rows = [(n, find(n)) for n in parent]
    return edges.sparkSession.createDataFrame(rows, schema)


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iter: int = 25,
                         driver_threshold: int = 100_000,
                         check_every: int = 3) -> DataFrame:
    """Undirected connected components. Returns (node, component) where
    component = min node id (orderable type) in the component.

    Deterministic: min-propagation has a unique fixpoint. Convergence is
    tested with a changed-label count only every ``check_every`` rounds
    (plus the final round) — each check is a join + count ACTION, so
    checking every round pays 2 extra jobs per round for information that
    rarely changes the outcome; propagation past the fixpoint is a no-op,
    so sparse checking returns the identical labeling (pinned by a
    differential test). ``check_every=1`` restores per-round checking.
    ``driver_threshold``: edge count at or below which the union-find fast
    path runs (0 disables it, used by differential tests).
    """
    edges = edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull())
    persisted = None
    if driver_threshold:
        # persist (recoverable, spillable) rather than localCheckpoint:
        # localCheckpoint materializes the whole edge list to executor
        # storage eagerly AND is not fault-tolerant — an executor loss
        # during the distributed loop would be unrecoverable instead of a
        # recompute. persist+count gives the same count-once/reuse without
        # either cost.
        from pyspark.storagelevel import StorageLevel

        persisted = edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
        if edges.count() <= driver_threshold:
            out = _driver_components(edges, src, dst)
            persisted.unpersist()
            return out

    sym = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
           .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))))
    # localCheckpoint here is purely per-loop lineage truncation (sym is
    # re-joined every round); once it is materialized the cached edge list
    # is no longer needed
    sym = sym.distinct().localCheckpoint()
    if persisted is not None:
        persisted.unpersist()
    comp = (sym.select(F.col("u").alias("node")).distinct()
            .withColumn("component", F.col("node")))
    for i in range(max_iter):
        # candidate label for each node = min over neighbors' components
        nbr_min = (sym.join(comp, sym.v == comp.node)
                   .groupBy("u").agg(F.min("component").alias("nbr_comp"))
                   .withColumnRenamed("u", "node"))
        new_comp = (comp.join(nbr_min, "node", "left")
                    .select("node",
                            F.least(F.col("component"),
                                    F.coalesce(F.col("nbr_comp"), F.col("component"))
                                    ).alias("component")))
        new_comp = new_comp.localCheckpoint()
        if (i + 1) % check_every == 0 or i == max_iter - 1:
            changed = (new_comp.alias("n").join(comp.alias("o"), "node")
                       .where(F.col("n.component") != F.col("o.component"))
                       .count())
            if changed == 0:
                comp = new_comp
                break
        comp = new_comp
    return comp


def triangle_count(edges: DataFrame, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """Per-node triangle counts over the UNDIRECTED simple graph induced
    by the edge list (direction, weight, multiplicity and self-loops are
    dropped). Returns (node, triangles) covering EVERY node of the
    graph, zeros included — the clustering-coefficient numerator and the
    standard webgraph cohesion statistic.

    Algorithm: degree-ordered edge orientation (the distributed-scale
    standard, Cohen's MapReduce scheme / Ortmann-Brandes). Every
    undirected edge is directed from its lower endpoint to its higher
    endpoint under the total order (degree, node id); wedges are built
    ONLY from each node's oriented out-neighborhood and closed against
    the oriented edge set:

        wedge (a->b, a->c) with b <_ord c   +   edge (b->c)  => triangle

    Why this shape at 10^12-edge scale: a naive wedge join fans out as
    sum(deg^2) — one celebrity host (10^7 in-links) alone yields 10^14
    wedges. Degree orientation bounds every out-degree by O(sqrt(m)),
    so the wedge join is sum(out_deg^2) = O(m^1.5) TOTAL, and the hot
    node's wedges are generated by its many LOW-degree neighbors instead
    of by itself — the skew is dissolved structurally, not salted
    around. Each triangle is produced exactly once (its minimal vertex
    under the order is the apex), then exploded to its 3 corners for the
    per-node count. Plan: distinct + wedge self-equi-join on the apex +
    closing equi-join + one map-side-combined count; the degree lookups
    are plain equi-joins with NO forced broadcast hint — node-sized is
    not small (a 10^8-host webgraph's degree table would OOM a forced
    broadcast), so AQE broadcasts when the table fits its threshold and
    falls back to a shuffle join when it doesn't.

    Determinism: outputs are integer counts; order ties break on node
    id, so the orientation — hence the intermediate sizes, not just the
    result — reproduces across engines. The q61 oracle restates the
    same orientation in SQL."""
    from quickner_spark.operators.caching import track

    und = (edges.where(F.col(src) != F.col(dst))
           .select(F.least(src, dst).alias("a"),
                   F.greatest(src, dst).alias("b"))
           .distinct()
           .cache())  # reused 3x: degrees, wedges, closing — columnar
    # cache, NOT localCheckpoint: the scoped-cache contract (caching.py)
    # lets callers release, and the crawl-loop A/B (BENCH_SCALING.md)
    # measured columnar rescans ~10x faster than checkpoint row rescans
    deg = (und.select(F.col("a").alias("node"))
           .union(und.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count("*").alias("d"))
           .cache())  # node-sized; read by two broadcasts + the outer join
    lo = (F.col("da") < F.col("db")) | \
         ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    o = (und
         .join(deg.select(F.col("node").alias("a"),
                          F.col("d").alias("da")), "a")
         .join(deg.select(F.col("node").alias("b"),
                          F.col("d").alias("db")), "b")
         .select(F.when(lo, F.col("a")).otherwise(F.col("b")).alias("u"),
                 F.when(lo, F.col("b")).otherwise(F.col("a")).alias("v"),
                 # carry the head's (deg, id) rank so the wedge's
                 # b <_ord c test needs no third degree lookup
                 F.when(lo, F.col("db")).otherwise(F.col("da"))
                 .alias("dv"))
         .cache())  # reused: two wedge legs + closing side
    w1 = o.select(F.col("u").alias("apex"), F.col("v").alias("b"),
                  F.col("dv").alias("rb"))
    w2 = o.select(F.col("u").alias("apex"), F.col("v").alias("c"),
                  F.col("dv").alias("rc"))
    wedges = (w1.join(w2, "apex")
              .where((F.col("rb") < F.col("rc"))
                     | ((F.col("rb") == F.col("rc"))
                        & (F.col("b") < F.col("c")))))
    closing = o.select(F.col("u").alias("b"), F.col("v").alias("c"))
    tri = wedges.join(closing, ["b", "c"]).select("apex", "b", "c")
    corners = (tri.select(F.explode(F.array("apex", "b", "c"))
                          .alias("node"))
               .groupBy("node").agg(F.count("*").alias("triangles")))
    out = (deg.select("node").join(corners, "node", "left")
           .select("node", F.coalesce("triangles", F.lit(0))
                   .alias("triangles")))
    return track(out, und, deg, o)


def cocitation(edges: DataFrame, src: str = "src", dst: str = "dst",
               min_shared: int = 2,
               max_fanout: int | None = 10_000) -> DataFrame:
    """Co-citation similarity over the directed edge list (Dean &
    Henzinger's related-pages measure, host-level): two destinations are
    similar when many distinct sources link to BOTH. Returns
    (a, b, shared, in_a, in_b) with a < b, shared = |in(a) ∩ in(b)| ≥
    ``min_shared``, and the distinct in-degrees alongside so callers
    derive Jaccard = shared / (in_a + in_b − shared) without a second
    pass — emitted as exact integers (the cross-engine-stable form; one
    float division at the consumer is cheap, a hash-exact oracle over
    floats is not).

    Plan: one distinct projection, one self-equi-join on the SOURCE key
    (pairs of co-cited destinations), map-side-combined pair count, then
    in-degree equi-joins with NO forced broadcast hint (node-sized is
    not small at webgraph scale; AQE broadcasts only when the table
    fits). The self-join is quadratic per source: a directory page
    linking k hosts emits k·(k−1)/2 pairs, so a 10^5-outlink hub alone
    is 5·10^9 rows. ``max_fanout`` is the guard (same role as
    lsh_dup_pairs' ``max_bucket``): sources whose DISTINCT destination
    count exceeds it are dropped from pairing entirely — the standard
    cap, and honest semantics for co-citation, where a link from an
    everything-directory carries no signal. The default is FINITE
    (10_000 — a 10^4-fanout source already contributes 5·10^7 pairs of
    pure directory noise; real co-citation signal lives far below it)
    so no caller inherits the quadratic blowup by accident; pass
    ``max_fanout=None`` explicitly for the exact uncapped form. The cap
    only ever REMOVES pairs sourced from above-cap pages, so on corpora
    where every source's fanout is below it (e.g. q62's) capped ==
    uncapped, and the q62 oracle restates the capped form."""
    from quickner_spark.operators.caching import track

    e = (edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
         .where(F.col("s") != F.col("t"))
         .distinct()
         .cache())  # reused: fanout filter, both legs, degrees
    if max_fanout is not None:
        keep = (e.groupBy("s").agg(F.count("*").alias("__k"))
                .where(F.col("__k") <= max_fanout)
                .select("s"))
        paired = e.join(keep, "s")
    else:
        paired = e
    l1 = paired.select("s", F.col("t").alias("a"))
    l2 = paired.select("s", F.col("t").alias("b"))
    pairs = (l1.join(l2, "s")
             .where(F.col("a") < F.col("b"))
             .groupBy("a", "b").agg(F.count("*").alias("shared"))
             .where(F.col("shared") >= min_shared))
    # in-degrees over the UNCAPPED edge set: the cap bounds the pairing
    # fan-out, not the definition of a node's citation count
    ind = e.groupBy("t").agg(F.count("*").alias("ind"))
    out = (pairs
           .join(ind.select(F.col("t").alias("a"),
                            F.col("ind").alias("in_a")), "a")
           .join(ind.select(F.col("t").alias("b"),
                            F.col("ind").alias("in_b")), "b")
           .select("a", "b", "shared", "in_a", "in_b"))
    return track(out, e)


def label_propagation(edges: DataFrame, iters: int = 3, src: str = "src",
                      dst: str = "dst", checkpoint: bool = True) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan-
    Albert-Kumara) over the undirected simple fold of the edge list;
    returns (node, community). Communities start as each node's own id;
    per iteration EVERY node simultaneously adopts the label held by
    the most neighbors in the PREVIOUS round, ties broken by the
    smallest label.

    Why synchronous + total-order tie-break: classical async LPA visits
    nodes in random order and is irreproducible by design. The
    synchronous variant with a (count DESC, label ASC) argmax is a pure
    function of (graph, iters) — deterministic across engines AND
    across partitionings, which is what lets q63 restate the unrolled
    iterations relationally (the same portability property as integer
    ``pagerank``/``hits``). Known synchronous-LPA caveat, inherited
    deliberately: bipartite-ish regions can oscillate rather than
    converge, so ``iters`` is a fixed budget, not a convergence test.

    Plan per iteration: one edge-sized equi-join (neighbor labels) +
    two map-side-combined aggregates (vote counts, then a min-of-struct
    argmax — (-count, label) lexicographic, so the argmax is itself
    combinable and NO per-node window runs over the vote table).
    Lineage cut per round (``checkpoint=False`` keeps the full lineage —
    for plan inspection and tiny fixed-iter runs). A hot node's votes
    collapse map-side, same as the salted-agg rationale elsewhere: the
    skew lands on the bounded (node, label) pair space, not on raw
    edges."""
    def _cut(df: DataFrame) -> DataFrame:
        return df.localCheckpoint() if checkpoint else df

    e = edges.where(F.col(src) != F.col(dst)) \
        .select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = _cut(e.union(e.select(F.col("b").alias("a"),
                                F.col("a").alias("b")))
               .distinct())  # reused every iteration
    nodes = _cut(und.select(F.col("a").alias("node")).distinct())
    labels = nodes.select("node", F.col("node").alias("community"))
    for _ in range(iters):
        nbr = labels.select(F.col("node").alias("b"), "community")
        votes = (und.join(nbr, "b")
                 .groupBy(F.col("a").alias("node"), "community")
                 .agg(F.count("*").alias("c")))
        # argmax by (count DESC, label ASC) as a combinable min-of-struct
        labels = (votes
                  .groupBy("node")
                  .agg(F.min(F.struct((-F.col("c")).alias("nc"),
                                      F.col("community").alias("l")))
                       .alias("w"))
                  .select("node", F.col("w.l").alias("community")))
        labels = _cut(labels)
    return labels
