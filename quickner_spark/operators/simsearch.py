"""Similarity search over embedding columns (array<float>).

Two tiers:
* ``topk_quantized_ip`` / ``cosine_topk`` — brute-force scored join, the
  exact baseline. All math is JVM-side (``zip_with`` + ``aggregate``); no
  Python. Quantized inner product uses integer arithmetic end-to-end so
  results are bit-exact and oracle-comparable.
* ``lsh_topk`` — random-hyperplane LSH bucketing: candidates share a
  signature prefix, exact re-scoring inside buckets. The 100 TB path: the
  cross product never materializes, the shuffle is keyed on bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from quickner_spark.operators.hashing import portable_hash64

__all__ = ["topk_quantized_ip", "cosine_topk", "lsh_topk", "ivf_topk",
           "embedding_dup_pairs", "lsh_dup_pairs", "dim_histogram"]


def _nonnull_vecs(df: DataFrame, vec_col: str) -> DataFrame:
    """Vector-validity policy, shared by every similarity entry point:
    rows whose embedding is NULL or carries a non-finite component are
    dropped at the operator boundary. A NULL vector NULL-poisons JVM
    aggregates and crashes the NumPy kernels (np.stack over a None
    element); a single NaN/Inf component ABORTS the whole job under
    ANSI mode (round(NaN).cast(long) -> CAST_OVERFLOW in _quantize) —
    at corpus scale one bad upstream model output must not kill the
    stage. The finiteness test is per-row JVM forall — no shuffle,
    negligible next to quantization itself."""
    finite = F.forall(F.col(vec_col),
                      lambda x: ~F.isnan(x) & (F.abs(x) < F.lit(float("inf"))))
    return df.where(F.col(vec_col).isNotNull() & finite)


def _quantize(col, scale: int = 1000):
    # cast FIRST to double (float32 -> float64 is exact), then scale+round:
    # identical IEEE ops on any SQL engine -> identical integers.
    return F.transform(col, lambda x: F.round(x.cast("double") * scale).cast("long"))


def _int_dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0).cast("long"), lambda acc, v: acc + v)


def topk_quantized_ip(df: DataFrame, k: int = 5, probe_ids=None,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      scale: int = 1000) -> DataFrame:
    """Exact top-k by integer-quantized inner product.

    Probes (small) are broadcast against the full table; scoring is a
    narrow map over the big side + a per-probe top-k window. At cluster
    scale replace the window with ``groupBy(probe).agg(max_by...)`` loops
    or use AQE-coalesced partial top-k; for k<=100 the window is fine.
    """
    df = _nonnull_vecs(df, vec_col)
    q = df.select(F.col(id_col), _quantize(F.col(vec_col), scale).alias("q"))
    probes = q.where(F.col(id_col).isin(list(probe_ids))) if probe_ids is not None else q
    probes = F.broadcast(probes.select(F.col(id_col).alias("probe_id"),
                                       F.col("q").alias("pq")))
    scored = (q.join(probes, F.col(id_col) != F.col("probe_id"))
              .select("probe_id", F.col(id_col).alias("neighbor_id"),
                      _int_dot(F.col("pq"), F.col("q")).alias("score")))
    w = Window.partitionBy("probe_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("probe_id", "neighbor_id", "rank", "score"))


def cosine_topk(df: DataFrame, k: int = 5, probe_ids=None,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k by cosine similarity (float64). Same plan shape as
    ``topk_quantized_ip``; float results are for in-engine use (ANN recall
    baselines), not byte-exact cross-engine comparison."""
    df = _nonnull_vecs(df, vec_col)
    v = df.select(F.col(id_col),
                  F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"))
    norm = F.sqrt(F.aggregate(F.transform(F.col("v"), lambda x: x * x),
                              F.lit(0.0), lambda a, b: a + b))
    v = v.withColumn("n", norm)
    probes = v.where(F.col(id_col).isin(list(probe_ids))) if probe_ids is not None else v
    probes = F.broadcast(probes.select(F.col(id_col).alias("probe_id"),
                                       F.col("v").alias("pv"), F.col("n").alias("pn")))
    dot = F.aggregate(F.zip_with(F.col("pv"), F.col("v"), lambda x, y: x * y),
                      F.lit(0.0), lambda a, b: a + b)
    scored = (v.join(probes, F.col(id_col) != F.col("probe_id"))
              .select("probe_id", F.col(id_col).alias("neighbor_id"),
                      (dot / (F.col("pn") * F.col("n"))).alias("cosine")))
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("probe_id", "neighbor_id", "rank", "cosine"))


def embedding_dup_pairs(df: DataFrame, threshold_pct: int = 95,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        scale: int = 100, n_blocks: int = 8) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, integer-exact.

    cos(a,b) >= t  <=>  dot > 0  AND  dot^2 * 100^2 >= t_pct^2 * |a|^2 |b|^2
    over quantized integer vectors — no float comparisons, so results are
    bit-reproducible across engines (the SQL oracle states the same
    inequality). ``scale=100`` keeps dot^2*10^4 within int64 for unit-norm
    64..1024-dim vectors.

    Plan: distributed block nested-loop GEMM — NO driver collect or full
    broadcast anywhere. Vectors are hash-assigned to ``n_blocks`` blocks;
    every unordered block pair (bi <= bj) is one group, each vector is
    replicated to the n_blocks pair-groups it belongs to (shuffle volume =
    (n_blocks+1) x data, spread over n_blocks(n_blocks+1)/2 tasks), and
    each group scores its two blocks with one BLAS matmul in
    ``applyInPandas``. float64 matmul is EXACT here (every product and
    64-term sum < 2^53), converted back to int64 before the predicate.
    This replaces a 25M-row non-equi nested-loop join with B(B+1)/2 GEMMs.

    The exact all-pairs work is O(N^2) whatever the plan — this operator is
    the oracle-comparable baseline; at corpus scale use ``lsh_dup_pairs``,
    which generates candidates from LSH buckets and verifies with the SAME
    integer predicate (its rows are a subset of this operator's).
    """
    import numpy as np
    import pandas as pd

    df = _nonnull_vecs(df, vec_col)
    q = df.select(F.col(id_col), _quantize(F.col(vec_col), scale).alias("q"))
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    # one struct(bi, bj) per unordered block pair this vector participates
    # in; array_distinct collapses (b, b) which appears once per other-block
    pairs = F.array_distinct(F.transform(
        F.sequence(F.lit(0), F.lit(n_blocks - 1)),
        lambda o: F.struct(F.least(blk, o).alias("bi"),
                           F.greatest(blk, o).alias("bj")),
    ))
    expanded = (q.withColumn("blk", blk)
                .withColumn("p", F.explode(pairs))
                .select(F.col("p.bi"), F.col("p.bj"), id_col, "q", "blk"))
    t2 = threshold_pct * threshold_pct

    def score_pair(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["q"]), dtype=np.float64)
        n2 = (mat * mat).sum(axis=1).astype(np.int64)
        if bi == bj:
            l_idx = r_idx = np.arange(len(ids))
        else:
            bcol = pdf["blk"].to_numpy()
            l_idx = np.nonzero(bcol == bi)[0]
            r_idx = np.nonzero(bcol == bj)[0]
        if len(l_idx) == 0 or len(r_idx) == 0:
            return pd.DataFrame({"id_a": np.array([], dtype=np.int64),
                                 "id_b": np.array([], dtype=np.int64),
                                 "dot": np.array([], dtype=np.int64),
                                 "n2_a": np.array([], dtype=np.int64),
                                 "n2_b": np.array([], dtype=np.int64)})
        L, R = mat[l_idx], mat[r_idx]
        lids, rids = ids[l_idx], ids[r_idx]
        ln2, rn2 = n2[l_idx], n2[r_idx]
        dots = (L @ R.T).astype(np.int64)              # exact: < 2^53
        mask = (
            (lids[:, None] != rids[None, :])
            & (dots > 0)
            & (dots * dots * 10000 >= t2 * ln2[:, None] * rn2[None, :])
        )
        if bi == bj:
            # diagonal block: both orientations are in the matrix — keep <
            mask &= lids[:, None] < rids[None, :]
        li, rj = np.nonzero(mask)
        a_ids, b_ids = lids[li], rids[rj]
        a_n2, b_n2 = ln2[li], rn2[rj]
        # off-diagonal blocks see each unordered pair once, in arbitrary
        # orientation — emit canonically as (min, max)
        flip = a_ids > b_ids
        a_ids, b_ids = np.where(flip, b_ids, a_ids), np.where(flip, a_ids, b_ids)
        a_n2, b_n2 = np.where(flip, b_n2, a_n2), np.where(flip, a_n2, b_n2)
        return pd.DataFrame({"id_a": a_ids, "id_b": b_ids,
                             "dot": dots[li, rj], "n2_a": a_n2, "n2_b": b_n2})

    return expanded.groupBy("bi", "bj").applyInPandas(
        score_pair, "id_a long, id_b long, dot long, n2_a long, n2_b long")


def _assign_cells_int(q: DataFrame, cdf, id_col: str, res: int) -> DataFrame:
    """Integer-exact cell assignment for the portable IVF mode: vectors
    are scale-quantized int64, centroids live at ``res``× that scale, so
    ``dist2 = Σ (res·x_d − c_d)²`` is exact int64 arithmetic — identical
    on any engine, no float-summation order anywhere. argmin as
    ``min_by(cid, struct(dist2, cid))`` (deterministic tie-break on cid):
    one hash aggregate whose map-side partial collapses the nlist
    candidates before the exchange."""
    dist2 = F.aggregate(
        F.zip_with("q", "c", lambda x, y: (x * res - y) * (x * res - y)),
        F.lit(0).cast("long"), lambda a, b: a + b)
    return (q.crossJoin(cdf)
            .select(id_col, "q", "cid", dist2.alias("dist2"))
            .groupBy(id_col)
            .agg(F.first("q").alias("q"),
                 F.min_by("cid", F.struct(F.col("dist2"), F.col("cid")))
                 .alias("cid")))


def _ivf_topk_portable(df: DataFrame, k: int, probe_ids, nlist: int,
                       nprobe: int, iters: int, id_col: str, vec_col: str,
                       scale: int = 1000, res: int = 256,
                       seed: int = 42) -> DataFrame:
    """IVF top-k in the PORTABLE hash family — every step restatable
    bit-for-bit in DuckDB (oracle q24), the same trick q14/q15/q16/q31 use:

    * vectors quantized to int64 at ``scale`` (``_quantize``, exact);
    * seeds = the ``nlist`` vectors with the smallest
      ``(portable_hash64('ivf:{seed}:' || vec_id), vec_id)`` — md5-based,
      no engine-specific hash;
    * centroids are INTEGERS at ``res``× the vector scale: the Lloyd
      update is ``c_d = floor(double(Σ x_d · res) / double(n))`` — the
      int64 sum is exact, the int→double conversions are exact (< 2^53),
      and one IEEE division + floor is bit-deterministic on any IEEE-754
      engine. This sidesteps the float-MEAN summation-order problem that
      makes a naive relational restatement of k-means flaky;
    * assignment/probing distances are pure int64 (``_assign_cells_int``);
    * final scoring = the integer-exact quantized cosine of q16 (int64
      dot and norms, ONE IEEE division per pair).

    Plan shape matches the production path: broadcast centroids, narrow
    assignment map with map-side argmin, candidates equi-joined on cell
    id (each vector lives in exactly one cell, so no dedup is needed —
    unlike LSH a (probe, neighbor) pair cannot recur)."""
    df = _nonnull_vecs(df, vec_col)
    spark = df.sparkSession
    q = (df.select(F.col(id_col), _quantize(F.col(vec_col), scale).alias("q"))
         .cache())
    seeds = (q.select("q", F.col(id_col),
                      portable_hash64(F.concat(
                          F.lit(f"ivf:{seed}:"),
                          F.col(id_col).cast("string"))).alias("h"))
             .orderBy("h", id_col).limit(nlist).collect())
    cents = [(i, [int(x) * res for x in r["q"]])
             for i, r in enumerate(seeds)]
    for _ in range(iters):
        cdf = F.broadcast(spark.createDataFrame(
            cents, "cid int, c array<long>"))
        assigned = _assign_cells_int(q, cdf, id_col, res)
        new = (assigned.select("cid", F.posexplode("q").alias("d", "x"))
               .groupBy("cid", "d")
               .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
               .select("cid", "d",
                       F.floor((F.col("s") * res).cast("double")
                               / F.col("n").cast("double"))
                       .cast("long").alias("x"))
               .groupBy("cid")
               .agg(F.transform(
                   F.array_sort(F.collect_list(F.struct("d", "x"))),
                   lambda s: s["x"]).alias("c")))
        cents = [(r["cid"], list(r["c"])) for r in new.collect()]
    cdf = F.broadcast(spark.createDataFrame(cents, "cid int, c array<long>"))
    assigned = _assign_cells_int(q, cdf, id_col, res)
    probes = assigned.where(F.col(id_col).isin(list(probe_ids)))
    dist2 = F.aggregate(
        F.zip_with("pq", "c", lambda x, y: (x * res - y) * (x * res - y)),
        F.lit(0).cast("long"), lambda a, b: a + b)
    wp = Window.partitionBy("probe_id").orderBy(F.asc("dist2"), F.asc("cid"))
    pcells = (probes.select(F.col(id_col).alias("probe_id"),
                            F.col("q").alias("pq"))
              .crossJoin(cdf)
              .select("probe_id", "pq", "cid", dist2.alias("dist2"))
              .withColumn("rn", F.row_number().over(wp))
              .where(F.col("rn") <= nprobe)
              .select("probe_id", "pq", "cid"))
    cand = (assigned.join(pcells, "cid")
            .where(F.col(id_col) != F.col("probe_id"))
            .select("probe_id", F.col(id_col).alias("neighbor_id"),
                    "pq", F.col("q").alias("cv")))
    dot = _int_dot(F.col("pq"), F.col("cv")).cast("double")
    n2 = lambda c: F.aggregate(F.transform(c, lambda x: x * x),  # noqa: E731
                               F.lit(0).cast("long"),
                               lambda acc, x: acc + x).cast("double")
    scored = cand.select(
        "probe_id", "neighbor_id",
        (dot / (F.sqrt(n2(F.col("pq"))) * F.sqrt(n2(F.col("cv")))))
        .alias("cosine"))
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"),
                                               F.asc("neighbor_id"))
    out = (scored.withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= k)
           .select("probe_id", "neighbor_id", "rank", "cosine"))
    q.unpersist(blocking=False)
    return out


def _lloyd_numpy(sample, nlist: int, iters: int):
    """Lloyd's k-means on the (bounded, already-collected) training
    sample — plain NumPy on the driver. ``sample`` is an (M, dim) float64
    array whose first ``nlist`` rows are the seeds (hash-ordered, so the
    seeding is identical to the previous per-row relational form).
    Deterministic: argmin breaks ties on the lowest cid, means are NumPy
    pairwise sums over a fixed row order. Empty cells keep their previous
    centroid instead of vanishing (the old relational update silently
    dropped them)."""
    import numpy as np

    cents = sample[:nlist].copy()
    for _ in range(iters):
        d2 = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(len(cents)):
            pts = sample[assign == c]
            if len(pts):
                cents[c] = pts.mean(axis=0)
    return cents


def _assign_cells_np(v: DataFrame, cents, id_col: str) -> DataFrame:
    """(id, v) -> (id, v, cid) by min L2 distance against the (tiny)
    centroid matrix, as ONE Arrow-batched mapInPandas kernel: a single
    NumPy GEMM-shaped distance computation per batch. No nlist-fold row
    expansion, no exchange — the previous relational form crossJoined
    N x nlist rows through interpreted ``zip_with``/``aggregate`` HOFs
    before a map-side argmin collapsed them. Ties break on the lowest
    cid (np.argmin), matching the relational ``min_by(struct(dist2,
    cid))`` tie-break."""
    import numpy as np
    import pandas as pd

    c2 = (cents ** 2).sum(axis=1)

    def kern(batches):
        for pdf in batches:
            if not len(pdf):
                yield pdf.assign(cid=pd.Series(dtype="int32"))
                continue
            x = np.stack(pdf["v"].to_numpy()).astype("float64")
            # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2; ||x||^2 is constant
            # per row so argmin needs only the last two terms
            d2 = c2[None, :] - 2.0 * (x @ cents.T)
            yield pd.DataFrame({id_col: pdf[id_col],
                                "v": pdf["v"],
                                "cid": d2.argmin(axis=1).astype("int32")})

    return v.mapInPandas(
        kern, f"{id_col} {dict(v.dtypes)[id_col]}, v array<double>, cid int")


def ivf_topk(df: DataFrame, k: int = 5, probe_ids=None, nlist: int = 16,
             nprobe: int = 4, iters: int = 2, id_col: str = "vec_id",
             vec_col: str = "embedding",
             hash_family: str = "xxhash64",
             train_per_cell: int = 256) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) cells — the second ANN
    scale path next to ``lsh_topk``.

    Coarse quantizer: trained on a bounded DETERMINISTIC sample — the
    ``min(N, nlist * train_per_cell)`` vectors with the smallest
    ``xxhash64(vec_id)`` (a seeded sample, no driver randomness; the
    first ``nlist`` of them are the seeds, unchanged from the full-data
    form). Lloyd runs in NumPy on the driver over that sample — the
    standard IVF design (FAISS trains its coarse quantizer the same
    way): at any corpus scale the training cost is O(iters · nlist ·
    cap · dim) driver work and ONE Spark action, instead of ``iters``
    cluster-wide passes with a driver sync each. The expensive parts
    stay distributed: assignment is one Arrow GEMM kernel over the
    scan (:func:`_assign_cells_np`), candidates are an equi-join keyed
    on cell id — per-probe work is ~N * nprobe / nlist instead of N.

    ``hash_family="portable"`` switches to the oracle-comparable variant
    (:func:`_ivf_topk_portable`): md5-seeded, full-data relational Lloyd
    with integer centroids/distances, quantized-cosine scoring —
    restatable bit-for-bit in any ANSI engine (oracle q24). Production
    default stays xxhash64 + float64 + sampled training."""
    df = _nonnull_vecs(df, vec_col)
    dim = _infer_dim(df, vec_col)
    if dim is not None:  # uniform-dim contract (see dim_histogram)
        df = df.where(F.size(F.col(vec_col)) == dim)
    if hash_family == "portable":
        return _ivf_topk_portable(df, k, probe_ids, nlist, nprobe, iters,
                                  id_col, vec_col)
    if hash_family != "xxhash64":
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    import numpy as np

    spark = df.sparkSession
    v = df.select(F.col(id_col),
                  F.transform(F.col(vec_col), lambda x: x.cast("double"))
                  .alias("v"))
    train = (v.select("v", F.xxhash64(F.col(id_col).cast("string")).alias("h"),
                      F.col(id_col))
             .orderBy("h", id_col).limit(nlist * train_per_cell).collect())
    sample = np.array([r["v"] for r in train], dtype="float64")
    cents = _lloyd_numpy(sample, nlist, iters)
    cdf = F.broadcast(spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cid int, c array<double>"))
    assigned = _assign_cells_np(v, cents, id_col)
    probes = assigned.where(F.col(id_col).isin(list(probe_ids)))
    # nprobe nearest cells per probe
    dist2 = F.aggregate(F.zip_with("pv", "c", lambda x, y: (x - y) * (x - y)),
                        F.lit(0.0), lambda a, b: a + b)
    wp = Window.partitionBy("probe_id").orderBy(F.asc("dist2"), F.asc("cid"))
    pcells = (probes.select(F.col(id_col).alias("probe_id"),
                            F.col("v").alias("pv"))
              .crossJoin(cdf)
              .select("probe_id", "pv", "cid", dist2.alias("dist2"))
              .withColumn("rn", F.row_number().over(wp))
              .where(F.col("rn") <= nprobe)
              .select("probe_id", "pv", "cid"))
    # each vector lives in exactly ONE cell, so a (probe, neighbor) pair
    # cannot recur across probed cells — no dedup (the old .distinct()
    # forced a full shuffle of the candidate set for nothing)
    cand = (assigned.join(pcells, "cid")
            .where(F.col(id_col) != F.col("probe_id"))
            .select("probe_id", F.col(id_col).alias("neighbor_id"),
                    "pv", F.col("v").alias("cv")))
    dot = F.aggregate(F.zip_with("pv", "cv", lambda x, y: x * y),
                      F.lit(0.0), lambda a, b: a + b)
    norm = lambda c: F.sqrt(F.aggregate(F.transform(c, lambda x: x * x),
                                        F.lit(0.0), lambda a, b: a + b))
    scored = cand.select("probe_id", "neighbor_id",
                         (dot / (norm(F.col("pv")) * norm(F.col("cv"))))
                         .alias("cosine"))
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("probe_id", "neighbor_id", "rank", "cosine"))


def _infer_dim(df: DataFrame, vec_col: str):
    """Vector dimensionality from the first row; None on an empty input
    (``first()`` returns None there — callers short-circuit to an empty
    result instead of raising)."""
    row = df.select(vec_col).first()
    if row is None or row[0] is None:
        return None
    return len(row[0])


def dim_histogram(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Uniform-dimension audit for untrusted embedding tables:
    ``(dim, n_rows)`` per distinct vector length (NULL dim = NULL
    vectors). The similarity operators assume ONE dimensionality —
    mixed lengths would null-pad through zip_with into silent NULL
    scores — and the LSH/IVF entry points enforce it against the first
    row's length; a one-row result here means the contract holds
    corpus-wide. Same cheap shape as ``indexes.key_violations``: one
    partial aggregate, the shuffle carries (dim, count) pairs."""
    return (df.groupBy(F.size(F.col(vec_col)).alias("dim"))
            .agg(F.count("*").alias("n_rows")))


def _lsh_signatures(v: DataFrame, dim: int, n_planes: int, n_tables: int,
                    seed: int, id_col: str,
                    hash_family: str = "xxhash64",
                    quantize_scale: int = 1000) -> DataFrame:
    """(id, v) -> (id, tbl, sig): sign-LSH signatures per hash table.
    Hyperplanes derive deterministically from xxhash64(seed, index) — no
    driver randomness; computed relationally (posexplode dims -> broadcast
    plane-weight join -> two aggregations) so the plan is constant-size
    for any dimensionality.

    ``hash_family="portable"``: plane signs come from the md5-based
    portable hash of ``'lsh:{seed}:{index}'`` AND the projection runs on
    integer-quantized components (``round(x * quantize_scale)``), so the
    sign test ``s >= 0`` is exact integer arithmetic — no float-summation
    order dependence — and the identical signatures are computable in
    DuckDB (oracles q16/q31). Production default stays xxhash64 over
    float64 projections."""
    spark = v.sparkSession
    if hash_family == "portable":
        one = F.lit(1).cast("long")
        w = (F.when(portable_hash64(
                F.concat(F.lit(f"lsh:{seed}:"), F.col("id").cast("string")))
             .bitwiseAND(one) == 0, one).otherwise(-one))
    elif hash_family == "xxhash64":
        w = (F.when(F.xxhash64(F.lit(seed), F.col("id")) % 2 == 0,
                    F.lit(1.0)).otherwise(F.lit(-1.0)))
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    planes = (spark.range(n_tables * n_planes * dim)
              .select((F.col("id") / (n_planes * dim)).cast("int").alias("tbl"),
                      ((F.col("id") / dim) % n_planes).cast("int").alias("plane"),
                      (F.col("id") % dim).cast("int").alias("d"),
                      w.alias("w")))
    vex = v.select(id_col, F.posexplode("v").alias("d", "x"))
    if hash_family == "portable":
        vex = vex.withColumn(
            "x", F.round(F.col("x") * quantize_scale).cast("long"))
    proj = (vex.join(F.broadcast(planes), "d")
            .groupBy(id_col, "tbl", "plane")
            .agg(F.sum(F.col("x") * F.col("w")).alias("s")))
    return (proj.groupBy(id_col, "tbl")
            .agg(F.sum(F.when(F.col("s") >= 0,
                              F.expr("shiftleft(CAST(1 AS BIGINT), plane)"))
                       .otherwise(F.lit(0).cast("long"))).alias("sig")))


def _drop_oversized_buckets(sig: DataFrame, max_bucket: int | None) -> DataFrame:
    """Skew guard, same idea as the shingle ``doc_freq_cap``: an LSH
    bucket holding more than ``max_bucket`` vectors (degenerate
    signatures — zero vectors, boilerplate embeddings) carries no
    discriminative value but quadratic join cost; drop those (tbl, sig)
    buckets before the candidate join. One map-side-partial aggregate
    over the signature table — no extra pass over the vectors."""
    if max_bucket is None:
        return sig
    sizes = (sig.groupBy("tbl", "sig").agg(F.count("*").alias("_bsz"))
             .where(F.col("_bsz") <= max_bucket).drop("_bsz"))
    return sig.join(sizes, ["tbl", "sig"])


def lsh_dup_pairs(df: DataFrame, threshold_pct: int = 95, n_planes: int = 8,
                  n_tables: int = 4, id_col: str = "vec_id",
                  vec_col: str = "embedding", scale: int = 100,
                  seed: int = 42,
                  max_bucket: int | None = None,
                  hash_family: str = "xxhash64") -> DataFrame:
    """Embedding near-dup pairs, LSH-bucketed — the 100 TB path next to
    the exact ``embedding_dup_pairs`` (which broadcasts the matrix).

    Candidates = id_a < id_b sharing any (table, signature) bucket; each
    candidate is then verified with the SAME integer-exact quantized
    cosine predicate as the exact operator, so output rows are a subset of
    the exact pair set (precision 1.0 by construction; recall grows with
    n_tables — asserted against the exact operator in
    tests/test_simsearch.py). The self-join is an equi-join on (tbl, sig):
    bucket sizes, not N^2, bound the work.

    ``max_bucket`` (opt-in — default None keeps every bucket, matching
    pre-cap releases) drops degenerate oversized buckets (see
    ``_drop_oversized_buckets``) so one hot signature cannot go quadratic
    at corpus scale; enable it explicitly for corpus-scale runs (10_000 is
    a reasonable cap). ``hash_family="portable"`` makes the bucketing
    md5-based and integer-exact (see ``_lsh_signatures``) for cross-engine
    verification (oracle q31)."""
    df = _nonnull_vecs(df, vec_col)
    dim = _infer_dim(df, vec_col)
    if dim is None:  # empty corpus -> empty pair set, same schema
        return df.sparkSession.createDataFrame(
            [], "id_a long, id_b long, dot long, n2_a long, n2_b long")
    # uniform-dimension contract: rows of any OTHER length are dropped —
    # list_zip/zip_with would null-pad them into silent NULL scores.
    # Use dim_histogram() to audit an untrusted table first.
    df = df.where(F.size(F.col(vec_col)) == dim)
    v = df.select(F.col(id_col),
                  F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"))
    sig = _drop_oversized_buckets(
        _lsh_signatures(v, dim, n_planes, n_tables, seed, id_col,
                        hash_family), max_bucket)
    a, b = sig.alias("a"), sig.alias("b")
    pairs = (a.join(b, (F.col("a.tbl") == F.col("b.tbl"))
                    & (F.col("a.sig") == F.col("b.sig"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"))
             .distinct())
    q = df.select(F.col(id_col), _quantize(F.col(vec_col), scale).alias("q"))
    n2 = F.aggregate(F.transform("q", lambda x: x * x),
                     F.lit(0).cast("long"), lambda acc, x: acc + x)
    qn = q.withColumn("n2", n2)
    qa = qn.select(F.col(id_col).alias("id_a"), F.col("q").alias("qa"),
                   F.col("n2").alias("n2_a"))
    qb = qn.select(F.col(id_col).alias("id_b"), F.col("q").alias("qb"),
                   F.col("n2").alias("n2_b"))
    dot = F.aggregate(F.zip_with("qa", "qb", lambda x, y: x * y),
                      F.lit(0).cast("long"), lambda acc, x: acc + x)
    t2 = threshold_pct * threshold_pct
    return (pairs.join(qa, "id_a").join(qb, "id_b")
            .withColumn("dot", dot)
            .where((F.col("dot") > 0)
                   & (F.col("dot") * F.col("dot") * F.lit(10000)
                      >= F.lit(t2) * F.col("n2_a") * F.col("n2_b")))
            .select("id_a", "id_b", "dot", "n2_a", "n2_b"))


def lsh_topk(df: DataFrame, k: int = 5, probe_ids=None, n_planes: int = 8,
             n_tables: int = 4, id_col: str = "vec_id",
             vec_col: str = "embedding", seed: int = 42,
             max_bucket: int | None = None,
             hash_family: str = "xxhash64",
             score: str = "cosine", scale: int = 1000) -> DataFrame:
    """Approximate top-k via random-hyperplane (sign) LSH.

    Hyperplanes are derived deterministically from ``xxhash64(seed, table,
    plane, dim)`` so the bucketing is reproducible with no driver-side
    randomness. Candidates = vectors sharing a (table, signature) bucket
    with a probe; candidates are re-scored exactly and top-k'd. Recall < 1
    by construction; raise n_tables for recall, n_planes for precision/
    bucket size.

    ``max_bucket`` (opt-in — default None keeps every bucket, matching
    pre-cap releases) drops degenerate oversized buckets (see
    ``_drop_oversized_buckets``); note that with the cap on, a probe whose
    bucket is oversized loses that table's candidates — enable explicitly
    at corpus scale where hot signatures would otherwise flood the join.

    ``hash_family="portable"`` derives the plane signs from md5 and
    projects on quantized integers (see ``_lsh_signatures``);
    ``score="quantized"`` re-scores candidates with the integer-exact
    quantized cosine (int64 dot / sqrt of int64 norms — one deterministic
    IEEE division per pair, no float accumulation), so ranks and scores
    are bit-identical across engines (oracle q16). Defaults stay
    xxhash64 + float64 cosine for production.

    Signatures are computed relationally (posexplode dims -> broadcast join
    with a plane-weight table -> two aggregations) rather than as one giant
    per-row expression — constant-size plans for any dimensionality."""
    df = _nonnull_vecs(df, vec_col)
    dim = _infer_dim(df, vec_col)
    if dim is None:  # empty corpus -> empty top-k, same schema
        return df.sparkSession.createDataFrame(
            [], "probe_id long, neighbor_id long, rank int, cosine double")
    df = df.where(F.size(F.col(vec_col)) == dim)  # uniform-dim contract
    spark = df.sparkSession
    if score == "quantized":
        v = df.select(F.col(id_col), _quantize(F.col(vec_col), scale).alias("v"))
    else:
        v = df.select(F.col(id_col),
                      F.transform(F.col(vec_col),
                                  lambda x: x.cast("double")).alias("v"))
    sig = _drop_oversized_buckets(
        _lsh_signatures(df.select(
            F.col(id_col),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v")),
            dim, n_planes, n_tables, seed, id_col, hash_family), max_bucket)
    buckets = v.join(sig, id_col).select(id_col, "v", "tbl", "sig")
    probes = buckets.where(F.col(id_col).isin(list(probe_ids)))
    cand = (buckets.alias("c").join(
        F.broadcast(probes.alias("p")),
        (F.col("c.tbl") == F.col("p.tbl")) & (F.col("c.sig") == F.col("p.sig"))
        & (F.col(f"c.{id_col}") != F.col(f"p.{id_col}")))
        .select(F.col(f"p.{id_col}").alias("probe_id"),
                F.col(f"c.{id_col}").alias("neighbor_id"),
                F.col("p.v").alias("pv"), F.col("c.v").alias("cv"))
        .distinct())
    if score == "quantized":
        # integer dot + norms, then ONE fp division per pair: every input
        # to the division is an exact int64, so the double result (and the
        # ordering it induces) is reproducible on any IEEE-754 engine.
        dot = _int_dot(F.col("pv"), F.col("cv")).cast("double")
        n2 = lambda c: F.aggregate(F.transform(c, lambda x: x * x),
                                   F.lit(0).cast("long"),
                                   lambda acc, x: acc + x).cast("double")
        cosine = dot / (F.sqrt(n2(F.col("pv"))) * F.sqrt(n2(F.col("cv"))))
    else:
        dot = F.aggregate(F.zip_with("pv", "cv", lambda x, y: x * y),
                          F.lit(0.0), lambda a, b: a + b)
        norm = lambda c: F.sqrt(F.aggregate(F.transform(c, lambda x: x * x),
                                            F.lit(0.0), lambda a, b: a + b))
        cosine = dot / (norm(F.col("pv")) * norm(F.col("cv")))
    scored = cand.select("probe_id", "neighbor_id", cosine.alias("cosine"))
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("probe_id", "neighbor_id", "rank", "cosine"))
