"""The Spark trigram-Jaccard canonicalizer: the test oracle for
``quickner_spark.kg.canonicalize``.

Production clusters the gazetteer-bounded alias set on the driver
(``canonical_map``). This is the distributed form it replaced — an exact
AllPairs prefix-filter similarity join over xxhash64 shingle hashes, then
``operators.graph.connected_components`` — kept so the differential tests
can compare the two on the same alias sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from quickner_spark.operators.caching import release, track
from quickner_spark.operators.graph import connected_components


def alias_similarity_edges(aliases: DataFrame, n: int = 3,
                           threshold_pct: int = 60, col: str = "alias") -> DataFrame:
    """Similarity edges (u, v) between alias strings with char-n-gram
    Jaccard >= threshold — EXACT, via the AllPairs prefix filter (same
    construction as ``textops.jaccard_pairs_prefix``): only each alias's
    smallest ``|X| - ceil(t|X|) + 1`` shingle hashes enter the inverted
    index, with the PPJoin length filter in the join condition; candidates
    verify by in-row intersection of the full sorted hash arrays."""
    padded = F.concat(F.lit("^"), F.lower(F.col(col)), F.lit("$"))
    hs = F.array_sort(F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.length(padded) - n + 1),
        lambda i: F.xxhash64(F.substring(padded, i, n)))))
    sets = (aliases.where(F.length(padded) >= n)
            .select(F.col(col), hs.alias("hs")).cache())
    size = F.size("hs")
    prefix_len = (size - F.ceil(size * threshold_pct / 100) + 1).cast("int")
    prefix = (sets.select(F.col(col), size.alias("nsh"),
                          F.explode(F.slice("hs", 1, prefix_len)).alias("ph")))
    cand = (prefix.alias("a").join(
        prefix.alias("b"),
        (F.col("a.ph") == F.col("b.ph"))
        & (F.col(f"a.{col}") < F.col(f"b.{col}"))
        & (F.col("b.nsh") * threshold_pct <= F.col("a.nsh") * 100)
        & (F.col("a.nsh") * threshold_pct <= F.col("b.nsh") * 100))
        .select(F.col(f"a.{col}").alias("u"), F.col(f"b.{col}").alias("v"))
        .distinct())
    su = sets.select(F.col(col).alias("u"), F.col("hs").alias("hs_u"))
    sv = sets.select(F.col(col).alias("v"), F.col("hs").alias("hs_v"))
    shared = F.size(F.array_intersect("hs_u", "hs_v"))
    return track((cand.join(su, "u").join(sv, "v")
                  .where(F.lit(100) * shared
                         >= F.lit(threshold_pct)
                         * (F.size("hs_u") + F.size("hs_v") - shared))
                  .select("u", "v")), sets)


def canonicalize_aliases_spark(aliases: DataFrame, n: int = 3,
                               threshold_pct: int = 60,
                               col: str = "alias") -> DataFrame:
    """aliases -> (alias, canonical_id): connected components over the
    similarity graph; canonical_id = lexicographic min alias of the
    component; singletons map to themselves."""
    edges = alias_similarity_edges(aliases, n, threshold_pct, col)
    # connected_components materializes the edge list up front (count or
    # GraphFrames checkpoint), so the shingle cache inside edges has done
    # its job by the time it returns — release it here; `comp` no longer
    # depends on it (driver path: createDataFrame; distributed path:
    # localCheckpointed sym).
    comp = connected_components(edges, "u", "v")
    release(edges)
    out = (aliases.select(F.col(col))
           .join(comp.withColumnRenamed("node", col), col, "left")
           .select(F.col(col),
                   F.coalesce("component", F.col(col)).alias("canonical_id")))
    return out
