"""Entity-link candidate scoring (north-rule stage).

Each mention surface may map to several candidate canonical entities (alias
table). Score = prior popularity + context token overlap, argmax per
mention:

    score(mention, cand) = log(1 + prior(cand)) + |tokens(doc) ∩ profile(cand)|

Two execution paths, one semantics:

* **In-row, for the gazetteer's own aliases (the KG build).** The fused
  extract pass (``kg.extract.extract_annotate_stage``) already holds each
  document's lowered text and spans, and every candidate is a gazetteer
  name with the same prior, so it resolves each span's winner in-row with
  :func:`gazetteer_candidates` + :func:`link_winner` and carries it as span
  fields; :func:`linked_from_spans` turns those into the linked table with
  a narrow explode (score computed JVM-side, bit-identical doubles). No
  document join, no vocabulary broadcast, no aggregate, no planning job.
* **Relational, for external alias tables** (:func:`link_mentions`: extra
  or anchor-derived aliases with their own priors, the unfused pipeline,
  q27). Everything is JVM-side: the alias->candidate table is small and
  broadcast; context overlap is computed against the broadcast profile
  VOCABULARY (each doc reduced to its distinct profile-token hits — never
  a shuffled token array); argmax is an in-row ``greatest`` over the
  candidate bundle.

Lowercasing: the alias side is lowered with Python ``str.lower``
(:func:`alias_table_from_gazetteer`); :func:`link_mentions` lowers surfaces
and document text with the JVM's ``lower()``, the in-row path with Python's
like the matcher. The two agree except on the few code points that gained
case pairs after the JVM's Unicode version (Java 17 ships Unicode 13,
Python 3.11 Unicode 14); there the fused link follows the matcher.

Skew note: head surfaces ("acme systems") produce huge mention groups, but
the relational plan is keyed per (doc, mention occurrence), not per
surface, so no single key grows with corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["GAZETTEER_PRIOR", "alias_table_from_gazetteer",
           "gazetteer_candidates", "link_winner", "linked_from_spans",
           "link_mentions"]

# bundle width up to which the per-alias candidate argmax is unrolled
# into codegen-able greatest() slots (see link_mentions)
_UNROLL_MAX = 8

# prior of a gazetteer name's own alias row — shared by the alias table
# and the in-row link, whose JVM-side score must equal link_mentions'
GAZETTEER_PRIOR = 100
# prior of an ``extra_aliases`` row
EXTRA_ALIAS_PRIOR = 10


def _profile(canonical_id: str) -> frozenset:
    """Distinct profile tokens of a canonical id — exactly link_mentions'
    ``array_distinct(split(replace(canonical_id, '_', ' '), ' '))``. Not
    lowered: a token with an upper-case letter never overlaps the lowered
    document text."""
    return frozenset(canonical_id.replace("_", " ").split(" "))


def alias_table_from_gazetteer(spark, gazetteer, extra_aliases=None) -> DataFrame:
    """Candidate table (alias, canonical_id, label, prior). Canonical id =
    the gazetteer name with ``_`` for spaces; prior = alias frequency rank
    stand-in (deterministic: ``GAZETTEER_PRIOR`` for a name's own alias,
    ``EXTRA_ALIAS_PRIOR`` for an extra one).

    Built from Arrow, so it plans as a ``LocalTableScan``: a list-built
    frame plans a Python-RDD scan that re-runs Python tasks on every scan,
    and ``link_mentions`` scans its alias table three times."""
    import pyarrow as pa

    rows = []
    for name, label in gazetteer:
        canonical = name.replace(" ", "_")
        rows.append((name.lower(), canonical, label, GAZETTEER_PRIOR))
        if extra_aliases:
            for al in extra_aliases.get(name, []):
                rows.append((al.lower(), canonical, label, EXTRA_ALIAS_PRIOR))
    cols = list(zip(*rows)) or [()] * 4
    types = (pa.string(), pa.string(), pa.string(), pa.int32())
    return spark.createDataFrame(pa.Table.from_arrays(
        [pa.array(c, t) for c, t in zip(cols, types)],
        names=["alias", "canonical_id", "label", "prior"]))


def gazetteer_candidates(gazetteer) -> dict[str, list]:
    """The gazetteer rows of :func:`alias_table_from_gazetteer` as a
    driver/worker-side lookup: ``name.lower() -> [(canonical_id, label,
    profile tokens)]``. All candidates share ``GAZETTEER_PRIOR``."""
    cands: dict[str, list] = {}
    for name, label in gazetteer:
        canonical = name.replace(" ", "_")
        cands.setdefault(name.lower(), []).append(
            (canonical, label, _profile(canonical)))
    return cands


def link_winner(cands, doc_tokens) -> tuple[str, str, int]:
    """``(canonical_id, label, overlap)`` of the winning candidate: the max
    of (score, canonical_id, label). With one shared prior the score is
    ``log1p(prior) + overlap``, strictly increasing in the integer
    overlap, so the max of (overlap, canonical_id, label) is the same
    winner."""
    overlap, cid, label = max((len(toks & doc_tokens), cid, label)
                              for cid, label, toks in cands)
    return cid, label, overlap


def linked_from_spans(extract: DataFrame, id_col: str = "url") -> DataFrame:
    """The linked table from the fused extract's in-row link fields:
    (id, start, end, surface, canonical_id, label, score) — row-identical
    to ``link_mentions`` over ``alias_table_from_gazetteer(gaz)``. A narrow
    explode; spans with no candidate (null ``canonical_id``) yield no row,
    as the inner join does. ``score`` is computed here, JVM-side, with the
    same ``log1p`` and double addition, so it is bit-identical."""
    m = F.col("__m")
    return (extract.select(id_col, F.explode("spans").alias("__m"))
            .where(m["canonical_id"].isNotNull())
            .select(id_col, m["start"].alias("start"),
                    m["end"].alias("end"), m["surface"].alias("surface"),
                    m["canonical_id"].alias("canonical_id"),
                    m["link_label"].alias("label"),
                    (F.log1p(F.lit(GAZETTEER_PRIOR))
                     + m["link_overlap"]).alias("score")))


def link_mentions(mentions: DataFrame, documents: DataFrame,
                  alias_table: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """mentions + documents + aliases -> linked mentions
    (doc_id, start, end, surface, canonical_id, label, score).

    The generic operator for any alias table (extra or anchor-derived
    aliases with their own priors); the KG build links the gazetteer's own
    aliases in-row instead (:func:`linked_from_spans`). Candidates looked
    up by lowercased surface in a broadcast per-alias candidate bundle;
    context overlap = |doc tokens ∩ canonical-name tokens|; winner =
    in-row argmax by (score, canonical_id, label).

    Scale shape — ONE data shuffle total (identical output to the naive
    per-mention plan, pinned by the differential test and the q27 oracle):

    1. Each document reduces IN-ROW to its distinct profile-vocabulary
       hits: the vocabulary is aggregated to a SINGLE-ROW DataFrame and
       attached with a 1-row broadcast nested-loop join, then
       ``array_intersect`` runs per document. No token explode, no
       doc-token shuffle — and, unlike a literal ``F.lit(vocab)`` array,
       the vocabulary travels as broadcast task data, so a million-alias
       table grows the broadcast, never the Catalyst plan/codegen; an
       EMPTY alias table yields an empty array<string> (not an
       AnalysisException) and an empty, correctly-typed result.
    2. Mentions join that narrow (doc, doc_toks) table on the doc key —
       the single shuffle, uniformly keyed by document, immune to
       head-entity skew by construction.
    3. The per-alias candidate bundle (canonical, label, prior, profile
       tokens) is a broadcast hash join; score and argmax run in-row via
       ``aggregate`` over the bundle. No per-(doc, alias) distinct, no
       overlap groupBy, no argmax groupBy, no join-back — the previous
       formulation's five multi-million-row string-keyed shuffles
       (measured 3.6-8.2M rows each at 80k docs) are gone.
    """
    # per-alias candidate bundles with profile token sets — broadcast-sized
    cand_toks = F.array_distinct(F.split(
        F.replace(F.col("canonical_id"), F.lit("_"), F.lit(" ")), " "))
    cand_tbl = (alias_table
                .withColumn("__toks", cand_toks)
                .groupBy("alias")
                .agg(F.collect_list(F.struct("canonical_id", "label",
                                             "prior", "__toks"))
                     .alias("__cands")))
    # distinct profile vocabulary as ONE row (array<string>), built
    # relationally — no driver collect, no plan literal. agg-without-
    # groupBy returns exactly one row even for an empty alias table
    # (collect_set -> []), so array_intersect stays well-typed.
    vocab_df = (alias_table
                .select(F.explode(F.array_distinct(F.split(
                    F.replace(F.col("canonical_id"), F.lit("_"), F.lit(" ")),
                    " "))).alias("__t"))
                .agg(F.array_sort(F.collect_set("__t")).alias("__vocab")))
    doc_toks = (documents
                .crossJoin(F.broadcast(vocab_df))
                .select(F.col(id_col),
                        F.array_intersect(
                            F.split(F.lower(F.col(text_col)), " "),
                            F.col("__vocab")).alias("__doc_toks")))
    # project the mention's own label away: the output label is the linked
    # candidate's (alias table), and both sides naming it is ambiguous.
    m = mentions.select(id_col, "start", "end", "surface",
                        F.lower("surface").alias("__alias"))
    # the one data shuffle. Pinned to a sort-merge join: compressed parquet
    # stats under-estimate the mention table (25 MB on disk -> 5.7M-row
    # hashed relation), and Spark would otherwise BROADCAST MENTIONS — a
    # serial driver collect+hash that dwarfs the join itself and cannot
    # scale with cores. SMJ on the doc key is what a 100 TB run would pick
    # anyway; forcing it locally keeps the stage's scaling honest.
    withdocs = m.join(doc_toks.hint("merge"), id_col)
    j = withdocs.join(F.broadcast(cand_tbl),
                      withdocs["__alias"] == cand_tbl["alias"])

    def score(c):
        return F.log1p(c["prior"]) + F.size(
            F.array_intersect(F.col("__doc_toks"), c["__toks"]))

    def scored(c):
        # (score, canonical, label) struct — lexicographic max on exactly
        # the argmax ordering: max score, ties to max canonical_id.
        return F.struct(score(c).cast("double").alias("score"),
                        c["canonical_id"].alias("canonical_id"),
                        c["label"].alias("label"))

    # In-row argmax over the candidate bundle. Two forms:
    #
    # * k <= _UNROLL_MAX (always, for real alias tables — the max bundle
    #   width is the number of canonical entities sharing one alias):
    #   the bundle is UNROLLED into k fixed slots and the winner is
    #   ``greatest(slot_0, ..., slot_{k-1})`` (greatest skips the NULL
    #   slots of shorter bundles). Every expression here — getItem,
    #   array_intersect, log1p, struct, greatest — is whole-stage
    #   codegen-able. The previous transform+array_max formulation was a
    #   higher-order function, which drops the WHOLE projection
    #   (including the per-row intersections) to interpreted evaluation
    #   over the corpus-sized mention table — the same engine fact that
    #   dominated the triples stage.
    # * pathological bundles (k > _UNROLL_MAX aliases pointing at many
    #   canonicals): fall back to the HOF form — correctness over speed.
    #
    # Computing k is one count job over the broadcast-sized alias table.
    k = (cand_tbl.agg(F.max(F.size("__cands"))).collect()[0][0]) or 1
    if k <= _UNROLL_MAX:
        slots = [F.when(F.size("__cands") > i, scored(F.col("__cands")[i]))
                 for i in range(k)]
        best = slots[0] if k == 1 else F.greatest(*slots)
    else:
        best = F.array_max(F.transform(F.col("__cands"), scored))
    return (j.withColumn("__b", best)
            .select(id_col, "start", "end", "surface",
                    F.col("__b.canonical_id").alias("canonical_id"),
                    F.col("__b.label").alias("label"),
                    F.col("__b.score").alias("score")))
