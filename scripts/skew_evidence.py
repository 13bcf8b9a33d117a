"""Planted-skew pipeline evidence (round-4 item): run the full KG build
over a corpus with a Zipf-1 head — ONE gazetteer name forced into ~30% of
sentence subjects and ONE domain owning ~10% of urls — and show the
per-stage partition histograms stay balanced, i.e. the skew guards are
design, not luck:

* url-keyed plans (the triples stage's doc-keyed SMJ) hash the FULL url,
  so a hot domain cannot concentrate a shuffle partition;
* surface-keyed aggregates (nodes, entity index) collapse map-side
  (partial aggregation) before any shuffle, so a 30%-share surface ships
  ~one row per map task, not 30% of the corpus, to one reducer;
* the one shape that WOULD hotspot — a straight groupBy on the raw
  mention stream feeding a skewed reducer — is measured head-to-head
  against the salted two-stage form (operators/indexes.py) on the same
  skewed mentions table.

Outputs one JSON line; numbers go into DESIGN_SCALE.md.

Usage: python scripts/skew_evidence.py
Env: SKEW_DOCS (default 200000), SKEW_SENTS (default 4),
     SKEW_CORES (default 16), SKEW_BASE.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from quickner_spark.kg import corpus  # noqa: E402
from quickner_spark.kg.extract import mentions_from_spans  # noqa: E402
from quickner_spark.kg.pipeline import build_kg_pipeline  # noqa: E402
from quickner_spark.operators import indexes as ix  # noqa: E402
from quickner_spark.session import get_spark  # noqa: E402

N_DOCS = int(os.environ.get("SKEW_DOCS", "200000"))
SENTS = int(os.environ.get("SKEW_SENTS", "4"))
CORES = int(os.environ.get("SKEW_CORES", "16"))
BASE = os.environ.get("SKEW_BASE", "/tmp/quickner_skew")
HOT_NAME = 0.30
HOT_DOMAIN = 0.10


def partition_balance(pipe) -> dict[str, dict]:
    """Per-stage balance from the committed metrics rows: max / median
    rows per written file, and every stage table is unpartitioned, so a
    file is one write task's output. 1.0 = perfectly even; a straggler
    task shows up as a large ratio AND as stage wall."""
    rows = pipe.metrics().collect()
    by_stage: dict[str, list[int]] = {}
    wall: dict[str, int] = {}
    for r in rows:
        by_stage.setdefault(r["stage"], []).append(r["rows_out"])
        wall[r["stage"]] = r["wall_ms"]
    out = {}
    for stage, counts in by_stage.items():
        nz = [c for c in counts if c > 0] or [0]
        out[stage] = {
            "n_partitions": len(counts),
            "rows_total": int(sum(counts)),
            "rows_max": int(max(counts)),
            "rows_median": int(statistics.median(nz)),
            "max_over_median": round(max(counts) / max(statistics.median(nz), 1), 2),
            "wall_ms": wall[stage],
        }
    return out


def run_variant(spark, name: str, **corpus_kw) -> dict:
    base = os.path.join(BASE, name)
    shutil.rmtree(base, ignore_errors=True)
    pages_path = os.path.join(base, "pages")
    corpus.synth_pages(spark, N_DOCS, seed=42, gaz_size=999, partitions=64,
                       sents_per_page=SENTS, **corpus_kw) \
        .write.mode("overwrite").parquet(pages_path)
    gaz = corpus.synth_gazetteer(999, 42)
    pipe = build_kg_pipeline(spark, base, pages_path, gaz, corpus.PREDICATES)
    t0 = time.time()
    pipe.run()
    wall = round(time.time() - t0, 1)

    mentions = mentions_from_spans(pipe.table("extract"))
    hot = (mentions.groupBy("surface").count()
           .orderBy(F.desc("count")).limit(1).first())
    n_mentions = mentions.count()

    # operator-level head-to-head on the SAME skewed mentions: plain
    # groupBy(count distinct) vs the salted two-stage aggregate
    m = mentions.select(F.col("url").alias("doc_id"), "surface").cache()
    m.count()
    t0 = time.time()
    plain = ix.entity_index(m)
    plain.count()
    t_plain = round(time.time() - t0, 2)
    t0 = time.time()
    salted = ix.entity_index_salted(m)
    salted.count()
    t_salted = round(time.time() - t0, 2)
    eq = (plain.exceptAll(salted).count() == 0
          and salted.exceptAll(plain).count() == 0)
    m.unpersist()

    res = {
        "pipeline_wall_sec": wall,
        "n_mentions": n_mentions,
        "hot_surface": hot["surface"],
        "hot_share_pct": round(100.0 * hot["count"] / n_mentions, 1),
        "stage_balance": partition_balance(pipe),
        "entity_index_plain_sec": t_plain,
        "entity_index_salted_sec": t_salted,
        "salted_equals_plain": eq,
    }
    return res


def main() -> None:
    spark = get_spark("skew-evidence", cores=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    uniform = run_variant(spark, "uniform")
    skewed = run_variant(spark, "skewed",
                         hot_name_share=HOT_NAME,
                         hot_domain_share=HOT_DOMAIN)
    out = {
        "job": "planted-skew pipeline evidence",
        "n_docs": N_DOCS, "sents_per_page": SENTS, "cores": CORES,
        "hot_name_share": HOT_NAME, "hot_domain_share": HOT_DOMAIN,
        "uniform": uniform, "skewed": skewed,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
