"""spark-submit entry point for the KG-construction pipeline.

Cluster launch (north rule shape):

    cd /root/repo && zip -qr /tmp/quickner_spark.zip quickner_spark
    spark-submit --py-files /tmp/quickner_spark.zip \
        scripts/run_kg_pipeline.py \
        --pages /data/pages --out /data/kg --n-docs 0

Local sandbox run (generates a synthetic pages table first):

    python scripts/run_kg_pipeline.py --out /tmp/kg --n-docs 10000

Stages are resumable: rerunning with the same --out skips committed stages
(delete a stage dir to force recompute). Per-partition metrics land under
<out>/_metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from quickner_spark.kg import corpus  # noqa: E402
from quickner_spark.kg.pipeline import build_kg_pipeline  # noqa: E402
from quickner_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", default=None,
                    help="existing pages parquet/Iceberg path; omit to synthesize")
    ap.add_argument("--out", required=True, help="pipeline output base dir")
    ap.add_argument("--n-docs", type=int, default=10_000,
                    help="synthetic corpus size when --pages is omitted")
    ap.add_argument("--gazetteer-size", type=int, default=999)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--force", action="store_true",
                    help="recompute every stage even if committed")
    ap.add_argument("--html-style", choices=("clean", "messy"),
                    default="clean",
                    help="synthetic corpus html shape (messy = real-web "
                         "chrome around the content; only used when "
                         "--pages is omitted)")
    ap.add_argument("--input-format", choices=("parquet", "warc"),
                    default="parquet",
                    help="pages table format: parquet (default) or a "
                         "directory of Common-Crawl-style *.warc/.warc.gz "
                         "archives (sources.warc.read_warc)")
    ap.add_argument("--extractor", choices=("synthetic", "web"),
                    default="synthetic",
                    help="extract-stage text extractor: 'synthetic' "
                         "inverts the clean generator exactly; 'web' is "
                         "the boilerplate-aware real-web extractor "
                         "(kg.webextract.extract_text_web)")
    ap.add_argument("--link-graph", action="store_true",
                    help="also build the host-level hyperlink graph as a "
                         "host_edges stage (kg.weblinks)")
    ap.add_argument("--host-rank", action="store_true",
                    help="with --link-graph: append a host_rank stage — "
                         "anchor-count-weighted PageRank over host_edges "
                         "(crawl-prioritization signal)")
    ap.add_argument("--outlink-hosts", type=int, default=0,
                    help="messy synth corpus only: plant a 4-anchor "
                         "cross-host block per page over this many "
                         "external hosts (gives --link-graph real "
                         "cross-host edges; 0 = off)")
    args = ap.parse_args()

    spark = get_spark("quickner-kg-pipeline", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")

    pages_path = args.pages
    if pages_path is None:
        pages_path = os.path.join(args.out, "pages")
        if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
            corpus.synth_pages(spark, args.n_docs, seed=args.seed,
                               gaz_size=args.gazetteer_size,
                               html_style=args.html_style,
                               outlink_hosts=args.outlink_hosts) \
                .write.mode("overwrite").parquet(pages_path)

    extractor = None
    if args.extractor == "web":
        from quickner_spark.kg.webextract import extract_text_web
        extractor = extract_text_web
    gaz = corpus.synth_gazetteer(args.gazetteer_size, args.seed)
    pipe = build_kg_pipeline(spark, args.out, pages_path, gaz,
                             corpus.PREDICATES, extractor=extractor,
                             pages_format=args.input_format,
                             link_graph=args.link_graph,
                             host_rank=args.host_rank)
    t0 = time.time()
    status = pipe.run(force=args.force)
    wall = time.time() - t0
    counts = {s: pipe.table(s).count() for s in status}
    # per-stage walls from the committed metrics rows; prefer this run's
    # rows (a reran stage appends a second record), fall back to the
    # original wall for stages skipped this run
    stage_wall: dict[str, int] = {}
    for r in (pipe.metrics().select("stage", "wall_ms", "run_id")
              .distinct().collect()):
        if r["run_id"] == pipe.run_id or r["stage"] not in stage_wall:
            stage_wall[r["stage"]] = r["wall_ms"]
    print(json.dumps({"status": status, "rows": counts,
                      "wall_sec": round(wall, 2),
                      "stage_wall_ms": stage_wall,
                      "triples_per_sec": round(
                          counts.get("triples", 0) / max(wall, 1e-9), 1)}))
    spark.stop()


if __name__ == "__main__":
    main()
