"""Iceberg catalog mode, exercised FOR REAL when a runtime jar is present.

The container this repo is developed in ships no Iceberg runtime, so the
writeTo()/tableExists writer-selection logic is otherwise covered only by
monkeypatched unit tests (test_kg_pipeline.py::test_catalog_mode_writer_
selection). On any machine where an iceberg-spark-runtime jar is available
(ivy cache, SPARK_HOME/jars, or $ICEBERG_JAR), this module runs one stage
end-to-end through ``writeTo(...).createOrReplace()`` against a local
Hadoop-type catalog and verifies snapshot-based resumability; elsewhere it
skips cleanly.
"""

from __future__ import annotations

import glob
import os

import pytest


def _iceberg_jar() -> str | None:
    env = os.environ.get("ICEBERG_JAR")
    if env and os.path.exists(env):
        return env
    patterns = [
        os.path.expanduser("~/.ivy2/jars/*iceberg-spark-runtime*.jar"),
        os.path.expanduser("~/.ivy2/cache/org.apache.iceberg/**/*.jar"),
        os.path.join(os.environ.get("SPARK_HOME", "/nonexistent"),
                     "jars", "*iceberg-spark-runtime*.jar"),
    ]
    for pat in patterns:
        hits = sorted(glob.glob(pat, recursive=True))
        if hits:
            return hits[0]
    return None


_JAR = _iceberg_jar()


@pytest.mark.skipif(_JAR is None,
                    reason="no iceberg-spark-runtime jar on this machine")
def test_iceberg_catalog_stage_roundtrip_and_resume(tmp_path):
    from pyspark.sql import SparkSession

    warehouse = str(tmp_path / "warehouse")
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("iceberg-gated-test")
        .config("spark.jars", _JAR)
        .config("spark.sql.extensions",
                "org.apache.iceberg.spark.extensions"
                ".IcebergSparkSessionExtensions")
        .config("spark.sql.catalog.ice",
                "org.apache.iceberg.spark.SparkCatalog")
        .config("spark.sql.catalog.ice.type", "hadoop")
        .config("spark.sql.catalog.ice.warehouse", warehouse)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    try:
        from quickner_spark.kg import corpus
        from quickner_spark.kg.extract import mentions_from_spans
        from quickner_spark.kg.pipeline import build_kg_pipeline

        pages = str(tmp_path / "pages")
        corpus.synth_pages(spark, 200, seed=3, gaz_size=80,
                           partitions=2).write.parquet(pages)
        gaz = corpus.synth_gazetteer(80, 3)
        spark.sql("CREATE NAMESPACE IF NOT EXISTS ice.kg")
        p = build_kg_pipeline(spark, str(tmp_path / "base"), pages, gaz,
                              corpus.PREDICATES, catalog="ice.kg")
        status = p.run()
        assert all(v == "ran" for v in status.values()), status
        assert mentions_from_spans(p.table("extract")).count() > 0
        # snapshot commit == resumability marker: a rerun skips everything
        status2 = p.run()
        assert all(v == "skipped" for v in status2.values()), status2
        # createOrReplace is atomic replace, not append: a forced rerun of
        # one stage leaves exactly one logical table with the same rows
        n = p.table("triples").count()
        spark.sql("DROP TABLE ice.kg.triples")
        status3 = p.run()
        assert status3["triples"] == "ran"
        assert p.table("triples").count() == n
    finally:
        spark.stop()
