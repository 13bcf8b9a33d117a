"""WARC source: framing, gzip members, leniency, schema, and the
end-to-end pipeline parity with a parquet pages table."""

from __future__ import annotations

import gzip
import io
import os
from datetime import datetime

import pytest

from quickner_spark.kg import corpus
from quickner_spark.kg.pipeline import build_kg_pipeline
from quickner_spark.sources.warc import (parse_warc_stream, read_warc,
                                         warc_record_bytes, write_warc_file)

HTML_A = b"<html><body><p>alpha page</p></body></html>"
HTML_B = b"<html><body><p>beta page</p></body></html>"
TS_A = "2017-03-22T17:36:12Z"
TS_B = "2017-03-22T18:00:00Z"


def _two_record_archive():
    return [
        warc_record_bytes("http://a.example/x", TS_A, HTML_A),
        warc_record_bytes("http://b.example/y", TS_B, HTML_B),
    ]


@pytest.mark.parametrize("compress", [False, True])
def test_roundtrip(spark, tmp_path, compress):
    d = tmp_path / "warc"
    d.mkdir()
    suffix = "warc.gz" if compress else "warc"
    write_warc_file(str(d / f"part0.{suffix}"), _two_record_archive(),
                    compress=compress)
    rows = {r["url"]: r for r in read_warc(spark, str(d)).collect()}
    assert set(rows) == {"http://a.example/x", "http://b.example/y"}
    a = rows["http://a.example/x"]
    assert bytes(a["html"]) == HTML_A  # HTTP envelope stripped
    assert a["warc_ts"] == datetime(2017, 3, 22, 17, 36, 12)
    assert a["text"] is None and a["lang"] is None


def test_schema_matches_pages_table(spark, tmp_path):
    d = tmp_path / "warc"
    d.mkdir()
    write_warc_file(str(d / "p.warc.gz"), _two_record_archive())
    got = read_warc(spark, str(d)).schema
    want = corpus.synth_pages(spark, 1, seed=1, gaz_size=10).schema
    assert [(f.name, f.dataType.simpleString()) for f in got.fields] == \
           [(f.name, f.dataType.simpleString()) for f in want.fields]


def test_record_type_filter_and_conversion(spark, tmp_path):
    recs = [
        warc_record_bytes("http://a/x", TS_A, HTML_A),
        warc_record_bytes("http://a/x", TS_A, b"GET / HTTP/1.1\r\n\r\n",
                          rec_type="request", http_status=None),
        warc_record_bytes("http://a/x", TS_A, b"plain extracted text",
                          rec_type="conversion", http_status=None),
    ]
    d = tmp_path / "warc"
    d.mkdir()
    write_warc_file(str(d / "p.warc.gz"), recs)
    assert read_warc(spark, str(d)).count() == 1  # response only
    wet = read_warc(spark, str(d), record_types=("conversion",)).collect()
    assert len(wet) == 1 and bytes(wet[0]["html"]) == b"plain extracted text"


def test_lenient_skips_corrupt_record_strict_raises():
    good = warc_record_bytes("http://a/x", TS_A, HTML_A)
    bad = b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: NaN\r\n\r\nxx"
    good2 = warc_record_bytes("http://b/y", TS_B, HTML_B)
    stream = good + bad + good2
    urls = [r["url"] for r in parse_warc_stream(stream)]
    assert urls == ["http://a/x", "http://b/y"]
    with pytest.raises(ValueError, match="bad header block"):
        list(parse_warc_stream(stream, strict=True))


def test_lenient_truncated_tail():
    good = warc_record_bytes("http://a/x", TS_A, HTML_A)
    trunc = warc_record_bytes("http://b/y", TS_B, HTML_B)[:-20]
    urls = [r["url"] for r in parse_warc_stream(good + trunc)]
    assert urls == ["http://a/x"]
    with pytest.raises(ValueError, match="truncated"):
        list(parse_warc_stream(good + trunc, strict=True))


def test_non_http_response_payload_passes_whole():
    rec = warc_record_bytes("http://a/x", TS_A, b"raw bytes no envelope",
                            http_status=None)
    (row,) = parse_warc_stream(rec)
    assert row["html"] == b"raw bytes no envelope"


def test_gzip_trailing_garbage_lenient(spark, tmp_path):
    d = tmp_path / "warc"
    d.mkdir()
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
        g.write(warc_record_bytes("http://a/x", TS_A, HTML_A))
    with open(d / "p.warc.gz", "wb") as f:
        f.write(buf.getvalue() + b"\x00garbage-not-gzip")
    rows = read_warc(spark, str(d)).collect()
    assert len(rows) == 1 and rows[0]["url"] == "http://a/x"


def test_path_glob_prunes_non_archives(spark, tmp_path):
    d = tmp_path / "warc"
    d.mkdir()
    write_warc_file(str(d / "p.warc.gz"), _two_record_archive())
    (d / "README.txt").write_bytes(b"not an archive")
    assert read_warc(spark, str(d), path_glob="*.warc*").count() == 2


def test_pipeline_from_warc_matches_parquet(spark, tmp_path):
    """The full KG build off WARC archives is row-identical to the
    same build off the parquet pages table — the Common-Crawl ingest
    path end to end (north rule input shape)."""
    n, gaz_size, seed = 80, 60, 7
    pages = corpus.synth_pages(spark, n, seed=seed, gaz_size=gaz_size,
                               partitions=2).collect()
    pq = str(tmp_path / "pages_pq")
    spark.createDataFrame(pages, corpus.synth_pages(
        spark, 1, seed=seed, gaz_size=gaz_size).schema) \
        .repartition(2).write.parquet(pq)
    wd = tmp_path / "pages_warc"
    wd.mkdir()
    # two archives, CC-style record-gzipped members
    half = len(pages) // 2
    for i, chunk in enumerate((pages[:half], pages[half:])):
        recs = [warc_record_bytes(
                    r["url"],
                    r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ"),
                    bytes(r["html"])) for r in chunk]
        write_warc_file(str(wd / f"seg{i}.warc.gz"), recs)

    gaz = corpus.synth_gazetteer(gaz_size, seed)
    p1 = build_kg_pipeline(spark, str(tmp_path / "out_pq"), pq, gaz,
                           corpus.PREDICATES)
    p1.run()
    p2 = build_kg_pipeline(spark, str(tmp_path / "out_warc"), str(wd), gaz,
                           corpus.PREDICATES, pages_format="warc")
    p2.run()
    for tbl in ("triples", "nodes", "edges"):
        a, b = p1.table(tbl), p2.table(tbl)
        assert a.count() == b.count()
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_unknown_pages_format_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="pages_format"):
        build_kg_pipeline(spark, str(tmp_path / "o"), "x",
                          [("acme", "ORG")], (), pages_format="orc")


def test_latest_by_url_keeps_newest_capture(spark, tmp_path):
    from quickner_spark.sources.warc import latest_by_url
    d = tmp_path / "warc"
    d.mkdir()
    recs = [
        warc_record_bytes("http://a/x", TS_A, b"<p>old capture</p>"),
        warc_record_bytes("http://a/x", TS_B, b"<p>new capture</p>"),
        warc_record_bytes("http://b/y", TS_A, HTML_B),
    ]
    write_warc_file(str(d / "p.warc.gz"), recs)
    out = latest_by_url(read_warc(spark, str(d))).collect()
    rows = {r["url"]: bytes(r["html"]) for r in out}
    assert rows == {"http://a/x": b"<p>new capture</p>",
                    "http://b/y": HTML_B}


def test_stream_warc_incremental_kg(spark, tmp_path):
    """Archives landing in a directory drive the incremental KG: two
    segment drops -> two micro-batches; final mentions/triples tables are
    row-identical to one batch run over both archives, and the second run
    (same checkpoint) processes ONLY the newly-landed archive."""
    from quickner_spark.sources.warc import stream_warc
    from quickner_spark.streaming import incremental_kg, kg_batch_increment

    gaz = corpus.synth_gazetteer(60, 5)
    pages = corpus.synth_pages(spark, 24, seed=5, gaz_size=60,
                               partitions=1).collect()
    src = tmp_path / "drop"
    src.mkdir()

    def archive(rows, name):
        recs = [warc_record_bytes(
            r["url"], r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ"),
            bytes(r["html"])) for r in rows]
        write_warc_file(str(src / name), recs)

    out = tmp_path / "kg"
    m_path, t_path = str(out / "mentions"), str(out / "triples")
    ckpt = str(out / "ckpt")

    def run_available():
        q = incremental_kg(
            stream_warc(spark, str(src)), gaz, corpus.PREDICATES,
            m_path, t_path, ckpt)
        q.awaitTermination(120)

    archive(pages[:12], "seg-0.warc.gz")
    run_available()
    archive(pages[12:], "seg-1.warc.gz")
    run_available()

    got_m = spark.read.parquet(m_path)
    batch_ids = {r["batch_id"] for r in
                 got_m.select("batch_id").distinct().collect()}
    assert len(batch_ids) == 2  # second run processed only the new drop
    urls_b1 = {r["url"] for r in
               got_m.where(got_m.batch_id == max(batch_ids))
               .select("url").distinct().collect()}
    assert urls_b1 <= {r["url"] for r in pages[12:]}

    want_m, want_t = kg_batch_increment(
        read_warc(spark, str(src)), gaz, corpus.PREDICATES)
    m_cols = ["url", "start", "end", "label", "surface"]
    t_cols = ["url", "subj", "pred", "obj", "subj_start", "obj_start"]
    as_set = lambda df, cols: {tuple(r[c] for c in cols)
                               for r in df.select(*cols).collect()}
    assert as_set(got_m, m_cols) == as_set(want_m, m_cols)
    assert as_set(spark.read.parquet(t_path), t_cols) == \
        as_set(want_t, t_cols)
