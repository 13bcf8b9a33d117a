"""Real-web boilerplate-aware extractor: content kept, chrome dropped,
deterministic bytes-in -> text-out, and the extract-stage contract."""

from __future__ import annotations

import pytest

from quickner_spark.kg.webextract import extract_text_web

PAGE = b"""<!DOCTYPE html>
<html><head><title>Acme quarterly report</title>
<style>body { color: red }</style>
<script>var tracking = "do not extract";</script></head>
<body>
<nav><a href="/">home</a> <a href="/news">news</a> <a href="/about">about</a></nav>
<div class="sidebar"><a href="/x">related one</a> <a href="/y">related two</a></div>
<article>
<h2>Acme systems posts record results</h2>
<p>Acme systems reported a strong quarter with revenue growth across all
regions, beating analyst expectations by a wide margin.</p>
<p>The company credited its data platform and the new stream processing
product line for most of the growth in enterprise accounts.</p>
</article>
<footer>Copyright 2026 Acme &middot; <a href="/terms">terms</a></footer>
</body></html>"""


def test_content_kept_boilerplate_dropped():
    text = extract_text_web(PAGE)
    assert text is not None
    assert "revenue growth" in text
    assert "stream processing" in text
    # headline between two content paragraphs is kept (surrounded rule
    # does not apply here — it leads; it qualifies by its own word count)
    assert "record results" in text
    # chrome is gone
    assert "tracking" not in text
    assert "color: red" not in text
    assert "home" not in text.split("\n")[0] or "news" not in text
    assert "Copyright" not in text


def test_link_dense_blocks_dropped():
    html = (b"<body><div><a href='/a'>one two three four five six</a></div>"
            b"<p>plain prose block with enough words to qualify here</p>"
            b"</body>")
    text = extract_text_web(html)
    assert text == "plain prose block with enough words to qualify here"


def test_deterministic_and_charref_decoding():
    html = (b"<body><p>caf&eacute; costs &lt;5 euros which is a bargain"
            b" honestly</p></body>")
    a = extract_text_web(html)
    b2 = extract_text_web(html)
    assert a == b2 == "café costs <5 euros which is a bargain honestly"


def test_invalid_inputs_return_none():
    assert extract_text_web(None) is None
    assert extract_text_web(b"\xff\xfe\x00broken") is None
    assert extract_text_web(b"<body><nav><a href='/'>x</a></nav></body>") is None


def test_surrounded_headline_rule():
    html = (b"<body>"
            b"<p>first real paragraph with plenty of words to qualify as content</p>"
            b"<h3>Short head</h3>"
            b"<p>second real paragraph also with plenty of words to qualify</p>"
            b"</body>")
    text = extract_text_web(html)
    assert "Short head" in text


def test_extract_stage_contract_with_web_extractor(spark):
    from quickner_spark.kg.extract import extract_annotate_stage
    from tests.kg_oracle import extract_stage

    pages = spark.createDataFrame(
        [("u0", bytearray(PAGE)), ("u1", None),
         ("u2", bytearray(b"<body><p>acme systems ships data platform to "
                          b"every region this year</p></body>"))],
        "url string, html binary")
    out = {r["url"]: r["text"]
           for r in extract_stage(pages, extractor=extract_text_web).collect()}
    assert out["u1"] is None
    assert "revenue growth" in out["u0"]
    # fused variant: same text, spans from the same automaton
    fused = extract_annotate_stage(
        pages, [("acme systems", "ORG"), ("data platform", "PROD")],
        extractor=extract_text_web)
    rows = {r["url"]: r for r in fused.collect()}
    assert rows["u0"]["text"] == out["u0"]
    labs = {s["label"] for s in rows["u2"]["spans"]}
    assert labs == {"ORG", "PROD"}
    surfaces = {s["surface"] for s in rows["u2"]["spans"]}
    assert "acme systems" in surfaces


def test_messy_corpus_byte_identical_extraction(spark):
    """The messy-html generator + web extractor must round-trip the
    synthetic text byte-for-byte whenever the content block qualifies
    (>= min_words alnum words) — the real-web restatement of the
    byte-identical-extraction invariant. Link-farm chrome carries
    gazetteer ORG names and MUST be dropped."""
    from quickner_spark.kg import corpus

    gaz = corpus.synth_gazetteer(200, 42)
    n_ok = n_short = 0
    for i in range(400):
        text, _ = corpus.page_text(i, gaz, 42)
        got = extract_text_web(corpus.page_html_messy(text, f"doc {i}", i))
        n_words = sum(1 for w in text.split()
                      if any(c.isalnum() for c in w))
        if n_words < 5:
            n_short += 1  # below the classifier's min_words: None is the contract
            assert got is None
        else:
            assert got == text, i
            n_ok += 1
    assert n_ok >= 390  # the short tail is rare by construction


def test_messy_web_pipeline_equals_clean_synthetic(spark, tmp_path):
    """Full KG build over MESSY pages with the web extractor must be
    row-identical (triples, nodes, edges) to the build over CLEAN pages
    with the synthetic-inverse extractor — same urls, same ground-truth
    text, so any divergence is extraction noise. Pages below the
    classifier's min_words extract to None (mentionless), so the corpus
    is generated at 4 sentences/page where every page qualifies."""
    from quickner_spark.kg import corpus
    from quickner_spark.kg.pipeline import build_kg_pipeline

    gaz = corpus.synth_gazetteer(150, 42)
    n = 120
    clean = corpus.synth_pages(spark, n, seed=42, gaz_size=150,
                               partitions=2, sents_per_page=4)
    messy = corpus.synth_pages(spark, n, seed=42, gaz_size=150,
                               partitions=2, sents_per_page=4,
                               html_style="messy")
    clean.write.parquet(str(tmp_path / "pc"))
    messy.write.parquet(str(tmp_path / "pm"))
    p_clean = build_kg_pipeline(spark, str(tmp_path / "kgc"),
                                str(tmp_path / "pc"), gaz, corpus.PREDICATES)
    p_messy = build_kg_pipeline(spark, str(tmp_path / "kgm"),
                                str(tmp_path / "pm"), gaz, corpus.PREDICATES,
                                extractor=extract_text_web)
    p_clean.run()
    p_messy.run()
    def canon(df, cols):
        return {tuple(tuple(v) if isinstance(v, list) else v for v in r)
                for r in df.select(*cols).collect()}

    for st in ("triples", "nodes", "edges"):
        cols = sorted(p_clean.table(st).columns)
        assert canon(p_clean.table(st), cols) == \
            canon(p_messy.table(st), cols), st
    assert p_messy.table("triples").count() > 0


# --- fast-scanner vs reference-parser differential -----------------------

def _reference_extract(html, min_words=5, max_link_density=0.5):
    """extract_text_web semantics, forced through the HTMLParser path."""
    from quickner_spark.kg import webextract as W
    if html is None:
        return None
    try:
        raw = html.decode("utf-8")
    except UnicodeDecodeError:
        return None
    try:
        blocks = W._blocks_reference(raw)
    except Exception:
        return None
    content = []
    for (text, n_chars, n_anchor) in blocks:
        n_words = sum(1 for w in text.split()
                      if any(c.isalnum() for c in w))
        dense = n_chars > 0 and (n_anchor / n_chars) > max_link_density
        content.append(False if dense else n_words >= min_words)
    for j in range(1, len(blocks) - 1):
        if not content[j]:
            _, n_chars, n_anchor = blocks[j]
            low = n_chars == 0 or (n_anchor / n_chars) <= max_link_density
            if low and content[j - 1] and content[j + 1]:
                content[j] = True
    kept = [b[0] for b, c in zip(blocks, content) if c]
    return "\n".join(kept) if kept else None


HOSTILE_HTML = [
    # charrefs, bold inline, comments (incl. unterminated + spaced close)
    b"<body><p>text &amp; more <b>bold</b> stuff here okay fine</p></body>",
    b"<!-- c1 --><p>alpha beta gamma delta epsilon zeta</p><!-- tail",
    b"<!--  --  --><p>comment with inner dashes one two three four</p>",
    b"<p>spacey comment close one two three four five</p><!-- x --   >",
    b"<p>ent&#65;ity &lt;tag&gt; one two three four five</p>",
    # CDATA content elements: lookalike close tags must NOT leave CDATA
    b"<p>one two three four five six</p><script>if (a<b) { x = '</scriptx>'; }"
    b"</script><p>seven eight nine ten eleven twelve</p>",
    b"<p>aa bb cc dd ee ff</p><script>var s='</script foo>';</script>"
    b"<p>gg hh ii jj kk ll</p>",
    b"<style>p { content: '</style x>' }</style>"
    b"<p>after style one two three four five</p>",
    b"<script>unterminated raw text <p>never a block</p>",
    # quoted '>' in attributes, odd quotes, bare values ending in '/'
    b"<p title='a>b'>quoted gt one two three four five six</p>",
    b'<p data-x="y>z">double quoted gt one two three four five</p>',
    b"<a href=foo/>not closed anchor one two three four five six</a>"
    b"<p>plain words here one two three four</p>",
    b"<a href=foo//>bare slashes one two three four five six</a>",
    b"<p foo=bar'baz>odd quote one two three four five six</p>",
    # self-closing / void / empty-end / junk-end tags
    b"<br/><p>void self close one two three four five</p><br />",
    b"<div/><p>self closing div one two three four five six</p>",
    b"</><p>empty end tag one two three four five six</p>",
    b"<p>text</p junk><p>junk end tag one two three four five six</p>",
    b"</ScRiPt><p>stray end tag one two three four five six</p>",
    # lone '<' as data, PIs, doctype, marked sections, unicode
    b"<p>weird < lone lt one two three four five six</p>",
    b"<p>1 < 2 and 3 > 2 one two three four five</p>",
    b"<?php echo 'x'; ?><p>after pi one two three four five six</p>",
    b"<!DOCTYPE html><p>after doctype one two three four five</p>",
    b"<![CDATA[ raw <p>x</p> ]]><p>after cdata one two three four five</p>",
    b"<p>unterminated tag one two three four five <a href=",
    b"<P>UPPER tag one two three four five six</P>",
    b"<p>caf\xc3\xa9 unicode one two three four five</p>",
    b"<\xc3\xa9tag>unicode letter after lt one two three four five</p>",
    # anchor accounting across chunk boundaries
    b"<a href='/x'>l1</a> <a href='/y'>l2</a>"
    b"<p>content words one two three four five</p>",
    b"<div><a>x</a> < <a>y</a></div><p>lt inside anchor block one two"
    b" three four five</p>",
    b"<noscript><p>inside noscript dropped</p></noscript>"
    b"<p>kept words one two three four five</p>",
    b"<svg><text>svg text dropped</text></svg>"
    b"<p>after svg one two three four five</p>",
]


def test_fast_scanner_equals_reference_on_hostile_html():
    for h in HOSTILE_HTML:
        assert extract_text_web(h) == _reference_extract(h), h


def test_fast_scanner_equals_reference_on_corpus_blocks():
    """Block-level parity (not just final text) on messy + clean pages."""
    from quickner_spark.kg import corpus
    from quickner_spark.kg import webextract as W

    gaz = corpus.synth_gazetteer(200, 42)
    for i in range(150):
        text, _ = corpus.page_text(i, gaz, 42)
        for page in (corpus.page_html_messy(text, f"doc {i}", i),
                     corpus.page_html(text, f"doc {i}")):
            raw = page.decode("utf-8")
            assert W._blocks_fast(raw) == W._blocks_reference(raw), i


def test_fast_scanner_fuzz_differential():
    """Random tag soup: the fast path (with its _Bail fallback) must match
    the reference parser byte-for-byte on arbitrary fragment orderings."""
    import random

    rng = random.Random(421)
    frags = [
        "<p>", "</p>", "<div>", "</div>", "<a href='/x'>", "</a>", "<br/>",
        "<script>", "</script>", "<style>", "</style>", "<!-- c -->",
        "<!--", "-->", "<b>", "</b>", "&amp;", "&lt;", "<", ">", "one",
        "two three", "alpha beta gamma delta epsilon", " ", "\n",
        "<p title='a>b'>", "<a href=foo/>", "<!DOCTYPE html>", "<?pi?>",
        "</>", "<![CDATA[x]]>", "<x y=\"z>w\">", "lone words here now",
    ]
    for trial in range(300):
        doc = "".join(rng.choice(frags)
                      for _ in range(rng.randrange(1, 40))).encode("utf-8")
        assert extract_text_web(doc) == _reference_extract(doc), doc
