"""Driver-side alias canonicalization (kg/canonicalize.py) vs the Spark
trigram-Jaccard similarity join it replaced (tests/canon_oracle.py)."""

from __future__ import annotations

import pyarrow as pa
from hypothesis import example, given, settings, strategies as st

from quickner_spark.kg.canonicalize import canonical_map, canonicalize_aliases
from tests.canon_oracle import canonicalize_aliases_spark

# ASCII, plus a multilingual alphabet: multi-byte code points, İ (lowers
# to two code points), final-sigma Σ, a titlecase digraph, CJK, NBSP
ALPHABETS = ("ab c", "a\u00e9 \u00df\u0130\u03a3\u03c3\u03c2\u01c5\u4e2d\u00a0")


def _frame(spark, aliases):
    return spark.createDataFrame(
        pa.table({"alias": pa.array(aliases, pa.string())}))


def _both(spark, aliases):
    df = _frame(spark, aliases)
    got = {(r["alias"], r["canonical_id"])
           for r in canonicalize_aliases(df).collect()}
    exp = {(r["alias"], r["canonical_id"])
           for r in canonicalize_aliases_spark(df).collect()}
    return got, exp


def test_driver_canonicalization_matches_spark_oracle(spark):
    """Hypothesis differential over small alias sets from each alphabet:
    single-character aliases, near-duplicates that chain into one
    component, and pairs exactly at the 60% threshold (pinned below)."""
    alias_sets = st.sampled_from(ALPHABETS).flatmap(
        lambda abc: st.lists(st.text(alphabet=abc, min_size=1, max_size=7),
                             max_size=14, unique=True))

    @settings(max_examples=30, deadline=None)
    @given(alias_sets)
    # Jaccard exactly 3/5: {^ab, abc, bc$} vs {^ab, abc, bca, cab, bc$}
    @example(["abc", "abcabc"])
    # single characters, the empty alias (too short to shingle), a chain
    @example(["a", "b", "", "ab", "aab", "aabab", "aabaab"])
    @example(["éa", "éaé", "İa", "ΣΣΣ", "σσσ", "中"])
    def check(aliases):
        got, exp = _both(spark, aliases)
        assert got == exp

    check()


def test_threshold_boundary_pins():
    """Exactly 60% links; the edge is inclusive and transitive."""
    assert canonical_map(["abc", "abcabc"]) == {"abc": "abc",
                                                "abcabc": "abc"}
    assert canonical_map(["abc", "abcabc"], threshold_pct=61) == {
        "abc": "abc", "abcabc": "abcabc"}
    # aab~aabab (3/5) and aabab~aabaab chain into one component
    cm = canonical_map(["aabaab", "aabab", "aab", "zzz"])
    assert cm == {"aabaab": "aab", "aabab": "aab", "aab": "aab",
                  "zzz": "zzz"}
    assert canonical_map(["", None, "a"]) == {"": "", None: None, "a": "a"}


def test_canonicalize_returns_local_relation(spark):
    out = canonicalize_aliases(_frame(spark, ["acme", "acme inc", "zeta"]))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert out.columns == ["alias", "canonical_id"]
    empty = canonicalize_aliases(_frame(spark, []))
    assert empty.count() == 0
    assert empty.schema == out.schema
