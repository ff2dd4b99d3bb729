"""Gate headroom audit (r4 VERDICT #7): the driver records exactly 50
CORRECTNESS entries and `queries()` is pinned at 50, so every new
operator rides a variant union. This test asserts — for EVERY union
gate, not just the bm25 groups — that each expected variant contributes
rows (no silently-empty sub-operator), by pinning the full variant set
per gate and comparing against the live DataFrame.

If you add a variant to a union, extend EXPECTED here; if a variant
goes silently empty (regression in a sub-operator or a corpus change),
this fails by name."""

import sys

import pytest

sys.path.insert(0, "/root/repo")

import __spark_entry__ as e  # noqa: E402
from lucene_solr_spark.analysis.stempel import stempel_available  # noqa: E402

SF = "/root/testdata/sf0.001"
#: gates whose smallest-sf corpus legitimately starves a leg run at 0.01
SF_BIG = "/root/testdata/sf0.01"

EXPECTED = {
    "ann_family": {"exact", "ivf", "ivf_probe"},
    "classification": {"knn", "nb"},
    "data_splits": {"packing", "splits", "stratified"},
    "decorator_streams": {"cartesian", "fetch", "having", "merge",
                          "random", "rollup", "timeseries", "top",
                          "unique"},
    "dedup_exact_family": {"cluster", "exact", "fingerprint", "profile"},
    "export_sorted": {"early_topn", "export", "time_sliced"},
    "facets": {"assoc_sum", "date_range", "drill_sideways", "field",
               "heatmap", "interval", "pivot", "prefix_missing",
               "range", "taxonomy"},
    "function_query": {"custom_score", "expression", "frange",
                       "recency_boost", "strdist", "valuesource"},
    "group_topk": {"all_groups", "distinct_vals", "group_facet",
                   "heads", "topk"},
    "highlight_snippet": {"classic", "fvh", "unified", "window"},
    "join_streams": {"complement", "hash", "inner", "intersect",
                     "left_outer", "outer_hash"},
    "json_facet_aggs": {"block_children", "exclude_tags", "metrics",
                        "subfacet"},
    "multiterm_query": {"fuzzy", "prefix", "slow_fuzzy", "wildcard"},
    "point_set_field_value": {"dv_bytes_range", "dv_long_range",
                              "field_value", "point_in_set"},
    "scrub_clean": {"html", "pii"},
    "spatial_knn": {"geo3d", "geo3d_path", "geo3d_polygon", "knn",
                    "polygon", "zorder"},
    "suggest": {"blended_infix", "completion", "freetext", "fst_bucket",
                "fuzzy", "infix", "jaspell", "prefix", "spell",
                "wordbreak", "wordcombine"},
    # stempel_polish omits itself when its optional stemmer table is absent
    "terms_component": {"dict", "vector"} | (
        {"stempel_polish"} if stempel_available() else set()) | {
        "snowball_" + lang for lang in (
            "armenian", "basque", "catalan", "czech_light", "danish",
            "dutch", "english", "finnish", "french", "french_light",
            "german2", "german_light", "hungarian", "irish", "italian",
            "italian_light", "norwegian", "portuguese",
            "portuguese_light", "romanian", "spanish", "spanish_light",
            "swedish", "turkish")},
    # the three bm25 groups are pinned against e._bm25_groups() below
    # (their variant lists are source-of-truth'd in the entry module)
}

#: gates whose starved legs need the sf0.01 corpus
NEEDS_BIG_SF = {"spatial_knn"}


@pytest.mark.parametrize("name", sorted(EXPECTED))
def test_every_union_variant_contributes_rows(spark, name):
    sf = SF_BIG if name in NEEDS_BIG_SF else SF
    df = e.queries()[name](spark, sf)
    assert "variant" in df.columns, name
    got = {r[0] for r in df.select("variant").distinct().collect()}
    assert got == EXPECTED[name], (name, got ^ EXPECTED[name])


@pytest.mark.parametrize("name", ["bm25_scoring", "bm25_positional",
                                  "bm25_derived"])
def test_bm25_group_variants_all_present(spark, name):
    df = e.queries()[name](spark, SF)
    got = {r[0] for r in df.select("variant").distinct().collect()}
    expected = {v for v, _fn, _sql in e._bm25_groups()[name]}
    assert got == expected, (name, got ^ expected)
