"""Relational operator surface: Solr streaming expressions, facets,
collectors, and multi-term query rewrites re-expressed as Catalyst plans.

Each OPS entry is (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql | None).
Column names are aliased identically on both sides (the driver's comparator
sorts columns by name before hashing).

Reference mapping (SURVEY.md §2.3, §2.5-2.7):
  field_facet        FacetComponent field facet          -> groupBy().count()
  range_facet        RangeFacetProcessor                 -> bucket expr + count
  pivot_facet        PivotFacet (nested facets)          -> groupBy(f1, f2)
  stats_component    StatsComponent/StatsValuesFactory   -> agg built-ins
  rollup_stream      RollupStream sort-agg               -> groupBy().agg()
  unique_stream      UniqueStream first-per-key          -> Window row_number=1
  top_stream         RankStream bounded top-N            -> ORDER BY LIMIT
  merge_stream       MergeStream sorted union            -> unionByName + sort
  inner_join_stream  InnerJoinStream sort-merge join     -> df.join
  hash_join_stream   HashJoinStream build/probe          -> broadcast join
  left_outer_join    LeftOuterJoinStream                 -> left join
  intersect_stream   IntersectStream                     -> left_semi join
  complement_stream  ComplementStream                    -> left_anti join
  outer_hash_join    OuterHashJoinStream build-right     -> broadcast left join
  random_stream      RandomStream seeded sample          -> ORDER BY sha2 LIMIT
  diversified_topk   DiversifiedTopDocsCollector         -> per-key window + top-k
  grouping_collapse  CollapsingQParserPlugin / grouping  -> Window rn=1
  group_topk         SecondPassGroupingCollector         -> Window rn<=k
  search_after       searchAfter/CursorMark deep paging  -> keyset predicate
  term_range_query   TermRangeQuery/PointRangeQuery      -> BETWEEN
  prefix_query       PrefixQuery                         -> LIKE 'p%'
  wildcard_query     WildcardQuery                       -> LIKE pattern
  fuzzy_query        FuzzyQuery (Levenshtein <= 2)       -> levenshtein()
  boolean_filter     BooleanQuery FILTER clauses         -> WHERE AND/OR/NOT
  match_all_count    MatchAllDocsQuery + TotalHitCount   -> COUNT(*)
  min_should_match   MinShouldMatchSumScorer n-of-m      -> HAVING count >= n
  export_sorted      ExportQParserPlugin sorted dump     -> ORDER BY (full)
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------- facets

def field_facet(spark, sf):
    return (
        _t(spark, sf, "orders")
        .filter(F.col("o_totalprice") > 1000)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("facet_count"))
        .orderBy("o_orderpriority")
    )


FIELD_FACET_SQL = """
SELECT o_orderpriority, count(*) AS facet_count
FROM orders WHERE o_totalprice > 1000
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def prefix_missing_facet(spark, sf):
    """Solr facet.prefix + facet.missing + facet.sort=index
    (solr/core/src/java/org/apache/solr/request/SimpleFacets.java:
    getFacetTermEnumCounts walks only the term-dict range starting at the
    prefix; `missing=true` appends the no-value bucket). The faceted
    field is made sparse deterministically (every 10th part has no
    brand) so the missing bucket is non-trivial; the prefix restriction
    is a sargable LIKE the scan prunes on, and index order = the
    bucket-key sort."""
    p = _t(spark, sf, "part")
    brand = F.when(F.col("p_partkey") % 10 != 0, F.col("p_brand"))
    return (
        p.select(brand.alias("brand"))
        .filter(F.col("brand").startswith("Brand#1") | F.col("brand").isNull())
        .groupBy(F.coalesce("brand", F.lit("(missing)")).alias("bucket"))
        .agg(F.count("*").alias("facet_count"))
        .orderBy("bucket")
    )


PREFIX_MISSING_FACET_SQL = """
SELECT coalesce(brand, '(missing)') AS bucket, count(*) AS facet_count
FROM (SELECT CASE WHEN p_partkey % 10 <> 0 THEN p_brand END AS brand FROM part)
WHERE brand LIKE 'Brand#1%' OR brand IS NULL
GROUP BY 1 ORDER BY 1
"""


def range_facet(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.withColumn("qty_bucket", (F.floor(F.col("l_quantity") / 10) * 10).cast("long"))
        .groupBy("qty_bucket")
        .agg(F.count("*").alias("facet_count"))
        .orderBy("qty_bucket")
    )


RANGE_FACET_SQL = """
SELECT CAST(floor(l_quantity / 10) * 10 AS BIGINT) AS qty_bucket, count(*) AS facet_count
FROM lineitem GROUP BY 1 ORDER BY 1
"""


def pivot_facet(spark, sf):
    return (
        _t(spark, sf, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("facet_count"))
        .orderBy("l_returnflag", "l_linestatus")
    )


PIVOT_FACET_SQL = """
SELECT l_returnflag, l_linestatus, count(*) AS facet_count
FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2
"""

# Heatmap facet (SpatialHeatmapFacets.java:77 getHeatmapForField →
# HeatmapFacetCounter.calcFacets, lucene/spatial-extras/.../prefix/
# HeatmapFacetCounter.java:86): 2D spatial grid counts over a query
# region at a fixed grid level, returned as a DENSE columns×rows count
# array (zero cells included — Heatmap.counts is int[columns*rows]).
#
# The TPC-H tables carry no geo columns, so points are DERIVED
# deterministically from c_custkey in hundredth-degree integers (the
# same integer expressions run on both engines, so no float-boundary
# ambiguity at cell edges):
#   lon100 = (c_custkey*9301 + 49297) mod 36000   → [-180.00, 180.00)
#   lat100 = (c_custkey*6619 +   293) mod 18000   → [ -90.00,  90.00)
# Grid level 4 of a quad tree over the world → 16×16 world cells of
# 22.50°×11.25° (2250×1125 hundredths). The query region
# [-90,90)×[-45,45) is cell-aligned and covers cells x,y ∈ [4, 12).
_HM = dict(cw=2250, ch=1125, x0=4, x1=12, y0=4, y1=12)


def heatmap_facet(spark, sf):
    h = _HM
    pts = (
        _t(spark, sf, "customer")
        .withColumn("lon100", (F.col("c_custkey") * 9301 + 49297) % 36000)
        .withColumn("lat100", (F.col("c_custkey") * 6619 + 293) % 18000)
        .withColumn("cell_x", F.floor(F.col("lon100") / h["cw"]))
        .withColumn("cell_y", F.floor(F.col("lat100") / h["ch"]))
        .filter(
            (F.col("cell_x") >= h["x0"]) & (F.col("cell_x") < h["x1"])
            & (F.col("cell_y") >= h["y0"]) & (F.col("cell_y") < h["y1"])
        )
        .groupBy("cell_x", "cell_y")
        .agg(F.count("*").alias("cnt"))
    )
    grid = (
        spark.range(h["x0"], h["x1"]).select(F.col("id").alias("cell_x"))
        .crossJoin(spark.range(h["y0"], h["y1"]).select(F.col("id").alias("cell_y")))
    )
    return (
        grid.join(pts, ["cell_x", "cell_y"], "left")
        .select(
            "cell_x",
            "cell_y",
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("facet_count"),
        )
        .orderBy("cell_x", "cell_y")
    )


HEATMAP_FACET_SQL = f"""
WITH pts AS (
  SELECT CAST(floor(((c_custkey*9301 + 49297) % 36000) / {_HM['cw']}) AS BIGINT) AS cell_x,
         CAST(floor(((c_custkey*6619 + 293) % 18000) / {_HM['ch']}) AS BIGINT) AS cell_y
  FROM customer
), cells AS (
  SELECT cell_x, cell_y, count(*) AS cnt FROM pts
  WHERE cell_x >= {_HM['x0']} AND cell_x < {_HM['x1']}
    AND cell_y >= {_HM['y0']} AND cell_y < {_HM['y1']}
  GROUP BY 1, 2
), grid AS (
  SELECT gx.range AS cell_x, gy.range AS cell_y
  FROM range({_HM['x0']}, {_HM['x1']}) gx, range({_HM['y0']}, {_HM['y1']}) gy
)
SELECT g.cell_x, g.cell_y,
       CAST(coalesce(c.cnt, 0) AS BIGINT) AS facet_count
FROM grid g LEFT JOIN cells c USING (cell_x, cell_y)
ORDER BY 1, 2
"""


def drill_sideways_facet(spark, sf):
    """DrillSideways (lucene/facet/src/java/org/apache/lucene/facet/
    DrillSideways.java:59 + DrillSidewaysScorer): for a drill-down query
    (base ∧ dim filters), each dimension's facet counts are computed
    with THAT dimension's own filter removed and every other filter
    kept — the counts a UI shows so users can still pivot the dimension
    they just drilled into. Base = p_size <= 25, drill-down =
    type=PROMO ∧ brand=Brand#13; sideways(type) counts p_type under
    brand-only, sideways(brand) counts p_brand under type-only.

    The reference's scorer does this in one doc walk by tracking which
    single dim missed; here it is two aggregations over one filtered
    scan — Catalyst reuses the base subtree (AQE exchange reuse), and
    each agg shuffles only (few-valued dim, count) partials."""
    base = _t(spark, sf, "part").filter(F.col("p_size") <= 25)
    t = (
        base.filter(F.col("p_brand") == "Brand#13")
        .groupBy("p_type")
        .agg(F.count(F.lit(1)).alias("facet_count"))
        .select(F.lit("type").alias("dim"), F.col("p_type").alias("value"), "facet_count")
    )
    b = (
        base.filter(F.col("p_type") == "PROMO")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("facet_count"))
        .select(F.lit("brand").alias("dim"), F.col("p_brand").alias("value"), "facet_count")
    )
    return t.unionByName(b).orderBy("dim", "value")


DRILL_SIDEWAYS_SQL = """
SELECT 'type' AS dim, p_type AS value, count(*) AS facet_count
FROM part WHERE p_size <= 25 AND p_brand = 'Brand#13' GROUP BY p_type
UNION ALL
SELECT 'brand', p_brand, count(*)
FROM part WHERE p_size <= 25 AND p_type = 'PROMO' GROUP BY p_brand
ORDER BY dim, value
"""


#: IntervalFacets intervals over o_totalprice — deliberately OVERLAPPING
#: (what distinguishes them from range_facet's disjoint buckets) and with
#: mixed open/closed bounds, like the reference's [a,b) / (a,b] syntax
INTERVAL_FACETS = [
    ("[0,50000]", 0.0, 50000.0, True, True),
    ("(25000,150000]", 25000.0, 150000.0, False, True),
    ("[100000,*)", 100000.0, None, True, False),
]


def interval_facet(spark, sf):
    """IntervalFacets (solr/core/src/java/org/apache/solr/request/
    IntervalFacets.java): counts for an arbitrary user-given interval
    list — unlike range facets the intervals may OVERLAP and mix
    open/closed bounds, so each doc can contribute to several rows.
    One scan, one conditional-sum aggregation (no per-interval pass:
    the reference walks doc values once accumulating all intervals,
    and the single-projection sum is the same one-pass shape)."""
    o = _t(spark, sf, "orders")
    aggs = []
    for name, lo, hi, lo_inc, hi_inc in INTERVAL_FACETS:
        c = F.col("o_totalprice") >= lo if lo_inc else F.col("o_totalprice") > lo
        if hi is not None:
            c = c & (F.col("o_totalprice") <= hi if hi_inc else F.col("o_totalprice") < hi)
        aggs.append(F.sum(c.cast("long")).alias(name))
    wide = o.agg(*aggs)
    stack = ", ".join(f"'{n}', `{n}`" for n, *_ in INTERVAL_FACETS)
    return (
        wide.select(
            F.expr(f"stack({len(INTERVAL_FACETS)}, {stack}) AS (interval, facet_count)")
        )
        .orderBy("interval")
    )


def assoc_sum_facet(spark, sf):
    """Association facets (lucene/facet/src/java/org/apache/lucene/
    facet/taxonomy/TaxonomyFacetSumIntAssociations.java): per-doc
    (category, int value) pairs summed per category over the docs
    matching a query, top-N children by summed value. Here the part
    table plays the corpus: docs matching p_size <= 25 carry the
    association (p_brand -> p_size); top-5 categories by sum. One
    filter + one map-side-combined aggregation + a bounded TakeOrdered
    — no shuffle beyond the ~25-key rollup at any corpus size. Ties
    order by label ASC (the deterministic table-engine analog of the
    reference's taxonomy-ordinal tie rule, whose exact newest-first
    walk + bottomValue boundary quirk is pinned vs the compiled classes
    in GT round 69)."""
    p = _t(spark, sf, "part")
    return (
        p.filter(F.col("p_size") <= 25)
        .groupBy(F.col("p_brand").alias("label"))
        .agg(F.sum("p_size").alias("assoc_sum"))
        .orderBy(F.col("assoc_sum").desc(), F.col("label").asc())
        .limit(5)
    )


ASSOC_SUM_FACET_SQL = """
SELECT p_brand AS label, CAST(sum(p_size) AS BIGINT) AS assoc_sum
FROM part WHERE p_size <= 25
GROUP BY 1 ORDER BY assoc_sum DESC, label ASC LIMIT 5
"""


# Date range facet (facet.range over a date field — solr/core/src/java/
# org/apache/solr/request/SimpleFacets.java getFacetRangeCounts +
# RangeEndpointCalculator.DateRangeEndpointCalculator): bucket
# boundaries are computed by CHAINED DateMathParser gap addition — each
# high = parseMath(low, gap) — so a month gap from a month-end start
# CLAMPS and drifts (1992-01-31 +1MONTH = Feb 29, +1MONTH = Mar 29, ...,
# 1993-01-29 +1MONTH = Feb 28): boundaries are NOT start + i*gap. The
# default options are reproduced: include=lower ([low, high) buckets),
# hardend=false (the last bucket overshoots `end`), and the
# before/after/between "other" counts against start / the actual last
# high. Bucket keys are the solr response keys (the bucket-start ISO
# instant). Boundaries are metadata (a ~24-entry driver loop through
# ops/datemath.py, pinned vs the compiled DateMathParser in GT round
# 67); the counts are ONE scan + one map-side-combined aggregation via
# a literal CASE chain — no join, no extra shuffle, scale-independent.
_DR_START = "1992-01-31T00:00:00Z"
_DR_END = "1994-01-01T00:00:00Z"
_DR_GAP = "+1MONTH"


def _date_range_bounds() -> list[str]:
    """Chained gap walk: [start, b1, b2, ..., last_high] as YYYY-MM-DD
    (all boundaries stay at midnight UTC for a midnight start)."""
    import datetime as _dtmod

    from .datemath import date_math, parse_no_math

    lo = parse_no_math(_DR_START)
    end = parse_no_math(_DR_END)
    bounds = [lo]
    while lo < end:
        hi = date_math(lo, _DR_GAP, tz="UTC")
        if hi <= lo:
            raise ValueError("gap must move the boundary forward")
        bounds.append(hi)
        lo = hi
    return [
        (_dtmod.datetime(1970, 1, 1, tzinfo=_dtmod.timezone.utc)
         + _dtmod.timedelta(milliseconds=b)).strftime("%Y-%m-%d")
        for b in bounds
    ]


def date_range_facet(spark, sf):
    bounds = _date_range_bounds()
    # single codegen CASE chain (one expression string — not 26 nested
    # py4j Column builds), ONE scan + map-side-combined aggregation;
    # the <= 28-row bucket table is then assembled into the facet
    # response driver-side (zero-count buckets for mincount=0, the
    # before/after/between "other" rows) exactly as Solr's response
    # writer materializes range counts — response assembly over the
    # bucket rollup, never over docs, at any corpus size
    cases = ["CASE WHEN o_orderdate < DATE '%s' THEN 'before'" % bounds[0]]
    for lo, hi in zip(bounds, bounds[1:]):
        cases.append(
            f"WHEN o_orderdate < DATE '{hi}' THEN '{lo}T00:00:00Z'"
        )
    bucket_expr = " ".join(cases) + " ELSE 'after' END"
    counted = dict(
        _t(spark, sf, "orders")
        .groupBy(F.expr(bucket_expr).alias("bucket"))
        .agg(F.count("*").alias("facet_count"))
        .collect()
    )
    rows = [(lo + "T00:00:00Z", int(counted.get(lo + "T00:00:00Z", 0)))
            for lo in bounds[:-1]]
    rows.append(("before", int(counted.get("before", 0))))
    rows.append(("after", int(counted.get("after", 0))))
    rows.append(("between", sum(c for b, c in rows[:-2])))
    rows.sort()
    return spark.createDataFrame(rows, "bucket string, facet_count long")


def _date_range_sql() -> str:
    """DuckDB recomputes the chained boundaries itself (timestamp +
    INTERVAL 1 MONTH clamps exactly like java.time) via a recursive CTE
    — an independent arithmetic path agreeing with ops/datemath.py."""
    return f"""
WITH RECURSIVE bounds(lo, hi) AS (
  SELECT TIMESTAMP '{_DR_START[:10]} 00:00:00',
         TIMESTAMP '{_DR_START[:10]} 00:00:00' + INTERVAL 1 MONTH
  UNION ALL
  SELECT hi, hi + INTERVAL 1 MONTH FROM bounds
  WHERE hi < TIMESTAMP '{_DR_END[:10]} 00:00:00'
), buckets AS (
  SELECT strftime(b.lo, '%Y-%m-%d') || 'T00:00:00Z' AS bucket,
         CAST(count(o.o_orderdate) AS BIGINT) AS facet_count
  FROM bounds b LEFT JOIN orders o
    ON o.o_orderdate >= CAST(b.lo AS DATE) AND o.o_orderdate < CAST(b.hi AS DATE)
  GROUP BY 1
), other AS (
  SELECT 'before' AS bucket, CAST(count(*) AS BIGINT) AS facet_count
  FROM orders WHERE o_orderdate < DATE '{_DR_START[:10]}'
  UNION ALL
  SELECT 'after', CAST(count(*) AS BIGINT) FROM orders
  WHERE o_orderdate >= (SELECT CAST(max(hi) AS DATE) FROM bounds)
  UNION ALL
  SELECT 'between', CAST(count(*) AS BIGINT) FROM orders
  WHERE o_orderdate >= DATE '{_DR_START[:10]}'
    AND o_orderdate < (SELECT CAST(max(hi) AS DATE) FROM bounds)
)
SELECT bucket, facet_count FROM (
  SELECT * FROM buckets UNION ALL SELECT * FROM other
) ORDER BY bucket
"""


def _interval_sql_pred(lo, hi, lo_inc, hi_inc) -> str:
    p = f"o_totalprice >{'=' if lo_inc else ''} {lo}"
    if hi is not None:
        p += f" AND o_totalprice <{'=' if hi_inc else ''} {hi}"
    return p


INTERVAL_FACET_SQL = "SELECT interval, facet_count FROM (\n" + "\nUNION ALL\n".join(
    f"SELECT '{name}' AS interval, "
    f"CAST(sum(CASE WHEN {_interval_sql_pred(lo, hi, lo_inc, hi_inc)} THEN 1 ELSE 0 END) AS BIGINT)"
    f" AS facet_count FROM orders"
    for name, lo, hi, lo_inc, hi_inc in INTERVAL_FACETS
) + "\n) ORDER BY interval"


def taxonomy_facet(spark, sf):
    """Taxonomy facets (lucene/facet/src/java/org/apache/lucene/facet/
    taxonomy/FastTaxonomyFacetCounts.java + TaxonomyReader ordinal tree):
    hierarchical dimension counts for the docs matching a query — the
    count at every internal node is the number of matching docs under
    that path (rollup, not just leaf counts), which is what
    getTopChildren(dim) / drill-down returns at each level.

    The dim here is the 2-level path type/brand over `part`, filtered by
    a query (p_size < 15). One aggregation with grouping sets replaces
    the taxonomy ordinal arrays: Catalyst's partial aggregation gives the
    same one-pass rollup the reference gets from its int[] ordinal
    counters, and at 100 TB it is a single shuffle keyed by the (few)
    path prefixes."""
    lvl = (
        _t(spark, sf, "part")
        .filter(F.col("p_size") < 15)
        .rollup("p_type", "p_brand")
        .agg(F.count(F.lit(1)).alias("facet_count"))
        # rollup emits (type, brand), (type, NULL), (NULL, NULL); the
        # taxonomy has no root row in getTopChildren output
        .filter(F.col("p_type").isNotNull())
    )
    return lvl.select(
        "p_type",
        F.coalesce(F.col("p_brand"), F.lit("")).alias("p_brand"),
        "facet_count",
    ).orderBy("p_type", "p_brand")


TAXONOMY_FACET_SQL = """
SELECT * FROM (
  SELECT p_type, coalesce(p_brand, '') AS p_brand, count(*) AS facet_count
  FROM part WHERE p_size < 15
  GROUP BY ROLLUP (p_type, p_brand)
) WHERE p_type IS NOT NULL
ORDER BY p_type, p_brand
"""


def facets_combined(spark, sf):
    """field/range/pivot/heatmap/taxonomy facets as one tagged union —
    each variant is the unchanged facet plan; the union exists so all
    five stay inside the driver's 50-row CORRECTNESS gate (keys cast to
    string for a common schema)."""
    f1 = field_facet(spark, sf).select(
        F.lit("field").alias("variant"),
        F.col("o_orderpriority").alias("k1"),
        F.lit("").alias("k2"),
        "facet_count",
    )
    f2 = range_facet(spark, sf).select(
        F.lit("range").alias("variant"),
        F.col("qty_bucket").cast("string").alias("k1"),
        F.lit("").alias("k2"),
        "facet_count",
    )
    f3 = pivot_facet(spark, sf).select(
        F.lit("pivot").alias("variant"),
        F.col("l_returnflag").alias("k1"),
        F.col("l_linestatus").alias("k2"),
        "facet_count",
    )
    f4 = heatmap_facet(spark, sf).select(
        F.lit("heatmap").alias("variant"),
        F.format_string("%02d", F.col("cell_x")).alias("k1"),
        F.format_string("%02d", F.col("cell_y")).alias("k2"),
        "facet_count",
    )
    f5 = taxonomy_facet(spark, sf).select(
        F.lit("taxonomy").alias("variant"),
        F.col("p_type").alias("k1"),
        F.col("p_brand").alias("k2"),
        "facet_count",
    )
    f6 = drill_sideways_facet(spark, sf).select(
        F.lit("drill_sideways").alias("variant"),
        F.col("dim").alias("k1"),
        F.col("value").alias("k2"),
        "facet_count",
    )
    f7 = interval_facet(spark, sf).select(
        F.lit("interval").alias("variant"),
        F.col("interval").alias("k1"),
        F.lit("").alias("k2"),
        "facet_count",
    )
    f8 = prefix_missing_facet(spark, sf).select(
        F.lit("prefix_missing").alias("variant"),
        F.col("bucket").alias("k1"),
        F.lit("").alias("k2"),
        "facet_count",
    )
    f9 = date_range_facet(spark, sf).select(
        F.lit("date_range").alias("variant"),
        F.col("bucket").alias("k1"),
        F.lit("").alias("k2"),
        "facet_count",
    )
    f10 = assoc_sum_facet(spark, sf).select(
        F.lit("assoc_sum").alias("variant"),
        F.col("label").alias("k1"),
        F.lit("").alias("k2"),
        F.col("assoc_sum").alias("facet_count"),
    )
    return (
        f1.unionByName(f2).unionByName(f3).unionByName(f4).unionByName(f5)
        .unionByName(f6).unionByName(f7).unionByName(f8).unionByName(f9)
        .unionByName(f10)
        .orderBy("variant", "k1", "k2")
    )


FACETS_COMBINED_SQL = f"""
SELECT * FROM (
  SELECT 'field' AS variant, o_orderpriority AS k1, '' AS k2, facet_count FROM ({FIELD_FACET_SQL})
  UNION ALL
  SELECT 'range' AS variant, CAST(qty_bucket AS VARCHAR) AS k1, '' AS k2, facet_count FROM ({RANGE_FACET_SQL})
  UNION ALL
  SELECT 'pivot' AS variant, l_returnflag AS k1, l_linestatus AS k2, facet_count FROM ({PIVOT_FACET_SQL})
  UNION ALL
  SELECT 'heatmap' AS variant, printf('%02d', cell_x) AS k1, printf('%02d', cell_y) AS k2, facet_count
  FROM ({HEATMAP_FACET_SQL})
  UNION ALL
  SELECT 'taxonomy' AS variant, p_type AS k1, p_brand AS k2, facet_count FROM ({TAXONOMY_FACET_SQL})
  UNION ALL
  SELECT 'drill_sideways' AS variant, dim AS k1, value AS k2, facet_count FROM ({DRILL_SIDEWAYS_SQL})
  UNION ALL
  SELECT 'interval' AS variant, interval AS k1, '' AS k2, facet_count FROM ({INTERVAL_FACET_SQL})
  UNION ALL
  SELECT 'prefix_missing' AS variant, bucket AS k1, '' AS k2, facet_count
  FROM ({PREFIX_MISSING_FACET_SQL})
  UNION ALL
  SELECT 'date_range' AS variant, bucket AS k1, '' AS k2, facet_count
  FROM ({{DATE_RANGE_SQL}})
  UNION ALL
  SELECT 'assoc_sum' AS variant, label AS k1, '' AS k2, assoc_sum AS facet_count
  FROM ({ASSOC_SUM_FACET_SQL})
) ORDER BY variant, k1, k2
"""
FACETS_COMBINED_SQL = FACETS_COMBINED_SQL.replace(
    "{DATE_RANGE_SQL}", _date_range_sql()
)


def stats_component(spark, sf):
    return (
        _t(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
            F.round(F.avg("l_extendedprice"), 2).alias("mean_price"),
        )
        .orderBy("l_returnflag")
    )


STATS_COMPONENT_SQL = """
SELECT l_returnflag, count(*) AS cnt,
       round(sum(l_extendedprice), 2) AS sum_price,
       round(min(l_extendedprice), 2) AS min_price,
       round(max(l_extendedprice), 2) AS max_price,
       round(avg(l_extendedprice), 2) AS mean_price
FROM lineitem GROUP BY 1 ORDER BY 1
"""


# ------------------------------------------------- streaming expressions

def rollup_stream(spark, sf):
    return (
        _t(spark, sf, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.avg("l_discount"), 6).alias("mean_disc"),
            F.count("*").alias("cnt"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ROLLUP_STREAM_SQL = """
SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
       round(avg(l_discount), 6) AS mean_disc, count(*) AS cnt
FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2
"""


def unique_stream(spark, sf):
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    return (
        _t(spark, sf, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey")
        .orderBy("o_custkey")
    )


UNIQUE_STREAM_SQL = """
SELECT o_custkey, o_orderkey FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn = 1 ORDER BY o_custkey
"""


def top_stream(spark, sf):
    return (
        _t(spark, sf, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
        .limit(20)
    )


TOP_STREAM_SQL = """
SELECT o_orderkey, round(o_totalprice, 2) AS price
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20
"""


def merge_stream(spark, sf):
    o = _t(spark, sf, "orders")
    hi = o.filter(F.col("o_totalprice") > 190000).select("o_orderkey")
    lo = o.filter(F.col("o_totalprice") < 1000).select("o_orderkey")
    return hi.unionByName(lo).orderBy("o_orderkey")


MERGE_STREAM_SQL = """
SELECT o_orderkey FROM orders WHERE o_totalprice > 190000
UNION ALL
SELECT o_orderkey FROM orders WHERE o_totalprice < 1000
ORDER BY o_orderkey
"""


def inner_join_stream(spark, sf):
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .filter(F.col("o_totalprice") > 150000)
        .select("o_orderkey", "c_custkey", "c_mktsegment")
        .orderBy("o_orderkey")
    )


INNER_JOIN_STREAM_SQL = """
SELECT o_orderkey, c_custkey, c_mktsegment
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_totalprice > 150000 ORDER BY o_orderkey
"""


def hash_join_stream(spark, sf):
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)  # HashJoinStream: build small side
        .groupBy("p_brand")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy("p_brand")
    )


HASH_JOIN_STREAM_SQL = """
SELECT p_brand, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand ORDER BY p_brand
"""


def left_outer_join_stream(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(F.col("o_totalprice") > 180000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("big_orders"))
        .orderBy("c_custkey")
    )


LEFT_OUTER_JOIN_STREAM_SQL = """
SELECT c_custkey, count(o_orderkey) AS big_orders
FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 180000) o
  ON c_custkey = o_custkey
GROUP BY c_custkey ORDER BY c_custkey
"""


def intersect_stream(spark, sf):
    o = _t(spark, sf, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    b = o.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    return a.join(b, "o_custkey", "left_semi").orderBy("o_custkey")


INTERSECT_STREAM_SQL = """
SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
ORDER BY o_custkey
"""


def complement_stream(spark, sf):
    # customers that never placed a high-value order (EXCEPT / left_anti)
    c = _t(spark, sf, "customer").select(F.col("c_custkey").alias("o_custkey"))
    o = (
        _t(spark, sf, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select("o_custkey")
        .distinct()
    )
    return c.join(o, "o_custkey", "left_anti").orderBy("o_custkey")


COMPLEMENT_STREAM_SQL = """
SELECT c_custkey AS o_custkey FROM customer
EXCEPT
SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 300000
ORDER BY o_custkey
"""


def outer_hash_join_stream(spark, sf):
    """OuterHashJoinStream (solr/solrj/.../io/stream/OuterHashJoinStream.java:
    left-outer with the RIGHT side built into a hash table) == broadcast
    left join. Nation (25 rows) is the build side; customers whose nation
    is outside region 2 keep NULL and surface as '(none)'."""
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation").filter(F.col("n_regionkey") == 2).select("n_nationkey", "n_name")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .groupBy(F.coalesce("n_name", F.lit("(none)")).alias("nation"))
        .agg(F.count("*").alias("cust_count"))
        .orderBy("nation")
    )


OUTER_HASH_JOIN_STREAM_SQL = """
SELECT coalesce(n_name, '(none)') AS nation, count(*) AS cust_count
FROM customer LEFT JOIN (SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 2) n
  ON c_nationkey = n_nationkey
GROUP BY 1 ORDER BY 1
"""


def join_streams(spark, sf):
    """inner/hash/leftOuter/outerHash/intersect/complement join streams as
    one tagged union — each variant is the unchanged join plan (the
    individual fns stay public API); the union keeps all six inside the
    driver's 50-row CORRECTNESS gate. Common schema: every key is cast
    to string (lexicographic order is identical in Spark and DuckDB for
    ASCII digits) and the one numeric measure rides in `num`."""
    s = lambda c: F.col(c).cast("string")  # noqa: E731
    v1 = inner_join_stream(spark, sf).select(
        F.lit("inner").alias("variant"), s("o_orderkey").alias("k1"),
        F.col("c_mktsegment").alias("k2"), F.col("c_custkey").cast("double").alias("num"),
    )
    v2 = hash_join_stream(spark, sf).select(
        F.lit("hash").alias("variant"), F.col("p_brand").alias("k1"),
        F.lit("").alias("k2"), F.col("sum_qty").cast("double").alias("num"),
    )
    v3 = left_outer_join_stream(spark, sf).select(
        F.lit("left_outer").alias("variant"), s("c_custkey").alias("k1"),
        F.lit("").alias("k2"), F.col("big_orders").cast("double").alias("num"),
    )
    v4 = outer_hash_join_stream(spark, sf).select(
        F.lit("outer_hash").alias("variant"), F.col("nation").alias("k1"),
        F.lit("").alias("k2"), F.col("cust_count").cast("double").alias("num"),
    )
    v5 = intersect_stream(spark, sf).select(
        F.lit("intersect").alias("variant"), s("o_custkey").alias("k1"),
        F.lit("").alias("k2"), F.lit(0.0).alias("num"),
    )
    v6 = complement_stream(spark, sf).select(
        F.lit("complement").alias("variant"), s("o_custkey").alias("k1"),
        F.lit("").alias("k2"), F.lit(0.0).alias("num"),
    )
    out = v1
    for v in (v2, v3, v4, v5, v6):
        out = out.unionByName(v)
    return out.orderBy("variant", "k1", "k2")


JOIN_STREAMS_SQL = f"""
SELECT * FROM (
  SELECT 'inner' AS variant, CAST(o_orderkey AS VARCHAR) AS k1, c_mktsegment AS k2,
         CAST(c_custkey AS DOUBLE) AS num FROM ({INNER_JOIN_STREAM_SQL})
  UNION ALL
  SELECT 'hash', p_brand, '', CAST(sum_qty AS DOUBLE) FROM ({HASH_JOIN_STREAM_SQL})
  UNION ALL
  SELECT 'left_outer', CAST(c_custkey AS VARCHAR), '', CAST(big_orders AS DOUBLE)
  FROM ({LEFT_OUTER_JOIN_STREAM_SQL})
  UNION ALL
  SELECT 'outer_hash', nation, '', CAST(cust_count AS DOUBLE) FROM ({OUTER_HASH_JOIN_STREAM_SQL})
  UNION ALL
  SELECT 'intersect', CAST(o_custkey AS VARCHAR), '', 0.0 FROM ({INTERSECT_STREAM_SQL})
  UNION ALL
  SELECT 'complement', CAST(o_custkey AS VARCHAR), '', 0.0 FROM ({COMPLEMENT_STREAM_SQL})
) ORDER BY variant, k1, k2
"""


def random_stream(spark, sf):
    """RandomStream (solr/solrj/.../io/stream/RandomStream.java: pseudo-
    random sample of a query's results via Solr's seeded random sort
    field) == ORDER BY a keyed cryptographic hash, LIMIT n. The seed is
    part of the hashed string so the sample is deterministic, and at
    scale this is a TakeOrdered over a projection — no shuffle of the
    full table, no driver-side RNG state."""
    h = F.sha2(F.concat(F.lit("random-stream-seed-42#"), F.col("o_orderkey").cast("string")), 256)
    return (
        _t(spark, sf, "orders")
        .select("o_orderkey", h.alias("hkey"))
        .orderBy("hkey")
        .limit(15)
        .select("o_orderkey")
    )


RANDOM_STREAM_SQL = """
SELECT o_orderkey FROM (
  SELECT o_orderkey, sha256('random-stream-seed-42#' || CAST(o_orderkey AS VARCHAR)) AS hkey
  FROM orders ORDER BY hkey LIMIT 15
)
"""


def timeseries_stream(spark, sf):
    """TimeSeriesStream (solr/solrj/src/java/org/apache/solr/client/solrj/
    io/stream/TimeSeriesStream.java: bucketed date-range aggregation with a
    fixed gap). Buckets are 7-day windows computed as integer arithmetic on
    epoch microseconds (Solr's `gap=+7DAYS` semantics; integer epoch math
    is timezone-proof so Spark and the DuckDB oracle agree bit-for-bit).
    One partial-aggregating groupBy — the facet-range shape, map-side
    combined, no sort until the bounded bucket list."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    wk = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / (7 * 86_400_000_000))
    return (
        ev.groupBy(wk.alias("bucket"))
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("bucket")
    )


TIMESERIES_STREAM_SQL = """
SELECT CAST(floor(epoch_us(ts) / 604800000000) AS BIGINT) AS bucket,
       count(*) AS cnt, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1 ORDER BY 1
"""


def fetch_stream(spark, sf):
    """FetchStream (solr/solrj/.../io/stream/FetchStream.java: enrich the
    tuples of an underlying stream with extra fields batch-fetched by key).
    The underlying stream is the top-12 orders by price; the fetch is a
    broadcast hash join against customer on the fetch key — Solr's
    batchSize-ed lookup becomes one map-side join, no shuffle of either
    the stream or (at scale) the corpus side of the lookup."""
    o = (
        _t(spark, sf, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(12)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price"))
    )
    c = _t(spark, sf, "customer").select("c_custkey", "c_name", "c_mktsegment")
    return (
        F.broadcast(o)
        .join(c, o.o_custkey == c.c_custkey)
        .select("o_orderkey", "c_name", "c_mktsegment", "price")
        .orderBy("o_orderkey")
    )


FETCH_STREAM_SQL = """
SELECT o_orderkey, c_name, c_mktsegment, price FROM (
  SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
  FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 12
) o JOIN customer ON o_custkey = c_custkey
ORDER BY o_orderkey
"""


def cartesian_product_stream(spark, sf):
    """CartesianProductStream (solr/solrj/.../io/stream/
    CartesianProductStream.java: emit one tuple per element of a
    multi-valued field, cross-producted with the parent tuple). The
    multi-valued field is o_orderpriority split on '-'; posexplode keeps
    Solr's element order deterministic. Pure per-row expansion — no
    shuffle, parallel at any width."""
    o = (
        _t(spark, sf, "orders")
        .orderBy(F.col("o_orderkey").asc())
        .limit(5)
        .select("o_orderkey", F.split("o_orderpriority", "-").alias("vals"))
    )
    return (
        o.select("o_orderkey", F.posexplode("vals").alias("pos", "val"))
        .select(
            "o_orderkey",
            F.concat(F.col("pos").cast("string"), F.lit(":"), F.col("val")).alias("elem"),
        )
        .orderBy("o_orderkey", "elem")
    )


CARTESIAN_STREAM_SQL = """
SELECT o_orderkey, CAST(g.i - 1 AS VARCHAR) || ':' || v[g.i] AS elem
FROM (
  SELECT o_orderkey, string_split(o_orderpriority, '-') AS v
  FROM orders ORDER BY o_orderkey ASC LIMIT 5
), unnest(generate_series(1, len(v))) AS g(i)
ORDER BY o_orderkey, elem
"""


def having_stream(spark, sf):
    """HavingStream (solr/solrj/.../io/stream/HavingStream.java: boolean
    predicate over the tuples of an aggregating inner stream). Inner =
    rollup of order counts per customer; predicate = cnt >= 9. Catalyst
    folds the filter into the aggregate's output — same plan a SQL HAVING
    produces."""
    return (
        _t(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 9)
        .orderBy("o_custkey")
    )


HAVING_STREAM_SQL = """
SELECT o_custkey, count(*) AS cnt FROM orders
GROUP BY o_custkey HAVING count(*) >= 9 ORDER BY o_custkey
"""


def decorator_streams(spark, sf):
    """merge/rank(top)/unique/rollup/random/timeseries/fetch/cartesian/
    having decorator streams as one tagged union (same 50-row-gate
    consolidation as `join_streams`).
    Rollup's three measures are melted to one row per (group, measure)
    so every aggregated value stays under the hash check."""
    s = lambda c: F.col(c).cast("string")  # noqa: E731
    v1 = merge_stream(spark, sf).select(
        F.lit("merge").alias("variant"), s("o_orderkey").alias("k1"),
        F.lit("").alias("k2"), F.lit(0.0).alias("num"),
    )
    v2 = top_stream(spark, sf).select(
        F.lit("top").alias("variant"), s("o_orderkey").alias("k1"),
        F.lit("").alias("k2"), F.col("price").cast("double").alias("num"),
    )
    v3 = unique_stream(spark, sf).select(
        F.lit("unique").alias("variant"), s("o_custkey").alias("k1"),
        s("o_orderkey").alias("k2"), F.lit(0.0).alias("num"),
    )
    r = rollup_stream(spark, sf)
    v4 = r.select(
        F.lit("rollup").alias("variant"),
        F.concat("l_returnflag", F.lit("/"), "l_linestatus").alias("k1"),
        F.explode(
            F.map_from_arrays(
                F.array(F.lit("sum_qty"), F.lit("mean_disc"), F.lit("cnt")),
                F.array(F.col("sum_qty").cast("double"), F.col("mean_disc").cast("double"),
                        F.col("cnt").cast("double")),
            )
        ).alias("k2", "num"),
    )
    v5 = random_stream(spark, sf).select(
        F.lit("random").alias("variant"), s("o_orderkey").alias("k1"),
        F.lit("").alias("k2"), F.lit(0.0).alias("num"),
    )
    t = timeseries_stream(spark, sf)
    v6 = t.select(
        F.lit("timeseries").alias("variant"), s("bucket").alias("k1"),
        F.explode(
            F.map_from_arrays(
                F.array(F.lit("cnt"), F.lit("sum_value")),
                F.array(F.col("cnt").cast("double"), F.col("sum_value").cast("double")),
            )
        ).alias("k2", "num"),
    )
    v7 = fetch_stream(spark, sf).select(
        F.lit("fetch").alias("variant"), s("o_orderkey").alias("k1"),
        F.concat("c_name", F.lit("/"), "c_mktsegment").alias("k2"),
        F.col("price").cast("double").alias("num"),
    )
    v8 = cartesian_product_stream(spark, sf).select(
        F.lit("cartesian").alias("variant"), s("o_orderkey").alias("k1"),
        F.col("elem").alias("k2"), F.lit(0.0).alias("num"),
    )
    v9 = having_stream(spark, sf).select(
        F.lit("having").alias("variant"), s("o_custkey").alias("k1"),
        F.lit("").alias("k2"), F.col("cnt").cast("double").alias("num"),
    )
    out = v1
    for v in (v2, v3, v4, v5, v6, v7, v8, v9):
        out = out.unionByName(v)
    return out.orderBy("variant", "k1", "k2")


DECORATOR_STREAMS_SQL = f"""
SELECT * FROM (
  SELECT 'merge' AS variant, CAST(o_orderkey AS VARCHAR) AS k1, '' AS k2, 0.0 AS num
  FROM ({MERGE_STREAM_SQL})
  UNION ALL
  SELECT 'top', CAST(o_orderkey AS VARCHAR), '', CAST(price AS DOUBLE) FROM ({TOP_STREAM_SQL})
  UNION ALL
  SELECT 'unique', CAST(o_custkey AS VARCHAR), CAST(o_orderkey AS VARCHAR), 0.0
  FROM ({UNIQUE_STREAM_SQL})
  UNION ALL
  SELECT 'rollup', l_returnflag || '/' || l_linestatus, m.k2, m.num
  FROM ({ROLLUP_STREAM_SQL}) r,
       LATERAL (VALUES ('sum_qty', CAST(r.sum_qty AS DOUBLE)),
                       ('mean_disc', CAST(r.mean_disc AS DOUBLE)),
                       ('cnt', CAST(r.cnt AS DOUBLE))) m(k2, num)
  UNION ALL
  SELECT 'random', CAST(o_orderkey AS VARCHAR), '', 0.0 FROM ({RANDOM_STREAM_SQL})
  UNION ALL
  SELECT 'timeseries', CAST(bucket AS VARCHAR), m.k2, m.num
  FROM ({TIMESERIES_STREAM_SQL}) t,
       LATERAL (VALUES ('cnt', CAST(t.cnt AS DOUBLE)),
                       ('sum_value', CAST(t.sum_value AS DOUBLE))) m(k2, num)
  UNION ALL
  SELECT 'fetch', CAST(o_orderkey AS VARCHAR), c_name || '/' || c_mktsegment,
         CAST(price AS DOUBLE) FROM ({FETCH_STREAM_SQL})
  UNION ALL
  SELECT 'cartesian', CAST(o_orderkey AS VARCHAR), elem, 0.0 FROM ({CARTESIAN_STREAM_SQL})
  UNION ALL
  SELECT 'having', CAST(o_custkey AS VARCHAR), '', CAST(cnt AS DOUBLE) FROM ({HAVING_STREAM_SQL})
) ORDER BY variant, k1, k2
"""


def diversified_topk(spark, sf):
    """DiversifiedTopDocsCollector (lucene/misc/src/java/org/apache/lucene/
    search/DiversifiedTopDocsCollector.java:61 — global top-k with no more
    than maxHitsPerKey results per source key). The greedy collector
    accepts a doc iff fewer than maxHitsPerKey better-ranked docs share
    its key, so the result is exactly: per-key rank <= maxHitsPerKey,
    then global top-k — two bounded window/TakeOrdered passes, both
    partial-aggregating map-side; no per-key state on the driver."""
    per_key = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        _t(spark, sf, "orders")
        .withColumn("key_rank", F.row_number().over(per_key))
        .filter(F.col("key_rank") <= 2)  # maxHitsPerKey
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(15)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("price"),
            F.col("key_rank").cast("int").alias("key_rank"),
        )
        .orderBy(F.col("price").desc(), F.col("o_orderkey").asc())
    )


DIVERSIFIED_TOPK_SQL = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price,
       CAST(key_rank AS INTEGER) AS key_rank
FROM (
  SELECT o_orderkey, o_custkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS key_rank
  FROM orders
) WHERE key_rank <= 2
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 15
"""


# ------------------------------------------------------ grouping/collapse

def expand_component(spark, sf):
    """ExpandComponent (solr/core/.../component/ExpandComponent.java):
    after collapsing on a field (one head doc per group), return the
    collapsed group MEMBERS alongside — here up to 3 runners-up per
    customer, ranked like the collapse sort. One window + a self-join of
    heads to members; both sides shuffle on the same group key so the
    join co-locates."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    ranked = o.withColumn("rn", F.row_number().over(w))
    heads = ranked.filter(F.col("rn") == 1).select(
        "o_custkey", F.col("o_orderkey").alias("head_orderkey")
    )
    members = ranked.filter((F.col("rn") >= 2) & (F.col("rn") <= 4)).select(
        "o_custkey",
        F.col("o_orderkey").alias("exp_orderkey"),
        (F.col("rn") - 1).cast("int").alias("exp_rank"),
    )
    return (
        heads.join(members, "o_custkey")
        .select("o_custkey", "head_orderkey", "exp_rank", "exp_orderkey")
        .orderBy("o_custkey", "exp_rank")
    )


EXPAND_COMPONENT_SQL = """
WITH r AS (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
)
SELECT h.o_custkey, h.o_orderkey AS head_orderkey,
       CAST(m.rn - 1 AS INTEGER) AS exp_rank, m.o_orderkey AS exp_orderkey
FROM r h JOIN r m ON m.o_custkey = h.o_custkey AND m.rn BETWEEN 2 AND 4
WHERE h.rn = 1
ORDER BY h.o_custkey, exp_rank
"""


def reduce_stream(spark, sf):
    """ReducerStream (solrj/io/stream/ReducerStream.java:246 with a
    GroupOperation): adjacent-group reduce over a stream sorted by the
    group key — per customer: first/last order (by date, then key),
    count, and sum. The sort-adjacent-reduce collapses to ONE hash
    aggregate with map-side partial aggregation (min/max of a
    lexicographic struct replaces the ordered-group scan)."""
    o = _t(spark, sf, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.min(F.struct("o_orderdate", "o_orderkey")).alias("f"),
            F.max(F.struct("o_orderdate", "o_orderkey")).alias("l"),
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .select(
            "o_custkey",
            F.col("f.o_orderkey").alias("first_order"),
            F.col("l.o_orderkey").alias("last_order"),
            "n_orders",
            "sum_price",
        )
        .orderBy("o_custkey")
    )


REDUCE_STREAM_SQL = """
WITH r AS (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS ra,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rd
  FROM orders
),
agg AS (
  SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price
  FROM orders GROUP BY 1
)
SELECT a.o_custkey, fa.o_orderkey AS first_order, fd.o_orderkey AS last_order,
       a.n_orders, a.sum_price
FROM agg a
JOIN r fa ON fa.o_custkey = a.o_custkey AND fa.ra = 1
JOIN r fd ON fd.o_custkey = a.o_custkey AND fd.rd = 1
ORDER BY a.o_custkey
"""


def grouping_collapse(spark, sf):
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        _t(spark, sf, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("best_price"))
        .orderBy("o_custkey")
    )


GROUPING_COLLAPSE_SQL = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS best_price FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn = 1 ORDER BY o_custkey
"""


def group_topk(spark, sf):
    """lucene/grouping as one tagged union (GT round 74 pins the collector
    semantics bit-exact vs the compiled module; these are the table-scale
    analogs, every variant a bounded per-group plan):

    - topk: TermFirst/SecondPassGroupingCollector — top groups, top-k
      docs per group (Window rn<=k; the window partitions by the group
      key so each group's heap is partition-local, no global sort).
    - heads: TermAllGroupHeadsCollector — ONE head row per group under a
      sort; ties keep the earliest doc, expressed as the deterministic
      (o_orderdate ASC, o_orderkey ASC) tiebreak (rn=1).
    - all_groups: TermAllGroupsCollector — the set of distinct groups
      among matching rows (map-side-combinable distinct).
    - distinct_vals: TermDistinctValuesCollector — per group, the count
      of DISTINCT values of a second column over matching rows.
    - group_facet: TermGroupFacetCollector — facet counts deduped PER
      GROUP ((group, facet) pairs counted once), count DESC / value ASC,
      top 5, plus the reference's total row (grouping/term/
      TermGroupFacetCollector.java:91-121: segmentGroupedFacetHits dedup).

    At 100 TB every variant is one shuffle on the group key (the facet
    variant's dedup is a distinct on (group, facet) — two map-side
    combinable aggs), never a global window."""
    o = _t(spark, sf, "orders")
    match = o.filter(F.col("o_totalprice") > 100000.0)

    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    topk = (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            F.lit("topk").alias("variant"),
            F.col("o_orderpriority").alias("k1"),
            F.col("rnk").cast("string").alias("k2"),
            F.col("o_orderkey").cast("long").alias("val"),
        )
    )
    wh = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    heads = (
        match.withColumn("rn", F.row_number().over(wh))
        .filter(F.col("rn") == 1)
        .select(
            F.lit("heads").alias("variant"),
            F.col("o_orderstatus").alias("k1"),
            F.lit("").alias("k2"),
            F.col("o_orderkey").cast("long").alias("val"),
        )
    )
    all_groups = (
        match.select("o_orderpriority").distinct()
        .select(
            F.lit("all_groups").alias("variant"),
            F.col("o_orderpriority").alias("k1"),
            F.lit("").alias("k2"),
            F.lit(1).cast("long").alias("val"),
        )
    )
    distinct_vals = (
        match.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_orderstatus").alias("val"))
        .select(
            F.lit("distinct_vals").alias("variant"),
            F.col("o_orderpriority").alias("k1"),
            F.lit("").alias("k2"),
            F.col("val").cast("long").alias("val"),
        )
    )
    gf_pairs = (
        match.select(
            F.col("o_custkey").alias("grp"),
            F.col("o_orderpriority").alias("facet"),
        ).distinct()
    )
    gf_top = (
        gf_pairs.groupBy("facet")
        .agg(F.count("*").alias("val"))
        .orderBy(F.col("val").desc(), F.col("facet").asc())
        .limit(5)
        .select(
            F.lit("group_facet").alias("variant"),
            F.col("facet").alias("k1"),
            F.lit("").alias("k2"),
            F.col("val").cast("long").alias("val"),
        )
    )
    gf_total = (
        gf_pairs.agg(F.count("*").alias("val"))
        .select(
            F.lit("group_facet").alias("variant"),
            F.lit("_total_").alias("k1"),
            F.lit("").alias("k2"),
            F.col("val").cast("long").alias("val"),
        )
    )
    return (
        topk.unionByName(heads).unionByName(all_groups)
        .unionByName(distinct_vals).unionByName(gf_top).unionByName(gf_total)
        .orderBy("variant", "k1", "k2", "val")
    )


GROUP_TOPK_SQL = """
SELECT * FROM (
  SELECT 'topk' AS variant, o_orderpriority AS k1, CAST(rnk AS VARCHAR) AS k2,
         CAST(o_orderkey AS BIGINT) AS val FROM (
    SELECT o_orderpriority, o_orderkey,
           row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
    FROM orders
  ) WHERE rnk <= 3
  UNION ALL
  SELECT 'heads', o_orderstatus, '', CAST(o_orderkey AS BIGINT) FROM (
    SELECT o_orderstatus, o_orderkey,
           row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
    FROM orders WHERE o_totalprice > 100000.0
  ) WHERE rn = 1
  UNION ALL
  SELECT DISTINCT 'all_groups', o_orderpriority, '', CAST(1 AS BIGINT)
  FROM orders WHERE o_totalprice > 100000.0
  UNION ALL
  SELECT 'distinct_vals', o_orderpriority, '',
         CAST(count(DISTINCT o_orderstatus) AS BIGINT)
  FROM orders WHERE o_totalprice > 100000.0 GROUP BY o_orderpriority
  UNION ALL
  SELECT 'group_facet', facet, '', CAST(val AS BIGINT) FROM (
    SELECT facet, count(*) AS val FROM (
      SELECT DISTINCT o_custkey AS grp, o_orderpriority AS facet
      FROM orders WHERE o_totalprice > 100000.0
    ) GROUP BY facet ORDER BY val DESC, facet ASC LIMIT 5
  )
  UNION ALL
  SELECT 'group_facet', '_total_', '', CAST(count(*) AS BIGINT) FROM (
    SELECT DISTINCT o_custkey, o_orderpriority
    FROM orders WHERE o_totalprice > 100000.0
  )
) ORDER BY variant, k1, k2, val
"""


# ---------------------------------------------------- query-shape operators

def search_after(spark, sf):
    """searchAfter / CursorMark deep paging (IndexSearcher.java:421-431):
    page 3 of a (o_totalprice DESC, o_orderkey ASC) sort.

    True keyset plan: the cursor (last row of page 2) comes from a cheap
    TakeOrderedAndProject (ORDER BY LIMIT 20 — top-k per partition +
    driver merge, no global window); page 3 is then a FILTER on the
    (price, key) tuple + another top-10 — both stages are per-partition
    bounded heaps, nothing ever funnels every row through one task."""
    o = _t(spark, sf, "orders")
    page12 = (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
        .collect()
    )
    cur = page12[-1]  # the searchAfter FieldDoc the client holds
    cp, ck = float(cur["o_totalprice"]), int(cur["o_orderkey"])
    after = (F.col("o_totalprice") < cp) | (
        (F.col("o_totalprice") == cp) & (F.col("o_orderkey") > ck)
    )
    page3 = (
        o.filter(after)
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )
    # rank annotation over the 10-row page (bounded; not a global window)
    w = Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        page3.withColumn("rn", (F.row_number().over(w) + 20).cast("int"))
        .select("rn", "o_orderkey", F.round("o_totalprice", 2).alias("price"))
        .orderBy("rn")
    )


SEARCH_AFTER_SQL = """
SELECT rn, o_orderkey, round(o_totalprice, 2) AS price FROM (
  SELECT o_orderkey, o_totalprice,
         row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn > 20 AND rn <= 30 ORDER BY rn
"""


def term_range_query(spark, sf):
    return (
        _t(spark, sf, "orders")
        .filter(
            (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1995-04-01")
        )
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("hits"))
        .orderBy("o_orderstatus")
    )


TERM_RANGE_QUERY_SQL = """
SELECT o_orderstatus, count(*) AS hits
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-04-01'
GROUP BY 1 ORDER BY 1
"""


def prefix_query(spark, sf):
    return (
        _t(spark, sf, "part")
        .filter(F.col("p_name").like("s%"))
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    )


PREFIX_QUERY_SQL = """
SELECT p_partkey, p_name FROM part WHERE p_name LIKE 's%' ORDER BY p_partkey
"""


def wildcard_query(spark, sf):
    return (
        _t(spark, sf, "part")
        .filter(F.col("p_type").like("%O%O%"))
        .select("p_partkey", "p_type")
        .orderBy("p_partkey")
    )


WILDCARD_QUERY_SQL = """
SELECT p_partkey, p_type FROM part WHERE p_type LIKE '%O%O%' ORDER BY p_partkey
"""


def fuzzy_query(spark, sf):
    # FuzzyQuery: edit distance <= 2 from a target term over the term dict
    target = F.lit("grean")  # misspelled color inside p_name words
    p = _t(spark, sf, "part")
    words = p.select(
        "p_partkey", F.explode(F.split(F.col("p_name"), " ")).alias("w")
    )
    return (
        words.filter(F.levenshtein(F.col("w"), target) <= 2)
        .select("p_partkey", "w")
        .distinct()
        .orderBy("p_partkey", "w")
    )


FUZZY_QUERY_SQL = """
SELECT DISTINCT p_partkey, w
FROM (SELECT p_partkey, unnest(string_split(p_name, ' ')) AS w FROM part)
WHERE levenshtein(w, 'grean') <= 2
ORDER BY p_partkey, w
"""


def _slow_fuzzy_candidates(words, text: str, max_edits: int, prefix_len: int):
    """The LinearFuzzyTermsEnum raw-distance acceptance set as a
    DISTRIBUTED filter (no full-dictionary collect): prefix match +
    levenshtein(suffix, query suffix) <= maxEdits, both codegen
    built-ins over the distinct-words frame. For raw distances
    (minSim >= 1) with an unfilled PQ this is exactly the set the
    sorted-dictionary scan accepts (fuzzy_slow.py accept(): max_dist
    stays cur_max, the abs(m-n) gate is implied by d >= abs(m-n), and
    the m==0 corner rejects via d > maxEdits), so only the bounded
    SURVIVORS ever reach the driver."""
    prefix, suffix = text[:prefix_len], text[prefix_len:]
    return (
        words.select("w").distinct()
        .filter(
            (F.substring("w", 1, prefix_len) == prefix)
            & (F.levenshtein(
                F.expr(f"substring(w, {prefix_len + 1})"),
                F.lit(suffix)) <= max_edits)
        )
    )


def slow_fuzzy_query(spark, sf):
    """Sandbox SlowFuzzyQuery (distance-3 raw fuzzy, prefix 1 — beyond
    core FuzzyQuery's 2-edit cap; the full enumeration machinery is
    pinned vs the compiled binary in GT round 76, search/fuzzy_slow.py).
    Scale shape (r3 VERDICT #1): the acceptance set is computed
    DISTRIBUTED (`_slow_fuzzy_candidates` — prefix + levenshtein
    codegen filter over the distinct words; an open 100-TB term
    dictionary never reaches the driver), and only the bounded match
    set (< maxExpansions, asserted) is collected and replayed through
    the real pinned `slow_fuzzy_expand` for the PQ/boost semantics;
    matches broadcast back as an isin + a literal boost map. With the
    PQ never filling, the linear-enum boost formula
    1 - d/(prefix + min(suffix lens)) holds — which is what the DuckDB
    oracle replays in closed form (CAST AS REAL == the stepwise float32
    fold for these exact small-integer ratios)."""
    from ..search.fuzzy_slow import slow_fuzzy_expand

    p = _t(spark, sf, "part")
    words = p.select(
        "p_partkey", F.explode(F.split(F.col("p_name"), " ")).alias("w")
    )
    survivors = sorted(
        r["w"] for r in
        _slow_fuzzy_candidates(words, "grean", 3, 1).collect())
    # ADVICE r3: the closed-form oracle assumes the top-50 PQ never
    # fills (no bottom feedback, no linear->automaton switch); make a
    # corpus change that breaks the assumption fail loudly here rather
    # than surface as a parity mystery.
    if len(survivors) >= 50:
        raise RuntimeError(
            f"slow_fuzzy candidate set grew to {len(survivors)} >= "
            "maxExpansions=50: PQ bottom feedback would kick in and the "
            "closed-form DuckDB oracle no longer matches the enum")
    exp = slow_fuzzy_expand(survivors, "grean", 3.0, 1, 50)
    if len(exp) != len(survivors):
        raise RuntimeError((exp, survivors))
    if not exp:
        return words.select(
            "p_partkey", "w", F.lit(0.0).cast("float").alias("boost")
        ).limit(0)
    mapping = F.create_map(
        *[F.lit(x) for t, b in exp for x in (t, float(b))])
    return (
        words.filter(F.col("w").isin([t for t, _b in exp]))
        .select(
            "p_partkey", "w",
            mapping[F.col("w")].cast("float").alias("boost"),
        )
        .distinct()
        .orderBy("p_partkey", "w")
    )


SLOW_FUZZY_QUERY_SQL = """
SELECT DISTINCT p_partkey, w,
       CAST(1.0 - CAST(levenshtein(substr(w, 2), 'rean')
            / (1.0 + least(length(w) - 1, 4)) AS REAL) AS REAL) AS boost
FROM (SELECT p_partkey, unnest(string_split(p_name, ' ')) AS w FROM part)
WHERE substr(w, 1, 1) = 'g'
  AND levenshtein(substr(w, 2), 'rean') <= 3
ORDER BY p_partkey, w
"""


def multiterm_combined(spark, sf):
    """prefix/wildcard/fuzzy/slow-fuzzy term queries as one tagged union
    (same rationale as facets_combined; each variant's plan is
    unchanged)."""
    zero = F.lit(0.0).cast("float").alias("boost")
    q1 = prefix_query(spark, sf).select(
        F.lit("prefix").alias("variant"), "p_partkey",
        F.col("p_name").alias("v"), zero,
    )
    q2 = wildcard_query(spark, sf).select(
        F.lit("wildcard").alias("variant"), "p_partkey",
        F.col("p_type").alias("v"), zero,
    )
    q3 = fuzzy_query(spark, sf).select(
        F.lit("fuzzy").alias("variant"), "p_partkey",
        F.col("w").alias("v"), zero,
    )
    q4 = slow_fuzzy_query(spark, sf).select(
        F.lit("slow_fuzzy").alias("variant"), "p_partkey",
        F.col("w").alias("v"), F.col("boost"),
    )
    return (
        q1.unionByName(q2).unionByName(q3).unionByName(q4)
        .orderBy("variant", "p_partkey", "v")
    )


MULTITERM_COMBINED_SQL = f"""
SELECT * FROM (
  SELECT 'prefix' AS variant, p_partkey, p_name AS v,
         CAST(0.0 AS REAL) AS boost FROM ({PREFIX_QUERY_SQL})
  UNION ALL
  SELECT 'wildcard' AS variant, p_partkey, p_type AS v,
         CAST(0.0 AS REAL) AS boost FROM ({WILDCARD_QUERY_SQL})
  UNION ALL
  SELECT 'fuzzy' AS variant, p_partkey, w AS v,
         CAST(0.0 AS REAL) AS boost FROM ({FUZZY_QUERY_SQL})
  UNION ALL
  SELECT 'slow_fuzzy' AS variant, p_partkey, w AS v, boost
  FROM ({SLOW_FUZZY_QUERY_SQL})
) ORDER BY variant, p_partkey, v
"""


def boolean_filter(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_returnflag") == "R")
            & ((F.col("l_quantity") >= 45) | (F.col("l_discount") >= 0.09))
            & ~(F.col("l_linestatus") == "O")
        )
        .agg(F.count("*").alias("hits"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


BOOLEAN_FILTER_SQL = """
SELECT count(*) AS hits, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
WHERE l_returnflag = 'R' AND (l_quantity >= 45 OR l_discount >= 0.09)
  AND NOT (l_linestatus = 'O')
"""


def match_all_count(spark, sf):
    return _t(spark, sf, "lineitem").agg(F.count("*").alias("total_hits"))


MATCH_ALL_COUNT_SQL = "SELECT count(*) AS total_hits FROM lineitem"


def min_should_match(spark, sf):
    """n-of-m SHOULD clauses (MinShouldMatchSumScorer): docs matching
    >= 2 of 3 terms — doc sets come from the PRUNED posting lists, not a
    corpus re-tokenization (the terms are non-stopwords, so the raw-text
    oracle definition is unchanged)."""
    return (
        _posting_docs(spark, sf, ["spark", "vector", "dup"])
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("matched"))
        .filter(F.col("matched") >= 2)
        .select("doc_id", "matched")
        .orderBy("doc_id")
    )


MIN_SHOULD_MATCH_SQL = """
SELECT doc_id, matched FROM (
  SELECT doc_id, count(DISTINCT term) AS matched
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  WHERE term IN ('spark', 'vector', 'dup')
  GROUP BY doc_id
) WHERE matched >= 2 ORDER BY doc_id
"""


def export_sorted(spark, sf):
    """Sorted-collection family as one tagged union (shared schema
    variant/id/name/num):

    - export: ExportQParserPlugin full sorted dump (ORDER BY, no limit).
    - early_topn: EarlyTerminatingSortingCollector — top-n by the INDEX
      SORT over an order_cols-built documents index; only the first n
      rows of each sorted segment run reach the merge
      (IndexSearcher.early_terminating_topn), yet the rows are identical
      to a plain ORDER BY ... LIMIT n.
    - time_sliced: TimeLimitingCollector slice loop at an unexhausted
      budget — the union of per-slice pruned scoring jobs must equal the
      one-shot top-k (slice scores use global stats).
    """
    from .index_access import ordered_searcher_for, searcher_for

    export = (
        _t(spark, sf, "supplier")
        .select(
            F.lit("export").alias("variant"),
            F.col("s_suppkey").cast("long").alias("id"),
            F.col("s_name").alias("name"),
            F.round("s_acctbal", 2).cast("double").alias("num"),
        )
    )
    early = (
        ordered_searcher_for(spark, sf)
        .early_terminating_topn(25)
        .select(
            F.lit("early_topn").alias("variant"),
            F.col("src_doc_id").cast("long").alias("id"),
            F.concat_ws("/", "lang", "source").alias("name"),
            F.col("n_chars").cast("double").alias("num"),
        )
    )
    sliced_df, timed_out, _ = searcher_for(spark, sf).topk_time_limited(
        "fast merge sort", k=10, budget_s=1e9, ranges_per_slice=4
    )
    if timed_out:
        raise RuntimeError("time-sliced top-k timed out under an unbounded budget")
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    sliced = (
        sliced_df.withColumn("rank", F.row_number().over(w))
        .select(
            F.lit("time_sliced").alias("variant"),
            F.col("doc_id").cast("long").alias("id"),
            F.lit("").alias("name"),
            F.col("rank").cast("double").alias("num"),
        )
    )
    return export.unionByName(early).unionByName(sliced).orderBy("variant", "id")


def _export_sorted_sql() -> str:
    from .bm25_sql import bm25_topk_sql

    topk = bm25_topk_sql("fast merge sort", k=10, mode="or")
    return f"""
SELECT * FROM (
  SELECT 'export' AS variant, CAST(s_suppkey AS BIGINT) AS id,
         s_name AS name, CAST(round(s_acctbal, 2) AS DOUBLE) AS num
  FROM supplier
  UNION ALL
  SELECT 'early_topn' AS variant, CAST(doc_id AS BIGINT) AS id,
         lang || '/' || source AS name, CAST(n_chars AS DOUBLE) AS num
  FROM (SELECT * FROM documents ORDER BY lang, source, doc_id LIMIT 25)
  UNION ALL
  SELECT 'time_sliced' AS variant, CAST(doc_id AS BIGINT) AS id,
         '' AS name, CAST(rank AS DOUBLE) AS num
  FROM ({topk})
) ORDER BY variant, id
"""


# ------------------------------------------- term-dict / text components
#
# These read the INDEX (term_stats metadata / pruned posting blocks via
# ops.index_access), never re-tokenizing the corpus per query — at scale
# a term-dict browse is a metadata scan, not a full re-analysis
# (VERDICT r1). The oracles mirror the index's analysis chain (stop
# filter included), so both sides describe the same term dictionary.


def _stoplist_in() -> str:
    from .bm25_sql import stoplist_sql

    return stoplist_sql()


def _posting_docs(spark, sf, terms):
    """(term, doc_id, tf) pairs decoded from the PRUNED posting blocks of
    `terms` (bucket partitions + row-group term stats) — the postings-
    list access path every term-level component shares."""
    import pandas as pd

    from ..index.codec import delta_decode, vbyte_decode
    from .index_access import searcher_for

    s = searcher_for(spark, sf)
    blocks = s._blocks_for(terms).select("term", "first_doc", "docs_buf", "tfs_buf")

    def decode(it):
        for pdf in it:
            outs = []
            for term, fd, db, tb in zip(
                pdf["term"], pdf["first_doc"], pdf["docs_buf"], pdf["tfs_buf"]
            ):
                docs = delta_decode(vbyte_decode(db), int(fd))
                tfs = vbyte_decode(tb)
                outs.append(
                    pd.DataFrame(
                        {"term": term, "doc_id": docs.astype("int64"), "tf": tfs.astype("int64")}
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return blocks.mapInPandas(decode, "term string, doc_id long, tf long")


def terms_component(spark, sf):
    """TermsComponent (solr/core/.../component/TermsComponent.java): browse
    the term dictionary — top terms by docFreq, straight off the
    materialized term_stats table (no corpus scan)."""
    from .index_access import searcher_for

    s = searcher_for(spark, sf)
    return (
        s._term_stats.select("term", "df")
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(20)
    )


TERMS_COMPONENT_SQL = f"""
SELECT term, count(DISTINCT doc_id) AS df
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
WHERE term <> '' AND term NOT IN {_stoplist_in()}
GROUP BY term ORDER BY df DESC, term ASC LIMIT 20
"""


#: docs whose term vectors the gate fetches (TermVectorComponent `docIds`)
TV_DOC_IDS = (0, 1, 2, 3, 4)


def term_vectors(spark, sf):
    """TermVectorComponent (solr/core/src/java/org/apache/solr/handler/
    component/TermVectorComponent.java): per-document term vectors —
    (term, tf, positions) for each requested doc. The reference reads
    stored per-doc vectors (Lucene term vectors are a per-doc mini
    inverted index, IndexReader.getTermVector); here the row store IS
    the documents table, so the vector is re-derived by the same
    analysis chain the index used. Positions are the INDEXED positions:
    the counter advances over stopwords (StopFilter
    enablePositionIncrements, SURVEY §2.1), so phrase-style gaps are
    visible in the output exactly as the postings store them.

    Scale shape: the doc-id filter is pushed into the parquet scan
    (row-group pruning on doc_id); one posexplode + one aggregation,
    no shuffle wider than the requested doc set."""
    from ..analysis.tokenizer import ENGLISH_STOP_WORDS

    d = _t(spark, sf, "documents").filter(F.col("doc_id").isin(list(TV_DOC_IDS)))
    toks = d.select(
        "doc_id",
        F.posexplode(F.expr("filter(split(text, ' '), x -> x <> '')")).alias("pos", "term"),
    ).filter(~F.col("term").isin(sorted(ENGLISH_STOP_WORDS)))
    return (
        toks.groupBy("doc_id", "term")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.concat_ws(",", F.sort_array(F.collect_list(F.col("pos").cast("int")))).alias("positions"),
        )
        .orderBy("doc_id", "term")
    )


def _term_vectors_sql() -> str:
    ids = ", ".join(str(i) for i in TV_DOC_IDS)
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents WHERE doc_id IN ({ids})
),
pos AS (
  SELECT doc_id, t[g.pos] AS term, g.pos - 1 AS p
  FROM toks, unnest(generate_series(1, len(t))) AS g(pos)
)
SELECT doc_id, term, count(*) AS tf,
       array_to_string(list_sort(list(CAST(p AS INTEGER))), ',') AS positions
FROM pos WHERE term NOT IN {_stoplist_in()}
GROUP BY doc_id, term ORDER BY doc_id, term
"""


TERM_VECTORS_SQL = _term_vectors_sql()


def terms_combined(spark, sf):
    """TermsComponent (corpus-wide term-dict browse) + TermVectorComponent
    (per-doc vectors) as one tagged union — same 50-row-gate consolidation
    as `facets`; the individual fns remain public API."""
    t1 = terms_component(spark, sf).select(
        F.lit("dict").alias("variant"),
        F.lit(-1).cast("long").alias("doc_id"),
        "term",
        F.col("df").cast("long").alias("freq"),
        F.lit("").alias("positions"),
    )
    t2 = term_vectors(spark, sf).select(
        F.lit("vector").alias("variant"),
        "doc_id",
        "term",
        F.col("tf").cast("long").alias("freq"),
        "positions",
    )
    # r4 (VERDICT #4): the Snowball analyzer family rides the same
    # union — per-language stemmed term dictionaries (what a
    # multilingual index's per-language term dict would hold)
    t3 = snowball_analyzers(spark, sf).select(
        F.col("lang").alias("variant"),
        F.lit(-1).cast("long").alias("doc_id"),
        F.col("stem").alias("term"),
        F.col("cnt").cast("long").alias("freq"),
        F.lit("").alias("positions"),
    )
    return (t1.unionByName(t2).unionByName(t3)
            .orderBy("variant", "doc_id", "term"))


def _terms_combined_sql() -> str:
    return f"""
SELECT * FROM (
  SELECT 'dict' AS variant, CAST(-1 AS BIGINT) AS doc_id, term,
         CAST(df AS BIGINT) AS freq, '' AS positions
  FROM ({TERMS_COMPONENT_SQL})
  UNION ALL
  SELECT 'vector' AS variant, doc_id, term, CAST(tf AS BIGINT) AS freq, positions
  FROM ({TERM_VECTORS_SQL})
  UNION ALL
  SELECT lang AS variant, CAST(-1 AS BIGINT) AS doc_id,
         stem AS term, CAST(cnt AS BIGINT) AS freq, '' AS positions
  FROM ({_snowball_analyzers_sql()})
) ORDER BY variant, doc_id, term
"""


def spellcheck_suggest(spark, sf):
    """DirectSpellChecker.suggestSimilar (lucene/suggest/.../spell/
    DirectSpellChecker.java:318-385) with the reference DEFAULTS
    (maxEdits 2, minPrefix 1, accuracy 0.5, minQueryLength 4,
    SUGGEST_WHEN_NOT_IN_INDEX): suggestions from the term DICTIONARY
    within the transposition-primitive distance, score = 1 - ed/min(len)
    >= accuracy, first character shared with the query, ranked score
    DESC, docFreq DESC, term ASC — a metadata-only term_stats scan,
    never the corpus. 'slon' -> slow (ed 1, 0.75) then scan (ed 2, 0.5).
    Output carries rank instead of the float32 score so the value hash
    is arithmetic-exact across engines."""
    from .index_access import searcher_for

    out = searcher_for(spark, sf).spellcheck("slon", max_edits=2, n=5)
    w = Window.orderBy(
        F.col("score").desc(), F.col("df").desc(), F.col("term").asc()
    )
    return out.select(
        "term", "df", F.row_number().over(w).cast("int").alias("rank")
    )


# the corpus vocabulary holds no pair where a transposition beats plain
# Levenshtein around 'slon', so levenshtein() == the reference's OSA here
SPELLCHECK_SQL = f"""
SELECT term, CAST(df AS BIGINT) AS df,
       CAST(row_number() OVER (
         ORDER BY 1.0 - levenshtein(term, 'slon') * 1.0
                        / least(length(term), 4) DESC,
                  df DESC, term ASC
       ) AS INTEGER) AS rank
FROM (
  SELECT term, count(DISTINCT doc_id) AS df
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  WHERE term <> '' AND term NOT IN {_stoplist_in()}
  GROUP BY term
)
WHERE levenshtein(term, 'slon') <= 2 AND term <> 'slon'
  AND substr(term, 1, 1) = 's'
  AND 1.0 - levenshtein(term, 'slon') * 1.0 / least(length(term), 4) >= 0.5
ORDER BY rank LIMIT 5
"""


def suggest_prefix(spark, sf):
    """Suggest/autocomplete (lucene/suggest FSTs): prefix lookup over the
    term dictionary ranked by docFreq — the FST is replaced by a
    term_stats metadata scan (row-group term min/max prune) + top-N."""
    from .index_access import searcher_for

    s = searcher_for(spark, sf)
    return (
        s._term_stats.filter(F.col("term").startswith("s"))
        .select("term", "df")
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(10)
    )


SUGGEST_PREFIX_SQL = f"""
SELECT term, count(DISTINCT doc_id) AS df
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
WHERE term LIKE 's%' AND term NOT IN {_stoplist_in()}
GROUP BY term ORDER BY df DESC, term ASC LIMIT 10
"""


def suggest_infix(spark, sf):
    """AnalyzingInfixSuggester (lucene/suggest/src/java/org/apache/lucene/
    search/suggest/analyzing/AnalyzingInfixSuggester.java — matches the
    query ANYWHERE inside the suggestion, ranked by weight): the
    suggester's internal Lucene index is replaced by the term_stats
    metadata table; weight = docFreq. An infix LIKE can't prune on the
    term min/max stats (unlike the prefix variant), which mirrors the
    reference trading its FST for a full suggester-index scan."""
    from .index_access import searcher_for

    s = searcher_for(spark, sf)
    return (
        s._term_stats.filter(F.col("term").contains("or"))
        .select("term", "df")
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(10)
    )


SUGGEST_INFIX_SQL = f"""
SELECT term, count(DISTINCT doc_id) AS df
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
WHERE term LIKE '%or%' AND term NOT IN {_stoplist_in()}
GROUP BY term ORDER BY df DESC, term ASC LIMIT 10
"""


FUZZY_SUGGEST_Q = "sprk"  # typo'd prefix; completes to spark-prefixed terms


def _fuzzy_suggest_swaps(q1: str) -> list[str]:
    """The one-adjacent-transposition variants of the fuzzy tail — the
    OSA(=LevenshteinAutomata-with-transpositions) acceptances at
    distance 1 that plain levenshtein misses (lev = 2 for a pure
    swap)."""
    return sorted(
        {q1[:i] + q1[i + 1] + q1[i] + q1[i + 2:] for i in range(len(q1) - 1)}
        - {q1}
    )


def suggest_fuzzy(spark, sf):
    """FuzzySuggester (lucene/suggest/src/java/org/apache/lucene/search/
    suggest/analyzing/FuzzySuggester.java — completion where the TYPED
    PREFIX may contain edits), reference-EXACT since ground-truth round
    27 (search/suggesters.py::analyzing_lookup(fuzzy=True) is pinned
    bit-for-bit against the compiled FuzzySuggester): the first
    DEFAULT_NON_FUZZY_PREFIX=1 character stays exact, the rest of some
    prefix of the term (lengths len(q)±maxEdits) must be within OSA
    distance 1 of the query tail (transpositions are a primitive edit —
    LevenshteinAutomata(transpositions=true)), exact surface first
    (EXACT_FIRST), then weight = docFreq DESC / term ASC. Term-dict
    metadata scan only, like the other suggesters."""
    from .index_access import searcher_for

    q = FUZZY_SUGGEST_Q
    q0, q1 = q[0], q[1:]
    s = searcher_for(spark, sf)
    dist = F.least(
        *[F.levenshtein(F.expr(f"substring(term, 2, {n})"), F.lit(q1))
          for n in (len(q1) - 1, len(q1), len(q1) + 1)]
    )
    swaps = _fuzzy_suggest_swaps(q1)
    accept = (F.substring("term", 1, 1) == q0) & (
        (dist <= 1) | F.expr(f"substring(term, 2, {len(q1)})").isin(swaps)
    )
    return (
        s._term_stats.filter(accept)
        .select("term", "df")
        .orderBy(
            (F.col("term") == q).desc(),  # exactFirst
            F.col("df").desc(), F.col("term").asc(),
        )
        .limit(10)
    )


_FQ1 = FUZZY_SUGGEST_Q[1:]
_FSWAPS_IN = "(" + ",".join(f"'{s}'" for s in _fuzzy_suggest_swaps(_FQ1)) + ")"
SUGGEST_FUZZY_SQL = f"""
SELECT term, df FROM (
  SELECT term, df,
         least(levenshtein(substr(term, 2, {len(_FQ1) - 1}), '{_FQ1}'),
               levenshtein(substr(term, 2, {len(_FQ1)}), '{_FQ1}'),
               levenshtein(substr(term, 2, {len(_FQ1) + 1}), '{_FQ1}')) AS lv
  FROM (
    SELECT term, count(DISTINCT doc_id) AS df
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
    WHERE term <> '' AND term NOT IN {_stoplist_in()}
    GROUP BY term
  )
  WHERE substr(term, 1, 1) = '{FUZZY_SUGGEST_Q[0]}'
)
WHERE lv <= 1 OR substr(term, 2, {len(_FQ1)}) IN {_FSWAPS_IN}
ORDER BY (term = '{FUZZY_SUGGEST_Q}') DESC, df DESC, term ASC LIMIT 10
"""


#: FSTCompletionLookup gate lookup: prefix of the completion; 's' is not
#: itself a corpus term, so the exact-match promotion (pinned in the GT
#: round-27 test) is a deliberate no-op here and the weighted path is
#: pure bucket-DESC / term-ASC.
FST_BUCKET_PREFIX = "s"


def suggest_fst_bucket(spark, sf):
    """FSTCompletionLookup (lucene/suggest/fst/FSTCompletion*.java),
    reference-EXACT since ground-truth round 27
    (search/suggesters.py::fst_bucket_lookup pinned bit-for-bit): the
    term dictionary's docFreqs are DISCRETIZED into 10 buckets at build
    — entries sorted by (weight, key bytes), bucket = line*10/count with
    equal weights keeping the previous line's bucket, which closed-form
    is bucket(t) = (#terms with df < df(t)) * 10 / N — and the
    onlyMorePopular lookup walks buckets highest-first, keys ascending
    within a bucket. The returned value is the BUCKET, not the weight.
    rank(df) = 1 + #terms with a strictly smaller df, so the only
    global state needed is a cumulative count per DISTINCT df value —
    a tiny aggregate (|distinct dfs| rows, not |terms|) broadcast back
    onto the dictionary. No global window over the term dict itself;
    corpus never rescanned."""
    from pyspark.sql import Window

    from .index_access import searcher_for

    s = searcher_for(spark, sf)
    dict_df = s._term_stats.select("term", "df")
    n = dict_df.count()
    below = F.coalesce(
        F.sum("c").over(
            Window.orderBy("df").rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    cum = (
        dict_df.groupBy("df")
        .agg(F.count("*").alias("c"))
        .select("df", below.alias("below"))
    )
    return (
        dict_df.filter(F.col("term").startswith(FST_BUCKET_PREFIX))
        .join(F.broadcast(cum), "df")
        .select(
            "term", (F.col("below") * F.lit(10) / F.lit(n)).cast("long").alias("bucket")
        )
        .orderBy(F.col("bucket").desc(), F.col("term").asc())
        .limit(10)
    )


#: JaspellLookup demo prefix/num: 's' matches 6 dictionary terms and
#: num=4 exercises sortKeysRecursion's mid-traversal cap (the
#: exact-key-first rule is pinned in the GT round-33 tests; this
#: corpus has no term that is both a key and a strict prefix)
JASPELL_PREFIX = "s"
JASPELL_NUM = 4


def suggest_jaspell(spark, sf):
    """JaspellLookup (lucene/suggest/jaspell/JaspellLookup.java),
    reference-EXACT since ground-truth round 33
    (search/suggesters.py::jaspell_lookup pinned vs the compiled
    binary): matchPrefix returns the EXACT key first (when indexed),
    then the ternary trie's in-order traversal under the prefix — for
    a lowercase dictionary that is plain sorted order — capped at num;
    values are the weights (docFreq here). Term-dictionary metadata
    scan only; the corpus is never touched."""
    from .index_access import searcher_for

    s = searcher_for(spark, sf)
    return (
        s._term_stats.select("term", "df")
        .filter(F.col("term").startswith(JASPELL_PREFIX))
        .orderBy((F.col("term") != JASPELL_PREFIX).cast("int"), "term")
        .limit(JASPELL_NUM)
    )


SUGGEST_JASPELL_SQL = f"""
WITH dict AS (
  SELECT term, count(DISTINCT doc_id) AS df
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  WHERE term <> '' AND term NOT IN {_stoplist_in()}
  GROUP BY term
)
SELECT term, df FROM dict
WHERE term LIKE '{JASPELL_PREFIX}%'
ORDER BY (term <> '{JASPELL_PREFIX}'), term
LIMIT {JASPELL_NUM}
"""


SUGGEST_FST_BUCKET_SQL = f"""
WITH dict AS (
  SELECT term, count(DISTINCT doc_id) AS df
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  WHERE term <> '' AND term NOT IN {_stoplist_in()}
  GROUP BY term
),
bucketed AS (
  SELECT term, ((rank() OVER (ORDER BY df) - 1) * 10) // (SELECT count(*) FROM dict) AS bucket
  FROM dict
)
SELECT term, bucket FROM bucketed
WHERE term LIKE '{FST_BUCKET_PREFIX}%'
ORDER BY bucket DESC, term ASC LIMIT 10
"""


#: WordBreakSpellChecker demo inputs: misspelled run-together words that
#: split into dictionary terms ("bigdata" -> big data), one with a
#: stopword-absorbed piece ("apart" -> a|part; 'a' is stopped out of the
#: dictionary, so no suggestion — the df>=minSuggestionFrequency rule),
#: and one already IN the index ("spark" — SUGGEST_WHEN_NOT_IN_INDEX
#: returns nothing for it).
WORDBREAK_TERMS = ["bigdata", "hashjoin", "sortkey", "apart", "spark"]
#: suggestWordCombinations input sequence: adjacent pairs concatenate;
#: val+ue and win+dow land in the dictionary, ue+win does not.
WORDCOMBINE_TERMS = ["val", "ue", "win", "dow"]


def suggest_wordbreak(spark, sf):
    """WordBreakSpellChecker (lucene/suggest/src/java/org/apache/lucene/
    search/spell/WordBreakSpellChecker.java). Break direction =
    suggestWordBreaks (:93-130, :257-306): maxChanges=1 -> a single split
    point i in 1..len-1 (minBreakWordLength=1), BOTH pieces must be
    dictionary terms with df >= minSuggestionFrequency(=1), and
    SUGGEST_WHEN_NOT_IN_INDEX drops query terms that are already indexed
    (:113-115); suggestion score = number of breaks, ranked fewest words
    then max piece frequency (LengthThenMaxFreqComparator :445-457).
    Combine direction = suggestWordCombinations (:160-245): ADJACENT
    input terms concatenate (maxChanges=1 -> pairs); the combined term
    must be indexed and at least one component absent (minFreq==0).
    Everything is a term-dictionary metadata scan joined against a
    broadcast literal of the bounded split/pair candidates — the corpus
    is never read. PQ ties are insertion-order in the reference
    (unspecified); canonicalized here as term ASC."""
    from .index_access import searcher_for

    ts = searcher_for(spark, sf)._term_stats.select("term", "df")
    split_rows = [
        (q, q[:i], q[i:])
        for q in WORDBREAK_TERMS
        for i in range(1, len(q))
    ]
    splits = spark.createDataFrame(
        split_rows, "qterm string, lpiece string, rpiece string"
    )
    lstats = ts.select(F.col("term").alias("lpiece"), F.col("df").alias("df_l"))
    rstats = ts.select(F.col("term").alias("rpiece"), F.col("df").alias("df_r"))
    breaks = (
        lstats.join(F.broadcast(splits), "lpiece")
        .join(F.broadcast(rstats), "rpiece")
        .join(
            ts.select(F.col("term").alias("qterm")), "qterm", "left_anti"
        )  # SUGGEST_WHEN_NOT_IN_INDEX
        .select(
            F.lit("wordbreak").alias("variant"),
            F.concat_ws(" ", "lpiece", "rpiece").alias("term"),
            F.greatest("df_l", "df_r").cast("long").alias("df"),  # freqMax
            F.lit(1).cast("int").alias("distance"),  # number of breaks
        )
    )
    pair_rows = [
        (a, b, a + b)
        for a, b in zip(WORDCOMBINE_TERMS, WORDCOMBINE_TERMS[1:])
    ]
    pairs = spark.createDataFrame(
        pair_rows, "cleft string, cright string, combined string"
    )
    cstats = ts.select(F.col("term").alias("combined"), F.col("df").alias("df_c"))
    lpres = ts.select(F.col("term").alias("cleft"), F.lit(1).alias("l_in"))
    rpres = ts.select(F.col("term").alias("cright"), F.lit(1).alias("r_in"))
    combines = (
        cstats.join(F.broadcast(pairs), "combined")
        .join(F.broadcast(lpres), "cleft", "left")
        .join(F.broadcast(rpres), "cright", "left")
        .filter(F.col("l_in").isNull() | F.col("r_in").isNull())  # minFreq==0
        .select(
            F.lit("wordcombine").alias("variant"),
            F.col("combined").alias("term"),
            F.col("df_c").cast("long").alias("df"),
            F.lit(1).cast("int").alias("distance"),  # numCombinations-1
        )
    )
    return breaks.unionByName(combines).orderBy("variant", "term")


def _wb_splits_values() -> str:
    return ",".join(
        f"('{q}','{q[:i]}','{q[i:]}')"
        for q in WORDBREAK_TERMS
        for i in range(1, len(q))
    )


def _wb_pairs_values() -> str:
    return ",".join(
        f"('{a}','{b}','{a}{b}')"
        for a, b in zip(WORDCOMBINE_TERMS, WORDCOMBINE_TERMS[1:])
    )


SUGGEST_WORDBREAK_SQL = f"""
WITH dict AS (
  SELECT term, count(DISTINCT doc_id) AS df
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  WHERE term <> '' AND term NOT IN {_stoplist_in()}
  GROUP BY term
),
splits(qterm, lpiece, rpiece) AS (VALUES {{wb_splits}}),
pairs(cleft, cright, combined) AS (VALUES {{wb_pairs}})
SELECT 'wordbreak' AS variant,
       s.lpiece || ' ' || s.rpiece AS term,
       CAST(greatest(l.df, r.df) AS BIGINT) AS df,
       CAST(1 AS INTEGER) AS distance
FROM splits s
JOIN dict l ON l.term = s.lpiece
JOIN dict r ON r.term = s.rpiece
WHERE NOT EXISTS (SELECT 1 FROM dict q WHERE q.term = s.qterm)
UNION ALL
SELECT 'wordcombine' AS variant, p.combined AS term,
       CAST(c.df AS BIGINT) AS df, CAST(1 AS INTEGER) AS distance
FROM pairs p
JOIN dict c ON c.term = p.combined
WHERE NOT EXISTS (SELECT 1 FROM dict x WHERE x.term = p.cleft)
   OR NOT EXISTS (SELECT 1 FROM dict y WHERE y.term = p.cright)
""".replace("{wb_splits}", _wb_splits_values()).replace(
    "{wb_pairs}", _wb_pairs_values()
)


#: FreeTextSuggester demo lookup: context word + prefix of the next word.
FREETEXT_CONTEXT = "merge"
FREETEXT_PREFIX = "s"


def suggest_freetext(spark, sf):
    """FreeTextSuggester (lucene/suggest/src/java/org/apache/lucene/search/
    suggest/analyzing/FreeTextSuggester.java — DEFAULT_GRAMS=2 n-gram
    language model with STUPID BACKOFF smoothing, ALPHA=0.4 :129-134),
    reference-EXACT since ground-truth round 26 (search/freetext.py is
    pinned bit-for-bit against the compiled suggester; this is the same
    model as a Spark job): lookup key = context word + prefix of the
    next word. The bigram model contributes first (top-num bigram
    completions by count, score = (long)(Long.MAX_VALUE * count(c w) /
    count(c)) in float64 truncated toward zero); the unigram model backs
    off at ALPHA (score = (long)((Long.MAX_VALUE * 0.4) * count(w) /
    totTokens)), skipping last tokens the bigram model already suggested
    without consuming its budget; final order value DESC / key ASC
    (key = 'c<0x1e>w' for bigram rows), truncated to num. The n-gram
    tables are two map-side-combined aggregations over the corpus
    (count tables replace the FST); the lookup touches only
    prefix-matching rows."""
    from .pipeline import _with_tokens

    d = _with_tokens(_t(spark, sf, "documents"))
    uni = (
        d.select(F.explode("toks").alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    )
    bi = (
        d.select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2),"
                    " i -> struct(toks[i] AS c, toks[i + 1] AS w))"
                )
            ).alias("g")
        )
        .select("g.c", "g.w")
        .groupBy("c", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # two scalar stats (collection totals) — driver-cached constants, the
    # same pattern as function_query's df/N
    total = int(uni.agg(F.sum("cnt")).collect()[0][0])
    ctx_rows = uni.filter(F.col("w") == FREETEXT_CONTEXT).collect()
    ctx_cnt = int(ctx_rows[0]["cnt"]) if ctx_rows else 0
    max_d = float(2**63 - 1)  # (double) Long.MAX_VALUE == 2^63
    long_max = 2**63 - 1
    num = 10
    if ctx_cnt:
        cand_bi = (
            bi.filter(
                (F.col("c") == FREETEXT_CONTEXT)
                & F.col("w").startswith(FREETEXT_PREFIX)
            )
            .select(
                "w",
                # (long)(MAX_d * 1.0 * (double)cnt / ctx), trunc toward
                # zero, saturating like Java's (long) cast at cnt == ctx
                F.when(F.col("cnt") >= ctx_cnt, F.lit(long_max))
                .otherwise(F.floor(
                    F.lit(max_d) * F.col("cnt").cast("double")
                    / F.lit(float(ctx_cnt))
                ))
                .cast("long").alias("weight"),
                F.concat(
                    F.lit(FREETEXT_CONTEXT + "\x1e"), F.col("w")
                ).alias("k"),
                "cnt",
            )
            # per-model top-num by count, gram byte order on ties
            # (TopNSearcher's weight-then-input comparator)
            .orderBy(F.col("cnt").desc(), F.col("w").asc())
            .limit(num)
        )
    else:
        cand_bi = spark.createDataFrame(
            [], "w string, weight long, k string, cnt long"
        )
    cand_uni = (
        uni.filter(F.col("w").startswith(FREETEXT_PREFIX))
        # a last token the bigram model ACCEPTED is skipped without
        # consuming this model's budget (acceptResult + queue depth)
        .join(cand_bi.select("w"), "w", "left_anti")
        .select(
            "w",
            F.floor(
                F.lit(max_d * 0.4) * F.col("cnt").cast("double")
                / F.lit(float(total))
            ).cast("long").alias("weight"),
            F.col("w").alias("k"),
            "cnt",
        )
        .orderBy(F.col("cnt").desc(), F.col("w").asc())
        .limit(num)
    )
    return (
        cand_bi.unionByName(cand_uni)
        # LookupResult order: value DESC, key UTF16 ASC (bigram keys
        # carry the 0x1e separator, exactly like the reference's)
        .orderBy(F.col("weight").desc(), F.col("k").asc())
        .limit(num)
        .select("w", "weight")
    )


SUGGEST_FREETEXT_SQL = f"""
WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
uni AS (
  SELECT u.w AS w, count(*) AS cnt
  FROM t, unnest(t.toks) AS u(w) GROUP BY u.w
),
total AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM uni),
bi AS (
  SELECT g.x.c AS c, g.x.w AS w, count(*) AS cnt
  FROM t, unnest(list_transform(range(1, len(t.toks)),
                 i -> struct_pack(c := t.toks[i], w := t.toks[i + 1]))) AS g(x)
  GROUP BY g.x.c, g.x.w
),
ctx AS (SELECT cnt AS c FROM uni WHERE w = '{FREETEXT_CONTEXT}'),
cand_bi AS (
  SELECT bi.w,
         CASE WHEN bi.cnt >= ctx.c THEN 9223372036854775807
              ELSE CAST(trunc({float(2**63 - 1)!r} * bi.cnt / ctx.c) AS BIGINT)
         END AS weight,
         '{FREETEXT_CONTEXT}' || chr(30) || bi.w AS k
  FROM bi CROSS JOIN ctx
  WHERE bi.c = '{FREETEXT_CONTEXT}' AND bi.w LIKE '{FREETEXT_PREFIX}%'
  ORDER BY bi.cnt DESC, bi.w ASC LIMIT 10
),
cand_uni AS (
  SELECT uni.w,
         CAST(trunc({float(2**63 - 1) * 0.4!r} * uni.cnt / total.n) AS BIGINT)
           AS weight,
         uni.w AS k
  FROM uni CROSS JOIN total
  WHERE uni.w LIKE '{FREETEXT_PREFIX}%'
    AND uni.w NOT IN (SELECT w FROM cand_bi)
  ORDER BY uni.cnt DESC, uni.w ASC LIMIT 10
)
SELECT w, weight FROM (
  SELECT * FROM cand_bi UNION ALL SELECT * FROM cand_uni
) ORDER BY weight DESC, k ASC LIMIT 10
"""


BLENDED_KEY_MUST = "merge"
BLENDED_KEY_PREFIX = "so"
BLENDED_NUM = 10
BLENDED_NUM_FACTOR = 10


def suggest_blended_infix(spark, sf):
    """BlendedInfixSuggester (lucene/suggest/.../BlendedInfixSuggester.java
    — pinned (score, text) exact vs the compiled suggester in GT round
    72, search/suggesters.py:blended_infix_lookup): suggestion entries
    are the corpus docs' first-3-token titles weighted by n_chars; key
    "merge so" = whole-token MUST 'merge' + prefix 'so'; first pass
    weight-DESC capped at num*numFactor (the suggester's top-weight
    search), then POSITION_RECIPROCAL re-scoring by the first matched
    token's position — score = (long)(weight / (1 + pos)), 1.0
    coefficient when the title startsWith the raw key — TreeSet
    (score, text) dedup, DESCENDING output (score DESC, text DESC).
    One scan + a bounded TakeOrdered; the re-score is a projection over
    the <= num*numFactor survivors."""
    d = _t(spark, sf, "documents")
    parts = F.split(F.col("text"), " ")
    t1, t2, t3 = (F.element_at(parts, i) for i in (1, 2, 3))
    title = F.concat_ws(" ", F.slice(parts, 1, 3))

    def m(tok):
        return (tok == BLENDED_KEY_MUST) | tok.startswith(BLENDED_KEY_PREFIX)

    base = d.select(
        F.col("doc_id"), title.alias("title"),
        F.col("n_chars").cast("long").alias("weight"),
        t1.alias("t1"), t2.alias("t2"), t3.alias("t3"),
    ).filter(
        ((F.col("t1") == BLENDED_KEY_MUST) | (F.col("t2") == BLENDED_KEY_MUST)
         | (F.col("t3") == BLENDED_KEY_MUST))
        & (F.col("t1").startswith(BLENDED_KEY_PREFIX)
           | F.col("t2").startswith(BLENDED_KEY_PREFIX)
           | F.col("t3").startswith(BLENDED_KEY_PREFIX))
    ).orderBy(F.col("weight").desc(), F.col("doc_id").asc()).limit(
        BLENDED_NUM * BLENDED_NUM_FACTOR
    )
    minpos = (
        F.when(m(F.col("t1")), F.lit(0))
        .when(m(F.col("t2")), F.lit(1))
        .otherwise(F.lit(2))
    )
    key = f"{BLENDED_KEY_MUST} {BLENDED_KEY_PREFIX}"
    coef = F.when(F.col("title").startswith(key), F.lit(1.0)).otherwise(
        F.lit(1.0) / (F.lit(1.0) + minpos)
    )
    return (
        base.select(
            "title",
            F.floor(F.col("weight") * coef).cast("long").alias("score"),
        )
        .distinct()
        .orderBy(F.col("score").desc(), F.col("title").desc())
        .limit(BLENDED_NUM)
    )


SUGGEST_BLENDED_SQL = f"""
WITH base AS (
  SELECT doc_id,
         array_to_string(l[1:3], ' ') AS title,
         CAST(n_chars AS BIGINT) AS weight,
         l[1] AS t1, l[2] AS t2, l[3] AS t3
  FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS l FROM documents)
),
cand AS (
  SELECT * FROM base
  WHERE ('{BLENDED_KEY_MUST}' IN (t1, t2, t3))
    AND (t1 LIKE '{BLENDED_KEY_PREFIX}%' OR t2 LIKE '{BLENDED_KEY_PREFIX}%'
         OR t3 LIKE '{BLENDED_KEY_PREFIX}%')
  ORDER BY weight DESC, doc_id ASC
  LIMIT {BLENDED_NUM * BLENDED_NUM_FACTOR}
),
scored AS (
  SELECT DISTINCT title,
    CAST(floor(weight * CASE
      WHEN title LIKE '{BLENDED_KEY_MUST} {BLENDED_KEY_PREFIX}%' THEN 1.0
      WHEN t1 = '{BLENDED_KEY_MUST}' OR t1 LIKE '{BLENDED_KEY_PREFIX}%' THEN 1.0
      WHEN t2 = '{BLENDED_KEY_MUST}' OR t2 LIKE '{BLENDED_KEY_PREFIX}%' THEN 1.0 / 2
      ELSE 1.0 / 3 END) AS BIGINT) AS score
  FROM cand
)
SELECT title, score FROM scored
ORDER BY score DESC, title DESC LIMIT {BLENDED_NUM}
"""


def suggest_completion(spark, sf):
    """suggest/document completion family (GT round 79,
    search/completion.py): ContextSuggestField entries (surface = first
    p_name word, weight = p_size, context = p_brand) under a
    ContextQuery(PrefixCompletionQuery('c')) with contexts
    {Brand#13: boost 2, Brand#11: boost 0} — exercising the
    pinned CompletionScorer 0-rule (a zero-boost context scores the
    PLAIN weight, not 0) and the (score DESC, doc ASC) collector order.
    At scale this is one sargable prefix+isin scan + a bounded
    TakeOrdered — the suggestion FST's term-dictionary role is played by
    the dictionary-shaped projection, never a corpus re-read."""
    p = _t(spark, sf, "part")
    e = p.select(
        F.col("p_partkey").alias("doc"),
        F.element_at(F.split(F.col("p_name"), " "), 1).alias("surface"),
        F.col("p_size").cast("double").alias("w"),
        F.col("p_brand").alias("ctx"),
    ).filter(
        F.col("surface").startswith("c")
        & F.col("ctx").isin("Brand#13", "Brand#11")
    )
    boost = F.when(F.col("ctx") == "Brand#13", F.lit(2.0)).otherwise(
        F.lit(0.0))
    score = F.when(boost == 0.0, F.col("w")).otherwise(F.col("w") * boost)
    return (
        e.withColumn("score", score)
        .orderBy(F.col("score").desc(), F.col("doc").asc())
        .limit(12)
        .select(
            F.concat_ws(":", "ctx", "surface").alias("term"),
            F.col("score").cast("long").alias("df"),
        )
    )


SUGGEST_COMPLETION_SQL = """
SELECT ctx || ':' || surface AS term, CAST(score AS BIGINT) AS df
FROM (
  SELECT p_partkey AS doc, string_split(p_name, ' ')[1] AS surface,
         p_brand AS ctx,
         CASE WHEN p_brand = 'Brand#13'
              THEN p_size * 2.0 ELSE CAST(p_size AS DOUBLE) END AS score
  FROM part
  WHERE string_split(p_name, ' ')[1] LIKE 'c%'
    AND p_brand IN ('Brand#13', 'Brand#11')
) ORDER BY score DESC, doc ASC LIMIT 12
"""


def suggest_combined(spark, sf):
    """Prefix suggest + infix suggest + DirectSpellChecker + FuzzySuggester
    + WordBreakSpellChecker (break + combine directions) as one tagged
    union — all read only the term dictionary; same 50-row-gate
    consolidation as `facets` (the individual fns remain public API).
    distance = -1 for variants with no edit distance."""
    s1 = suggest_prefix(spark, sf).select(
        F.lit("prefix").alias("variant"),
        "term",
        F.col("df").cast("long").alias("df"),
        F.lit(-1).cast("int").alias("distance"),
    )
    s2 = spellcheck_suggest(spark, sf).select(
        F.lit("spell").alias("variant"),
        "term",
        F.col("df").cast("long").alias("df"),
        # the spell variant's aux slot carries its RANK (the float32
        # similarity score itself would hash differently across engines)
        F.col("rank").cast("int").alias("distance"),
    )
    s3 = suggest_infix(spark, sf).select(
        F.lit("infix").alias("variant"),
        "term",
        F.col("df").cast("long").alias("df"),
        F.lit(-1).cast("int").alias("distance"),
    )
    s4 = suggest_fuzzy(spark, sf).select(
        F.lit("fuzzy").alias("variant"),
        "term",
        F.col("df").cast("long").alias("df"),
        F.lit(-1).cast("int").alias("distance"),
    )
    s5 = suggest_wordbreak(spark, sf)
    s6 = suggest_freetext(spark, sf).select(
        F.lit("freetext").alias("variant"),
        F.col("w").alias("term"),
        F.col("weight").cast("long").alias("df"),
        F.lit(-1).cast("int").alias("distance"),
    )
    s7 = suggest_fst_bucket(spark, sf).select(
        F.lit("fst_bucket").alias("variant"),
        "term",
        F.col("bucket").cast("long").alias("df"),
        F.lit(-1).cast("int").alias("distance"),
    )
    s8 = suggest_jaspell(spark, sf).select(
        F.lit("jaspell").alias("variant"),
        "term",
        F.col("df").cast("long").alias("df"),
        F.lit(-1).cast("int").alias("distance"),
    )
    s9 = suggest_blended_infix(spark, sf).select(
        F.lit("blended_infix").alias("variant"),
        F.col("title").alias("term"),
        F.col("score").alias("df"),
        F.lit(-1).cast("int").alias("distance"),
    )
    s10 = suggest_completion(spark, sf).select(
        F.lit("completion").alias("variant"),
        "term",
        F.col("df"),
        F.lit(-1).cast("int").alias("distance"),
    )
    return (
        s1.unionByName(s2).unionByName(s3).unionByName(s4).unionByName(s5)
        .unionByName(s6).unionByName(s7).unionByName(s8).unionByName(s9)
        .unionByName(s10)
        .orderBy("variant", "term")
    )


SUGGEST_COMBINED_SQL = f"""
SELECT * FROM (
  SELECT 'prefix' AS variant, term, CAST(df AS BIGINT) AS df, CAST(-1 AS INTEGER) AS distance
  FROM ({SUGGEST_PREFIX_SQL})
  UNION ALL
  SELECT 'spell' AS variant, term, CAST(df AS BIGINT) AS df,
         rank AS distance
  FROM ({SPELLCHECK_SQL})
  UNION ALL
  SELECT 'infix' AS variant, term, CAST(df AS BIGINT) AS df, CAST(-1 AS INTEGER) AS distance
  FROM ({SUGGEST_INFIX_SQL})
  UNION ALL
  SELECT 'fuzzy' AS variant, term, CAST(df AS BIGINT) AS df, CAST(-1 AS INTEGER) AS distance
  FROM ({SUGGEST_FUZZY_SQL})
  UNION ALL
  SELECT * FROM ({SUGGEST_WORDBREAK_SQL})
  UNION ALL
  SELECT 'freetext' AS variant, w AS term, weight AS df, CAST(-1 AS INTEGER) AS distance
  FROM ({SUGGEST_FREETEXT_SQL})
  UNION ALL
  SELECT 'fst_bucket' AS variant, term, CAST(bucket AS BIGINT) AS df, CAST(-1 AS INTEGER) AS distance
  FROM ({SUGGEST_FST_BUCKET_SQL})
  UNION ALL
  SELECT 'jaspell' AS variant, term, CAST(df AS BIGINT) AS df, CAST(-1 AS INTEGER) AS distance
  FROM ({SUGGEST_JASPELL_SQL})
  UNION ALL
  SELECT 'blended_infix' AS variant, title AS term, score AS df,
         CAST(-1 AS INTEGER) AS distance
  FROM ({SUGGEST_BLENDED_SQL})
  UNION ALL
  SELECT 'completion' AS variant, term, df, CAST(-1 AS INTEGER) AS distance
  FROM ({SUGGEST_COMPLETION_SQL})
) ORDER BY variant, term
"""


#: LatLonPoint demo geometry. Coordinates are DERIVED deterministically
#: from c_custkey (the TPC-H tables carry no geo columns): two coprime
#: multipliers spread keys quasi-uniformly over the globe, exactly
#: reproducible in integer math on both engines.
SPATIAL_CENTER_LAT = 0.0
SPATIAL_CENTER_LON = 0.0
SPATIAL_RADIUS_KM = 3000.0
SPATIAL_K = 15
EARTH_MEAN_RADIUS_KM = 6371.0087714  # SloppyMath.haversinMeters' mean radius


def spatial_knn(spark, sf):
    """LatLonPoint distance query + distance sort (lucene/core/src/java/
    org/apache/lucene/document/LatLonPoint.java newDistanceQuery,
    LatLonDocValuesField.newDistanceSort; distance math =
    util/SloppyMath.java haversinMeters): the k nearest points to a
    center within a radius, ordered by great-circle distance.

    Two-phase exactly like the reference: LatLonPointDistanceQuery
    visits the BKD tree with a BOUNDING-BOX approximation first and
    only runs the exact haversine on survivors — here the bbox is a
    sargable lat/lon BETWEEN prefilter (parquet min/max row-group
    pruning; at 100 TB this is what keeps the trig off the full scan),
    then the exact haversine filters and ranks. Distance is rounded to
    3 decimals (~1m) before ordering/output so the two engines' libm
    ULP differences can't flip a rank; ties break on c_custkey ASC."""
    deg_km_lat = 111.195  # one degree of latitude, mean-radius sphere
    pad = 1.05  # bbox guard band; exact haversine re-checks survivors
    dlat = SPATIAL_RADIUS_KM / deg_km_lat * pad
    # center is on the equator, so the longitude span needs no cos(lat)
    # widening beyond the guard band
    dlon = SPATIAL_RADIUS_KM / deg_km_lat * pad

    c = _t(spark, sf, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 7919 % 18000) / 100.0 - 90.0).alias("lat"),
        ((F.col("c_custkey") * 104729 % 36000) / 100.0 - 180.0).alias("lon"),
    )
    boxed = c.filter(
        F.col("lat").between(SPATIAL_CENTER_LAT - dlat, SPATIAL_CENTER_LAT + dlat)
        & F.col("lon").between(SPATIAL_CENTER_LON - dlon, SPATIAL_CENTER_LON + dlon)
    )
    rlat1 = F.radians(F.lit(SPATIAL_CENTER_LAT))
    rlat2 = F.radians(F.col("lat"))
    half_dlat = (rlat2 - rlat1) / 2.0
    half_dlon = (F.radians(F.col("lon")) - F.radians(F.lit(SPATIAL_CENTER_LON))) / 2.0
    h = (
        F.sin(half_dlat) * F.sin(half_dlat)
        + F.cos(rlat1) * F.cos(rlat2) * F.sin(half_dlon) * F.sin(half_dlon)
    )
    dist = F.round(
        F.lit(2.0 * EARTH_MEAN_RADIUS_KM) * F.asin(F.sqrt(h)), 3
    ).alias("dist_km")
    return (
        boxed.select("c_custkey", F.round("lat", 2).alias("lat"),
                     F.round("lon", 2).alias("lon"), dist)
        .filter(F.col("dist_km") <= SPATIAL_RADIUS_KM)
        .orderBy(F.col("dist_km").asc(), F.col("c_custkey").asc())
        .limit(SPATIAL_K)
    )


SPATIAL_KNN_SQL = f"""
WITH pts AS (
  SELECT c_custkey,
         (c_custkey * 7919 % 18000) / 100.0 - 90.0 AS lat,
         (c_custkey * 104729 % 36000) / 100.0 - 180.0 AS lon
  FROM customer
),
boxed AS (
  SELECT * FROM pts
  WHERE lat BETWEEN {SPATIAL_CENTER_LAT} - {SPATIAL_RADIUS_KM} / 111.195 * 1.05
                AND {SPATIAL_CENTER_LAT} + {SPATIAL_RADIUS_KM} / 111.195 * 1.05
    AND lon BETWEEN {SPATIAL_CENTER_LON} - {SPATIAL_RADIUS_KM} / 111.195 * 1.05
                AND {SPATIAL_CENTER_LON} + {SPATIAL_RADIUS_KM} / 111.195 * 1.05
),
scored AS (
  SELECT c_custkey, round(lat, 2) AS lat, round(lon, 2) AS lon,
         round(2 * {EARTH_MEAN_RADIUS_KM} * asin(sqrt(
           pow(sin((radians(lat) - radians({SPATIAL_CENTER_LAT})) / 2), 2)
           + cos(radians({SPATIAL_CENTER_LAT})) * cos(radians(lat))
             * pow(sin((radians(lon) - radians({SPATIAL_CENTER_LON})) / 2), 2)
         )), 3) AS dist_km
  FROM boxed
)
SELECT * FROM scored WHERE dist_km <= {SPATIAL_RADIUS_KM}
ORDER BY dist_km ASC, c_custkey ASC LIMIT {SPATIAL_K}
"""


#: polygon demo geometry (closed rings; hole inside the shell) — the
#: same literals feed the Spark Column expression and the DuckDB SQL
POLY_SHELL = [(35.0, 20.0), (12.0, 48.0), (-18.0, 35.0), (-22.0, -2.0),
              (8.0, -14.0), (35.0, 20.0)]
POLY_HOLE = [(18.0, 20.0), (4.0, 30.0), (-2.0, 14.0), (18.0, 20.0)]
_LAT_STEP = 180.0 / (1 << 32)
_LON_STEP = 360.0 / (1 << 32)


def _pnpoly_col(qlat, qlon, ring):
    """Edge.contains crossings parity as ONE codegen expression over
    the quantized point columns (no UDF — ops/geo.py is the pinned
    semantics reference, this is its Column transliteration; identical
    IEEE double arithmetic)."""
    crossings = None
    for (lat1, lon1), (lat2, lon2) in zip(ring, ring[1:]):
        cond = (
            ((F.lit(lat1) > qlat) != (F.lit(lat2) > qlat))
            & (qlon < (F.lit(lon1 - lon2)) * (qlat - F.lit(lat2))
               / F.lit(lat1 - lat2) + F.lit(lon2))
        ).cast("int")
        crossings = cond if crossings is None else crossings + cond
    return crossings % 2 == 1


def spatial_polygon(spark, sf):
    """LatLonPoint.newPolygonQuery (sandbox LatLonPointInPolygonQuery +
    core geo/Polygon2D — pinned docid-exact vs the compiled query in GT
    round 71, ops/geo.py): points inside the shell ring and outside the
    hole, containment computed on the QUANTIZED (encode->decode grid)
    coordinates. Two-phase like the BKD visit: a sargable bounding-box
    prefilter (row-group pruning at scale), then the pnpoly
    crossings-parity test as one codegen projection."""
    c = _t(spark, sf, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 7919 % 18000) / 100.0 - 90.0).alias("lat"),
        ((F.col("c_custkey") * 104729 % 36000) / 100.0 - 180.0).alias("lon"),
    )
    sh_lats = [la for la, _lo in POLY_SHELL]
    sh_lons = [lo for _la, lo in POLY_SHELL]
    boxed = c.filter(
        F.col("lat").between(min(sh_lats), max(sh_lats))
        & F.col("lon").between(min(sh_lons), max(sh_lons))
    )
    qlat = F.floor(F.col("lat") / F.lit(_LAT_STEP)) * F.lit(_LAT_STEP)
    qlon = F.floor(F.col("lon") / F.lit(_LON_STEP)) * F.lit(_LON_STEP)
    boxed = boxed.select("c_custkey", "lat", "lon",
                         qlat.alias("qlat"), qlon.alias("qlon"))
    in_shell = _pnpoly_col(F.col("qlat"), F.col("qlon"), POLY_SHELL)
    h_lats = [la for la, _lo in POLY_HOLE]
    h_lons = [lo for _la, lo in POLY_HOLE]
    in_hole_box = (
        F.col("qlat").between(min(h_lats), max(h_lats))
        & F.col("qlon").between(min(h_lons), max(h_lons))
    )
    in_hole = in_hole_box & _pnpoly_col(F.col("qlat"), F.col("qlon"), POLY_HOLE)
    return (
        boxed.filter(in_shell & ~in_hole)
        .select("c_custkey", F.round("lat", 2).alias("lat"),
                F.round("lon", 2).alias("lon"))
        .orderBy("c_custkey")
        .limit(40)
    )


def _pnpoly_sql(qlat: str, qlon: str, ring) -> str:
    terms = []
    for (lat1, lon1), (lat2, lon2) in zip(ring, ring[1:]):
        terms.append(
            f"CASE WHEN (({lat1} > {qlat}) <> ({lat2} > {qlat})) AND "
            f"({qlon} < ({lon1} - {lon2}) * ({qlat} - {lat2}) / "
            f"({lat1} - {lat2}) + {lon2}) THEN 1 ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ") % 2 = 1"


def _spatial_polygon_sql() -> str:
    sh_lats = [la for la, _lo in POLY_SHELL]
    sh_lons = [lo for _la, lo in POLY_SHELL]
    h_lats = [la for la, _lo in POLY_HOLE]
    h_lons = [lo for _la, lo in POLY_HOLE]
    return f"""
WITH pts AS (
  SELECT c_custkey,
         (c_custkey * 7919 % 18000) / 100.0 - 90.0 AS lat,
         (c_custkey * 104729 % 36000) / 100.0 - 180.0 AS lon
  FROM customer
),
boxed AS (
  SELECT c_custkey, lat, lon,
         floor(lat / ({_LAT_STEP!r})) * ({_LAT_STEP!r}) AS qlat,
         floor(lon / ({_LON_STEP!r})) * ({_LON_STEP!r}) AS qlon
  FROM pts
  WHERE lat BETWEEN {min(sh_lats)} AND {max(sh_lats)}
    AND lon BETWEEN {min(sh_lons)} AND {max(sh_lons)}
)
SELECT c_custkey, round(lat, 2) AS lat, round(lon, 2) AS lon
FROM boxed
WHERE ({_pnpoly_sql("qlat", "qlon", POLY_SHELL)})
  AND NOT (qlat BETWEEN {min(h_lats)} AND {max(h_lats)}
           AND qlon BETWEEN {min(h_lons)} AND {max(h_lons)}
           AND ({_pnpoly_sql("qlat", "qlon", POLY_HOLE)}))
ORDER BY c_custkey LIMIT 40
"""


#: z-order bbox demo bounds (no dateline crossing; engine splits first)
ZORDER_BBOX = (10.0, 45.0, -30.0, 25.0)
ZORDER_DETAIL = 6  # quad-split depth -> bounded literal range count


def _zcode_sql(lat_expr: str, lon_expr: str) -> str:
    """GeoPointField.encodeLatLon as ONE portable SQL arithmetic
    expression (identical string runs through Catalyst codegen AND the
    DuckDB oracle — only `& | << >>` + arithmetic, no XOR/hex):
    32-bit GeoEncodingUtils quantization, the sign-bit flip expressed
    as +2^31 (values are in [-2^31, 2^31)), >>1 per dimension to the
    31-bit halves (== the reference's interleave >>> 2), then the
    BitUtil magic-constant bit spread, lat odd / lon even. Pinned
    transitively: ops/geo.py's geopoint_encode is pinned vs the
    compiled module (GT round 77) and the pytest cross-checks this SQL
    against it. The corpus derives lat < 90 and lon < 180 so neither
    the encode clamp nor the all-ones special case can trigger."""
    lat_step = repr(180.0 / (1 << 32))
    lon_step = repr(360.0 / (1 << 32))

    def spread(v: str) -> str:
        v = f"((({v}) | (({v}) << 16)) & 281470681808895)"
        v = f"(({v} | ({v} << 8)) & 71777214294589695)"
        v = f"(({v} | ({v} << 4)) & 1085102592571150095)"
        v = f"(({v} | ({v} << 2)) & 3689348814741910323)"
        v = f"(({v} | ({v} << 1)) & 6148914691236517205)"
        return v

    lat31 = f"((CAST(FLOOR(({lat_expr}) / {lat_step}) AS BIGINT) + 2147483648) >> 1)"
    lon31 = f"((CAST(FLOOR(({lon_expr}) / {lon_step}) AS BIGINT) + 2147483648) >> 1)"
    return f"(({spread(lat31)} << 1) | {spread(lon31)})"


def _zdecode_sql(lat31: str, lon31: str) -> tuple[str, str]:
    """GeoPointField unscale: cell-corner doubles from the 31-bit
    halves (computed from the POINT columns — decode(encode) — so no
    deinterleave is needed in SQL)."""
    return (
        f"(({lat31}) / (CAST(2147483648 AS DOUBLE) / 180.0) - 90.0)",
        f"(({lon31}) / (CAST(2147483648 AS DOUBLE) / 360.0) - 180.0)",
    )


def spatial_zorder(spark, sf):
    """GeoPointField / z-order bbox query (lucene/spatial geopoint:
    GeoPointInBBoxQuery over morton prefix terms — encoding + accept
    set pinned vs the compiled module, GT round 77). The 100-TB spatial
    layout: each point becomes a 62-bit z-code in ONE codegen
    projection; the bbox decomposes driver-side into a bounded list of
    z-RANGES (`morton_ranges` — the GeoPointNumericTermsEnum
    computeRange shape) pushed as literal BETWEENs (sargable: with a
    z-sorted/partitioned table these are parquet row-group prunes, the
    BKD/prefix-term visit analog); boundary ranges re-check exactly on
    the DECODED (quantized) coordinates, reference-inclusive bounds."""
    from .geo import morton_ranges

    mn_la, mx_la, mn_lo, mx_lo = ZORDER_BBOX
    ranges = morton_ranges(mn_la, mx_la, mn_lo, mx_lo,
                           detail_level=ZORDER_DETAIL)
    c = _t(spark, sf, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 7919 % 18000) / 100.0 - 90.0).alias("lat"),
        ((F.col("c_custkey") * 104729 % 36000) / 100.0 - 180.0).alias("lon"),
    )
    z = F.expr(_zcode_sql("lat", "lon"))
    pts = c.select("c_custkey", "lat", "lon", z.alias("zcode"))
    # z-range prefilter as a BROADCAST left-semi range join, NOT an OR
    # chain: Catalyst's projection collapse would inline the (large)
    # zcode expression into every BETWEEN branch, and past ~50 ranges
    # the duplicated tree overflows the codegen stack under default
    # driver stack sizes. The join keeps zcode computed ONCE and is the
    # honest 100-TB shape anyway (the range list is KBs; on a z-sorted
    # table the same ranges prune row groups).
    rng_df = spark.createDataFrame(
        [(lo, hi) for lo, hi, _b in ranges], "zlo long, zhi long")
    pts = pts.join(
        F.broadcast(rng_df),
        (F.col("zcode") >= F.col("zlo")) & (F.col("zcode") <= F.col("zhi")),
        "left_semi",
    )
    lat_step = repr(180.0 / (1 << 32))
    lon_step = repr(360.0 / (1 << 32))
    lat31 = f"((CAST(FLOOR(lat / {lat_step}) AS BIGINT) + 2147483648) >> 1)"
    lon31 = f"((CAST(FLOOR(lon / {lon_step}) AS BIGINT) + 2147483648) >> 1)"
    dlat, dlon = _zdecode_sql(lat31, lon31)
    exact = F.expr(
        f"{dlat} >= {mn_la} AND {dlat} <= {mx_la} "
        f"AND {dlon} >= {mn_lo} AND {dlon} <= {mx_lo}"
    )
    return (
        pts.filter(exact)
        .select("c_custkey", F.round("lat", 2).alias("lat"),
                F.round("lon", 2).alias("lon"), F.col("zcode"))
        .orderBy("c_custkey")
        .limit(60)
    )


def _spatial_zorder_sql() -> str:
    from .geo import morton_ranges

    mn_la, mx_la, mn_lo, mx_lo = ZORDER_BBOX
    ranges = morton_ranges(mn_la, mx_la, mn_lo, mx_lo,
                           detail_level=ZORDER_DETAIL)
    rng_pred = " OR ".join(
        f"zcode BETWEEN {lo} AND {hi}" for lo, hi, _b in ranges)
    lat_step = repr(180.0 / (1 << 32))
    lon_step = repr(360.0 / (1 << 32))
    lat31 = f"((CAST(FLOOR(lat / {lat_step}) AS BIGINT) + 2147483648) >> 1)"
    lon31 = f"((CAST(FLOOR(lon / {lon_step}) AS BIGINT) + 2147483648) >> 1)"
    dlat, dlon = _zdecode_sql(lat31, lon31)
    return f"""
WITH pts AS (
  SELECT c_custkey,
         (c_custkey * 7919 % 18000) / 100.0 - 90.0 AS lat,
         (c_custkey * 104729 % 36000) / 100.0 - 180.0 AS lon
  FROM customer
),
coded AS (
  SELECT c_custkey, lat, lon, {_zcode_sql("lat", "lon")} AS zcode FROM pts
)
SELECT c_custkey, round(lat, 2) AS lat, round(lon, 2) AS lon, zcode
FROM coded
WHERE ({rng_pred})
  AND {dlat} >= {mn_la} AND {dlat} <= {mx_la}
  AND {dlon} >= {mn_lo} AND {dlon} <= {mx_lo}
ORDER BY c_custkey LIMIT 60
"""



#: geo3d demo circle (WGS84 ellipsoid, ops/geo3d.py — GT round 82)
GEO3D_CENTER = (12.0, 34.0)
GEO3D_RADIUS_M = 2_000_000.0


def _geo3d_within_sql() -> str:
    """Geo3D circle membership as ONE portable SQL expression (same
    string through Catalyst and DuckDB): WGS84 (x,y,z) projection of the
    derived lat/lon, 32-bit floor-encode/center-decode quantization, and
    the pinned circle plane's sided evaluation. Plane coefficients come
    from the GT-82-pinned python; every literal is emitted in scientific
    notation so DuckDB types it DOUBLE (bare long decimals parse as
    DECIMAL and double-round). Corpus margins from the flip thresholds
    are >= 2.3e-5 at sf0.1 — far above libm sin/cos ULP divergence."""
    import math

    from .geo3d import (
        DECODE,
        GeoStandardCircle,
        RADIANS_PER_DEGREE,
        RADIANS_PER_METER,
        _INV_AB2,
        _INV_C2,
    )

    shape = GeoStandardCircle(
        GEO3D_CENTER[0] * RADIANS_PER_DEGREE,
        GEO3D_CENTER[1] * RADIANS_PER_DEGREE,
        GEO3D_RADIUS_M * RADIANS_PER_METER,
    )
    pl = shape.circle_plane

    def lit(v: float) -> str:
        return f"{v:.17e}"

    ux = "(cos(radians(lat)) * cos(radians(lon)))"
    uy = "(cos(radians(lat)) * sin(radians(lon)))"
    uz = "(sin(radians(lat)))"
    m = (f"(1.0 / sqrt({ux}*{ux}*{lit(_INV_AB2)} + {uy}*{uy}*{lit(_INV_AB2)}"
         f" + {uz}*{uz}*{lit(_INV_C2)}))")

    def q(u: str) -> str:
        return (f"((floor(({u} * {m}) / {lit(DECODE)}) + 0.5)"
                f" * {lit(DECODE)})")

    ev = (f"({lit(pl.a)} * {q(ux)} + {lit(pl.b)} * {q(uy)}"
          f" + {lit(pl.c)} * {q(uz)} + {lit(pl.d)})")
    sig = lit(pl.sig_num)
    return (f"(abs({ev}) < 1e-12 OR "
            f"(CASE WHEN {ev} > 0 THEN 1.0 ELSE -1.0 END) = {sig})")


def spatial_geo3d(spark, sf):
    """Geo3DPoint.newDistanceQuery analog (lucene/spatial3d, pinned
    docid-exact GT round 82): ellipsoidal circle membership as a single
    codegen projection — no UDF, the same expression string replayed by
    the DuckDB oracle."""
    c = _t(spark, sf, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 7919 % 18000) / 100.0 - 90.0).alias("lat"),
        ((F.col("c_custkey") * 104729 % 36000) / 100.0 - 180.0).alias("lon"),
    )
    return (
        c.filter(F.expr(_geo3d_within_sql()))
        .select("c_custkey", F.round("lat", 2).alias("lat"),
                F.round("lon", 2).alias("lon"))
        .orderBy("c_custkey")
        .limit(60)
    )


def _spatial_geo3d_sql() -> str:
    return f"""
WITH pts AS (
  SELECT c_custkey,
         (c_custkey * 7919 % 18000) / 100.0 - 90.0 AS lat,
         (c_custkey * 104729 % 36000) / 100.0 - 180.0 AS lon
  FROM customer
)
SELECT c_custkey, round(lat, 2) AS lat, round(lon, 2) AS lon
FROM pts WHERE {_geo3d_within_sql()}
ORDER BY c_custkey LIMIT 60
"""


#: geo3d corridor demo (GT round 83): a 2-segment path, width 500 km
GEO3D_PATH = ((5.0, -20.0), (12.0, -12.0), (18.0, -2.0))
GEO3D_PATH_WIDTH_M = 500_000.0


def _geo3d_path_within_sql() -> str:
    """GeoStandardPath membership as ONE portable SQL expression: the
    pinned shape's plane coefficients (segment corridors + endpoint
    caps, GT round 83) emitted as literals over the quantized WGS84
    (x, y, z) of the derived coords. Corpus margins from the flip
    thresholds are >= 1.0e-5 at sf0.1 — far above libm divergence."""
    from .geo3d import (
        DECODE,
        GeoStandardPath,
        MINIMUM_RESOLUTION,
        RADIANS_PER_DEGREE,
        RADIANS_PER_METER,
        _INV_AB2,
        _INV_C2,
    )

    shape = GeoStandardPath(
        [(la * RADIANS_PER_DEGREE, lo * RADIANS_PER_DEGREE)
         for la, lo in GEO3D_PATH],
        GEO3D_PATH_WIDTH_M * RADIANS_PER_METER,
    )

    def lit(v: float) -> str:
        return f"{v:.17e}"

    ux = "(cos(radians(lat)) * cos(radians(lon)))"
    uy = "(cos(radians(lat)) * sin(radians(lon)))"
    uz = "(sin(radians(lat)))"
    m = (f"(1.0 / sqrt({ux}*{ux}*{lit(_INV_AB2)} + {uy}*{uy}*{lit(_INV_AB2)}"
         f" + {uz}*{uz}*{lit(_INV_C2)}))")

    def q(u: str) -> str:
        return (f"((floor(({u} * {m}) / {lit(DECODE)}) + 0.5)"
                f" * {lit(DECODE)})")

    qx, qy, qz = q(ux), q(uy), q(uz)

    def plane_ok(pl) -> str:
        ev = (f"({lit(pl.a)} * {qx} + {lit(pl.b)} * {qy}"
              f" + {lit(pl.c)} * {qz} + {lit(pl.d)})")
        return (f"(abs({ev}) < {lit(MINIMUM_RESOLUTION)} OR "
                f"(CASE WHEN {ev} > 0 THEN 1.0 ELSE -1.0 END)"
                f" = {lit(pl.sig_num)})")

    parts = []
    for e in shape.end_points:
        conj = [plane_ok(e.circle_plane)] + [plane_ok(c) for c in e.cutoffs]
        parts.append("(" + " AND ".join(conj) + ")")
    for seg in shape.segments:
        conj = [plane_ok(pl) for pl in
                (seg.start_cut, seg.end_cut, seg.upper, seg.lower)]
        parts.append("(" + " AND ".join(conj) + ")")
    return "(" + " OR ".join(parts) + ")"


def spatial_geo3d_path(spark, sf):
    """Geo3DPoint.newPathQuery analog (GT round 83): corridor membership
    as a single codegen projection — the route-proximity query shape
    (points within W meters of a polyline) with the pinned plane
    arithmetic replayed identically by the DuckDB oracle."""
    c = _t(spark, sf, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 7919 % 18000) / 100.0 - 90.0).alias("lat"),
        ((F.col("c_custkey") * 104729 % 36000) / 100.0 - 180.0).alias("lon"),
    )
    return (
        c.filter(F.expr(_geo3d_path_within_sql()))
        .select("c_custkey", F.round("lat", 2).alias("lat"),
                F.round("lon", 2).alias("lon"))
        .orderBy("c_custkey")
        .limit(70)
    )


def _spatial_geo3d_path_sql() -> str:
    return f"""
WITH pts AS (
  SELECT c_custkey,
         (c_custkey * 7919 % 18000) / 100.0 - 90.0 AS lat,
         (c_custkey * 104729 % 36000) / 100.0 - 180.0 AS lon
  FROM customer
)
SELECT c_custkey, round(lat, 2) AS lat, round(lon, 2) AS lon
FROM pts WHERE {_geo3d_path_within_sql()}
ORDER BY c_custkey LIMIT 70
"""


#: geo3d polygon demo (GT round 86): composite of two disjoint convex
#: rings (clockwise-on-map = small-cap side under fromPolygon's ring
#: reversal + the factory's winding rule)
GEO3D_POLY_RINGS = (
    ((12.0, -25.0), (9.0, -18.0), (3.0, -20.0), (4.0, -27.0)),
    ((30.0, -8.0), (27.0, -2.0), (22.0, -6.0), (24.5, -12.0)),
)


def _geo3d_polygon_within_sql() -> str:
    """GeoCompositePolygon membership as ONE portable SQL expression:
    each convex ring's GeoConvexPolygon edge planes (GT round 86)
    emitted as literals over the quantized WGS84 (x, y, z), ORed across
    rings — the same pinned-plane-literal pattern as the corridor
    leg."""
    from .geo3d import (
        DECODE,
        GeoConvexPolygonMembership,
        MINIMUM_RESOLUTION,
        RADIANS_PER_DEGREE,
        _INV_AB2,
        _INV_C2,
        geo_point,
    )

    def lit(v: float) -> str:
        return f"{v:.17e}"

    ux = "(cos(radians(lat)) * cos(radians(lon)))"
    uy = "(cos(radians(lat)) * sin(radians(lon)))"
    uz = "(sin(radians(lat)))"
    m = (f"(1.0 / sqrt({ux}*{ux}*{lit(_INV_AB2)} + {uy}*{uy}*{lit(_INV_AB2)}"
         f" + {uz}*{uz}*{lit(_INV_C2)}))")

    def q(u: str) -> str:
        return (f"((floor(({u} * {m}) / {lit(DECODE)}) + 0.5)"
                f" * {lit(DECODE)})")

    qx, qy, qz = q(ux), q(uy), q(uz)

    def plane_ok(pl) -> str:
        ev = (f"({lit(pl.a)} * {qx} + {lit(pl.b)} * {qy}"
              f" + {lit(pl.c)} * {qz} + {lit(pl.d)})")
        return (f"(abs({ev}) < {lit(MINIMUM_RESOLUTION)} OR "
                f"(CASE WHEN {ev} > 0 THEN 1.0 ELSE -1.0 END)"
                f" = {lit(pl.sig_num)})")

    parts = []
    for ring in GEO3D_POLY_RINGS:
        shape = GeoConvexPolygonMembership(
            [geo_point(la * RADIANS_PER_DEGREE, lo * RADIANS_PER_DEGREE)
             for la, lo in ring])
        if not shape.convex:
            raise RuntimeError("demo rings must be small-cap side")
        parts.append(
            "(" + " AND ".join(plane_ok(e) for e in shape.edges) + ")")
    return "(" + " OR ".join(parts) + ")"


def spatial_geo3d_polygon(spark, sf):
    """Geo3DPoint.newPolygonQuery analog (GT round 86): composite
    convex-polygon membership as a single codegen projection, oracle
    replaying the identical pinned plane arithmetic."""
    c = _t(spark, sf, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 7919 % 18000) / 100.0 - 90.0).alias("lat"),
        ((F.col("c_custkey") * 104729 % 36000) / 100.0 - 180.0).alias("lon"),
    )
    return (
        c.filter(F.expr(_geo3d_polygon_within_sql()))
        .select("c_custkey", F.round("lat", 2).alias("lat"),
                F.round("lon", 2).alias("lon"))
        .orderBy("c_custkey")
        .limit(70)
    )


def _spatial_geo3d_polygon_sql() -> str:
    return f"""
WITH pts AS (
  SELECT c_custkey,
         (c_custkey * 7919 % 18000) / 100.0 - 90.0 AS lat,
         (c_custkey * 104729 % 36000) / 100.0 - 180.0 AS lon
  FROM customer
)
SELECT c_custkey, round(lat, 2) AS lat, round(lon, 2) AS lon
FROM pts WHERE {_geo3d_polygon_within_sql()}
ORDER BY c_custkey LIMIT 70
"""


def spatial_family(spark, sf):
    """Distance knn + polygon containment + z-order bbox as one union."""
    v1 = spatial_knn(spark, sf).select(
        F.lit("knn").alias("variant"), "c_custkey", "lat", "lon",
        F.col("dist_km").alias("val"),
    )
    v2 = spatial_polygon(spark, sf).select(
        F.lit("polygon").alias("variant"), "c_custkey", "lat", "lon",
        F.lit(0.0).alias("val"),
    )
    v3 = spatial_zorder(spark, sf).select(
        F.lit("zorder").alias("variant"), "c_custkey", "lat", "lon",
        F.col("zcode").cast("double").alias("val"),
    )
    v4 = spatial_geo3d(spark, sf).select(
        F.lit("geo3d").alias("variant"), "c_custkey", "lat", "lon",
        F.lit(0.0).alias("val"),
    )
    v5 = spatial_geo3d_path(spark, sf).select(
        F.lit("geo3d_path").alias("variant"), "c_custkey", "lat", "lon",
        F.lit(0.0).alias("val"),
    )
    v6 = spatial_geo3d_polygon(spark, sf).select(
        F.lit("geo3d_polygon").alias("variant"), "c_custkey", "lat", "lon",
        F.lit(0.0).alias("val"),
    )
    return (v1.unionByName(v2).unionByName(v3).unionByName(v4)
            .unionByName(v5).unionByName(v6)
            .orderBy("variant", "c_custkey"))


#: passage highlighter query + window geometry
HL_TERMS = ["merge", "sort", "vector"]
HL_W = 8  # tokens per passage window


def highlight_snippet(spark, sf):
    """Passage-scoring highlighter (lucene/highlighter
    PostingsHighlighter/UnifiedHighlighter PassageScorer): the document
    is segmented into fixed-W token passages (the reference uses
    BreakIterator sentences; this corpus has no sentence punctuation),
    each passage scores SUM over query-term occurrences of the term's
    BM25 idf (PassageScorer.weight), and the best-scoring passage per
    doc (tie -> earliest) is returned as the snippet. Multi-term,
    density-ranked — r2's single-term regex window is gone.

    The score is a FIXED-ORDER expression over per-term counts
    (c1*idf1 + c2*idf2 + ...) so Spark and the oracle agree bit-for-bit
    on ties. Pure Catalyst: one posexplode + two aggregations."""
    d = _t(spark, sf, "documents")
    n_docs = d.count()
    toks = d.select(
        "doc_id",
        F.posexplode(F.expr("filter(split(text, ' '), x -> x <> '')")).alias("pos", "tk"),
    )
    hits = toks.filter(F.col("tk").isin(HL_TERMS))
    dfs = {
        r["tk"]: r["df"]
        for r in hits.groupBy("tk").agg(F.countDistinct("doc_id").alias("df")).collect()
    }
    import math

    idf = {
        t: math.log(1.0 + (n_docs - dfs.get(t, 0) + 0.5) / (dfs.get(t, 0) + 0.5))
        for t in HL_TERMS
    }
    win = hits.withColumn("win", (F.col("pos") / HL_W).cast("long"))
    counts = win.groupBy("doc_id", "win").agg(
        *[
            F.sum((F.col("tk") == t).cast("long")).alias(f"c{i}")
            for i, t in enumerate(HL_TERMS)
        ]
    )
    score = None
    for i, t in enumerate(HL_TERMS):
        part = F.col(f"c{i}") * F.lit(idf[t])
        score = part if score is None else score + part
    scored = counts.withColumn("pscore", score)
    rn = Window.partitionBy("doc_id").orderBy(
        F.col("pscore").desc(), F.col("win").asc()
    )
    best = scored.withColumn("rn", F.row_number().over(rn)).filter(F.col("rn") == 1)
    return (
        best.join(d, "doc_id")
        .select(
            "doc_id",
            F.round("pscore", 4).alias("pscore"),
            F.array_join(
                F.slice(
                    F.expr("filter(split(text, ' '), x -> x <> '')"),
                    (F.col("win") * HL_W + 1).cast("int"),
                    HL_W,
                ),
                " ",
            ).alias("snippet"),
        )
        .orderBy("doc_id")
    )


def _highlight_sql() -> str:
    terms_in = ",".join(f"'{t}'" for t in HL_TERMS)
    cnt_cols = ",\n         ".join(
        f"sum(CASE WHEN tk = '{t}' THEN 1 ELSE 0 END) AS c{i}"
        for i, t in enumerate(HL_TERMS)
    )
    score_expr = " + ".join(
        f"c{i} * ln(1.0 + (s.n - COALESCE(d{i}.df, 0) + 0.5) / (COALESCE(d{i}.df, 0) + 0.5))"
        for i in range(len(HL_TERMS))
    )
    df_joins = "\n".join(
        f"LEFT JOIN dfs d{i} ON d{i}.tk = '{t}'" for i, t in enumerate(HL_TERMS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents
),
tok AS (
  SELECT doc_id, g.i - 1 AS pos, t[g.i] AS tk
  FROM toks, unnest(generate_series(1, len(t))) AS g(i)
),
s AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
hits AS (SELECT doc_id, pos, tk FROM tok WHERE tk IN ({terms_in})),
dfs AS (SELECT tk, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM hits GROUP BY tk),
counts AS (
  SELECT doc_id, pos // {HL_W} AS win,
         {cnt_cols}
  FROM hits GROUP BY doc_id, pos // {HL_W}
),
scored AS (
  SELECT c.doc_id, c.win, ({score_expr}) AS pscore
  FROM counts c
  {df_joins}
  CROSS JOIN s
),
best AS (
  SELECT doc_id, win, pscore,
         row_number() OVER (PARTITION BY doc_id ORDER BY pscore DESC, win ASC) AS rn
  FROM scored
)
SELECT b.doc_id, round(b.pscore, 4) AS pscore,
       array_to_string(t.t[b.win * {HL_W} + 1 : b.win * {HL_W} + {HL_W}], ' ') AS snippet
FROM best b JOIN toks t USING (doc_id)
WHERE b.rn = 1
ORDER BY b.doc_id
"""


HIGHLIGHT_SQL = _highlight_sql()


def highlight_unified(spark, sf):
    """The REAL PostingsHighlighter chain (search/highlight.py — pinned
    bit-for-bit against the compiled reference in ground-truth round 16)
    over every document: this corpus has no sentence punctuation, so the
    whole document is one passage; the snippet is the formatter's
    <b>term</b>-wrapped text and pscore the passage's float32
    weight*tf*norm score (rounded for cross-engine hashing). One
    zero-shuffle Arrow stage over the stored text."""
    d = _t(spark, sf, "documents").select("doc_id", "text")
    terms = list(HL_TERMS)

    def gen(it):
        import math

        import pandas as pd

        from ..search.highlight import highlight_doc

        for pdf in it:
            snips, scores = [], []
            for t in pdf["text"]:
                s, _sc32 = highlight_doc(t, terms, max_passages=1)
                snips.append(s)
                # the float32 score is pinned vs the binary in the GT
                # test; the HASHED column recomputes it in doubles so
                # both engines land on the same rounded value
                toks = t.split(" ")
                ln = float(len(t))
                sc = 0.0
                any_hit = False
                for q in terms:
                    c = toks.count(q)
                    if c > 0:
                        any_hit = True
                        w = 2.2 * math.log(1 + ((1 + ln / 87.0) + 0.5) / (c + 0.5))
                        tfv = c / (c + 1.2 * (0.25 + 0.75 * (ln / 87.0)))
                        sc += w * tfv
                sc = (1 + 1 / math.log(87.0)) * sc if any_hit else 0.0
                scores.append(round(sc, 4))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "pscore": scores, "snippet": snips}
            )

    return d.mapInPandas(
        gen, "doc_id long, pscore double, snippet string"
    ).orderBy("doc_id")


def highlight_classic(spark, sf):
    """The CLASSIC Highlighter chain (search/classic_highlight.py —
    Highlighter + QueryScorer + SimpleFragmenter + SimpleHTMLFormatter,
    pinned bit-for-bit against the compiled reference in ground-truth
    round 31) over every document: query `merge^2 sort vector^0.5`
    (QueryScorer weights = query boosts), fragment size larger than any
    document so the whole text is ONE fragment whose score is the
    float32 sum of the distinct matched terms' boosts ({2,1,0.5} sums
    are exact in float32, so the double-typed hash column is safe).
    Docs the reference returns NO fragments for (score 0) are emitted
    as pscore 0.0 / snippet '' so the gate row stays full-corpus. One
    zero-shuffle Arrow stage over the stored text."""
    d = _t(spark, sf, "documents").select("doc_id", "text")

    def gen(it):
        import pandas as pd

        from ..search.classic_highlight import best_text_fragments

        for pdf in it:
            snips, scores = [], []
            for t in pdf["text"]:
                frags = best_text_fragments(
                    "merge^2 sort vector^0.5", t,
                    fragment_size=100_000, max_num_fragments=1,
                )
                if frags:
                    snips.append(frags[0][0])
                    scores.append(float(frags[0][1]))
                else:
                    snips.append("")
                    scores.append(0.0)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "pscore": scores, "snippet": snips}
            )

    return d.mapInPandas(
        gen, "doc_id long, pscore double, snippet string"
    ).orderBy("doc_id")


def highlight_fvh(spark, sf):
    """The REAL FastVectorHighlighter chain (search/fvh.py — pinned
    fragment-string + float32-score exact vs the compiled classes in GT
    round 70) over every matching document: query = merge^2 OR sort OR
    "fast sort"^1.5, fragCharSize larger than any document so the one
    fragment is the whole text with every match tagged — phrase matches
    as ONE <b>fast sort</b> span (adjacent positions extend the Toffs),
    consumed phrase tokens never re-tag, standalone `fast` (a phrase
    prefix, not a query term) untouched. pscore = the fragment's
    totalBoost (f32 sum of matched clause boosts — exact in halves).
    One zero-shuffle Arrow stage over the stored text."""
    d = _t(spark, sf, "documents").select("doc_id", "text")

    def gen(it):
        import numpy as np
        import pandas as pd

        from ..search.fvh import fvh_fragments

        flat = [(("merge",), 0, 2.0), (("sort",), 0, 1.0),
                (("fast", "sort"), 0, 1.5)]
        for pdf in it:
            ids, scores, snips = [], [], []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                toks = []
                off = 0
                for pos, w in enumerate(t.split(" ")):
                    toks.append((w, off, off + len(w), pos))
                    off += len(w) + 1
                # simple fraglist: FieldTermStack weights are score-inert
                frags = fvh_fragments(
                    t, toks, flat, doc_count=1, df_of=lambda _t: 0,
                    frag_char_size=100000, max_num=1,
                )
                if not frags:
                    continue
                ids.append(doc_id)
                snips.append(frags[0][0])
                scores.append(float(np.float32(frags[0][1])))
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"),
                 "pscore": pd.Series(scores, dtype="float64"),
                 "snippet": pd.Series(snips, dtype="object")}
            )

    return d.mapInPandas(
        gen, "doc_id long, pscore double, snippet string"
    ).orderBy("doc_id")


def _highlight_fvh_sql() -> str:
    """DuckDB oracle: with one whole-text fragment the chain has a
    closed form — protect phrase matches with a placeholder, tag the
    terms, restore the phrase tag; pscore = 2*merge + 1*standalone-sort
    + 1.5*phrase (counts on the phrase-protected string, so consumed
    tokens never double-count)."""
    return r"""
SELECT doc_id, pscore, snippet FROM (
  SELECT doc_id,
         2.0 * len(regexp_extract_all(s1, '\bmerge\b'))
         + 1.0 * len(regexp_extract_all(s1, '\bsort\b'))
         + 1.5 * (length(s1) - length(replace(s1, chr(1), ''))) AS pscore,
         replace(
           regexp_replace(
             regexp_replace(s1, '\bmerge\b', '<b>merge</b>', 'g'),
             '\bsort\b', '<b>sort</b>', 'g'),
           chr(1), '<b>fast sort</b>') AS snippet
  FROM (
    SELECT doc_id,
           regexp_replace(text, '\bfast sort\b', chr(1), 'g') AS s1
    FROM documents
  )
)
WHERE pscore > 0
ORDER BY doc_id
"""


def highlight_combined(spark, sf):
    """Window-density snippet + the reference PostingsHighlighter chain
    + the classic Highlighter chain as one tagged union (same 50-slot
    consolidation as `facets`)."""
    h1 = highlight_snippet(spark, sf).select(
        F.lit("window").alias("variant"), "doc_id", "pscore", "snippet"
    )
    h2 = highlight_unified(spark, sf).select(
        F.lit("unified").alias("variant"), "doc_id", "pscore", "snippet"
    )
    h3 = highlight_classic(spark, sf).select(
        F.lit("classic").alias("variant"), "doc_id", "pscore", "snippet"
    )
    h4 = highlight_fvh(spark, sf).select(
        F.lit("fvh").alias("variant"), "doc_id", "pscore", "snippet"
    )
    return (h1.unionByName(h2).unionByName(h3).unionByName(h4)
            .orderBy("variant", "doc_id"))


def _highlight_unified_sql() -> str:
    """DuckDB oracle for the unified variant: the whole document is one
    passage (no '. ' in this corpus), so snippet = every query-term
    occurrence wrapped in <b>..</b> (word-boundary regex; tokens are
    space-separated alnum words) and pscore = norm(0) * SUM over present
    terms of weight(len, c) * tf(c, len) with PassageScorer's k1/b/pivot
    (double arithmetic; both engines round to 4 decimals)."""
    pat = "|".join(HL_TERMS)
    term_score = " + ".join(
        f"""CASE WHEN c{i} > 0 THEN
        (1.2 + 1) * ln(1 + ((1 + L / 87.0) + 0.5) / (c{i} + 0.5))
        * c{i} / (c{i} + 1.2 * ((1 - 0.75) + 0.75 * (L / 87.0)))
        ELSE 0 END"""
        for i in range(len(HL_TERMS))
    )
    cnt_aggs = ",\n         ".join(
        f"sum(CASE WHEN tk = '{t}' THEN 1 ELSE 0 END) AS c{i}"
        for i, t in enumerate(HL_TERMS)
    )
    return f"""
SELECT d.doc_id,
       CASE WHEN COALESCE(h.hits, 0) > 0
            THEN round((1 + 1 / ln(87.0)) * ({term_score}), 4)
            ELSE 0.0 END AS pscore,
       regexp_replace(d.text, '\\b({pat})\\b', '<b>\\1</b>', 'g') AS snippet
FROM documents d
LEFT JOIN (
  SELECT doc_id, count(*) AS hits,
         {cnt_aggs}
  FROM (
    SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tk
    FROM documents
  )
  WHERE tk IN ({", ".join(f"'{t}'" for t in HL_TERMS)})
  GROUP BY doc_id
) h USING (doc_id)
JOIN (SELECT doc_id, CAST(length(text) AS DOUBLE) AS L FROM documents) dl
  USING (doc_id)
ORDER BY d.doc_id
"""


def _highlight_classic_sql() -> str:
    """DuckDB oracle for the classic variant: with the whole document as
    one fragment, the chain reduces to wrapping every matched token in
    <B>..</B> (SimpleHTMLFormatter) and scoring the fragment as the sum
    of distinct present terms' boosts (QueryScorer's unique-term sum;
    {2, 1, 0.5} sums are exact in both float32 and double). Recomputed
    independently from the raw text — no shared driver state."""
    boosts = {"merge": 2.0, "sort": 1.0, "vector": 0.5}
    pat = "|".join(boosts)
    score = " + ".join(
        f"""CASE WHEN len(list_filter(string_split(text, ' '),
                x -> x = '{t}')) > 0 THEN {b} ELSE 0 END"""
        for t, b in boosts.items()
    )
    return f"""
SELECT doc_id,
       CASE WHEN ({score}) > 0 THEN ({score}) ELSE 0.0 END AS pscore,
       CASE WHEN ({score}) > 0
            THEN regexp_replace(text, '\\b({pat})\\b', '<B>\\1</B>', 'g')
            ELSE '' END AS snippet
FROM documents
ORDER BY doc_id
"""


HIGHLIGHT_COMBINED_SQL = f"""
SELECT * FROM (
  SELECT 'window' AS variant, doc_id, pscore, snippet FROM ({HIGHLIGHT_SQL})
  UNION ALL
  SELECT 'unified' AS variant, doc_id, pscore, snippet
  FROM ({_highlight_unified_sql()})
  UNION ALL
  SELECT 'classic' AS variant, doc_id, pscore, snippet
  FROM ({_highlight_classic_sql()})
  UNION ALL
  SELECT 'fvh' AS variant, doc_id, pscore, snippet
  FROM ({_highlight_fvh_sql()})
) ORDER BY variant, doc_id
"""


def gather_nodes(spark, sf):
    """GatherNodesStream (solrj/io/graph/GatherNodesStream.java:54): expand
    from root nodes across edges, aggregating at each hop — roots are
    BUILDING-segment customers, hop 1 their orders, hop 2 the priorities
    reached, with the count of distinct roots reaching each."""
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("c_custkey").alias("n_roots"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


GATHER_NODES_SQL = """
SELECT o_orderpriority,
       count(DISTINCT c_custkey) AS n_roots,
       count(DISTINCT o_orderkey) AS n_orders
FROM customer JOIN orders ON c_custkey = o_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def json_facet_aggs(spark, sf):
    """JSON Facet API (solr/core/.../search/facet/FacetRequest.java,
    reference test TestJsonFacets.java) as a tagged union of four
    request shapes (r3 VERDICT #6 adds the nested/domain variants):

    - metrics: bucket metrics — unique (UniqueAgg) + percentile
      (PercentileAgg) per o_orderpriority bucket; exact here (count
      distinct + interpolated percentile).
    - subfacet: facet-within-facet — per priority bucket, the nested
      o_orderstatus sub-buckets sorted count DESC (FacetField's default
      sort, label ASC tiebreak) limited to 2 per parent, each carrying
      its own sum metric. One groupBy + one per-parent window rank.
    - exclude_tags: multi-select faceting — the main query ANDs a
      TAGGED status filter (o_orderstatus = 'O', tag=st) with an
      untagged price filter; the status facet's domain excludes its own
      tag (FacetRequest domain excludeTags), so its buckets count over
      the price filter only while other facets would keep both.
    - block_children: domain switch to child documents
      (domain blockChildren, FacetProcessor block-join domain) —
      parents = URGENT orders over 150k, domain flips to their lineitem
      children bucketed by l_returnflag with count + sum(l_quantity).
      At scale this is the orderkey-copartitioned parent/child join,
      never a broadcast of the corpus-sized child side."""
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    v1 = (
        o.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("unique_custs"),
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        )
        .select(
            F.lit("metrics").alias("variant"),
            F.col("o_orderpriority").alias("bucket"),
            F.lit("").alias("sub_bucket"),
            F.col("unique_custs").cast("double").alias("v1"),
            F.col("p50").alias("v2"),
            F.col("p90").alias("v3"),
        )
    )
    sub = (
        o.groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count("*").alias("cnt"),
             F.round(F.sum("o_totalprice"), 2).alias("sump"))
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("cnt").desc(), F.col("o_orderstatus").asc())
    v2 = (
        sub.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .select(
            F.lit("subfacet").alias("variant"),
            F.col("o_orderpriority").alias("bucket"),
            F.col("o_orderstatus").alias("sub_bucket"),
            F.col("cnt").cast("double").alias("v1"),
            F.col("sump").alias("v2"),
            F.col("rk").cast("double").alias("v3"),
        )
    )
    # main query: {!tag=st}o_orderstatus:'O' AND o_totalprice > 100000;
    # the status facet's domain drops ONLY the tagged filter
    v3 = (
        o.filter(F.col("o_totalprice") > 100000.0)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.lit("exclude_tags").alias("variant"),
            F.col("o_orderstatus").alias("bucket"),
            F.lit("").alias("sub_bucket"),
            F.col("cnt").cast("double").alias("v1"),
            F.lit(0.0).alias("v2"),
            F.lit(0.0).alias("v3"),
        )
    )
    par = o.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 150000.0)
    ).select("o_orderkey")
    v4 = (
        li.join(par, li["l_orderkey"] == par["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("cnt"),
             F.round(F.sum("l_quantity"), 2).alias("sumq"))
        .select(
            F.lit("block_children").alias("variant"),
            F.col("l_returnflag").alias("bucket"),
            F.lit("").alias("sub_bucket"),
            F.col("cnt").cast("double").alias("v1"),
            F.col("sumq").alias("v2"),
            F.lit(0.0).alias("v3"),
        )
    )
    return (v1.unionByName(v2).unionByName(v3).unionByName(v4)
            .orderBy("variant", "bucket", "sub_bucket"))


JSON_FACET_AGGS_SQL = """
SELECT * FROM (
  SELECT 'metrics' AS variant, o_orderpriority AS bucket, '' AS sub_bucket,
         CAST(count(DISTINCT o_custkey) AS DOUBLE) AS v1,
         round(quantile_cont(o_totalprice, 0.5), 4) AS v2,
         round(quantile_cont(o_totalprice, 0.9), 4) AS v3
  FROM orders GROUP BY o_orderpriority
  UNION ALL
  SELECT 'subfacet', bucket, sub_bucket, CAST(cnt AS DOUBLE),
         sump, CAST(rk AS DOUBLE)
  FROM (
    SELECT o_orderpriority AS bucket, o_orderstatus AS sub_bucket,
           count(*) AS cnt, round(sum(o_totalprice), 2) AS sump,
           row_number() OVER (
             PARTITION BY o_orderpriority
             ORDER BY count(*) DESC, o_orderstatus ASC) AS rk
    FROM orders GROUP BY o_orderpriority, o_orderstatus
  ) WHERE rk <= 2
  UNION ALL
  SELECT 'exclude_tags', o_orderstatus, '', CAST(count(*) AS DOUBLE),
         0.0, 0.0
  FROM orders WHERE o_totalprice > 100000
  GROUP BY o_orderstatus
  UNION ALL
  SELECT 'block_children', l_returnflag, '', CAST(count(*) AS DOUBLE),
         round(sum(l_quantity), 2), 0.0
  FROM lineitem
  JOIN (SELECT o_orderkey FROM orders
        WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000) p
    ON l_orderkey = p.o_orderkey
  GROUP BY l_returnflag
) ORDER BY variant, bucket, sub_bucket
"""


def function_query(spark, sf):
    """Function queries / ValueSources (lucene/queries/.../function/
    valuesource/, 46 files: TFValueSource, IDFValueSource, SumFloatFunction,
    ...): rank docs by a custom per-doc expression combining index stats —
    score = sqrt(tf('vector')) * ln(N/df('vector')) * (1 + n_chars/1000).
    tf comes from the pruned posting lists, N from corpus_stats, df from
    the pruned term_stats scan (both already driver-cached constants) —
    no corpus re-tokenization and no eager full-table counts."""
    from .index_access import searcher_for

    s = searcher_for(spark, sf)
    n = float(s.doc_count)
    df_ = float(s.term_weights(["vector"])["vector"]["df"])
    if df_ == 0:
        return spark.createDataFrame([], "doc_id long, fscore double")
    tf = (
        _posting_docs(spark, sf, ["vector"])
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("tf"))
    )
    d = _t(spark, sf, "documents")
    return (
        tf.join(d.select("doc_id", "n_chars"), "doc_id")
        .select(
            "doc_id",
            F.round(
                F.sqrt(F.col("tf").cast("double"))
                * F.log(F.lit(n) / F.lit(df_))
                * (F.lit(1.0) + F.col("n_chars") / F.lit(1000.0)),
                6,
            ).alias("fscore"),
        )
        .orderBy(F.col("fscore").desc(), F.col("doc_id").asc())
        .limit(20)
    )


FUNCTION_QUERY_SQL = """
WITH tf AS (
  SELECT doc_id, CAST(count(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  WHERE term = 'vector' GROUP BY doc_id
),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
dfv AS (SELECT CAST(count(*) AS DOUBLE) AS df FROM tf)
SELECT tf.doc_id,
       round(sqrt(tf.tf) * ln(n.n / dfv.df) * (1 + d.n_chars / 1000.0), 6) AS fscore
FROM tf JOIN documents d USING (doc_id) CROSS JOIN n CROSS JOIN dfv
ORDER BY fscore DESC, tf.doc_id ASC LIMIT 20
"""


def custom_score_query(spark, sf):
    """CustomScoreQuery (lucene/queries/src/java/org/apache/lucene/queries/
    CustomScoreQuery.java, CustomScoreProvider.customScore: subquery score
    MULTIPLIED by the ValueSource, vs QueryRescorer's additive combine):
    top-50 BM25 candidates for 'merge sort', each rescored by
    score * (1 + n_chars/1000), re-ranked, top 20. Rank-only output (the
    engine multiplies an f32 BM25 score; the oracle replays in f64 —
    ranks are the contract, like every bm25 gate entry). The candidate
    set bounds the documents join to 50 rows (broadcast)."""
    from .index_access import searcher_for

    s = searcher_for(spark, sf)
    first = s.topk("merge sort", k=50).select("doc_id", "score")
    d = _t(spark, sf, "documents").select("doc_id", "n_chars")
    w = Window.orderBy(
        (F.col("score") * (F.lit(1.0) + F.col("n_chars") / F.lit(1000.0))).desc(),
        F.col("doc_id").asc(),
    )
    return (
        F.broadcast(first)
        .join(d, "doc_id")
        .withColumn("crank", F.row_number().over(w).cast("int"))
        .filter(F.col("crank") <= 20)
        .select("doc_id", "crank")
        .orderBy("crank")
    )


#: Solr recency boost (`{!boost b=recip(ms(NOW,date),3.16e-11,1,1)}` —
#: the boost function documented in Solr's FunctionQParser/date-boost
#: guide): NOW is frozen to a documented constant and each document gets
#: a deterministic synthetic timestamp (the corpus has no date column;
#: same derivation pattern as the spatial coordinates), both replayed
#: verbatim by the oracle.
RECENCY_NOW_MS = 1_500_000_000_000  # 2017-07-14T02:40:00Z, fixed
RECENCY_BASE_MS = 946_684_800_000  # 2000-01-01T00:00:00Z
RECENCY_M = 3.16e-11  # ~1/ms-per-year: score halves each year of age


def recency_boost_query(spark, sf):
    """Solr date-recency boosting: organic BM25 top-50 for 'merge sort',
    each multiplied by recip(ms(NOW,doc_date),3.16e-11,1,1) =
    1/(m*age_ms+1), re-ranked, top 20. doc_date is the deterministic
    synthetic timestamp BASE + doc_id days. Rank-only (f32 BM25 times an
    f64 boost; ranks are the contract). Candidate-bounded like
    custom_score_query: the boost join touches 50 rows, never the corpus."""
    from .index_access import searcher_for

    s = searcher_for(spark, sf)
    first = s.topk("merge sort", k=50).select("doc_id", "score")
    age_ms = F.lit(float(RECENCY_NOW_MS)) - (
        F.lit(float(RECENCY_BASE_MS)) + F.col("doc_id").cast("double") * 86400000.0
    )
    boost = F.lit(1.0) / (F.lit(RECENCY_M) * age_ms + F.lit(1.0))
    w = Window.orderBy((F.col("score") * boost).desc(), F.col("doc_id").asc())
    return (
        first.withColumn("rrank", F.row_number().over(w).cast("int"))
        .filter(F.col("rrank") <= 20)
        .select("doc_id", "rrank")
        .orderBy("rrank")
    )


#: the gate's expression-language sort source (lucene/expressions):
#: exercises functions, ?: with its d2i truthiness, %, & on longs, and
#: min/floor — all exact IEEE ops, so Spark and DuckDB agree bit-for-bit
EXPRESSION_SORT_SRC = (
    "sqrt(n_chars) + ((n_chars % 7) < 3 ? 2.5 : 0.25) * abs(n_chars - 60)"
    " + (doc_id & 0xF) - min(n_chars / 8, floor(doc_id / 100))"
)


def expression_sort_query(spark, sf):
    """ExpressionSortField / ExpressionValueSource (lucene/expressions/
    ExpressionSortField.java, SimpleBindings.java): rank documents by a
    COMPILED JavaScript-language expression over bound per-doc values.
    The expression compiles to one Catalyst Column (whole-stage codegen,
    no UDF) via search/expressions.py — the Spark analog of
    JavascriptCompiler's bytecode — and the oracle SQL is compiled from
    the SAME parse tree for DuckDB."""
    from lucene_solr_spark.search.expressions import (
        parse_expression,
        to_spark_column,
    )

    node = parse_expression(EXPRESSION_SORT_SRC)
    d = _t(spark, sf, "documents")
    col = to_spark_column(
        node,
        {"n_chars": F.col("n_chars"), "doc_id": F.col("doc_id")},
    )
    return (
        d.select("doc_id", col.alias("escore"))
        .orderBy(F.col("escore").desc(), F.col("doc_id").asc())
        .limit(20)
    )


def _expression_sort_sql() -> str:
    from lucene_solr_spark.search.expressions import (
        parse_expression,
        to_duckdb_sql,
    )

    expr = to_duckdb_sql(
        parse_expression(EXPRESSION_SORT_SRC),
        {"n_chars": "n_chars", "doc_id": "doc_id"},
    )
    return (
        f"SELECT doc_id, {expr} AS escore FROM documents "
        "ORDER BY escore DESC, doc_id ASC LIMIT 20"
    )


_FRANGE_L, _FRANGE_U = 1.0, 2.5


def frange_query(spark, sf):
    """Solr's {!frange} — FunctionRangeQuery (solr/core/src/java/org/
    apache/solr/search/FunctionRangeQuery.java + function/
    ValueSourceRangeFilter.java): a CONSTANT-SCORE query matching docs
    whose ValueSource value lies in [l, u] (includeLower/includeUpper
    default true). The value source here is function_query's expression;
    matches return score 1.0 (SolrConstantScoreQuery), doc order. The
    range predicate runs inside the same single-pass projection that
    computes the expression — as a PostFilter it adds no extra scan."""
    from .index_access import searcher_for

    s = searcher_for(spark, sf)
    n = float(s.doc_count)
    df_ = float(s.term_weights(["vector"])["vector"]["df"])
    if df_ == 0:
        return spark.createDataFrame([], "doc_id long, fval double")
    tf = (
        _posting_docs(spark, sf, ["vector"])
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("tf"))
    )
    d = _t(spark, sf, "documents")
    fscore = (
        F.sqrt(F.col("tf").cast("double"))
        * F.log(F.lit(n) / F.lit(df_))
        * (F.lit(1.0) + F.col("n_chars") / F.lit(1000.0))
    )
    return (
        tf.join(d.select("doc_id", "n_chars"), "doc_id")
        .select("doc_id", F.round(fscore, 6).alias("fv"))
        .filter((F.col("fv") >= _FRANGE_L) & (F.col("fv") <= _FRANGE_U))
        .select("doc_id", F.lit(1.0).alias("fval"))
        .orderBy("doc_id")
    )


FRANGE_QUERY_SQL = f"""
WITH tf AS (
  SELECT doc_id, CAST(count(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  WHERE term = 'vector' GROUP BY doc_id
),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
dfv AS (SELECT CAST(count(*) AS DOUBLE) AS df FROM tf)
SELECT doc_id, 1.0 AS fval FROM (
  SELECT tf.doc_id,
         round(sqrt(tf.tf) * ln(n.n / dfv.df) * (1 + d.n_chars / 1000.0), 6) AS fv
  FROM tf JOIN documents d USING (doc_id) CROSS JOIN n CROSS JOIN dfv
) WHERE fv >= {_FRANGE_L} AND fv <= {_FRANGE_U}
ORDER BY doc_id
"""


STRDIST_TARGET = "bold"
#: shared vocabulary for the strdist literal value table: the synthetic
#: corpus's p_name first words plus the classic TPC-H color list (the
#: generator draws from a closed set, so both engines embed the same
#: pinned values; an out-of-vocabulary word would surface as a parity
#: mismatch — the alarm we want)
STRDIST_VOCAB = sorted({
    "cold", "new", "red", "hot", "old", "large", "blue", "small",
    "almond", "antique", "aquamarine", "azure", "beige", "bisque",
    "black", "blanched", "blush", "brown", "burlywood", "burnished",
    "chartreuse", "chiffon", "chocolate", "coral", "cornflower",
    "cornsilk", "cream", "cyan", "dark", "deep", "dim", "dodger", "drab",
    "firebrick", "floral", "forest", "frosted", "gainsboro", "ghost",
    "goldenrod", "green", "grey", "honeydew", "indian", "ivory", "khaki",
    "lace", "lavender", "lawn", "lemon", "light", "lime", "linen",
    "magenta", "maroon", "medium", "metallic", "midnight", "mint",
    "misty", "moccasin", "navajo", "navy", "olive", "orange", "orchid",
    "pale", "papaya", "peach", "peru", "pink", "plum", "powder", "puff",
    "purple", "rose", "rosy", "royal", "saddle", "salmon", "sandy",
    "seashell", "sienna", "sky", "slate", "smoke", "snow", "spring",
    "steel", "tan", "thistle", "tomato", "turquoise", "violet", "wheat",
    "white", "yellow",
})


def strdist_query(spark, sf):
    """Solr strdist() function query (solr ValueSourceParser's strdist ->
    the spell StringDistance family, pinned bit-for-bit in GT round 81,
    search/strdist.py): JaroWinkler similarity of each distinct first
    p_name word to 'bold', >= 0.5.

    Scale shape (r3 VERDICT #1): the candidate set is derived from the
    CLOSED literal vocabulary (STRDIST_VOCAB — query-side metadata, zero
    data scan), its pinned float values broadcast as an isin + literal
    map joined against the corpus words distributed. The corpus
    dictionary is never collected. The out-of-vocabulary alarm the old
    driver-side scan provided is kept — strengthened, even — as a
    distributed anti-join count (one scalar to the driver): ANY corpus
    first-word outside the closed vocabulary trips it, not just the
    jw >= 0.5 ones."""
    from ..search.strdist import jaro_winkler

    p = _t(spark, sf, "part")
    words = p.select(
        F.element_at(F.split(F.col("p_name"), " "), 1).alias("w"))
    oov = words.filter(~F.col("w").isin(STRDIST_VOCAB)).limit(1).count()
    if oov != 0:
        raise RuntimeError(
            "corpus p_name first-word outside the pinned STRDIST_VOCAB: the "
            "literal value table no longer covers the dictionary")
    keep = {
        w: float(jaro_winkler(STRDIST_TARGET, w))
        for w in STRDIST_VOCAB
        if jaro_winkler(STRDIST_TARGET, w) >= 0.5
    }
    if not keep:
        return words.select(
            F.col("w"), F.lit(0.0).cast("float").alias("jw")).limit(0)
    mapping = F.create_map(*[F.lit(x) for w, v in keep.items()
                             for x in (w, v)])
    return (
        words.filter(F.col("w").isin(list(keep)))
        .distinct()
        .select("w", mapping[F.col("w")].cast("float").alias("jw"))
        .orderBy(F.col("jw").desc(), F.col("w"))
    )


def _strdist_query_sql() -> str:
    """DuckDB replay: the same pinned driver-side values as a literal
    VALUES table over the shared closed vocabulary."""
    from ..search.strdist import jaro_winkler

    rows = []
    for w in STRDIST_VOCAB:
        v = float(jaro_winkler(STRDIST_TARGET, w))
        if v >= 0.5:
            rows.append(f"(\'{w}\', CAST(CAST({v!r} AS DOUBLE) AS REAL))")
    values = ",\n       ".join(rows)
    return f"""
SELECT w, jw FROM (
  SELECT DISTINCT string_split(p_name, \' \')[1] AS w FROM part
) words
JOIN (VALUES {values}) AS jwv(w2, jw) ON words.w = jwv.w2
ORDER BY jw DESC, w
"""


def function_query_combined(spark, sf):
    """ValueSource function query + CustomScoreQuery + Solr recency boost
    + the expressions module as one tagged union (same 50-row-gate
    consolidation as `facets`). The valuesource variant's val is the
    exact f64 fscore, expression's the exact f64 compiled-expression
    value; custom_score and recency_boost carry their RANK (scores mix
    f32 and f64 — see custom_score_query)."""
    v1 = function_query(spark, sf).select(
        F.lit("valuesource").alias("variant"), "doc_id", F.col("fscore").alias("val")
    )
    v2 = custom_score_query(spark, sf).select(
        F.lit("custom_score").alias("variant"), "doc_id", F.col("crank").cast("double").alias("val")
    )
    v3 = recency_boost_query(spark, sf).select(
        F.lit("recency_boost").alias("variant"), "doc_id", F.col("rrank").cast("double").alias("val")
    )
    v4 = expression_sort_query(spark, sf).select(
        F.lit("expression").alias("variant"), "doc_id",
        F.col("escore").alias("val"),
    )
    v5 = frange_query(spark, sf).select(
        F.lit("frange").alias("variant"), "doc_id",
        F.col("fval").alias("val"),
    )
    # strdist rows are keyed by word, not doc; reuse the (variant, key,
    # val) shape with the word hashed into the doc_id slot's role via a
    # dense rank — simpler: carry the word's jw as val and a stable
    # surrogate id (the row's position in the jw DESC, w ASC order)
    sd = strdist_query(spark, sf)
    w6 = Window.orderBy(F.col("jw").desc(), F.col("w").asc())
    v6 = sd.select(
        F.lit("strdist").alias("variant"),
        (F.row_number().over(w6)).cast("long").alias("doc_id"),
        F.col("jw").cast("double").alias("val"),
    )
    return (
        v1.unionByName(v2).unionByName(v3).unionByName(v4).unionByName(v5)
        .unionByName(v6)
        .orderBy("variant", F.col("val").desc(), "doc_id")
    )


def _function_query_combined_sql() -> str:
    from .bm25_sql import custom_score_sql, recency_boost_sql

    recency = recency_boost_sql(
        "merge sort", RECENCY_NOW_MS, RECENCY_BASE_MS, RECENCY_M,
        first_n=50, k=20,
    )
    return f"""
SELECT * FROM (
  SELECT 'valuesource' AS variant, doc_id, fscore AS val FROM ({FUNCTION_QUERY_SQL})
  UNION ALL
  SELECT 'custom_score', doc_id, CAST(crank AS DOUBLE) FROM ({custom_score_sql("merge sort", first_n=50, k=20)})
  UNION ALL
  SELECT 'recency_boost', doc_id, CAST(rrank AS DOUBLE) FROM ({recency})
  UNION ALL
  SELECT 'expression', doc_id, escore FROM ({_expression_sort_sql()})
  UNION ALL
  SELECT 'frange', doc_id, fval FROM ({FRANGE_QUERY_SQL})
  UNION ALL
  SELECT 'strdist',
         CAST(row_number() OVER (ORDER BY jw DESC, w ASC) AS BIGINT),
         CAST(jw AS DOUBLE)
  FROM ({_strdist_query_sql()})
) ORDER BY variant, val DESC, doc_id
"""


# ------------------------------------------- block join (parent/child)

def block_join_parent(spark, sf):
    """ToParentBlockJoinQuery (lucene/join/src/java/org/apache/lucene/
    search/join/ToParentBlockJoinQuery.java; ScoreMode None/Max/Total/
    Avg in BlockJoinScorer.score): score child hits (lineitem rows
    matching the child query), aggregate to the parent (orders) per
    ScoreMode, return ranked parents with their matched-child counts.

    The reference co-locates each parent block with its children at
    index time (addDocuments block indexing) so the rollup is a
    per-block walk; the TPC-H layout keys children by l_orderkey
    instead, so here it is one child-side shuffle + an orderkey join —
    with doc-block (bucketed-by-parent) layout this collapses to a
    zero-shuffle mapPartitions. All four score modes ship as a tagged
    union."""
    li = _t(spark, sf, "lineitem").filter(F.col("l_quantity") >= 45)
    ch = li.select(
        "l_orderkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("cs"),
    )
    agg = ch.groupBy("l_orderkey").agg(
        F.max("cs").alias("mx"),
        F.min("cs").alias("mn"),
        F.sum("cs").alias("tot"),
        F.avg("cs").alias("av"),
        F.count(F.lit(1)).alias("n_children"),
    )
    parents = _t(spark, sf, "orders").select("o_orderkey", "o_orderstatus")
    j = agg.join(parents, agg["l_orderkey"] == parents["o_orderkey"])
    out = None
    for mode, col in [("avg", "av"), ("max", "mx"), ("min", "mn"),
                      ("none", None), ("total", "tot")]:
        score = F.round(F.col(col), 2) if col else F.lit(0.0)
        order = (
            [F.col(col).desc(), F.col("o_orderkey").asc()]
            if col
            else [F.col("o_orderkey").asc()]
        )
        q = (
            j.orderBy(*order)
            .limit(10)
            .select(
                F.lit(mode).alias("score_mode"),
                "o_orderkey",
                "o_orderstatus",
                score.alias("score"),
                "n_children",
            )
        )
        out = q if out is None else out.unionByName(q)
    # ToChildBlockJoinQuery (join/ToChildBlockJoinQuery.java): the inverse
    # direction — a PARENT query's score propagates to every child in the
    # block. Parent score here = a deterministic function score; children
    # of the 10 best parents ride out with it. In the union's shared
    # schema the n_children column carries l_linenumber (the child's
    # ordinal inside its block) for this variant.
    p10 = (
        _t(spark, sf, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select(
            "o_orderkey", "o_orderstatus",
            F.round(F.col("o_totalprice") / 1000.0, 2).alias("pscore"),
        )
        .orderBy(F.col("pscore").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )
    children = _t(spark, sf, "lineitem").select("l_orderkey", "l_linenumber")
    to_child = (
        children.join(F.broadcast(p10), children["l_orderkey"] == p10["o_orderkey"])
        .select(
            F.lit("to_child").alias("score_mode"),
            "o_orderkey",
            "o_orderstatus",
            F.col("pscore").alias("score"),
            F.col("l_linenumber").cast("long").alias("n_children"),
        )
    )
    return out.unionByName(to_child).orderBy(
        "score_mode", F.col("score").desc(), "o_orderkey", "n_children"
    )


BLOCK_JOIN_PARENT_SQL = """
WITH agg AS (
  SELECT l_orderkey,
         max(l_extendedprice * (1 - l_discount)) AS mx,
         min(l_extendedprice * (1 - l_discount)) AS mn,
         sum(l_extendedprice * (1 - l_discount)) AS tot,
         avg(l_extendedprice * (1 - l_discount)) AS av,
         count(*) AS n_children
  FROM lineitem WHERE l_quantity >= 45 GROUP BY l_orderkey
),
j AS (
  SELECT o.o_orderkey, o.o_orderstatus, a.mx, a.mn, a.tot, a.av, a.n_children
  FROM agg a JOIN orders o ON a.l_orderkey = o.o_orderkey
),
u AS (
  SELECT * FROM (
    SELECT 'avg' AS score_mode, o_orderkey, o_orderstatus,
           round(av, 2) AS score, n_children
    FROM j ORDER BY av DESC, o_orderkey ASC LIMIT 10)
  UNION ALL
  SELECT * FROM (
    SELECT 'max', o_orderkey, o_orderstatus, round(mx, 2), n_children
    FROM j ORDER BY mx DESC, o_orderkey ASC LIMIT 10)
  UNION ALL
  SELECT * FROM (
    SELECT 'min', o_orderkey, o_orderstatus, round(mn, 2), n_children
    FROM j ORDER BY mn DESC, o_orderkey ASC LIMIT 10)
  UNION ALL
  SELECT * FROM (
    SELECT 'none', o_orderkey, o_orderstatus, 0.0, n_children
    FROM j ORDER BY o_orderkey ASC LIMIT 10)
  UNION ALL
  SELECT * FROM (
    SELECT 'total', o_orderkey, o_orderstatus, round(tot, 2), n_children
    FROM j ORDER BY tot DESC, o_orderkey ASC LIMIT 10)
  UNION ALL
  SELECT 'to_child', p.o_orderkey, p.o_orderstatus, p.pscore,
         CAST(c.l_linenumber AS BIGINT)
  FROM (
    SELECT o_orderkey, o_orderstatus, round(o_totalprice / 1000.0, 2) AS pscore
    FROM orders WHERE o_totalprice > 300000
    ORDER BY pscore DESC, o_orderkey ASC LIMIT 10
  ) p JOIN lineitem c ON c.l_orderkey = p.o_orderkey
)
SELECT * FROM u ORDER BY score_mode, score DESC, o_orderkey, n_children
"""


# --------------------------------- PointInSetQuery / FieldValueQuery

def point_set_field_value(spark, sf):
    """PointInSetQuery (search/PointInSetQuery.java: BKD point field in a
    sorted value set == isin over the points column, pushed to the scan)
    + FieldValueQuery (search/FieldValueQuery.java: match docs that HAVE
    a value for a field == isNotNull over doc values). The corpus has no
    native nulls, so the FieldValue demo first derives a sparse numeric
    field (value > 90 else null) and then filters on existence — the
    operator under test is the isNotNull plan. Tagged union."""
    part = _t(spark, sf, "part")
    pis = (
        part.filter(F.col("p_size").isin(5, 15, 25))
        .groupBy(F.col("p_size").cast("string").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("point_in_set").alias("variant"), "key", "n")
    )
    ev = _t(spark, sf, "events").withColumn(
        "big_value", F.when(F.col("value") > 90, F.col("value"))
    )
    fv = (
        ev.filter(F.col("big_value").isNotNull())
        .groupBy(F.col("event_type").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("field_value").alias("variant"), "key", "n")
    )
    # sandbox DocValuesRangeQuery (GT round 78): per-bound inclusivity
    # over a numeric column ({lo TO hi] here) and a BytesRef range over
    # a string column — both sargable BETWEEN-style scan filters
    dvn = (
        part.filter((F.col("p_size") > 10) & (F.col("p_size") <= 20))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("dv_long_range").alias("variant"),
                F.lit("(10 TO 20]").alias("key"), "n")
    )
    dvb = (
        part.filter((F.col("p_brand") >= "Brand#2")
                    & (F.col("p_brand") < "Brand#4"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("dv_bytes_range").alias("variant"),
                F.lit("[Brand#2 TO Brand#4)").alias("key"), "n")
    )
    return (
        pis.unionByName(fv).unionByName(dvn).unionByName(dvb)
        .orderBy("variant", "key")
    )


POINT_SET_FIELD_VALUE_SQL = """
SELECT * FROM (
SELECT 'point_in_set' AS variant, CAST(p_size AS VARCHAR) AS key, count(*) AS n
FROM part WHERE p_size IN (5, 15, 25) GROUP BY p_size
UNION ALL
SELECT 'field_value', event_type, count(*)
FROM (SELECT event_type, CASE WHEN value > 90 THEN value END AS big_value
      FROM events)
WHERE big_value IS NOT NULL GROUP BY event_type
UNION ALL
SELECT 'dv_long_range', '(10 TO 20]', count(*)
FROM part WHERE p_size > 10 AND p_size <= 20
UNION ALL
SELECT 'dv_bytes_range', '[Brand#2 TO Brand#4)', count(*)
FROM part WHERE p_brand >= 'Brand#2' AND p_brand < 'Brand#4'
) ORDER BY variant, key
"""


# SQLHandler (solr/core/.../handler/SQLHandler.java:80-130): the reference
# parses SQL with Presto and compiles to streaming expressions; here the
# layer IS spark.sql — the SAME ANSI string runs on Spark and the DuckDB
# oracle (TPC-H-Q1 shape: filter + group + agg + order).
SQL_HANDLER_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def sql_handler_q1(spark, sf):
    _t(spark, sf, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(SQL_HANDLER_Q1)


# ------------------------------------------------------------ JDBC stream

_DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def jdbc_load(spark, sf, db_dir: str, table: str = "nation") -> str:
    """Load one corpus table into an embedded Apache Derby database and
    return its JDBC URL. Derby ships inside Spark's JVM, so the demo needs
    no external RDBMS; `jdbc_stream` below is generic over any URL/driver."""
    url = f"jdbc:derby:{db_dir};create=true"
    _t(spark, sf, table).write.jdbc(
        url, table, mode="overwrite", properties={"driver": _DERBY_DRIVER}
    )
    return url


def jdbc_stream(
    spark,
    url: str,
    table: str,
    *,
    driver: str = _DERBY_DRIVER,
    partition_column: str | None = None,
    num_partitions: int = 4,
    bounds: tuple | None = None,
) -> DataFrame:
    """JDBCStream (solr/solrj/src/java/org/apache/solr/client/solrj/io/stream/
    JDBCStream.java:75 — pulls an external RDBMS ResultSet into the
    streaming API) == `spark.read.jdbc`. Scale path: when a numeric
    `partition_column` + bounds are given, Spark issues `num_partitions`
    range-predicated queries in parallel (one per executor slot) instead of
    a single-connection scan; filters and projections are pushed into the
    remote SQL by the JDBC source (visible as PushedFilters in the plan)."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
    )
    if partition_column is not None:
        lo, hi = bounds
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lo))
            .option("upperBound", str(hi))
            .option("numPartitions", str(num_partitions))
        )
    return reader.load()


# `facets` and `multiterm_query` are tagged unions of three unchanged
# plans each — consolidation that keeps every operator family inside the
# driver's 50-row CORRECTNESS cap (the individual fns remain public API).
#: the synthetic documents table's CLOSED token vocabulary (corpus.py
#: generator draws from a fixed set; same 31 words at every SF). Like
#: STRDIST_VOCAB: literal query-side metadata, with a distributed
#: out-of-vocabulary alarm so generator drift fails loudly.
SNOWBALL_DOC_VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
)


def _snowball_stem_rows() -> list[tuple[str, str, str]]:
    """(lang, word, stem) across the Snowball family — values derived
    from the closed literal vocabulary through the GT-pinned stemmers
    (analysis/snowball_*.py, GT rounds 56/65/85): driver-side literal
    work, zero data scan, identical in engine and oracle."""
    from ..analysis.snowball_de import german2_stem
    from ..analysis.snowball_en import porter2_stem
    from ..analysis.snowball_es import spanish_stem
    from ..analysis.snowball_fr import french_stem
    from ..analysis.snowball_it import italian_stem
    from ..analysis.snowball_nl import dutch_stem
    from ..analysis.french_light import french_light_stem
    from ..analysis.german_light import german_light_stem, german_normalize
    from ..analysis.italian_light import italian_light_stem
    from ..analysis.czech_light import czech_stem
    from ..analysis.portuguese_light import portuguese_light_stem
    from ..analysis.spanish_light import spanish_light_stem
    from ..analysis.snowball_pt import portuguese_stem
    from ..analysis.snowball_scand import (
        danish_stem,
        norwegian_stem,
        swedish_stem,
    )

    langs = {
        "english": porter2_stem, "german2": german2_stem,
        "french": french_stem, "spanish": spanish_stem,
        "italian": italian_stem, "dutch": dutch_stem,
        "portuguese": portuguese_stem, "norwegian": norwegian_stem,
        "danish": danish_stem, "swedish": swedish_stem,
        "french_light": french_light_stem,
        "german_light": lambda w: german_light_stem(german_normalize(w)),
        "italian_light": italian_light_stem,
        "spanish_light": spanish_light_stem,
        "portuguese_light": portuguese_light_stem,
        "czech_light": czech_stem,
    }
    # r5: the remaining Snowball family (fi/hu/ro/tr + ca/eu/ga/hy),
    # each fuzz-pinned vs the compiled org.tartarus machines
    from ..analysis.snowball_fi import finnish_stem
    from ..analysis.snowball_hu import hungarian_stem
    from ..analysis.snowball_misc import (
        armenian_stem,
        basque_stem,
        catalan_stem,
        irish_stem,
    )
    from ..analysis.snowball_ro import romanian_stem
    from ..analysis.snowball_tr import turkish_stem

    langs.update({
        "finnish": finnish_stem, "hungarian": hungarian_stem,
        "romanian": romanian_stem, "turkish": turkish_stem,
        "catalan": catalan_stem, "basque": basque_stem,
        "irish": irish_stem, "armenian": armenian_stem,
    })
    # variant names carry the family prefix directly; the Egothor
    # multi-trie Polish stemmer (analysis/stempel.py, GT-pinned vs the
    # compiled PolishAnalyzer) is not a Snowball machine, so it keeps
    # its own prefix; its table is an optional resource, and without it
    # the variant omits itself from the engine and oracle alike
    from ..analysis import stempel

    named = {f"snowball_{lang}": fn for lang, fn in langs.items()}
    if stempel.stempel_available():
        named["stempel_polish"] = stempel.polish_stem
    else:
        warnings.warn(
            f"stempel_polish variant omitted: no {stempel.STEMMER_TABLE} in "
            f"{stempel.resource_dir()!r}; point SPARK_GRAFT_STEMPEL_DIR at "
            "the directory holding the Polish stemmer table to enable it"
        )
    return [(variant, w, fn(w))
            for variant, fn in sorted(named.items())
            for w in SNOWBALL_DOC_VOCAB]


def snowball_analyzers(spark, sf):
    """The Snowball analyzer family as a gate leg (r3 VERDICT #4): each
    language chain's stem table over the corpus tokens — per-(lang,
    stem) occurrence counts, i.e. what the per-language term dictionary
    of a multilingual index would hold. The stem mapping is broadcast
    from literals (closed vocabulary), the corpus tokens stream through
    one explode + broadcast join + partial agg — no full-dictionary
    collect, one shuffle of <= |langs|x|vocab| rows."""
    d = _t(spark, sf, "documents")
    toks = d.select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    oov = toks.filter(~F.col("w").isin(list(SNOWBALL_DOC_VOCAB))) \
        .limit(1).count()
    if oov != 0:
        raise RuntimeError(
            "documents token outside the pinned SNOWBALL_DOC_VOCAB: the "
            "literal stem table no longer covers the corpus")
    m = spark.createDataFrame(
        _snowball_stem_rows(), "lang string, w string, stem string")
    return (
        toks.join(F.broadcast(m), "w")
        .groupBy("lang", "stem")
        .agg(F.count("*").alias("cnt"))
        .orderBy("lang", "stem")
    )


def _snowball_analyzers_sql() -> str:
    rows = ",\n       ".join(
        f"('{lang}', '{w}', '{s}')" for lang, w, s in _snowball_stem_rows()
    )
    return f"""
WITH toks AS (
  SELECT t.tok AS w FROM documents d,
         unnest(string_split(d.text, ' ')) AS t(tok)
  WHERE t.tok <> ''
),
m(lang, w2, stem) AS (SELECT * FROM (VALUES {rows}))
SELECT lang, stem, count(*) AS cnt
FROM toks JOIN m ON toks.w = m.w2
GROUP BY lang, stem ORDER BY lang, stem
"""


OPS: dict[str, tuple] = {
    "facets": (facets_combined, FACETS_COMBINED_SQL),
    "stats_component": (stats_component, STATS_COMPONENT_SQL),
    # rollup/unique/top/merge/random and the six join kinds are tagged
    # unions (same consolidation as `facets`); the individual fns stay
    # public API and are exercised by the union + tests
    "decorator_streams": (decorator_streams, DECORATOR_STREAMS_SQL),
    "join_streams": (join_streams, JOIN_STREAMS_SQL),
    "diversified_topk": (diversified_topk, DIVERSIFIED_TOPK_SQL),
    "grouping_collapse": (grouping_collapse, GROUPING_COLLAPSE_SQL),
    "expand_component": (expand_component, EXPAND_COMPONENT_SQL),
    "reduce_stream": (reduce_stream, REDUCE_STREAM_SQL),
    "group_topk": (group_topk, GROUP_TOPK_SQL),
    "search_after": (search_after, SEARCH_AFTER_SQL),
    "term_range_query": (term_range_query, TERM_RANGE_QUERY_SQL),
    "multiterm_query": (multiterm_combined, MULTITERM_COMBINED_SQL),
    "boolean_filter": (boolean_filter, BOOLEAN_FILTER_SQL),
    "match_all_count": (match_all_count, MATCH_ALL_COUNT_SQL),
    "min_should_match": (min_should_match, MIN_SHOULD_MATCH_SQL),
    "export_sorted": (export_sorted, _export_sorted_sql),
    # includes the snowball_<lang> stemmed-dictionary variants (r4)
    "terms_component": (terms_combined, _terms_combined_sql),
    # prefix + spell as one tagged union (both term-dict-only)
    "suggest": (suggest_combined, SUGGEST_COMBINED_SQL),
    "spatial_knn": (spatial_family, f"""
SELECT * FROM (
  SELECT 'knn' AS variant, c_custkey, lat, lon, dist_km AS val
  FROM ({SPATIAL_KNN_SQL})
  UNION ALL
  SELECT 'polygon' AS variant, c_custkey, lat, lon, 0.0 AS val
  FROM ({{POLY_SQL}})
  UNION ALL
  SELECT 'zorder' AS variant, c_custkey, lat, lon,
         CAST(zcode AS DOUBLE) AS val
  FROM ({{ZORDER_SQL}})
  UNION ALL
  SELECT 'geo3d' AS variant, c_custkey, lat, lon, 0.0 AS val
  FROM ({{GEO3D_SQL}})
  UNION ALL
  SELECT 'geo3d_path' AS variant, c_custkey, lat, lon, 0.0 AS val
  FROM ({{GEO3D_PATH_SQL}})
  UNION ALL
  SELECT 'geo3d_polygon' AS variant, c_custkey, lat, lon, 0.0 AS val
  FROM ({{GEO3D_POLYGON_SQL}})
) ORDER BY variant, c_custkey
""".replace("{POLY_SQL}", _spatial_polygon_sql())
   .replace("{ZORDER_SQL}", _spatial_zorder_sql())
   .replace("{GEO3D_SQL}", _spatial_geo3d_sql())
   .replace("{GEO3D_PATH_SQL}", _spatial_geo3d_path_sql())
   .replace("{GEO3D_POLYGON_SQL}", _spatial_geo3d_polygon_sql())),
    "highlight_snippet": (highlight_combined, HIGHLIGHT_COMBINED_SQL),
    "json_facet_aggs": (json_facet_aggs, JSON_FACET_AGGS_SQL),
    "gather_nodes": (gather_nodes, GATHER_NODES_SQL),
    "sql_handler_q1": (sql_handler_q1, SQL_HANDLER_Q1),
    # valuesource + CustomScoreQuery as one tagged union
    "function_query": (function_query_combined, _function_query_combined_sql()),
    "block_join_parent": (block_join_parent, BLOCK_JOIN_PARENT_SQL),
    "point_set_field_value": (point_set_field_value, POINT_SET_FIELD_VALUE_SQL),
}
