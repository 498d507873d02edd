"""Distinct-count sketches ([EXT]): a deterministic HyperLogLog built
from engine-portable integer arithmetic.

Spark's ``approx_count_distinct`` and DuckDB's ``approx_count_distinct``
use different hashes, so their estimates can never hash-match.  This
HLL derives every register from the cross-engine md5 60-bit hash and
keeps ALL register math in exact integers:

  * bucket  = h mod m           (m = 256 registers, p = 8)
  * w       = h div m           (a 52-bit word)
  * rho(w)  = 53 − bitlen(w)    (bitlen via the binary-string length —
                                  both engines' ``bin()`` — so no
                                  float log2 whose libm rounding could
                                  diverge between JVM and C++)
  * register M_b = max rho      (integer max)
  * Σ 2^−M_b is scaled by 2^53: each term is the integer 1 << (53−M),
    the sum of ≤ m terms ≤ 2^60 is EXACT in a bigint, and both engines
    divide the same two exact numbers — bit-identical estimates.

The raw HLL estimator (no linear-counting branch) is used; callers
should keep cardinalities above 2.5·m ≈ 640 where raw HLL is the
operative regime (the gate query estimates distinct word-3-grams per
language — thousands at every scale factor).

Scale: the sketch is one explode + one (group, bucket) aggregation +
one per-group fold — the whole point of HLL is that 100 TB of tokens
reduce to m integers per group, mergeable across partitions
(``max`` is the merge), which is exactly what the partial-aggregation
plan does map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from meteaudata_spark.ext.dedup import _h60, _shingles, _H60_DUCK
from meteaudata_spark.sources.tables import _docs, load_table

_M = 256  # registers (p = 8)
_ALPHA_M = 0.7213 / (1.0 + 1.079 / _M)  # standard bias constant
# single numerator constant α·m²·2^53, pre-multiplied in Python so
# both engines receive one double literal (DuckDB parses decimal
# literals as DECIMAL and overflows multiplying them)
_NUMER = _ALPHA_M * _M * _M * float(1 << 53)


def hll_distinct(
    df: DataFrame,
    group_col: str,
    hash_col: str = "h",
) -> DataFrame:
    """Per-group (exact_distinct, hll_estimate) over an integer hash
    column.  ``hash_col`` must hold non-negative 60-bit hashes."""
    h = F.col(hash_col)
    # integer division only: h exceeds 2^53, so a double-typed h/m
    # would lose low bits before truncation
    w = F.expr(f"{hash_col} div {_M}")
    rho = F.when(w == 0, F.lit(53)).otherwise(F.lit(53) - F.length(F.bin(w)))
    regs = (
        df.select(group_col, F.pmod(h, F.lit(_M)).alias("__b"), rho.alias("__rho"))
        .groupBy(group_col, "__b")
        .agg(F.max("__rho").alias("__m"))
    )
    # Σ 2^{53-M} over non-empty buckets + 2^53 per empty bucket, all
    # in exact bigints
    per_group = regs.groupBy(group_col).agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - __m)")).alias("__s"),
        F.count(F.lit(1)).alias("__nb"),
    )
    scaled_sum = F.col("__s") + (F.lit(_M) - F.col("__nb")) * F.lit(1 << 53)
    raw = F.lit(_NUMER) / scaled_sum.cast("double")
    return per_group.select(
        group_col, F.floor(raw).cast("bigint").alias("hll_distinct")
    )


def doc_hll_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: per-lang distinct word-3-gram count — exact vs the
    deterministic HLL estimate, plus the relative error ×10⁴ (kept as
    an exact integer so the comparison is engine-stable)."""
    d = _docs(spark, sf_dir)
    grams = (
        _shingles(d.select(F.col("lang").alias("doc_id"), "text"), 3)
        .select(F.col("doc_id").alias("lang"), _h60("shingle").alias("h"))
        .distinct()
    )
    exact = grams.groupBy("lang").agg(F.count(F.lit(1)).alias("exact_distinct"))
    est = hll_distinct(grams, "lang")
    # abs error in basis points, all-integer: non-negative numerator
    # so Spark's truncating `div` and DuckDB's flooring `//` agree
    return (
        exact.join(est, "lang")
        .withColumn(
            "err_abs_bp",
            F.expr("(abs(hll_distinct - exact_distinct) * 10000) div exact_distinct"),
        )
        .select("lang", "exact_distinct", "hll_distinct", "err_abs_bp")
    )


_H60_SH = _H60_DUCK.format(col="shingle")

DOC_HLL_SHINGLES_SQL = f"""
WITH grams AS (
  SELECT DISTINCT lang, {_H60_SH} AS h
  FROM (
    SELECT lang,
           UNNEST(list_transform(
             generate_series(1, LEN(string_split(text, ' ')) - 2),
             i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
           )) AS shingle
    FROM documents
  )
),
rho AS (
  SELECT lang, h % {_M} AS b,
         CASE WHEN h // {_M} = 0 THEN 53
              ELSE 53 - LEN(bin(h // {_M})) END AS r
  FROM grams
),
regs AS (SELECT lang, b, MAX(r) AS m FROM rho GROUP BY lang, b),
per_group AS (
  SELECT lang,
         CAST(SUM(1::BIGINT << (53 - m)) AS BIGINT) AS s,
         COUNT(*) AS nb
  FROM regs GROUP BY lang
),
est AS (
  SELECT lang,
         CAST(FLOOR(CAST({_NUMER!r} AS DOUBLE)
              / CAST(s + ({_M} - nb) * (1::BIGINT << 53) AS DOUBLE)) AS BIGINT)
           AS hll_distinct
  FROM per_group
),
exact AS (SELECT lang, COUNT(*) AS exact_distinct FROM grams GROUP BY lang)
SELECT e.lang, e.exact_distinct, est.hll_distinct,
       (abs(est.hll_distinct - e.exact_distinct) * 10000) // e.exact_distinct AS err_abs_bp
FROM exact e JOIN est ON e.lang = est.lang
ORDER BY e.lang
"""


# ----------------------------------------------------------------------
# count-min sketch (heavy hitters)
# ----------------------------------------------------------------------
_CMS_D = 4       # hash rows
_CMS_W = 1024    # counters per row
_CMS_P = (1 << 31) - 1


def _cms_col(j: int, h):
    """Row-j counter index for hash h: ((a_j·h + b_j) mod p) mod w,
    universal-hash family keyed on j — integer math only."""
    return F.pmod(
        F.pmod(F.lit(2 * j + 3) * F.pmod(h, F.lit(_CMS_P)) + F.lit(911 * (j + 1)), F.lit(_CMS_P)),
        F.lit(_CMS_W),
    )


def cms_counts(df: DataFrame, group_col: str, hash_col: str = "h") -> DataFrame:
    """Count-min sketch table: (group, row, col, c) — the d×w counter
    grid per group, built with ONE aggregation over d exploded rows.

    All-integer (like ``hll_distinct``): counter values are exact
    bigint sums, so estimates are bit-identical across engines.  At
    100 TB the sketch is the point: the grid is d·w counters per
    group regardless of stream size, mergeable by + across partitions
    (map-side partial aggregation does exactly that)."""
    h = F.col(hash_col)
    rows = F.array(
        *[
            F.struct(F.lit(j).alias("r"), _cms_col(j, h).alias("c"))
            for j in range(_CMS_D)
        ]
    )
    return (
        df.select(group_col, F.explode(rows).alias("rc"))
        .groupBy(group_col, F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def doc_cms_heavy_hitters(
    spark: SparkSession, sf_dir: str, top_n: int = 10
) -> DataFrame:
    """Gate query: per-lang top tokens — exact count vs the count-min
    estimate (min over the token's d counters).  CMS never
    underestimates; the overestimate bound is n/w per row.  Pairs with
    ``doc_hll_shingles``: HLL answers "how many distinct", CMS answers
    "how often does X occur" — the two sketches a streaming corpus
    profiler keeps."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    toks = d.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).withColumn("h", _h60(F.concat(F.lit("tok:"), F.col("token"))))

    sketch = cms_counts(toks, "lang")

    exact = toks.groupBy("lang", "token", "h").agg(
        F.count(F.lit(1)).alias("exact_n")
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("exact_n").desc(), F.col("token")
    )
    top = exact.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= top_n
    )

    # look up each top token's d cells and take the min counter
    cells = top.select(
        "lang",
        "token",
        "exact_n",
        "rk",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("r"), _cms_col(j, F.col("h")).alias("c")
                    )
                    for j in range(_CMS_D)
                ]
            )
        ).alias("rc"),
    ).select("lang", "token", "exact_n", "rk", F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
    return (
        cells.join(sketch, ["lang", "r", "c"])
        .groupBy("lang", "token", "exact_n", "rk")
        .agg(F.min("cnt").alias("cms_n"))
        .select("lang", F.col("rk").cast("bigint").alias("rk"), "token", "exact_n", "cms_n")
    )


def _cms_sql(top_n: int = 10) -> str:
    h60_tok = _H60_DUCK.format(col="'tok:' || token")
    cols = ",\n    ".join(
        f"(((( {2 * j + 3} * (h % {_CMS_P}) + {911 * (j + 1)}) % {_CMS_P}) + {_CMS_P}) % {_CMS_P}) % {_CMS_W} AS c{j}"
        for j in range(_CMS_D)
    )
    cell_rows = "\n  UNION ALL\n".join(
        f"  SELECT lang, {j} AS r, c{j} AS c FROM tok_cells" for j in range(_CMS_D)
    )
    top_cells = "\n  UNION ALL\n".join(
        f"  SELECT lang, token, exact_n, rk, {j} AS r, c{j} AS c FROM top" for j in range(_CMS_D)
    )
    return f"""
WITH toks AS (
  SELECT lang, UNNEST(string_split(text, ' ')) AS token FROM documents
),
hashed AS (
  SELECT lang, token, {h60_tok} AS h FROM toks
),
tok_cells AS (
  SELECT lang, token, h,
    {cols}
  FROM hashed
),
cells AS (
{cell_rows}
),
sketch AS (
  SELECT lang, r, c, COUNT(*) AS cnt FROM cells GROUP BY 1, 2, 3
),
exact AS (
  SELECT lang, token, MIN(c0) AS c0, MIN(c1) AS c1, MIN(c2) AS c2, MIN(c3) AS c3,
         COUNT(*) AS exact_n
  FROM tok_cells GROUP BY lang, token
),
top AS (
  SELECT lang, token, exact_n, c0, c1, c2, c3,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY exact_n DESC, token) AS rk
  FROM exact
  QUALIFY rk <= {top_n}
),
tc AS (
{top_cells}
)
SELECT t.lang, t.rk, t.token, t.exact_n, MIN(s.cnt) AS cms_n
FROM tc t JOIN sketch s ON t.lang = s.lang AND t.r = s.r AND t.c = s.c
GROUP BY t.lang, t.rk, t.token, t.exact_n
ORDER BY t.lang, t.rk
"""


DOC_CMS_HEAVY_HITTERS_SQL = _cms_sql()


# ----------------------------------------------------------------------
# histogram quantile sketch (mergeable one-pass-after-bounds quantiles)
# ----------------------------------------------------------------------
_HQ_BINS = 256


def hist_quantiles(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    quantiles: tuple = (0.5, 0.9, 0.99),
    n_bins: int = _HQ_BINS,
) -> DataFrame:
    """Quantile estimation through a fixed-width histogram sketch —
    the mergeable alternative to exact ``percentile`` (full sort per
    group) and the completion of the sketch family (HLL distinct,
    count-min heavy hitters, histogram quantiles).

    Pass 1 aggregates per-group bounds (min/max — cheap, mergeable);
    pass 2 bins every value and hash-aggregates (group, bin) counts —
    n_bins integers per group REGARDLESS of group size, mergeable by
    addition, exactly what map-side partial aggregation produces.  The
    estimate interpolates within the bin that crosses the rank target
    ceil(q·n); it is guaranteed within one bin width of the
    ceil(q·n)-th ORDER STATISTIC (the sketch's rank convention —
    interpolating conventions like type-7 ``percentile`` can differ
    by more on sparse tails, as any rank-based summary does).
    All arithmetic is the same IEEE double sequence in both engines
    (no libm calls), so estimates hash-match under 1e-6 rounding.

    At 100 TB: both passes are keyed hash-aggs with map-side combine;
    nothing is sorted, nothing is collected, and the per-group state
    (n_bins + 2 numbers) can be persisted and merged across corpus
    snapshots.  Reference analog: none (pure [EXT]).
    """
    g = [F.col(c) for c in group_cols]
    # drop value-NULL rows up front: they would land in a NULL bin that
    # Spark's ascending window sorts FIRST (inflating every cumulative
    # count) while __n counts only non-nulls — and DuckDB sorts NULLS
    # LAST, so the engines would diverge too
    df = df.filter(F.col(value_col).isNotNull())
    bounds = df.groupBy(*g).agg(
        F.min(value_col).alias("__lo"),
        F.max(value_col).alias("__hi"),
        F.count(value_col).alias("__n"),
    )
    binned = (
        df.join(F.broadcast(bounds), group_cols)
        .withColumn(
            "__bin",
            # constant groups (hi == lo) would divide by a zero width
            # and fault casting the NaN — every value is bin 0 there
            F.when(F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(
                F.least(
                    F.lit(n_bins - 1),
                    F.floor(
                        (F.col(value_col) - F.col("__lo"))
                        / (
                            (F.col("__hi") - F.col("__lo"))
                            / F.lit(float(n_bins))
                        )
                    ).cast("int"),
                )
            ),
        )
        .groupBy(*group_cols, "__bin")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.partitionBy(*group_cols).orderBy("__bin")
    cum = binned.withColumn(
        "__cum", F.sum("__c").over(w)
    ).withColumn("__before", F.col("__cum") - F.col("__c"))
    # all quantiles in ONE pass: explode the (tiny) quantile list onto
    # the cumulative table instead of rebuilding bounds/bins/window per
    # q — a per-q loop of unions would scan and aggregate the fact
    # table len(quantiles) times
    q_arr = F.array(*[F.lit(float(q)) for q in quantiles])
    target = F.ceil(F.col("q") * F.col("__n")).cast("bigint")
    return (
        cum.join(F.broadcast(bounds), group_cols)
        .withColumn("q", F.explode(q_arr))
        .filter((F.col("__cum") >= target) & (F.col("__before") < target))
        .withColumn(
            "est",
            F.round(
                (
                    F.col("__lo")
                    + ((F.col("__hi") - F.col("__lo")) / F.lit(float(n_bins)))
                    * (
                        F.col("__bin")
                        + (target - F.col("__before"))
                        / F.col("__c").cast("double")
                    )
                )
                * F.lit(1000000.0),
                0,
            )
            / F.lit(1000000.0),
        )
        .select(*group_cols, "q", "est")
    )


def ts_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: histogram-sketch p50/p90/p99 of event values per
    type (compare `ts_value_percentiles` — the exact-sort path)."""
    from meteaudata_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return hist_quantiles(ev, "value", ["event_type"]).select(
        "event_type", "q", "est"
    )


TS_QUANTILE_SKETCH_SQL = f"""
WITH bounds AS (
  SELECT event_type, MIN(value) AS lo, MAX(value) AS hi, COUNT(value) AS n
  FROM events WHERE value IS NOT NULL GROUP BY event_type
),
binned AS (
  SELECT e.event_type,
         CASE WHEN b.hi = b.lo THEN 0
              ELSE LEAST({_HQ_BINS - 1}, CAST(FLOOR((e.value - b.lo) / ((b.hi - b.lo) / {_HQ_BINS}.0)) AS INTEGER)) END AS bin,
         COUNT(*) AS c
  FROM events e JOIN bounds b ON b.event_type = e.event_type
  WHERE e.value IS NOT NULL
  GROUP BY 1, 2
),
cum AS (
  SELECT event_type, bin, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
         SUM(c) OVER (PARTITION BY event_type ORDER BY bin) - c AS bef
  FROM binned
),
qs AS (SELECT UNNEST([0.5, 0.9, 0.99]) AS q),
hits AS (
  SELECT c.event_type, q.q, b.lo, b.hi, c.bin, c.c, c.bef,
         CAST(CEIL(q.q * b.n) AS BIGINT) AS target
  FROM cum c
  JOIN bounds b ON b.event_type = c.event_type
  CROSS JOIN qs q
  WHERE c.cum >= CAST(CEIL(q.q * b.n) AS BIGINT)
    AND c.bef < CAST(CEIL(q.q * b.n) AS BIGINT)
)
SELECT event_type, q,
       round((lo + ((hi - lo) / {_HQ_BINS}.0)
              * (bin + (target - bef) / CAST(c AS DOUBLE))) * 1000000.0)
       / 1000000.0 AS est
FROM hits
ORDER BY event_type, q
"""


def doc_corpus_overlap_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-overlap estimation by HLL REGISTER MERGE — the
    mergeability property exercised as a query: the two corpus halves
    (doc_id parity) are sketched independently, the union estimate
    comes from merging the two register tables (per-bucket max, never
    re-reading raw data), and the intersection follows by
    inclusion-exclusion.  This is how overlap between two 100 TB
    crawls is estimated without co-locating them.

    Exact counts ride along for the error report; the negative-
    capable inclusion-exclusion estimate is clamped at 0 before the
    basis-point division so Spark's truncating ``div`` and DuckDB's
    flooring ``//`` agree."""
    d = _docs(spark, sf_dir)
    # r14 batch 3 (guide §5): the distinct (split, h) gram relation is
    # the upstream of the register tables (twice: per-split + merged
    # estimates) AND the exact-count rollup — persist it once per call
    # so the shingle explode + md5 pass and the distinct merge run
    # once, not once per consumer.
    from meteaudata_spark.plans.opcache import cache_intermediate

    grams = cache_intermediate(
        _shingles(d, 3)
        .select(
            F.when(F.col("doc_id") % 2 == 0, "A").otherwise("B").alias(
                "split"
            ),
            _h60("shingle").alias("h"),
        )
        .distinct()
    )
    rho = F.when(F.expr(f"h div {_M}") == 0, F.lit(53)).otherwise(
        F.lit(53) - F.length(F.bin(F.expr(f"h div {_M}")))
    )
    regs = (
        grams.select("split", F.pmod(F.col("h"), F.lit(_M)).alias("b"), rho.alias("r"))
        .groupBy("split", "b")
        .agg(F.max("r").alias("m"))
    )

    def estimate(reg_df, keys):
        per = reg_df.groupBy(*keys).agg(
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - m)")).alias("s"),
            F.count(F.lit(1)).alias("nb"),
        )
        scaled = F.col("s") + (F.lit(_M) - F.col("nb")) * F.lit(1 << 53)
        return per.select(
            *keys,
            F.floor(F.lit(_NUMER) / scaled.cast("double"))
            .cast("bigint")
            .alias("est"),
        )

    per_split = estimate(regs, ["split"])
    est_a = per_split.filter(F.col("split") == "A").select(
        F.col("est").alias("est_a")
    )
    est_b = per_split.filter(F.col("split") == "B").select(
        F.col("est").alias("est_b")
    )
    # the merge: per-bucket max across the two register tables
    merged = regs.groupBy("b").agg(F.max("m").alias("m"))
    est_u = estimate(merged.select(F.lit(1).alias("g"), "b", "m"), ["g"]).select(
        F.col("est").alias("est_union")
    )
    # r14 optimization (guide §2.3): the three countDistinct()s
    # planned as an Expand — every distinct (split, h) row copied 3×
    # through one shuffle.  grams is ALREADY distinct on (split, h),
    # so one groupBy(h) rollup (partial-aggregated, shuffles ≤2 slim
    # flags per distinct h) derives all three exact counts: per-h
    # membership flags, then sum/count — integer-identical to the
    # countDistinct formulation.
    per_h = grams.groupBy("h").agg(
        F.max((F.col("split") == "A").cast("int")).alias("__in_a"),
        F.max((F.col("split") == "B").cast("int")).alias("__in_b"),
    )
    exact = per_h.groupBy().agg(
        F.sum("__in_a").cast("bigint").alias("exact_a"),
        F.sum("__in_b").cast("bigint").alias("exact_b"),
        F.count(F.lit(1)).cast("bigint").alias("exact_union"),
    )
    row = (
        exact.crossJoin(F.broadcast(est_a))
        .crossJoin(F.broadcast(est_b))
        .crossJoin(F.broadcast(est_u))
    )
    est_inter = F.greatest(
        F.col("est_a") + F.col("est_b") - F.col("est_union"), F.lit(0)
    )
    exact_inter = F.col("exact_a") + F.col("exact_b") - F.col("exact_union")
    return row.select(
        "exact_a",
        "exact_b",
        "exact_union",
        exact_inter.alias("exact_inter"),
        "est_union",
        est_inter.alias("est_inter"),
        F.expr(
            "(( exact_a + exact_b - exact_union) * 10000) div exact_union"
        ).alias("jaccard_exact_bp"),
        # non-negative integer floor-div on BOTH engines (Spark's
        # double-cast truncates, DuckDB's rounds — avoid the cast)
        F.expr(
            "(greatest(est_a + est_b - est_union, 0) * 10000) div est_union"
        ).alias("jaccard_est_bp"),
    )


DOC_CORPUS_OVERLAP_SQL = f"""
WITH grams AS (
  SELECT DISTINCT
         CASE WHEN doc_id % 2 = 0 THEN 'A' ELSE 'B' END AS split,
         {_H60_SH} AS h
  FROM (
    SELECT doc_id,
           UNNEST(list_transform(
             generate_series(1, LEN(string_split(text, ' ')) - 2),
             i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
           )) AS shingle
    FROM documents
  )
),
rho AS (
  SELECT split, h % {_M} AS b,
         CASE WHEN h // {_M} = 0 THEN 53
              ELSE 53 - LEN(bin(h // {_M})) END AS r
  FROM grams
),
regs AS (SELECT split, b, MAX(r) AS m FROM rho GROUP BY split, b),
est_split AS (
  SELECT split,
         CAST(FLOOR(CAST({_NUMER!r} AS DOUBLE)
              / CAST(CAST(SUM(1::BIGINT << (53 - m)) AS BIGINT)
                     + ({_M} - COUNT(*)) * (1::BIGINT << 53) AS DOUBLE))
           AS BIGINT) AS est
  FROM regs GROUP BY split
),
merged AS (SELECT b, MAX(m) AS m FROM regs GROUP BY b),
est_u AS (
  SELECT CAST(FLOOR(CAST({_NUMER!r} AS DOUBLE)
              / CAST(CAST(SUM(1::BIGINT << (53 - m)) AS BIGINT)
                     + ({_M} - COUNT(*)) * (1::BIGINT << 53) AS DOUBLE))
           AS BIGINT) AS est_union
  FROM merged
),
exact AS (
  SELECT COUNT(DISTINCT CASE WHEN split = 'A' THEN h END) AS exact_a,
         COUNT(DISTINCT CASE WHEN split = 'B' THEN h END) AS exact_b,
         COUNT(DISTINCT h) AS exact_union
  FROM grams
)
SELECT e.exact_a, e.exact_b, e.exact_union,
       e.exact_a + e.exact_b - e.exact_union AS exact_inter,
       u.est_union,
       GREATEST(a.est + b.est - u.est_union, 0) AS est_inter,
       ((e.exact_a + e.exact_b - e.exact_union) * 10000) // e.exact_union
         AS jaccard_exact_bp,
       (GREATEST(a.est + b.est - u.est_union, 0) * 10000) // u.est_union
         AS jaccard_est_bp
FROM exact e
CROSS JOIN (SELECT est FROM est_split WHERE split = 'A') a
CROSS JOIN (SELECT est FROM est_split WHERE split = 'B') b
CROSS JOIN est_u u
"""


# ----------------------------------------------------------------------
# sliding-window distinct-count rollup (mergeable registers)
# ----------------------------------------------------------------------
def _window_estimate(win_regs: DataFrame) -> DataFrame:
    """(win_end, hll_uniques) from merged (win_end, b, m) register
    rows: the raw HLL fold with the quantized-ln linear-counting
    branch — shared by the batch sliding op and the streamed-register
    merge path so the lambda composition is exact by construction."""
    per_win = win_regs.groupBy("win_end").agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - m)")).alias("s"),
        F.count(F.lit(1)).alias("nb"),
    )
    scaled = F.col("s") + (F.lit(_M) - F.col("nb")) * F.lit(1 << 53)
    raw = F.floor(F.lit(_NUMER) / scaled.cast("double")).cast("bigint")
    lnq = "cast(round(ln(cast({0} as double)) * 1000000.0) as bigint)"
    lc = F.expr(
        f"({_M} * ({lnq.format(_M)} - {lnq.format(f'({_M} - nb)')}))"
        " div 1000000"
    ).cast("bigint")
    est = F.when(
        (raw < F.lit(int(2.5 * _M))) & (F.col("nb") < F.lit(_M)), lc
    ).otherwise(raw)
    return per_win.select("win_end", est.alias("hll_uniques"))


def merge_sliding_registers(
    day_regs: DataFrame, window_days: int = 7
) -> DataFrame:
    """(win_end, hll_uniques) from PER-DAY register ARRAYS — the merge
    half of the lambda pipeline: ``streaming.hll_stream.
    stream_hll_day_registers`` drains (day, regs[256]) rows; this fold
    fans each day out to its covering trailing windows and max-merges,
    exactly like the batch op's interior.  Associativity of max means
    stream + merge == one-shot batch (asserted in
    tests/test_r11b_ops.py)."""
    exploded = day_regs.select(
        F.col("day"), F.posexplode("regs").alias("b", "m")
    ).filter(F.col("m") > 0)
    days = day_regs.select("day").distinct()
    win_regs = (
        exploded.select(
            F.explode(
                F.expr(f"sequence(day, date_add(day, {window_days - 1}))")
            ).alias("win_end"),
            "b",
            "m",
        )
        .join(F.broadcast(days.withColumnRenamed("day", "win_end")), "win_end")
        .groupBy("win_end", "b")
        .agg(F.max("m").alias("m"))
    )
    return _window_estimate(win_regs).withColumn(
        "win_end", F.col("win_end").cast("timestamp")
    )



def events_hll_sliding_uniques(
    spark: SparkSession, sf_dir: str, window_days: int = 7
) -> DataFrame:
    """Trailing-``window_days`` distinct active users per day, answered
    by MERGING per-day HLL register tables — the query shape that
    justifies sketches at 100 TB: exact sliding distinct-counts need
    every window to re-deduplicate its raw rows (× window_days the
    corpus), while register merge needs one corpus scan to build m=256
    integers per day, then max-merges day registers into windows.

    Pipeline, all integer JVM expressions:
      1. day registers: (day, bucket) → max rho — one keyed agg, the
         partial-agg plan does the map-side fold.
      2. window merge: each day's registers fan out to the
         ``window_days`` windows that cover it (map-side explode of a
         date sequence), then (window, bucket) → max — the HLL merge
         IS integer max, the associativity that makes the sketch
         shardable across executors and days.
      3. estimate: raw HLL fold plus the small-range linear-counting
         branch  m·ln(m/V)  (V = empty registers) — quantized-ln
         micros (the ``pmi_bigrams`` idiom) so both engines compute
         the identical integer; raw-only HLL is ~10%+ off below
         2.5·m distinct, which trailing windows at low SF do hit.

    The exact trailing distinct (window re-dedup) rides along as the
    self-evaluation column with the abs error in basis points —
    production would emit only the estimates.  Windows are keyed by
    their END day and emitted only for days present in the data.
    Reference analog: none (pure [EXT])."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date(F.col("ts")).alias("day"),
        _h60(F.col("user_id").cast("string")).alias("h"),
    )
    # 1. per-day registers
    w_word = F.expr(f"h div {_M}")
    rho = F.when(w_word == 0, F.lit(53)).otherwise(
        F.lit(53) - F.length(F.bin(w_word))
    )
    day_regs = (
        ev.select("day", F.pmod(F.col("h"), F.lit(_M)).alias("b"), rho.alias("r"))
        .groupBy("day", "b")
        .agg(F.max("r").alias("m"))
    )
    # 2. fan out to covering windows (end-day keyed), keep real days
    days = ev.select("day").distinct()
    win_regs = (
        day_regs.select(
            F.explode(
                F.expr(f"sequence(day, date_add(day, {window_days - 1}))")
            ).alias("win_end"),
            "b",
            "m",
        )
        .join(F.broadcast(days.withColumnRenamed("day", "win_end")), "win_end")
        .groupBy("win_end", "b")
        .agg(F.max("m").alias("m"))
    )
    sketch = _window_estimate(win_regs)
    # self-evaluation: exact trailing distinct via window re-dedup
    exact = (
        ev.select(
            F.explode(
                F.expr(f"sequence(day, date_add(day, {window_days - 1}))")
            ).alias("win_end"),
            "h",
        )
        .join(F.broadcast(days.withColumnRenamed("day", "win_end")), "win_end")
        .groupBy("win_end")
        .agg(F.count_distinct("h").cast("bigint").alias("exact_uniques"))
    )
    return (
        exact.join(sketch, "win_end")
        .withColumn(
            "err_abs_bp",
            F.expr(
                "(abs(hll_uniques - exact_uniques) * 10000)"
                " div exact_uniques"
            ).cast("bigint"),
        )
        .withColumn("win_end", F.col("win_end").cast("timestamp"))
    )


def _hll_sliding_sql(window_days: int = 7) -> str:
    """Parameterized oracle builder for ``events_hll_sliding_uniques``."""
    h60 = _H60_DUCK.format(col="CAST(user_id AS VARCHAR)")
    lnq = "CAST(ROUND(ln(CAST({0} AS DOUBLE)) * 1000000.0) AS BIGINT)"
    return f"""
WITH ev AS (
  SELECT CAST(ts AS DATE) AS day, {h60} AS h FROM events
),
days AS (SELECT DISTINCT day FROM ev),
rho AS (
  SELECT day, h % {_M} AS b,
         CASE WHEN h // {_M} = 0 THEN 53
              ELSE 53 - LEN(bin(h // {_M})) END AS r
  FROM ev
),
day_regs AS (SELECT day, b, MAX(r) AS m FROM rho GROUP BY day, b),
win_regs AS (
  SELECT w.win_end, d.b, MAX(d.m) AS m
  FROM day_regs d,
       UNNEST(generate_series(d.day, d.day + INTERVAL ({window_days - 1}) DAY,
                              INTERVAL 1 DAY)) AS w(win_end)
  WHERE CAST(w.win_end AS DATE) IN (SELECT day FROM days)
  GROUP BY w.win_end, d.b
),
per_win AS (
  SELECT CAST(win_end AS DATE) AS win_end,
         CAST(SUM(1::BIGINT << (53 - m)) AS BIGINT) AS s,
         COUNT(*) AS nb
  FROM win_regs GROUP BY win_end
),
est AS (
  SELECT win_end,
         CASE WHEN CAST(FLOOR(CAST({_NUMER!r} AS DOUBLE)
                / CAST(s + ({_M} - nb) * (1::BIGINT << 53) AS DOUBLE))
                AS BIGINT) < {int(2.5 * _M)} AND nb < {_M}
           THEN CAST(({_M} * ({lnq.format(_M)}
                  - {lnq.format(f'({_M} - nb)')})) // 1000000 AS BIGINT)
           ELSE CAST(FLOOR(CAST({_NUMER!r} AS DOUBLE)
                / CAST(s + ({_M} - nb) * (1::BIGINT << 53) AS DOUBLE))
                AS BIGINT)
         END AS hll_uniques
  FROM per_win
),
exact AS (
  SELECT CAST(w.win_end AS DATE) AS win_end,
         CAST(COUNT(DISTINCT e.h) AS BIGINT) AS exact_uniques
  FROM ev e,
       UNNEST(generate_series(e.day, e.day + INTERVAL ({window_days - 1}) DAY,
                              INTERVAL 1 DAY)) AS w(win_end)
  WHERE CAST(w.win_end AS DATE) IN (SELECT day FROM days)
  GROUP BY 1
)
SELECT CAST(x.win_end AS TIMESTAMP) AS win_end, x.exact_uniques, s.hll_uniques,
       CAST((ABS(s.hll_uniques - x.exact_uniques) * 10000)
            // x.exact_uniques AS BIGINT) AS err_abs_bp
FROM exact x JOIN est s USING (win_end)
ORDER BY x.win_end
"""


EVENTS_HLL_SLIDING_SQL = _hll_sliding_sql()
