"""Link-graph analytics over document URLs ([EXT]): PageRank for
domain authority — the classic web-corpus curation signal (quality
weighting, crawl prioritization, spam down-ranking).

Engine-deterministic by construction: per-iteration contributions are
quantized to integer nano-units before the sum (order-independent
integer math — the ``doc_bigram_likelihood`` recipe applied to an
iterative algorithm), and the damping update re-quantizes, so an
unrolled SQL replay of the same iterations hash-matches bit-for-bit.

Scale shape: each iteration is one keyed join (ranks ⋈ edges on src)
plus one keyed aggregation on dst — the textbook distributed PageRank;
edge weights and out-degrees are precomputed once.  Plan growth across
iterations is bounded with ``localCheckpoint`` (same policy as
``dedup_clusters``).  Dangling mass (nodes without outlinks) goes to
the teleport term only — the simplified variant; the oracle replays
the identical formula.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from meteaudata_spark.sources.tables import load_table

_Q = 1_000_000_000  # nano-unit quantizer for rank contributions


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    checkpoint_every: int = 3,
) -> DataFrame:
    """PageRank over a weighted edge list (src, dst, weight).

    Returns (node, rank) with ranks quantized to 9 decimals each
    iteration.  ``iterations`` is fixed-count (no convergence test) so
    the computation is replayable by an unrolled SQL oracle."""
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        # pin the union+distinct shuffle once: nodes is re-read every
        # iteration (the teleport join) and again by count() below
        .localCheckpoint()
    )
    n_nodes = nodes.count()  # scalar driver boundary, O(1)
    if n_nodes == 0:
        raise ValueError("edges is empty: no nodes to rank")
    out_w = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    e = edges.join(out_w, "src").select(
        "src", "dst", (F.col("weight") / F.col("out_w")).alias("share")
    ).localCheckpoint()

    base = float(1.0 - damping) / n_nodes
    ranks = nodes.select(
        "node", (F.round(F.lit(1.0 / n_nodes) * _Q) / _Q).alias("rank")
    )
    for i in range(iterations):
        contrib = (
            ranks.join(e, ranks["node"] == e["src"])
            .select(
                F.col("dst").alias("node"),
                F.round(F.col("rank") * F.col("share") * _Q)
                .cast("bigint")
                .alias("c_nanos"),
            )
            .groupBy("node")
            .agg(F.sum("c_nanos").alias("in_nanos"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.round(
                        (
                            F.lit(base)
                            + F.lit(damping)
                            * (F.coalesce(F.col("in_nanos"), F.lit(0)) / _Q)
                        )
                        * _Q
                    )
                    / _Q
                ).alias("rank"),
            )
        )
        if (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint()
    return ranks


def doc_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: PageRank over the decorated-URL domain graph.

    Each doc contributes one (site domain → ref domain) edge — the
    same deterministic decoration as ``doc_url_stats`` — aggregated to
    a weighted domain graph, then 5 quantized PageRank iterations.
    Returns (domain, rank, in_degree, out_degree) ranked.

    Session-memoized under the SAME key ``doc_crawl_priority`` already
    composes (r14 optimization): every call used to re-run the
    iterative build — whose ``localCheckpoint`` pins execute 3 of the
    5 iterations EAGERLY during plan construction (~2.5 s per call
    before any action) — and the bench prewarm executed the relation
    without registering it anywhere, so gate row, composer, and warm
    each paid the build separately."""
    from meteaudata_spark.plans.opcache import memo_relation

    return memo_relation(
        spark, sf_dir,
        ("domain_pagerank", sf_dir),
        lambda: _domain_pagerank_build(spark, sf_dir),
    )


def _domain_pagerank_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    edges = (
        d.select(
            F.concat(
                F.lit("site"),
                F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
                F.lit(".example.org"),
            ).alias("src"),
            F.concat(
                F.lit("ref"),
                F.pmod(F.col("doc_id"), F.lit(3)).cast("string"),
                F.lit(".example.net"),
            ).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    pr = pagerank(edges, iterations=5)
    in_deg = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    out_deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    return (
        pr.join(in_deg, "node", "left")
        .join(out_deg, "node", "left")
        .select(
            F.col("node").alias("domain"),
            "rank",
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
        )
    )


def _pagerank_sql(iterations: int = 5, damping: float = 0.85) -> str:
    """Unrolled-iteration DuckDB replay of ``doc_domain_pagerank``
    (recursive CTEs can't aggregate in the recursive term, and the
    iteration count is fixed anyway)."""
    prev = "r0"
    steps = []
    for i in range(1, iterations + 1):
        steps.append(f"""
c{i} AS (
  SELECT e.dst AS node,
         SUM(CAST(round(r.rank * e.share * 1000000000.0) AS BIGINT)) AS in_nanos
  FROM {prev} r JOIN e ON e.src = r.node
  GROUP BY e.dst
),
r{i} AS (
  SELECT n.node,
         round(((1 - {damping}) / (SELECT cnt FROM nn)
                + {damping} * (COALESCE(c.in_nanos, 0) / 1000000000.0))
               * 1000000000.0) / 1000000000.0 AS rank
  FROM nodes n LEFT JOIN c{i} c ON c.node = n.node
)""")
        prev = f"r{i}"
    return f"""
WITH edges AS (
  SELECT 'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.org' AS src,
         'ref'  || CAST(doc_id % 3 AS VARCHAR) || '.example.net' AS dst,
         CAST(COUNT(*) AS DOUBLE) AS weight
  FROM documents GROUP BY 1, 2
),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
  )
),
nn AS (SELECT COUNT(*) AS cnt FROM nodes),
e AS (
  SELECT src, dst, weight / SUM(weight) OVER (PARTITION BY src) AS share
  FROM edges
),
r0 AS (
  SELECT node, round((1.0 / (SELECT cnt FROM nn)) * 1000000000.0) / 1000000000.0 AS rank
  FROM nodes
),{",".join(steps)}
SELECT n.node AS domain, r.rank,
       COALESCE(i.in_degree, 0) AS in_degree,
       COALESCE(o.out_degree, 0) AS out_degree
FROM nodes n
JOIN {prev} r ON r.node = n.node
LEFT JOIN (SELECT dst AS node, COUNT(*) AS in_degree FROM edges GROUP BY dst) i
  ON i.node = n.node
LEFT JOIN (SELECT src AS node, COUNT(*) AS out_degree FROM edges GROUP BY src) o
  ON o.node = n.node
ORDER BY domain
"""


DOC_DOMAIN_PAGERANK_SQL = _pagerank_sql()


def doc_crawl_priority(
    spark: SparkSession,
    sf_dir: str,
    rank: "DataFrame | None" = None,
    quality: "DataFrame | None" = None,
) -> DataFrame:
    """Crawl-frontier scheduling as a query: every document scored by
    (domain authority × document quality) — the composition a crawler
    uses to decide what to fetch/refresh first.  Authority is the
    quantized PageRank of the doc's site domain (7-row broadcast
    join); quality is ``doc_quality_score``; the table is the exact
    product in integer micro-units, top-50 by priority via
    distributed TakeOrderedAndProject.

    Both factors are engine-exact, so the oracle composes the two
    queries' SQL verbatim and the full rank order hash-matches.

    Callers may pass precomputed ``rank`` (domain, rank) and
    ``quality`` (doc_id, quality_score) relations; the defaults are
    session-memoized (PageRank's 5 iterative rounds run once per
    session, and the quality table is shared with
    ``doc_dedup_keep_best``)."""
    from meteaudata_spark.ext.textstats import doc_quality_score

    if rank is None:
        # doc_domain_pagerank is itself session-memoized (same key)
        rank = doc_domain_pagerank(spark, sf_dir)
    pr = rank.select(F.col("domain"), F.col("rank"))
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("site"),
            F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
            F.lit(".example.org"),
        ).alias("domain"),
    )
    q = quality if quality is not None else doc_quality_score(spark, sf_dir)
    joined = d.join(F.broadcast(pr), "domain").join(q, "doc_id")
    prio = F.round(
        F.col("rank") * F.col("quality_score") * 1000000.0
    ).cast("bigint")
    return (
        joined.select("doc_id", "domain", prio.alias("priority_micros"))
        .orderBy(F.col("priority_micros").desc(), F.col("doc_id"))
        .limit(50)
    )


def _crawl_priority_sql() -> str:
    from meteaudata_spark.ext.textstats import DOC_QUALITY_SQL

    pr = DOC_DOMAIN_PAGERANK_SQL.strip()
    pr = pr[: pr.rindex("ORDER BY")]
    qs = DOC_QUALITY_SQL.strip()
    qs = qs[: qs.rindex("ORDER BY")]
    return f"""
WITH pr AS (
{pr}
),
scored AS (
{qs}
),
docs AS (
  SELECT doc_id,
         CONCAT('site', CAST(doc_id % 7 AS VARCHAR), '.example.org')
           AS domain
  FROM documents
)
SELECT d.doc_id, d.domain,
       CAST(ROUND(p.rank * s.quality_score * 1000000.0) AS BIGINT)
         AS priority_micros
FROM docs d
JOIN pr p ON p.domain = d.domain
JOIN scored s ON s.doc_id = d.doc_id
ORDER BY priority_micros DESC, d.doc_id
LIMIT 50
"""


DOC_CRAWL_PRIORITY_SQL = _crawl_priority_sql()
