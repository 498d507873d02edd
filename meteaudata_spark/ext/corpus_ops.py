"""Training-corpus pipeline operators over ``documents`` ([EXT]):
deterministic train/validation/test splitting, stratified sampling,
benchmark-contamination detection, and PII scrubbing.

These are the corpus-management steps a large-scale LLM data pipeline
runs between dedup and training (north star: BASELINE.json).  Every
operator keys on the cross-engine md5-derived 60-bit hash (``_h60``)
so the full pipeline — including which rows land in which split or
sample — is verified value-for-value by a DuckDB oracle.

Scale notes: splitting and sampling are stateless row-local
projections (no shuffle, no driver state — a 1000-executor cluster
splits 100 TB without coordination, and membership is stable under
re-partitioning because it depends only on doc_id).  Contamination
broadcasts the (small) benchmark n-gram set against the corpus — the
canonical build side — and the scrubber is a pure projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meteaudata_spark.ext.dedup import _h60, _shingles, _H60_DUCK
from meteaudata_spark.sources.tables import _docs, load_table

# regexes kept to the syntax subset Java regex (Spark) and RE2
# (DuckDB) treat identically
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?\d{1,2}-\d{3}-\d{4}"


# ----------------------------------------------------------------------
# deterministic hash split
# ----------------------------------------------------------------------
def hash_split(
    df: DataFrame,
    key_col: str = "doc_id",
    train_pct: int = 80,
    valid_pct: int = 10,
    salt: str = "split",
) -> DataFrame:
    """Assign every row to train/validation/test by hashing its key.

    bucket = h60(salt:key) mod 100; [0,train) → train,
    [train,train+valid) → validation, rest → test.  Membership is a
    pure function of the key: stable across runs, partitionings, and
    engines (no sampling state, no RNG) — the property a 100 TB
    pipeline needs so re-runs and backfills land rows in the same
    split.
    """
    bucket = F.pmod(
        _h60(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string"))),
        F.lit(100),
    )
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + valid_pct, F.lit("validation"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("bucket", bucket.cast("bigint")).withColumn("split", split)


def doc_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: per-doc split assignment."""
    d = _docs(spark, sf_dir)
    return hash_split(d).select("doc_id", "bucket", "split")


DOC_HASH_SPLIT_SQL = f"""
SELECT doc_id,
       {_H60_DUCK.format(col="'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
       CASE WHEN {_H60_DUCK.format(col="'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
            WHEN {_H60_DUCK.format(col="'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'validation'
            ELSE 'test' END AS split
FROM documents
ORDER BY doc_id
"""


# ----------------------------------------------------------------------
# stratified deterministic sampling
# ----------------------------------------------------------------------
def stratified_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str = "doc_id",
    fraction: float = 0.2,
    salt: str = "sample",
) -> DataFrame:
    """Keep ~``fraction`` of rows per stratum, deterministically.

    keep ⇔ h60(salt:key) mod 1000 < fraction·1000.  Same engine-
    stable membership guarantee as ``hash_split``; stratification is
    free because the predicate is row-local (the stratum only matters
    for reporting, not for the keep decision).
    """
    thresh = int(round(fraction * 1000))
    keep = (
        F.pmod(
            _h60(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string"))),
            F.lit(1000),
        )
        < thresh
    )
    return df.withColumn("__keep", keep)


def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: per-lang totals vs deterministic 20% sample."""
    d = _docs(spark, sf_dir)
    s = stratified_sample(d, "lang", fraction=0.2)
    return (
        s.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.col("__keep").cast("bigint")).alias("n_sampled"),
        )
        .withColumn(
            "sample_frac",
            F.round(F.col("n_sampled").cast("double") / F.col("n_total"), 4),
        )
        .select("lang", "n_total", "n_sampled", "sample_frac")
    )


DOC_STRATIFIED_SAMPLE_SQL = f"""
SELECT lang,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN {_H60_DUCK.format(col="'sample:' || CAST(doc_id AS VARCHAR)")} % 1000 < 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       ROUND(CAST(SUM(CASE WHEN {_H60_DUCK.format(col="'sample:' || CAST(doc_id AS VARCHAR)")} % 1000 < 200 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS sample_frac
FROM documents
GROUP BY lang
ORDER BY lang
"""


# ----------------------------------------------------------------------
# benchmark contamination (n-gram overlap vs a held-out eval set)
# ----------------------------------------------------------------------
def contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
) -> DataFrame:
    """Per-corpus-doc overlap with the benchmark's word n-grams.

    The decontamination check every serious training pipeline runs:
    a training doc sharing long n-grams with an eval benchmark leaks
    the benchmark.  Benchmark n-grams (distinct, hashed) are tiny next
    to the corpus → broadcast; the corpus side streams through one
    explode + broadcast-semi-count, no corpus-sized shuffle.  Returns
    every corpus doc with its distinct-n-gram count, how many appear
    in the benchmark, and the overlap ratio.
    """
    bench_grams = (
        _shingles(benchmark, n).select(_h60("shingle").alias("h")).distinct()
    )
    corp = _shingles(corpus, n).select(
        "doc_id", _h60("shingle").alias("h")
    ).distinct()
    return _contamination_tail(bench_grams, corp)


def _contamination_tail(bench_grams: DataFrame, corp: DataFrame) -> DataFrame:
    marked = corp.join(
        F.broadcast(bench_grams.withColumn("__hit", F.lit(1))), "h", "left"
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("bigint").alias("n_overlap"),
        )
        .withColumn(
            "contamination",
            F.round(F.col("n_overlap").cast("double") / F.col("n_grams"), 6),
        )
        .select("doc_id", "n_grams", "n_overlap", "contamination")
    )


def _contam_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized distinct (doc_id, 5-gram) relation over the
    WHOLE corpus — the shared upstream of ``doc_contamination`` and
    ``doc_contamination_bloom``, which split it into bench (< 50) and
    corpus (≥ 50) sides with filters (r14, guide §5: each row re-ran
    the corpus shingle explode + distinct per call)."""
    from meteaudata_spark.plans.opcache import memo_relation

    return memo_relation(
        spark, sf_dir,
        ("contam_grams5", sf_dir),
        lambda: _shingles(_docs(spark, sf_dir), 5).distinct(),
    )


def doc_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: docs 50+ checked against docs 0-49 as the 'benchmark'.
    Composes the memoized corpus gram relation; hashing + the second
    distinct run on the (small) deduplicated gram sets, value-identical
    to shingling each side separately."""
    grams = _contam_grams(spark, sf_dir)
    bench_grams = (
        grams.filter(F.col("doc_id") < 50)
        .select(_h60("shingle").alias("h"))
        .distinct()
    )
    corp = (
        grams.filter(F.col("doc_id") >= 50)
        .select("doc_id", _h60("shingle").alias("h"))
        .distinct()
    )
    return _contamination_tail(bench_grams, corp)


_SHINGLE5_DUCK = """
  SELECT doc_id,
         UNNEST(list_transform(
           generate_series(1, LEN(string_split(text, ' ')) - 4),
           i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')
         )) AS shingle
  FROM documents
"""

DOC_CONTAMINATION_SQL = f"""
WITH grams AS (
  SELECT DISTINCT doc_id, {_H60_DUCK.format(col="shingle")} AS h
  FROM ({_SHINGLE5_DUCK})
),
bench AS (SELECT DISTINCT h FROM grams WHERE doc_id < 50),
corp AS (SELECT doc_id, h FROM grams WHERE doc_id >= 50),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM corp GROUP BY doc_id),
ov AS (
  SELECT c.doc_id, COUNT(*) AS n_overlap
  FROM corp c JOIN bench b ON c.h = b.h
  GROUP BY c.doc_id
)
SELECT s.doc_id, s.n_grams,
       COALESCE(ov.n_overlap, 0) AS n_overlap,
       ROUND(CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE) / s.n_grams, 6) AS contamination
FROM sizes s LEFT JOIN ov ON s.doc_id = ov.doc_id
ORDER BY s.doc_id
"""


# ----------------------------------------------------------------------
# PII scrubbing
# ----------------------------------------------------------------------
def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Replace emails and phone numbers with placeholder tokens and
    count what was removed.  Pure projection — JVM regex, no UDF, no
    shuffle; at 100 TB this is a map-only pass."""
    t = F.col(text_col)
    n_emails = F.regexp_count(t, F.lit(EMAIL_RE)).cast("bigint")
    after_email = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    n_phones = F.regexp_count(after_email, F.lit(PHONE_RE)).cast("bigint")
    scrubbed = F.regexp_replace(after_email, PHONE_RE, "<PHONE>")
    return (
        df.withColumn("n_emails", n_emails)
        .withColumn("n_phones", n_phones)
        .withColumn(text_col, scrubbed)
    )


def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: decorate each doc with synthetic PII derived from
    its id (the corpus itself contains none), scrub it, and report
    counts + a hash of the scrubbed text.  Exercises the real regex
    path in both engines."""
    d = _docs(spark, sf_dir)
    decorated = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or +1-555-"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
            F.lit(" today"),
        ),
    )
    return scrub_pii(decorated).select(
        "doc_id", "n_emails", "n_phones", F.md5("text").alias("scrub_hash")
    )


DOC_PII_SCRUB_SQL = """
WITH decorated AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com or +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today' AS text
  FROM documents
),
scrub1 AS (
  SELECT doc_id,
         CAST(LEN(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS text
  FROM decorated
)
SELECT doc_id, n_emails,
       CAST(LEN(regexp_extract_all(text, '\\+?\\d{1,2}-\\d{3}-\\d{4}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(text, '\\+?\\d{1,2}-\\d{3}-\\d{4}', '<PHONE>', 'g')) AS scrub_hash
FROM scrub1
ORDER BY doc_id
"""


# ----------------------------------------------------------------------
# sequence packing (context-window bin assignment)
# ----------------------------------------------------------------------
def pack_sequences(
    df: DataFrame,
    capacity: int = 200,
    group_cols: list[str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy contiguous sequence packing: walk each group's docs in
    ``id_col`` order accumulating token counts; when the next doc
    would overflow ``capacity``, start a new bin.  A doc longer than
    the capacity gets a bin to itself (never split).  This is the
    standard pretraining step that concatenates short documents into
    fixed-size context windows to avoid padding waste.

    Packing is inherently sequential WITHIN a bin stream, so the
    parallel unit is the group: real pipelines pack per shard
    (``group_cols=[split, shard]`` where shard is a hash bucket), which
    makes every group an independent sequential walk of bounded size —
    ``applyInPandas`` over groups is the honest 100 TB shape (the
    equivalent of each worker packing its own shard), not a
    workaround.  Only (group, id, n_tokens) travels through the
    shuffle — never the text.

    Returns one row per doc: group cols, id, n_tokens, bin_id (dense
    per group, 0-based), bin_fill (tokens in the bin after placing
    this doc).  Reference analog: none (pure [EXT]).
    """
    if group_cols is None:
        group_cols = ["lang"]
    slim = df.select(
        *group_cols,
        id_col,
        # null/empty text counts as 0 tokens instead of propagating a
        # null into the packing fold
        F.when(
            F.coalesce(F.col(text_col), F.lit("")) == "", F.lit(0)
        )
        .otherwise(F.size(F.split(F.col(text_col), " ")))
        .cast("bigint")
        .alias("n_tokens"),
    )
    out_fields = slim.schema.fields
    schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in out_fields)
        + ", bin_id bigint, bin_fill bigint"
    )

    def pack(pdf):
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        bins, fills = [], []
        bin_id, acc = 0, 0
        for n in pdf["n_tokens"]:
            n = int(n)
            if acc > 0 and acc + n > capacity:
                bin_id += 1
                acc = 0
            acc += n
            bins.append(bin_id)
            fills.append(acc)
        pdf["bin_id"] = bins
        pdf["bin_fill"] = fills
        return pdf

    return slim.groupBy(*group_cols).applyInPandas(pack, schema)


def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: per-lang greedy packing into 200-token windows."""
    d = _docs(spark, sf_dir)
    return pack_sequences(d, capacity=200, group_cols=["lang"]).select(
        "doc_id", "lang", "n_tokens", "bin_id", "bin_fill"
    )


# the CASE mirrors pack_sequences exactly: 0 tokens for NULL/empty
# text, and a new bin only when the current bin is non-empty
# (bin_fill > 0) — without those guards the oracle diverges on
# empty-text docs and on oversized docs following a 0-fill bin
DOC_PACK_SEQUENCES_SQL = """
WITH RECURSIVE base AS (
  SELECT doc_id, lang,
         CASE WHEN text IS NULL OR text = '' THEN CAST(0 AS BIGINT)
              ELSE CAST(LEN(string_split(text, ' ')) AS BIGINT) END AS n_tokens,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM documents
),
packed AS (
  SELECT doc_id, lang, n_tokens, rn,
         CAST(0 AS BIGINT) AS bin_id, n_tokens AS bin_fill
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.doc_id, b.lang, b.n_tokens, b.rn,
         CASE WHEN p.bin_fill > 0 AND p.bin_fill + b.n_tokens > 200 THEN p.bin_id + 1 ELSE p.bin_id END,
         CASE WHEN p.bin_fill > 0 AND p.bin_fill + b.n_tokens > 200 THEN b.n_tokens ELSE p.bin_fill + b.n_tokens END
  FROM packed p JOIN base b ON b.lang = p.lang AND b.rn = p.rn + 1
)
SELECT doc_id, lang, n_tokens, bin_id, bin_fill
FROM packed
ORDER BY doc_id
"""


# ----------------------------------------------------------------------
# Bloom-filter contamination (scale path for huge benchmark sets)
# ----------------------------------------------------------------------
def contamination_bloom(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    m_bits: int = 65536,
    k: int = 4,
) -> DataFrame:
    """Benchmark-contamination check through a Bloom filter instead of
    the raw n-gram set.

    ``contamination`` broadcasts the benchmark's distinct hashed
    n-grams — fine while the benchmark is small, but a consortium-size
    eval suite (billions of grams) stops fitting in a broadcast.  The
    Bloom construction caps the broadcast at ``m_bits`` REGARDLESS of
    benchmark size: a gram sets bits ``h60(i + ':' + gram) mod m`` for
    i < k; a corpus gram is flagged iff all k bits are set.  Flags are
    a deterministic SUPERSET of true overlaps (false positives at the
    classic (1-e^{-kn/m})^k rate, never false negatives) — exactly the
    guarantee decontamination needs, since flagged docs get dropped or
    exact-checked.  Size ``m_bits`` ≈ 14·n_grams for ~1e-3 FPR at
    k = 4 (the default fits a ~4.5k-gram benchmark; a billion-gram
    suite needs m ≈ 1.75 GB — still one broadcast, vs. ~30 GB of raw
    60-bit gram hashes).

    Implementation is pure relational algebra so the DuckDB oracle can
    verify it bit-for-bit: bench grams → distinct bit positions
    (≤ m rows, broadcast); corpus grams → k position rows each,
    left-joined against the bit table; a gram is flagged when all k of
    its rows matched.  No corpus-sized shuffle: the corpus side only
    hash-aggregates its own (doc, gram) rows.  Reference analog: none
    (pure [EXT]).
    """
    bench_grams = _shingles(benchmark, n).select("shingle").distinct()
    corp = _shingles(corpus, n).distinct()
    return _contamination_bloom_tail(bench_grams, corp, m_bits, k)


def _contamination_bloom_tail(
    bench_grams: DataFrame, corp: DataFrame, m_bits: int, k: int
) -> DataFrame:
    bit_cols = [
        F.pmod(
            _h60(F.concat(F.lit(f"{i}:"), F.col("shingle"))), F.lit(m_bits)
        ).cast("bigint")
        for i in range(k)
    ]
    bloom = (
        bench_grams.select(F.explode(F.array(*bit_cols)).alias("pos"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    corp_pos = corp.select(
        "doc_id", "shingle", F.explode(F.array(*bit_cols)).alias("pos")
    )
    per_gram = (
        corp_pos.join(F.broadcast(bloom), "pos", "left")
        .groupBy("doc_id", "shingle")
        .agg(
            (F.count(F.lit(1)) == F.coalesce(F.sum("__hit"), F.lit(0)))
            .cast("bigint")
            .alias("flagged")
        )
    )
    return (
        per_gram.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("flagged").alias("n_flagged"),
        )
        .withColumn(
            "bloom_contamination",
            F.round(F.col("n_flagged").cast("double") / F.col("n_grams"), 6),
        )
        .select("doc_id", "n_grams", "n_flagged", "bloom_contamination")
    )


def doc_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: same bench/corpus split as ``doc_contamination``
    but through the 65536-bit / 4-hash Bloom filter (~3k bench grams
    -> fill ratio ~0.17, false-positive rate ~1e-3).  Composes the
    memoized corpus gram relation (r14; the bench/corpus sides are
    filters of the same distinct (doc_id, shingle) set)."""
    grams = _contam_grams(spark, sf_dir)
    return _contamination_bloom_tail(
        grams.filter(F.col("doc_id") < 50).select("shingle").distinct(),
        grams.filter(F.col("doc_id") >= 50),
        65536,
        4,
    )


_BLOOM_POS_DUCK = _H60_DUCK.format(
    col="CAST(i AS VARCHAR) || ':' || shingle"
) + " % 65536"

DOC_CONTAMINATION_BLOOM_SQL = f"""
WITH grams AS (
  SELECT DISTINCT doc_id, shingle FROM ({_SHINGLE5_DUCK})
),
bench AS (SELECT DISTINCT shingle FROM grams WHERE doc_id < 50),
bloom AS (
  SELECT DISTINCT {_BLOOM_POS_DUCK} AS pos
  FROM bench, UNNEST([0, 1, 2, 3]) AS t(i)
),
corp AS (SELECT doc_id, shingle FROM grams WHERE doc_id >= 50),
cpos AS (
  SELECT doc_id, shingle, {_BLOOM_POS_DUCK} AS pos
  FROM corp, UNNEST([0, 1, 2, 3]) AS t(i)
),
pg AS (
  SELECT c.doc_id, c.shingle,
         CASE WHEN COUNT(*) = SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END)
              THEN 1 ELSE 0 END AS flagged
  FROM cpos c LEFT JOIN bloom b ON c.pos = b.pos
  GROUP BY c.doc_id, c.shingle
)
SELECT doc_id, COUNT(*) AS n_grams,
       CAST(SUM(flagged) AS BIGINT) AS n_flagged,
       ROUND(CAST(SUM(flagged) AS DOUBLE) / COUNT(*), 6) AS bloom_contamination
FROM pg GROUP BY doc_id ORDER BY doc_id
"""


# ----------------------------------------------------------------------
# domain-mixture sampling (data mixing)
# ----------------------------------------------------------------------
def domain_mixture(
    df: DataFrame,
    weights: dict,
    group_col: str = "lang",
    key_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Deterministic weighted data mixing: sample the largest corpus
    whose group proportions match ``weights``, as pure hash-sampling.

    Training mixtures are specified as target proportions (40% web,
    30% code, ...).  Given per-group availability ``a_g`` the largest
    total honoring the mixture is N = min_g (a_g · W / w_g) (W = sum
    of weights); each group then keeps fraction ``w_g/W · N / a_g``
    via the same engine-stable h60 threshold ``hash_split`` uses, so
    membership is a pure function of the key — re-runs, backfills,
    and engine ports keep identical rows.  Groups without a weight
    keep nothing (reported with n_kept = 0).

    Fully relational — per-group counts are a keyed agg, the binding
    group's N is a 1-row agg broadcast back, the keep decision is a
    map-only projection: no driver-side state, so the same code runs
    on 5 groups or 5 million.  Reference analog: none (pure [EXT]).
    """
    total_w = float(sum(weights.values()))
    wdf = df.sparkSession.createDataFrame(
        [(g, float(w)) for g, w in weights.items()], f"{group_col} string, __w double"
    )
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__a"))
    j = counts.join(F.broadcast(wdf), group_col)
    n_total = j.agg(
        F.min(F.col("__a") * F.lit(total_w) / F.col("__w")).alias("__N")
    )
    thresh = j.crossJoin(F.broadcast(n_total)).select(
        group_col,
        F.expr(f"CAST(round(__w / {total_w!r} * __N / __a * 1000000.0) AS BIGINT)").alias(
            "__t"
        ),
    )
    keep = (
        F.pmod(
            _h60(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string"))),
            F.lit(1_000_000),
        )
        < F.col("__t")
    )
    marked = df.join(F.broadcast(thresh), group_col, "left").withColumn(
        "__keep", F.coalesce(keep, F.lit(False))
    )
    return (
        marked.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_available"),
            F.sum(F.col("__keep").cast("bigint")).alias("n_kept"),
        )
        .withColumn(
            "kept_frac",
            F.round(F.col("n_kept").cast("double") / F.col("n_available"), 4),
        )
        .select(group_col, "n_available", "n_kept", "kept_frac")
    )


_MIX_WEIGHTS = {"en": 40, "de": 15, "es": 15, "fr": 15, "zh": 15}


def doc_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: per-lang mixture 40/15/15/15/15 over documents."""
    return domain_mixture(_docs(spark, sf_dir), _MIX_WEIGHTS)


DOC_DOMAIN_MIXTURE_SQL = f"""
WITH w(lang, w) AS (VALUES ('en', 40.0), ('de', 15.0), ('es', 15.0), ('fr', 15.0), ('zh', 15.0)),
counts AS (SELECT lang, COUNT(*) AS a FROM documents GROUP BY lang),
j AS (SELECT c.lang, c.a, w.w FROM counts c JOIN w ON w.lang = c.lang),
n_total AS (SELECT MIN(a * 100.0 / w) AS N FROM j),
thresh AS (
  SELECT lang, CAST(round(w / 100.0 * N / a * 1000000.0) AS BIGINT) AS t
  FROM j CROSS JOIN n_total
)
SELECT d.lang,
       COUNT(*) AS n_available,
       CAST(SUM(CASE WHEN t.t IS NOT NULL
                 AND {_H60_DUCK.format(col="'mix:' || CAST(d.doc_id AS VARCHAR)")} % 1000000 < t.t
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       ROUND(CAST(SUM(CASE WHEN t.t IS NOT NULL
                 AND {_H60_DUCK.format(col="'mix:' || CAST(d.doc_id AS VARCHAR)")} % 1000000 < t.t
                 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS kept_frac
FROM documents d LEFT JOIN thresh t ON t.lang = d.lang
GROUP BY d.lang
ORDER BY d.lang
"""


# ----------------------------------------------------------------------
# RAG / context-window chunking
# ----------------------------------------------------------------------
def chunk_text(
    df: DataFrame,
    window: int = 40,
    stride: int = 30,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into overlapping fixed-width word windows —
    the retrieval / context-window chunking step (RAG indexing, long-doc
    training-example construction).  Chunk ``i`` covers words
    ``[i*stride, i*stride + window)``; the last chunk may be short; a
    doc shorter than one window yields exactly one chunk.

    Pure built-in array expressions (split → sequence → explode →
    slice/array_join): a narrow per-row flatMap with NO shuffle — the
    output inherits the input partitioning, so at 100 TB this is a
    map-only stage whose cost is proportional to the chunk fan-out.
    Returns (id, chunk_id, n_chunk_words, chunk_text).
    Reference analog: none (pure [EXT]).
    """
    if window <= 0 or stride <= 0:
        raise ValueError("window and stride must be positive")
    if stride > window:
        # a stride beyond the window SKIPS words (and can emit empty
        # trailing chunks) — never what chunking-for-retrieval means
        raise ValueError("stride must be <= window for gapless coverage")
    words = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    n_words = F.size(words)
    # ceil((n - window) / stride) extra chunks beyond the first
    n_chunks = (
        F.lit(1)
        + F.floor(
            (F.greatest(n_words - F.lit(window), F.lit(0)) + F.lit(stride - 1))
            / F.lit(stride)
        )
    ).cast("int")
    chunked = df.select(
        F.col(id_col),
        words.alias("_w"),
        F.explode(F.sequence(F.lit(0), n_chunks - F.lit(1))).alias("chunk_id"),
    )
    piece = F.slice(F.col("_w"), F.col("chunk_id") * stride + 1, window)
    return chunked.select(
        id_col,
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.size(piece).cast("bigint").alias("n_chunk_words"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def doc_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: 40-word windows with stride 30 (10-word overlap)."""
    return chunk_text(_docs(spark, sf_dir), window=40, stride=30)


DOC_CHUNK_TEXT_SQL = """
WITH base AS (
  SELECT doc_id,
         string_split(COALESCE(text, ''), ' ') AS words,
         LEN(string_split(COALESCE(text, ''), ' ')) AS n_words
  FROM documents
),
spread AS (
  SELECT doc_id, words,
         UNNEST(range(0, 1 + CAST(FLOOR((GREATEST(n_words - 40, 0) + 29) / 30.0) AS BIGINT))) AS chunk_id
  FROM base
)
SELECT doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(LEN(list_slice(words, chunk_id * 30 + 1, chunk_id * 30 + 40)) AS BIGINT) AS n_chunk_words,
       array_to_string(list_slice(words, chunk_id * 30 + 1, chunk_id * 30 + 40), ' ') AS chunk_text
FROM spread
ORDER BY doc_id, chunk_id
"""


# ----------------------------------------------------------------------
# split-leakage audit
# ----------------------------------------------------------------------
def doc_split_leakage(
    spark: SparkSession,
    sf_dir: str,
    pairs: "DataFrame | None" = None,
    splits: "DataFrame | None" = None,
) -> DataFrame:
    """Near-dup split-leakage audit: MinHash near-dup pairs whose
    members landed in DIFFERENT train/valid/test splits — each such
    pair is silent train→eval contamination that a doc-level split
    cannot see (the reason production pipelines split by CLUSTER, not
    by document).  Returns the per-(split_a, split_b) leak matrix plus
    the lowest-id example pair for triage.

    Composition: the minhash pair miner ⋈ the hash-split assignment on
    each side — two keyed joins against the (tiny) pair list; the
    corpus itself is scanned only by the split projection.  Callers
    may pass precomputed ``pairs``/``splits`` relations; the default
    pair miner is session-memoized, so repeated calls (and siblings
    like ``doc_dedup_clusters``) share one mining pass.
    Reference analog: none (pure [EXT])."""
    from meteaudata_spark.ext import dedup

    if pairs is None:
        pairs = dedup.doc_minhash_lsh_pairs(spark, sf_dir)
    if splits is None:
        splits = doc_hash_split(spark, sf_dir).select("doc_id", "split")
    else:
        splits = splits.select("doc_id", "split")
    j = (
        pairs.join(
            splits.select(
                F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
            ),
            "doc_a",
        )
        .join(
            splits.select(
                F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
            ),
            "doc_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
    )
    return j.groupBy("split_a", "split_b").agg(
        F.count(F.lit(1)).alias("n_leaking_pairs"),
        F.min("doc_a").alias("example_doc_a"),
        F.min("doc_b").alias("example_doc_b"),
    )


def _split_leakage_sql() -> str:
    from meteaudata_spark.ext import dedup

    inner = dedup._minhash_sql().strip()
    inner = inner[: inner.rindex("ORDER BY")]
    h = _H60_DUCK.format(col="'split:' || CAST(doc_id AS VARCHAR)")
    split_expr = (
        f"CASE WHEN {h} % 100 < 80 THEN 'train' "
        f"WHEN {h} % 100 < 90 THEN 'validation' "
        "ELSE 'test' END"
    )
    return f"""
WITH pairs AS (
SELECT doc_a, doc_b FROM (
{inner}
) t
),
splits AS (
  SELECT doc_id, {split_expr} AS split FROM documents
),
j AS (
  SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b
  FROM pairs p
  JOIN splits sa ON sa.doc_id = p.doc_a
  JOIN splits sb ON sb.doc_id = p.doc_b
  WHERE sa.split <> sb.split
)
SELECT split_a, split_b, COUNT(*) AS n_leaking_pairs,
       MIN(doc_a) AS example_doc_a, MIN(doc_b) AS example_doc_b
FROM j
GROUP BY 1, 2
ORDER BY 1, 2
"""


DOC_SPLIT_LEAKAGE_SQL = _split_leakage_sql()


def group_sample_exact(
    docs: DataFrame,
    group_col: str = "lang",
    k: int = 20,
    salt: str = "gsv1",
) -> DataFrame:
    """Exactly-k-per-group deterministic sample — the count-exact
    counterpart of the rate-exact ``hash_split``/``stratified_sample``
    (a labeling-budget or eval-set draw wants "20 documents per
    language", not "2% of each").

    Rank within each group by the engine-stable ``_h60`` of the
    salted doc id and keep the k smallest: membership is a pure
    function of (salt, doc_id), re-run-stable, and changing k only
    grows/shrinks the sample monotonically (ranks don't reshuffle).
    One keyed window per group — no global sort, no driver state."""
    from pyspark.sql import Window

    h = _h60(F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string")))
    return (
        docs.select("doc_id", F.col(group_col).alias("grp"), h.alias("__h"))
        .withColumn(
            "smp_rank",
            F.row_number()
            .over(
                Window.partitionBy("grp").orderBy(
                    F.col("__h").asc(), F.col("doc_id").asc()
                )
            )
            .cast("bigint"),
        )
        .filter(F.col("smp_rank") <= k)
        .select("doc_id", F.col("grp").alias(group_col), "smp_rank")
    )


def doc_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: exactly 20 docs per language."""
    return group_sample_exact(_docs(spark, sf_dir), "lang", 20)


DOC_GROUP_SAMPLE_SQL = f"""
WITH h AS (
  SELECT doc_id, lang,
         {_H60_DUCK.format(col="CONCAT('gsv1:', CAST(doc_id AS VARCHAR))")} AS hh
  FROM documents
),
ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hh, doc_id) AS smp_rank
  FROM h
)
SELECT doc_id, lang, CAST(smp_rank AS BIGINT) AS smp_rank
FROM ranked WHERE smp_rank <= 20
ORDER BY lang, smp_rank
"""


def doc_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing efficiency report: per language, how full the
    greedy 200-token training windows actually are — the number that
    decides whether packing is worth its shuffle (a corpus of
    tiny docs packs to ~100% fill; long-doc corpora leave windows
    half-empty and want a bigger capacity or chunk-then-pack).

    Composes ``doc_pack_sequences`` unchanged: a bin's final fill is
    the max of its running fill; oversized single docs overflow their
    bin (fill > capacity) and are counted separately.  All arithmetic
    integer; the fill share is basis points by floor-div.

    Output: (lang, n_docs, total_tokens, n_bins, n_overflow_bins,
    min_bin_fill, avg_fill_bp).
    Scale shape: two keyed hash-aggs + one keyed join over the
    per-lang aggregate relation.  Reference analog: none ([EXT])."""
    packed = doc_pack_sequences(spark, sf_dir)
    bins = packed.groupBy("lang", "bin_id").agg(
        F.max("bin_fill").alias("fill")
    )
    bin_stats = bins.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum((F.col("fill") > 200).cast("bigint")).alias(
            "n_overflow_bins"
        ),
        F.min("fill").alias("min_bin_fill"),
    )
    doc_stats = packed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    return (
        doc_stats.join(bin_stats, "lang")
        .select(
            "lang",
            "n_docs",
            "total_tokens",
            "n_bins",
            "n_overflow_bins",
            "min_bin_fill",
            F.expr("(total_tokens * 10000) div (n_bins * 200)").alias(
                "avg_fill_bp"
            ),
        )
    )


def _packing_efficiency_sql() -> str:
    inner = DOC_PACK_SEQUENCES_SQL.strip()
    inner = inner[: inner.rindex("ORDER BY")]
    # the inner starts with WITH RECURSIVE — embed as a nested CTE body
    return f"""
WITH packed_rows AS (
{inner}
),
bins AS (
  SELECT lang, bin_id, MAX(bin_fill) AS fill
  FROM packed_rows GROUP BY lang, bin_id
),
bin_stats AS (
  SELECT lang, COUNT(*) AS n_bins,
         SUM(CASE WHEN fill > 200 THEN 1 ELSE 0 END) AS n_overflow_bins,
         MIN(fill) AS min_bin_fill
  FROM bins GROUP BY lang
),
doc_stats AS (
  SELECT lang, COUNT(*) AS n_docs, SUM(n_tokens) AS total_tokens
  FROM packed_rows GROUP BY lang
)
SELECT d.lang, CAST(d.n_docs AS BIGINT) AS n_docs,
       CAST(d.total_tokens AS BIGINT) AS total_tokens,
       CAST(b.n_bins AS BIGINT) AS n_bins,
       CAST(b.n_overflow_bins AS BIGINT) AS n_overflow_bins,
       CAST(b.min_bin_fill AS BIGINT) AS min_bin_fill,
       CAST((d.total_tokens * 10000) // (b.n_bins * 200) AS BIGINT)
         AS avg_fill_bp
FROM doc_stats d JOIN bin_stats b ON b.lang = d.lang
ORDER BY d.lang
"""


DOC_PACKING_EFFICIENCY_SQL = _packing_efficiency_sql()


# ----------------------------------------------------------------------
# join/shuffle key-skew report
# ----------------------------------------------------------------------
def key_skew_report(df: DataFrame, key_col: str) -> DataFrame:
    """Shuffle-skew report for a prospective join/aggregation key —
    the number to read BEFORE keying a 100 TB shuffle on a column.
    One hot key (a bot user, an empty-string domain) serializes a
    whole stage onto one reducer; this report says whether the key
    needs salting or AQE skew handling first.

    Output (one row): n_keys, n_rows, max_count, p50/p90/p99_count
    (exact percentiles of the per-key row-count distribution),
    top_key_share_bp (heaviest key's share of all rows),
    skew_ratio_bp (max/mean per-key count, 10000 = perfectly even).

    All arithmetic integer: percentile pXX is the smallest count c
    with cum_keys(c)·100 ≥ XX·n_keys (ceil-rank), shares by floor-div
    basis points — both engines agree bit-for-bit.

    Scale shape: ONE real shuffle (the per-key count — the same
    shuffle the audited join would pay); everything downstream runs
    on the count HISTOGRAM, whose size is the number of DISTINCT
    per-key counts (≤ thousands at any corpus size), so the ordered
    window and the 1-row totals broadcast are bounded.
    Reference analog: none ([EXT])."""
    from pyspark.sql import Window

    per_key = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("cnt"))
    hist = per_key.groupBy("cnt").agg(F.count(F.lit(1)).alias("n_keys"))
    w = Window.orderBy("cnt").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum_keys", F.sum("n_keys").over(w)).withColumn(
        "total_keys",
        F.sum("n_keys").over(
            Window.orderBy("cnt").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
    )
    return cum.groupBy().agg(
        F.sum("n_keys").cast("bigint").alias("n_keys"),
        F.sum(F.col("cnt") * F.col("n_keys")).cast("bigint").alias("n_rows"),
        F.max("cnt").cast("bigint").alias("max_count"),
        F.min(
            F.when(
                F.col("cum_keys") * 100 >= F.lit(50) * F.col("total_keys"),
                F.col("cnt"),
            )
        )
        .cast("bigint")
        .alias("p50_count"),
        F.min(
            F.when(
                F.col("cum_keys") * 100 >= F.lit(90) * F.col("total_keys"),
                F.col("cnt"),
            )
        )
        .cast("bigint")
        .alias("p90_count"),
        F.min(
            F.when(
                F.col("cum_keys") * 100 >= F.lit(99) * F.col("total_keys"),
                F.col("cnt"),
            )
        )
        .cast("bigint")
        .alias("p99_count"),
    ).select(
        "n_keys",
        "n_rows",
        "max_count",
        "p50_count",
        "p90_count",
        "p99_count",
        F.expr("(max_count * 10000) div n_rows").alias("top_key_share_bp"),
        F.expr("(max_count * n_keys * 10000) div n_rows").alias(
            "skew_ratio_bp"
        ),
    )


def events_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: skew report for ``events.user_id`` — the key every
    sessionize/attribution/retention query in this engine shuffles on."""
    ev = load_table(spark, sf_dir, "events")
    return key_skew_report(ev, "user_id")


EVENTS_KEY_SKEW_SQL = """
WITH per_key AS (
  SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
),
hist AS (
  SELECT cnt, COUNT(*) AS n_keys FROM per_key GROUP BY cnt
),
cum AS (
  SELECT cnt, n_keys,
         SUM(n_keys) OVER (ORDER BY cnt
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_keys,
         SUM(n_keys) OVER () AS total_keys
  FROM hist
),
agg AS (
  SELECT CAST(SUM(n_keys) AS BIGINT) AS n_keys,
         CAST(SUM(cnt * n_keys) AS BIGINT) AS n_rows,
         CAST(MAX(cnt) AS BIGINT) AS max_count,
         CAST(MIN(CASE WHEN cum_keys * 100 >= 50 * total_keys
                       THEN cnt END) AS BIGINT) AS p50_count,
         CAST(MIN(CASE WHEN cum_keys * 100 >= 90 * total_keys
                       THEN cnt END) AS BIGINT) AS p90_count,
         CAST(MIN(CASE WHEN cum_keys * 100 >= 99 * total_keys
                       THEN cnt END) AS BIGINT) AS p99_count
  FROM cum
)
SELECT n_keys, n_rows, max_count, p50_count, p90_count, p99_count,
       CAST((max_count * 10000) // n_rows AS BIGINT) AS top_key_share_bp,
       CAST((max_count * n_keys * 10000) // n_rows AS BIGINT)
         AS skew_ratio_bp
FROM agg
"""


# ----------------------------------------------------------------------
# Z-order layout advisor (multi-dimensional min/max pruning)

_Z_BITS = 16
_Z_MASK = (1 << _Z_BITS) - 1
_Z_SHIFT = 2 * _Z_BITS - 6


def zorder_key(xcol, ycol, bits: int = _Z_BITS):
    """Interleave the low ``bits`` bits of two non-negative BIGINT
    columns into a Morton (Z-order) key — the sort key that makes ONE
    physical ordering serve min/max pruning on BOTH dimensions.
    Pure integer bit arithmetic inside whole-stage codegen."""
    return F.expr(
        f"aggregate(sequence(0, {bits - 1}), cast(0 as bigint), "
        f"(acc, i) -> acc"
        f" + shiftleft(cast(shiftright({xcol}, i) & 1 as bigint), 2 * i)"
        f" + shiftleft(cast(shiftright({ycol}, i) & 1 as bigint), 2 * i + 1)"
        f")"
    )


def events_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout advisor: would rewriting the events table in Z-order on
    (user_id, minute) shrink per-file min/max spans enough that file
    skipping serves BOTH `user_id = ?` and time-range predicates?

    Both candidate layouts are bucketed into 64 equal "files":
    NATURAL = insertion order (event_id ranges — what a plain append
    produces), ZORDER = Morton-key ranges over (user_id, minutes since
    corpus start).  For each layout the report gives the average and
    worst per-bucket span of each dimension in basis points of that
    dimension's full range — the exact quantity a min/max-pruning
    reader divides by: avg_user_span_bp = 312 means a point query on
    user_id skips ~96.9% of files, 10000 means every file must be
    read.  A good Z-layout pulls BOTH dims far below the natural
    layout's 10000/near-0 split.

    All arithmetic is integer (epoch minutes, bit interleave, spans,
    floor-div shares); the corpus min/max anchors ride ONE 1-row
    scalar broadcast.

    Scale shape: two map-side key computations + one keyed agg per
    layout over 64 buckets + the scalar anchor agg — no window, no
    join of corpus-sized relations; this is the advisor you run
    BEFORE paying for the actual sort-rewrite (the rewrite itself is
    a plain ``repartitionByRange(zkey)`` + write).
    Reference analog: none (pure [EXT])."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        (F.unix_timestamp("ts") / 60).cast("bigint").alias("minute"),
    )
    anchors = ev.agg(
        F.min("event_id").alias("id_lo"),
        F.max("event_id").alias("id_hi"),
        F.min("minute").alias("t_lo"),
        F.max("user_id").alias("u_hi"),
        F.max("minute").alias("t_hi"),
    )
    m = (1 << _Z_BITS) - 1
    base = ev.crossJoin(F.broadcast(anchors)).select(
        "user_id",
        "minute",
        F.expr("greatest(u_hi, 1)").alias("u_span_all"),
        F.expr("greatest(t_hi - t_lo, 1)").alias("t_span_all"),
        # normalize BOTH dims to the full _Z_BITS range before
        # interleaving — with unequal native widths the top z bits
        # would otherwise come from the wider dimension alone and the
        # buckets would stop constraining the narrow one
        F.expr(f"user_id * {m} div greatest(u_hi, 1)").alias("xs"),
        F.expr(
            f"(minute - t_lo) * {m} div greatest(t_hi - t_lo, 1)"
        ).alias("ys"),
        F.expr(
            "cast((event_id - id_lo) * 64 div (id_hi - id_lo + 1) as bigint)"
        ).alias("natural_bucket"),
    )
    keyed = base.withColumn("__z", zorder_key("xs", "ys")).withColumn(
        "zorder_bucket", F.shiftright("__z", 2 * _Z_BITS - 6)
    )

    # r14 (guide §2.3/§2.4): ONE corpus pass for both layouts.  The
    # two candidate layouts used to be aggregated by two separate
    # plan branches, each re-reading the events scan and re-computing
    # the Morton key.  Exploding a 2-element (layout, bucket) array
    # per row doubles rows ONLY map-side: the partial hash aggregate
    # collapses them to ≤128 (layout, bucket) groups per task before
    # the exchange, so shuffle bytes are unchanged while the scan +
    # anchor broadcast + bit-interleave compute run once, not twice.
    # Per-layout arithmetic is untouched — values byte-identical.
    per_bucket = (
        keyed.select(
            "user_id",
            "minute",
            "u_span_all",
            "t_span_all",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("natural").alias("layout"),
                        F.col("natural_bucket").alias("bucket"),
                    ),
                    F.struct(
                        F.lit("zorder").alias("layout"),
                        F.col("zorder_bucket").alias("bucket"),
                    ),
                )
            ).alias("lb"),
        )
        .groupBy(F.col("lb.layout").alias("layout"), F.col("lb.bucket").alias("bucket"))
        .agg(
            (F.max("user_id") - F.min("user_id")).alias("us"),
            (F.max("minute") - F.min("minute")).alias("ts"),
            F.first("u_span_all").alias("ua"),
            F.first("t_span_all").alias("ta"),
        )
    )
    return (
        per_bucket.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.expr("sum(us * 10000 div ua) div count(1)").alias(
                "avg_user_span_bp"
            ),
            F.expr("max(us * 10000 div ua)").alias("max_user_span_bp"),
            F.expr("sum(ts * 10000 div ta) div count(1)").alias(
                "avg_ts_span_bp"
            ),
            F.expr("max(ts * 10000 div ta)").alias("max_ts_span_bp"),
        )
        .select(
            "layout", "n_buckets", "avg_user_span_bp", "max_user_span_bp",
            "avg_ts_span_bp", "max_ts_span_bp",
        )
    )


EVENTS_ZORDER_SQL = f"""
WITH ev AS (
  SELECT event_id, user_id,
         CAST(FLOOR(epoch(ts) / 60) AS BIGINT) AS minute
  FROM events
),
anchors AS (
  SELECT MIN(event_id) AS id_lo, MAX(event_id) AS id_hi,
         MIN(minute) AS t_lo, MAX(minute) AS t_hi,
         GREATEST(MAX(user_id), 1) AS u_hi
  FROM ev
),
base AS (
  SELECT user_id, minute,
         u_hi AS ua, GREATEST(t_hi - t_lo, 1) AS ta,
         user_id * {_Z_MASK} // u_hi AS xs,
         (minute - t_lo) * {_Z_MASK} // GREATEST(t_hi - t_lo, 1) AS ys,
         CAST((event_id - id_lo) * 64 // (id_hi - id_lo + 1) AS BIGINT)
           AS natural_bucket
  FROM ev CROSS JOIN anchors
),
z AS (
  SELECT *,
         CAST(list_aggregate(list_transform(generate_series(0, {_Z_BITS - 1}),
           i -> (((xs >> i) & 1) << (2 * i))
                + (((ys >> i) & 1) << (2 * i + 1))), 'sum') AS BIGINT)
           >> {_Z_SHIFT} AS zorder_bucket
  FROM base
),
layouts AS (
  SELECT 'natural' AS layout, natural_bucket AS bucket, user_id, minute,
         ua, ta FROM z
  UNION ALL
  SELECT 'zorder' AS layout, zorder_bucket AS bucket, user_id, minute,
         ua, ta FROM z
),
per_bucket AS (
  SELECT layout, bucket,
         MAX(user_id) - MIN(user_id) AS us,
         MAX(minute) - MIN(minute) AS ts,
         ANY_VALUE(ua) AS ua, ANY_VALUE(ta) AS ta
  FROM layouts GROUP BY 1, 2
)
SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(us * 10000 // ua) // COUNT(*) AS BIGINT)
         AS avg_user_span_bp,
       CAST(MAX(us * 10000 // ua) AS BIGINT) AS max_user_span_bp,
       CAST(SUM(ts * 10000 // ta) // COUNT(*) AS BIGINT) AS avg_ts_span_bp,
       CAST(MAX(ts * 10000 // ta) AS BIGINT) AS max_ts_span_bp
FROM per_bucket GROUP BY layout ORDER BY layout
"""


# ----------------------------------------------------------------------
# deterministic training-order shuffle (shard + position)
# ----------------------------------------------------------------------
def shuffle_shards(
    df: DataFrame,
    key_col: str = "doc_id",
    n_shards: int = 8,
    salt: str = "shuffle",
) -> DataFrame:
    """Seeded global shuffle for training-data loaders: every row gets
    a (shard, pos) address that is a pure function of (salt, key).

    A 100 TB training run cannot materialize one global random
    permutation; the standard trick is hash-sharding (shard =
    h(key) mod S) and sorting each shard by the hash — reading shards
    round-robin then yields an order that is (a) deterministic and
    resumable from any (shard, pos) checkpoint, (b) unbiased for any
    hash-like h, and (c) embarrassingly parallel: each shard sorts
    independently, so the only exchange is one hash partition by
    shard and the per-shard window sort never sees more than
    corpus/S rows.  Changing ``salt`` reshuffles every epoch with no
    state carried between epochs.
    Reference analog: none (pure [EXT])."""
    from pyspark.sql import Window

    h = _h60(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string")))
    w = Window.partitionBy("shard").orderBy("h", key_col)
    return (
        df.select(F.col(key_col), h.alias("h"))
        .withColumn("shard", F.pmod(F.col("h"), F.lit(n_shards)).cast("bigint"))
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select(key_col, "shard", "pos")
    )


def doc_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: epoch-0 shuffle address for every document."""
    d = _docs(spark, sf_dir)
    return shuffle_shards(d)


def _shuffle_shards_sql(n_shards: int = 8, salt: str = "shuffle") -> str:
    """Oracle builder sharing ``shuffle_shards``'s parameters so a
    non-default (n_shards, salt) call never silently mismatches its
    oracle (the ``_ivf_balance_sql`` pattern)."""
    h = _H60_DUCK.format(
        col=f"'{salt}:' || CAST(doc_id AS VARCHAR)"
    )
    return f"""
WITH h AS (
  SELECT doc_id, {h} AS h, {h} % {n_shards} AS shard
  FROM documents
)
SELECT doc_id, CAST(shard AS BIGINT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id)
            AS BIGINT) AS pos
FROM h
ORDER BY shard, pos
"""


DOC_SHUFFLE_SHARDS_SQL = _shuffle_shards_sql()


# ----------------------------------------------------------------------
# k-anonymity audit over quasi-identifiers
# ----------------------------------------------------------------------
def k_anonymity_report(
    df: DataFrame, qi_cols: list[str], ks: list[int]
) -> DataFrame:
    """Privacy audit: for each k, how many quasi-identifier groups
    have fewer than k members, and what fraction of rows would a
    k-anonymity release have to suppress?

    The companion to the PII scrubber: scrubbing kills direct
    identifiers, but rows remain re-identifiable when their
    quasi-identifier combination (language x source x size band here)
    is near-unique.  ONE keyed agg computes group sizes; the per-k
    rollup is over the (tiny) group-size relation, exploded by the
    k ladder — corpus-sized data is touched exactly once regardless
    of how many k thresholds are audited.  All output is integer
    (counts + basis points).
    Reference analog: none (pure [EXT])."""
    sizes = df.groupBy(*qi_cols).agg(F.count(F.lit(1)).alias("cnt"))
    karr = F.array(*[F.lit(k) for k in ks])
    per_k = sizes.select(
        F.explode(karr).alias("k"), "cnt"
    ).groupBy("k").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("cnt") < F.col("k"), 1).otherwise(0)).alias(
            "violating_groups"
        ),
        F.sum(
            F.when(F.col("cnt") < F.col("k"), F.col("cnt")).otherwise(0)
        ).alias("suppressed_rows"),
        F.sum("cnt").alias("n_rows"),
    )
    return per_k.select(
        F.col("k").cast("bigint").alias("k"),
        "n_groups",
        "violating_groups",
        "suppressed_rows",
        F.expr("(suppressed_rows * 10000) div n_rows").alias(
            "suppression_bp"
        ),
    )


def doc_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: k-anonymity over (lang, source, 512-char size
    band) for k in {2, 5, 10, 20}."""
    d = _docs(spark, sf_dir).withColumn(
        "size_band", F.expr("n_chars div 512")
    )
    return k_anonymity_report(d, ["lang", "source", "size_band"], [2, 5, 10, 20])


DOC_K_ANONYMITY_SQL = """
WITH sizes AS (
  SELECT lang, source, n_chars // 512 AS size_band, COUNT(*) AS cnt
  FROM documents GROUP BY 1, 2, 3
),
per_k AS (
  SELECT k.k, COUNT(*) AS n_groups,
         SUM(CASE WHEN cnt < k.k THEN 1 ELSE 0 END) AS violating_groups,
         SUM(CASE WHEN cnt < k.k THEN cnt ELSE 0 END) AS suppressed_rows,
         SUM(cnt) AS n_rows
  FROM sizes CROSS JOIN (VALUES (2), (5), (10), (20)) AS k(k)
  GROUP BY k.k
)
SELECT CAST(k AS BIGINT) AS k, CAST(n_groups AS BIGINT) AS n_groups,
       CAST(violating_groups AS BIGINT) AS violating_groups,
       CAST(suppressed_rows AS BIGINT) AS suppressed_rows,
       CAST((suppressed_rows * 10000) // n_rows AS BIGINT) AS suppression_bp
FROM per_k
ORDER BY k
"""


# ----------------------------------------------------------------------
# corpus data card (per-language release report)
# ----------------------------------------------------------------------
def doc_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language data card — the release-notes table every corpus
    drop ships with: volume (docs, chars), exact-duplicate excess,
    mean quality, and the share of short documents.

    Composition row: reuses the memoized quality relation
    (``doc_quality_score``) and the exact-dup definition
    (md5(text)), so the card's numbers are BY CONSTRUCTION consistent
    with the dedup and quality gate rows.  One narrow join on doc_id
    + one keyed agg by lang; quality rides as integer micros so the
    per-lang mean is exact integer division in both engines.
    Reference analog: none (pure [EXT])."""
    from meteaudata_spark.ext.textstats import doc_quality_score

    d = _docs(spark, sf_dir)
    q = doc_quality_score(spark, sf_dir).select(
        "doc_id",
        F.round(F.col("quality_score") * 1000000).cast("bigint").alias(
            "q_micros"
        ),
    )
    joined = d.join(q, "doc_id")
    agg = joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct(F.md5("text")).alias("distinct_texts"),
        F.sum("q_micros").alias("q_sum"),
        F.sum(F.when(F.col("n_chars") < 200, 1).otherwise(0)).alias(
            "short_docs"
        ),
    )
    return agg.select(
        "lang",
        "n_docs",
        "total_chars",
        (F.col("n_docs") - F.col("distinct_texts")).alias("dup_excess"),
        F.expr("q_sum div n_docs").alias("mean_quality_micros"),
        F.expr("(short_docs * 10000) div n_docs").alias("short_docs_bp"),
    )


def _corpus_datacard_sql() -> str:
    from meteaudata_spark.ext.textstats import DOC_QUALITY_SQL

    q = DOC_QUALITY_SQL.strip().rstrip()
    return f"""
WITH q AS ({q}),
joined AS (
  SELECT d.lang, d.n_chars, d.text,
         CAST(ROUND(q.quality_score * 1000000) AS BIGINT) AS q_micros
  FROM documents d JOIN q USING (doc_id)
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS dup_excess,
       CAST(SUM(q_micros) // COUNT(*) AS BIGINT) AS mean_quality_micros,
       CAST(SUM(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) * 10000
            // COUNT(*) AS BIGINT) AS short_docs_bp
FROM joined
GROUP BY lang
ORDER BY lang
"""


# ----------------------------------------------------------------------
# windowed event dedup report (tumbling-window exact dedup)
# ----------------------------------------------------------------------
def events_windowed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window exact-dedup report over the events feed: per
    hour, how many events arrived, how many distinct
    (user, type, value) keys they collapse to, and the duplicate
    rate.

    The batch twin of ``streaming.resample_stream.stream_dedup``
    (dropDuplicatesWithinWatermark): windowing the dedup key by hour
    bounds state/shuffle width exactly the way the watermark bounds
    streaming state, so this is both a data-quality report and the
    backfill path for the streaming deduper.  ONE keyed agg; the
    distinct rides a struct key, no self-join.
    Reference analog: none (pure [EXT])."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("window_start")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct(
            F.struct("user_id", "event_type", "value")
        ).alias("n_distinct"),
    )
    return agg.select(
        "window_start",
        "n_events",
        "n_distinct",
        (F.col("n_events") - F.col("n_distinct")).alias("n_dups"),
        F.expr("((n_events - n_distinct) * 10000) div n_events").alias(
            "dup_bp"
        ),
    )


EVENTS_WINDOWED_DEDUP_SQL = """
WITH agg AS (
  SELECT date_trunc('hour', ts) AS window_start, COUNT(*) AS n_events,
         COUNT(DISTINCT (user_id, event_type, value)) AS n_distinct
  FROM events GROUP BY 1
)
SELECT window_start, CAST(n_events AS BIGINT) AS n_events,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       CAST(n_events - n_distinct AS BIGINT) AS n_dups,
       CAST((n_events - n_distinct) * 10000 // n_events AS BIGINT) AS dup_bp
FROM agg
ORDER BY window_start
"""


# ----------------------------------------------------------------------
# source-mixing plan (domain reweighting for a token budget)
# ----------------------------------------------------------------------
def mixture_plan(
    df: DataFrame,
    target_shares_bp: dict[str, int] | None = None,
    group_col: str = "lang",
    text_col: str = "text",
    budget_tokens: int | None = None,
) -> DataFrame:
    """Source-mixing plan — the step between corpus stats and the
    training dataloader: given per-domain available token counts and a
    TARGET mixture (basis points per domain), compute how many tokens
    each domain must contribute to a total budget and the sampling
    rate / epoch count that achieves it.  rate ≤ 1e6 micro means
    subsample; rate > 1e6 means the domain repeats (upsampling
    epochs) — the quantity mixture designers (DoReMi-style reweighting,
    The Pile's per-set epochs) actually publish.

    Defaults are self-derived so the gate row is parameter-free in
    both engines: target = UNIFORM over the observed domains (10000
    div n_domains bp, remainder to the lexicographically first) and
    budget = the corpus's own total token count — i.e. "rebalance
    this corpus to uniform at constant size".

    All integer arithmetic: tokens are whitespace-word counts,
    required = budget·share_bp div 10000, rate_micros =
    required·1e6 div available.

    Scale shape: ONE corpus pass (map-side size(split) + keyed agg to
    |domains| rows); everything after runs on the domain relation.
    Window over the tiny domain table only.  Reference analog: none
    (pure [EXT])."""
    toks = df.select(
        group_col,
        F.size(F.split(F.col(text_col), " ")).cast("bigint").alias("__nt"),
    )
    domains = toks.groupBy(group_col).agg(
        F.sum("__nt").alias("available_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    from pyspark.sql import Window

    w_all = Window.partitionBy()
    w_rank = Window.orderBy(group_col)
    base = domains.withColumn(
        "__n_domains", F.count(F.lit(1)).over(w_all)
    ).withColumn("__total", F.sum("available_tokens").over(w_all)).withColumn(
        "__rk", F.row_number().over(w_rank)
    )
    if target_shares_bp is None:
        share = F.expr(
            "10000 div __n_domains"
            " + CASE WHEN __rk = 1 THEN 10000 % __n_domains ELSE 0 END"
        )
    else:
        m = F.create_map(
            *[F.lit(x) for kv in target_shares_bp.items() for x in kv]
        )
        share = F.coalesce(m[F.col(group_col)], F.lit(0)).cast("bigint")
    budget = (
        F.lit(budget_tokens).cast("bigint")
        if budget_tokens is not None
        else F.col("__total")
    )
    # integer floor-div end to end (matches the oracle's // exactly —
    # a double-division detour would round differently at budget·share
    # boundaries)
    out = base.select(
        group_col,
        "n_docs",
        "available_tokens",
        share.cast("bigint").alias("target_share_bp"),
        (budget * share.cast("bigint"))
        .alias("__prod"),
    ).withColumn(
        "required_tokens", F.expr("__prod div 10000")
    ).drop("__prod").withColumn(
        "rate_micros",
        F.expr("required_tokens * 1000000 div available_tokens"),
    ).withColumn(
        "epochs",
        F.expr(
            "cast(ceil(required_tokens / cast(available_tokens as double))"
            " as bigint)"
        ),
    )
    return out


def doc_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: rebalance-to-uniform mixture plan over languages at
    constant corpus size."""
    return mixture_plan(_docs(spark, sf_dir))


DOC_MIXTURE_PLAN_SQL = """
WITH toks AS (
  SELECT lang, CAST(LEN(string_split(text, ' ')) AS BIGINT) AS nt
  FROM documents
),
domains AS (
  SELECT lang, CAST(SUM(nt) AS BIGINT) AS available_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM toks GROUP BY lang
),
base AS (
  SELECT *, COUNT(*) OVER () AS nd, SUM(available_tokens) OVER () AS total,
         ROW_NUMBER() OVER (ORDER BY lang) AS rk
  FROM domains
),
planned AS (
  SELECT lang, n_docs, available_tokens,
         CAST(10000 // nd
              + CASE WHEN rk = 1 THEN 10000 % nd ELSE 0 END AS BIGINT)
           AS target_share_bp,
         CAST(total * (10000 // nd
              + CASE WHEN rk = 1 THEN 10000 % nd ELSE 0 END) // 10000
              AS BIGINT) AS required_tokens
  FROM base
)
SELECT lang, n_docs, available_tokens, target_share_bp, required_tokens,
       CAST(required_tokens * 1000000 // available_tokens AS BIGINT)
         AS rate_micros,
       CAST(CEIL(required_tokens / CAST(available_tokens AS DOUBLE))
            AS BIGINT) AS epochs
FROM planned ORDER BY lang
"""


# ----------------------------------------------------------------------
# curriculum staging by quality score
# ----------------------------------------------------------------------
def doc_curriculum_stages(
    spark: SparkSession, sf_dir: str, n_stages: int = 4
) -> DataFrame:
    """Curriculum plan: partition the corpus into ``n_stages`` quality
    tiers (stage 1 = highest quality, fed first) and report each
    tier's doc/token budget — the ordering schedule curriculum-
    trained LLM runs consume next to the mixture plan
    (``doc_mixture_plan``).

    Scale design — NO global row sort: the quality score
    (``doc_quality_score``, memoized; compose-don't-recompute) is
    integer micros in [0, 1e6], so the DISTINCT-score relation is
    bounded at ~1e6 rows regardless of corpus size.  Stage cuts are
    computed on that bounded relation (cumulative window over score
    buckets — the same bounded-vocabulary trick as the BPE trainer),
    then docs pick up their stage via one keyed join on the score
    bucket.  A whole score bucket lands in one stage
    (``stage = 1 + cum_docs_before * n_stages div total``), so tier
    sizes are equal up to tie mass — the deterministic, shuffle-light
    variant of ntile, which would otherwise funnel the corpus through
    a single window partition.

    Reference analog: none (pure [EXT])."""
    from meteaudata_spark.ext.textstats import doc_quality_score

    qm = doc_quality_score(spark, sf_dir).select(
        "doc_id",
        F.round(F.col("quality_score") * 1000000)
        .cast("bigint")
        .alias("q_micros"),
    )
    freq = qm.groupBy("q_micros").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    from pyspark.sql import Window

    # descending score: stage 1 accumulates from the top of the range
    w = (
        Window.orderBy(F.col("q_micros").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = freq.withColumn(
        "cum_before",
        F.coalesce(F.sum("n").over(w), F.lit(0)).cast("bigint"),
    )
    tot = freq.agg(F.sum("n").cast("bigint").alias("total"))
    staged = cum.crossJoin(F.broadcast(tot)).select(
        "q_micros",
        F.expr(f"1 + (cum_before * {int(n_stages)}) div total")
        .cast("bigint")
        .alias("stage"),
    )
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    joined = qm.join(F.broadcast(staged), "q_micros").join(d, "doc_id")
    return (
        joined.groupBy("stage")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.expr("sum(q_micros) div count(1)")
            .cast("bigint")
            .alias("avg_q_micros"),
            F.min("q_micros").cast("bigint").alias("min_q_micros"),
            F.max("q_micros").cast("bigint").alias("max_q_micros"),
        )
    )


def _curriculum_stages_sql(n_stages: int = 4) -> str:
    """Parameterized oracle builder for ``doc_curriculum_stages``."""
    from meteaudata_spark.ext.textstats import DOC_QUALITY_SQL

    return f"""
WITH q AS (
  SELECT doc_id,
         CAST(ROUND(quality_score * 1000000) AS BIGINT) AS q_micros
  FROM ({DOC_QUALITY_SQL}) t
),
freq AS (
  SELECT q_micros, CAST(COUNT(*) AS BIGINT) AS n FROM q GROUP BY q_micros
),
cum AS (
  SELECT q_micros,
         CAST(COALESCE(SUM(n) OVER (ORDER BY q_micros DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum_before
  FROM freq
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM freq),
staged AS (
  SELECT q_micros,
         CAST(1 + (cum_before * {int(n_stages)}) // total AS BIGINT)
           AS stage
  FROM cum CROSS JOIN tot
),
toks AS (
  SELECT doc_id, CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT s.stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(t.n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(q.q_micros) // COUNT(*) AS BIGINT) AS avg_q_micros,
       CAST(MIN(q.q_micros) AS BIGINT) AS min_q_micros,
       CAST(MAX(q.q_micros) AS BIGINT) AS max_q_micros
FROM q JOIN staged s USING (q_micros) JOIN toks t USING (doc_id)
GROUP BY s.stage ORDER BY s.stage
"""


DOC_CURRICULUM_STAGES_SQL = _curriculum_stages_sql()
